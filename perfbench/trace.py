"""Tracing from the benchmark's own files.

A ``Tracer`` wraps the public entry points of each engine layer by
replacing module and class attributes (``install``), so calls the engine
makes through those attributes (``delta_writer`` → ``fsutil.*`` and
``write_checkpoint_native``) are seen too. Every wrapped call records a
span: name, layer, start, end, parent span, operation id and thread. Spans
stay in memory and are written out when the run ends.

Per span the tracer also records, for its own thread: py4j round trips and
the time spent in them (the JVM boundary), the Spark jobs launched (through
a job group set around the call and resolved through ``statusTracker``
after the run), and, for top-level operation spans, JVM GC time from the
GC MXBeans.

With tracing off the tracer patches nothing and ``op``/``span`` are
no-ops, so untraced runs measure the engine alone.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field

# (module path, attribute, layer, span name). Classes use "Class.method".
TRACED = (
    ("rtdl_spark.ingest.pipeline", "IngestJob.run_batch", "ingest", "ingest.run_batch"),
    ("rtdl_spark.catalog", "register_lake_table", "catalog", "catalog.register_lake_table"),
    ("rtdl_spark.ingest.pipeline", "register_lake_table", "catalog", "catalog.register_lake_table"),
    ("rtdl_spark.catalog", "register_delta_view", "catalog", "catalog.register_delta_view"),
    ("rtdl_spark.streaming.jobs", "stream_ingest_json", "streaming", "streaming.start"),
    ("rtdl_spark.streaming.jobs", "stream_upsert_to_delta", "streaming", "streaming.start"),
    ("rtdl_spark.sources.delta_writer", "write_delta_native", "delta_writer", "delta_writer.append"),
    ("rtdl_spark.sources.delta_writer", "merge_into_delta_native", "delta_writer", "delta_writer.merge"),
    ("rtdl_spark.sources.delta_writer", "write_checkpoint_native", "delta_writer", "delta_writer.checkpoint"),
    ("rtdl_spark.sources.delta_reader", "read_delta_native", "delta_reader", "delta_reader.snapshot"),
)
FSUTIL_FUNCS = (
    "exists", "delete", "list_names", "touch", "touch_new", "rename", "mkdirs",
    "iter_files", "list_files", "write_text", "write_text_new", "read_text",
    "read_bytes",
)


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    thread: str = ""
    py4j_calls: int = 0
    py4j_ms: float = 0.0
    job_group: str | None = None
    jobs: int = 0
    gc_ms: float = 0.0
    extra: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class _ThreadState(threading.local):
    def __init__(self) -> None:
        self.stack: list[Span] = []
        self.py4j_calls = 0
        self.py4j_s = 0.0
        self.internal = False


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._ops = itertools.count()
        self._lock = threading.Lock()
        self._tls = _ThreadState()
        self._undo: list[tuple[object, str, object]] = []
        self._gc_beans = None

    # -- install / remove -------------------------------------------------
    def install(self) -> None:
        if not self.enabled:
            return
        import importlib

        for mod_name, attr, layer, name in TRACED:
            owner = importlib.import_module(mod_name)
            if "." in attr:
                cls, attr = attr.split(".")
                owner = getattr(owner, cls)
            self._patch(owner, attr, layer, name, jobs=True)
        fsutil = importlib.import_module("rtdl_spark.sources.fsutil")
        for fn in FSUTIL_FUNCS:
            self._patch(fsutil, fn, "fsutil", f"fsutil.{fn}", jobs=False)
        from py4j.clientserver import JavaClient
        from py4j.java_gateway import GatewayClient

        for cls in (JavaClient, GatewayClient):
            if "send_command" in cls.__dict__:
                self._patch_py4j(cls)
        jvm = self.spark.sparkContext._jvm
        self._gc_beans = list(
            jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )

    def remove(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def _patch(self, owner, attr: str, layer: str, name: str, jobs: bool) -> None:
        orig = owner.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer, jobs=jobs) as sp:
                out = orig(*args, **kwargs)
                if name == "delta_writer.merge" and isinstance(out, dict):
                    sp.extra["files_rewritten"] = out.get("files_rewritten", 0)
                if name == "delta_reader.snapshot":
                    table_dir = args[1] if len(args) > 1 else kwargs.get("table_dir")
                    sp.extra["log_files"] = log_files_after_checkpoint(table_dir)
                return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def _patch_py4j(self, cls) -> None:
        orig = cls.__dict__["send_command"]
        tls = self._tls

        @functools.wraps(orig)
        def send_command(client, *args, **kwargs):
            if tls.internal:
                return orig(client, *args, **kwargs)
            t0 = time.perf_counter()
            try:
                return orig(client, *args, **kwargs)
            finally:
                tls.py4j_calls += 1
                tls.py4j_s += time.perf_counter() - t0

        setattr(cls, "send_command", send_command)
        self._undo.append((cls, "send_command", orig))

    # -- spans --------------------------------------------------------------
    @contextlib.contextmanager
    def op(self, name: str, layer: str = "op"):
        """A top-level operation: every span opened inside it on this
        thread carries its operation id; GC time is sampled around it."""
        if not self.enabled:
            yield None
            return
        with self.span(name, layer, jobs=True, new_op=True) as sp:
            yield sp

    @contextlib.contextmanager
    def span(self, name: str, layer: str, jobs: bool = False, new_op: bool = False):
        if not self.enabled:
            yield None
            return
        tls = self._tls
        parent = tls.stack[-1] if tls.stack else None
        new_op = new_op or parent is None
        sp = Span(
            sid=next(self._ids), name=name, layer=layer, start=0.0,
            parent=parent.sid if parent else None,
            op=next(self._ops) if new_op else parent.op,
            thread=threading.current_thread().name,
        )
        sc = self.spark.sparkContext
        saved = None
        gc0 = 0.0
        tls.internal = True
        try:
            if new_op:
                gc0 = self._gc_ms()
            if jobs:
                sp.job_group = f"perfbench-{sp.sid}"
                saved = [sc.getLocalProperty(k) for k in _JOB_PROPS]
                sc.setJobGroup(sp.job_group, name)
        finally:
            tls.internal = False
        calls0, secs0 = tls.py4j_calls, tls.py4j_s
        tls.stack.append(sp)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            tls.stack.pop()
            sp.py4j_calls = tls.py4j_calls - calls0
            sp.py4j_ms = (tls.py4j_s - secs0) * 1000.0
            tls.internal = True
            try:
                if saved is not None:
                    for k, v in zip(_JOB_PROPS, saved):
                        sc.setLocalProperty(k, v)
                if new_op:
                    sp.gc_ms = self._gc_ms() - gc0
            finally:
                tls.internal = False
            with self._lock:
                self.spans.append(sp)

    def _gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._gc_beans or ()))

    # -- after the run ------------------------------------------------------
    def resolve_jobs(self) -> None:
        """Job ids per group, read once the listener bus has drained."""
        if not self.enabled:
            return
        time.sleep(0.5)
        tracker = self.spark.sparkContext.statusTracker()
        self._tls.internal = True
        try:
            for sp in self.spans:
                if sp.job_group:
                    sp.jobs = len(tracker.getJobIdsForGroup(sp.job_group))
        finally:
            self._tls.internal = False

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)

    # -- queries over spans -------------------------------------------------
    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        return kids

    def self_ms(self, sp: Span, kids: dict[int, list[Span]]) -> float:
        """Span time minus the time its child spans cover."""
        covered = _union_ms([(c.start, c.end) for c in kids.get(sp.sid, ())])
        return max(0.0, sp.ms - covered)

    def total_jobs(self, sp: Span, kids: dict[int, list[Span]]) -> int:
        """Jobs in the span's own group plus those of nested spans (a
        nested span moves its jobs into its own group)."""
        return sp.jobs + sum(self.total_jobs(c, kids) for c in kids.get(sp.sid, ()))


_JOB_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1000.0


def log_files_after_checkpoint(table_dir: str | None) -> int:
    """Commit files a reader must replay after the last checkpoint,
    listed from outside the engine."""
    if not table_dir:
        return 0
    log = os.path.join(table_dir.removeprefix("file:"), "_delta_log")
    try:
        names = os.listdir(log)
    except OSError:
        return 0
    cp = -1
    for n in names:
        if ".checkpoint" in n:
            cp = max(cp, int(n.split(".")[0]))
    return sum(1 for n in names if n.endswith(".json") and n[:20].isdigit() and int(n[:20]) > cp)


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0
