"""cdc_upsert — change records streamed through ``stream_upsert_to_delta``
into a native Delta table while one reader thread queries it.

The generator thread writes a pre-rendered file of skewed updates and
new-key inserts every ``TICK`` seconds (open loop). Commit latency of a
change is the time from when its file was due until the Delta commit that
carries its micro-batch (found through the commit's ``txn`` action, timed
by the commit file). The reader runs a fixed mix in a closed loop through
``read_delta_native``: a full aggregate, a selective key range (with data
skipping) and a time-travel read. Every read is checked after the run
against the generator's key → last-value model at the version it saw.
"""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np

from perfbench import gen, streamio
from perfbench.common import pct, say

N_ROWS = 200_000
TICK = 0.5
PER_FILE = 200
RANGE_WIDTH = 1000
APP_ID = "perfbench-cdc"
LATE_LIMIT_S = 1.0


class CdcUpsert:
    name = "cdc_upsert"

    def __init__(self, work: str, seed: int, seconds: float):
        """Renders every input before a session exists."""
        self.work = work
        self.live_seconds = max(2.0, float(seconds))
        n_files = int(self.live_seconds / TICK)
        self.base = gen.base_table(N_ROWS)
        self.files = gen.cdc_changes(seed, N_ROWS, n_files, PER_FILE)
        rng = np.random.default_rng(seed + 3)
        self.ranges = [int(x) for x in rng.integers(0, N_ROWS - RANGE_WIDTH, 64)]
        self.warm_keys = self.base.iloc[:100]

    def attach(self, spark) -> None:
        from rtdl_spark.streaming.metrics import ProgressLog

        self.spark = spark
        self.progress = ProgressLog()
        spark.streams.addListener(self.progress)

    # -- set-up -----------------------------------------------------------
    def setup(self, rep: int) -> None:
        """A fresh ~200k-row native Delta table, then one MERGE that
        rewrites rows to their own values (warms the MERGE path without
        changing the model)."""
        from rtdl_spark.sources import delta_writer

        base = os.path.join(self.work, f"rep{rep}")
        self.table = os.path.join(base, "table")
        self.src = os.path.join(base, "src")
        self.ckpt = os.path.join(base, "ckpt")
        os.makedirs(self.src)
        delta_writer.write_delta_native(
            self.spark, self.spark.createDataFrame(self.base), self.table
        )
        delta_writer.merge_into_delta_native(
            self.spark, self.table, self.spark.createDataFrame(self.warm_keys), on=["k"]
        )

    # -- measurement ------------------------------------------------------
    def measure(self, tracer) -> dict:
        from rtdl_spark.streaming import jobs

        q = jobs.stream_upsert_to_delta(
            self.spark, self.src, gen.CDC_SCHEMA, self.table, self.ckpt,
            APP_ID, on=["k"], trigger_once=False,
        )
        reader = Reader(self, tracer)
        try:
            streamio.wait_idle(q)
            g = streamio.Generator(self.src, self.files, TICK)
            g.start()
            reader.start()
            g.join(timeout=self.live_seconds + 60)
            if g.error is not None:
                raise g.error
            q.processAllAvailable()
        finally:
            reader.stop.set()
            reader.join(timeout=120)
            q.stop()
        if reader.error is not None:
            raise reader.error
        run_id = str(q.runId)
        fb = streamio.file_batches(self.ckpt)
        streamio.wait_progress(self.progress, run_id, max(fb[f.name] for f in self.files))
        batches = streamio.batch_times(self.progress.events, run_id)
        self.commits = delta_commits(self.table)
        epoch_commit = {c["epoch"]: c for c in self.commits.values() if c["epoch"] is not None}

        commit_lat, wait = [], []
        for f in self.files:
            c = epoch_commit[fb[f.name]]
            commit_lat += [(c["time"] - g.due[f.name]) * 1000.0] * len(f.keys)
            wait += [(batches[fb[f.name]]["start"] - g.due[f.name]) * 1000.0] * len(f.keys)
        read_ms = [r["ms"] for r in reader.results]
        window = max(c["time"] for c in epoch_commit.values()) - g.t0
        self.file_batch = fb
        self.reads = reader.results
        say(f"cdc_upsert: {len(epoch_commit)} merge commits, {len(read_ms)} reads, "
            f"generator late max {max(g.late) * 1000:.1f} ms")
        return {
            "latency": commit_lat,
            "throughput": len(read_ms) / reader.elapsed,
            "attempted": sum(len(f.keys) for f in self.files) + len(read_ms),
            "late_s": max(g.late),
            "valid": max(g.late) <= LATE_LIMIT_S,
            "named": {
                "commit_p50_ms": (pct(commit_lat, 0.5), "ms"),
                "commit_p90_ms": (pct(commit_lat, 0.9), "ms"),
                "read_p50_ms": (pct(read_ms, 0.5), "ms"),
                "read_p90_ms": (pct(read_ms, 0.9), "ms"),
            },
            "batches": batches,
            "file_batches": fb,
            "wait_ms": wait,
            "commits": self.commits,
            "changed_rows": sum(len(f.keys) for f in self.files),
            "table_bytes_per_row": self.commits[0]["added_bytes"] / N_ROWS,
            "window": (g.t0, g.t0 + window),
        }

    # -- correctness ------------------------------------------------------
    def verify(self) -> tuple[int, list[str]]:
        """The final table equals the key → last-value model, and every
        read equals the model at the version it saw."""
        from rtdl_spark.sources import delta_reader

        model = Model(self.base, self.files)
        failed, notes = 0, []
        # version → the last change file it includes
        upto: dict[int, int] = {}
        last = -1
        file_idx = {f.name: i for i, f in enumerate(self.files)}
        by_epoch: dict[int, int] = {}
        for name, b in self.file_batch.items():
            if name in file_idx:
                by_epoch[b] = max(by_epoch.get(b, -1), file_idx[name])
        for v in sorted(self.commits):
            e = self.commits[v]["epoch"]
            if e is not None:
                last = max(last, by_epoch.get(e, last))
            upto[v] = last
        for r in self.reads:
            if r["kind"] in ("agg", "tt"):
                cnt, tot, mx = r["out"]
                i = model.file_of_seq(mx) if r["kind"] == "agg" else upto.get(r["version"], -2)
                if i == -2 or (cnt, tot) != model.agg_after(i):
                    failed += 1
                    notes.append(f"{r['kind']} read {r['out']} (version {r.get('version')}) "
                                 f"!= model {model.agg_after(i) if i != -2 else None}")
            else:
                bad = model.check_range(r["lo"], r["lo"] + RANGE_WIDTH - 1, r["out"])
                if bad:
                    failed += 1
                    notes.append(f"range read at {r['lo']}: {bad}")
        final = delta_reader.read_delta_native(self.spark, self.table).toPandas()
        bad = model.check_final(final)
        failed += bad
        if bad:
            notes.append(f"final table: {bad} keys differ from the model")
        return failed, notes


class Reader(threading.Thread):
    """Closed loop: the next read starts when the previous one returned."""

    def __init__(self, wl: CdcUpsert, tracer):
        super().__init__(name="perfbench-reader", daemon=True)
        self.wl = wl
        self.tracer = tracer
        self.stop = threading.Event()
        self.results: list[dict] = []
        self.error: BaseException | None = None
        self.elapsed = 0.0

    def run(self) -> None:
        from pyspark.sql import functions as F

        from rtdl_spark.sources import delta_reader

        spark, table = self.wl.spark, self.wl.table
        kinds = ("agg", "range", "tt")
        i = 0
        t_start = time.time()
        try:
            while not self.stop.is_set():
                kind = kinds[i % 3]
                r = {"kind": kind}
                with self.tracer.op(f"read.{kind}"):
                    t0 = time.time()
                    if kind == "agg":
                        df = delta_reader.read_delta_native(spark, table)
                    elif kind == "range":
                        lo = self.wl.ranges[(i // 3) % len(self.wl.ranges)]
                        cond = f"k BETWEEN {lo} AND {lo + RANGE_WIDTH - 1}"
                        df = delta_reader.read_delta_native(spark, table, where=cond).filter(cond)
                        r["lo"] = lo
                    else:
                        latest = latest_version(table)
                        r["version"] = int(np.random.default_rng(i).integers(0, latest + 1))
                        df = delta_reader.read_delta_native(spark, table, version=r["version"])
                    if kind == "range":
                        out = [tuple(x) for x in df.select("k", "v", "seq").collect()]
                    else:
                        row = df.agg(F.count(F.lit(1)), F.sum("v"), F.max("seq")).collect()[0]
                        out = (int(row[0]), int(row[1]), int(row[2]))
                    r["ms"] = (time.time() - t0) * 1000.0
                r["out"] = out
                self.results.append(r)
                i += 1
        except BaseException as e:
            self.error = e
        self.elapsed = time.time() - t_start


class Model:
    """Key → last value after each change file, answered without
    materialising every intermediate table."""

    def __init__(self, base, files):
        self.n_base = len(base)
        self.base_sum = int(base["v"].sum())
        self.files = files
        self.seq_start = [int(f.seqs[0]) for f in files]
        state: dict[int, tuple[int, int]] = {}
        cnt, tot = self.n_base, self.base_sum
        self.after: list[tuple[int, int]] = []
        self.by_seq: dict[int, tuple[int, int]] = {}
        for f in files:
            for k, v, s in zip(f.keys.tolist(), f.values.tolist(), f.seqs.tolist()):
                old = state.get(k)
                if old is not None:
                    tot -= old[0]
                elif k < self.n_base:
                    tot -= int(gen.base_value(k))
                else:
                    cnt += 1
                state[k] = (v, s)
                tot += v
                self.by_seq[s] = (k, v)
            self.after.append((cnt, tot))
        self.final = state

    def file_of_seq(self, seq: int) -> int:
        if seq < 0:
            return -1
        import bisect

        return bisect.bisect_right(self.seq_start, seq) - 1

    def agg_after(self, i: int) -> tuple[int, int]:
        return (self.n_base, self.base_sum) if i < 0 else self.after[i]

    def check_range(self, lo: int, hi: int, rows) -> str:
        keys = [k for k, _, _ in rows]
        if len(set(keys)) != len(keys):
            return "duplicate keys"
        missing = set(range(lo, min(hi, self.n_base - 1) + 1)) - set(keys)
        if missing:
            return f"{len(missing)} base keys missing"
        for k, v, s in rows:
            want = (k, int(gen.base_value(k))) if s < 0 else self.by_seq.get(s)
            if want != (k, v):
                return f"row {(k, v, s)} != {want}"
        return ""

    def check_final(self, df) -> int:
        got = {int(k): (int(v), int(s)) for k, v, s in zip(df["k"], df["v"], df["seq"])}
        bad = 0 if len(got) == len(df) else len(df) - len(got)
        n_keys = self.n_base + sum(1 for k in self.final if k >= self.n_base)
        bad += abs(len(got) - n_keys)
        for k in range(self.n_base):
            want = self.final.get(k, (int(gen.base_value(k)), -1))
            if got.get(k) != want:
                bad += 1
        for k, want in self.final.items():
            if k >= self.n_base and got.get(k) != want:
                bad += 1
        return bad


def latest_version(table: str) -> int:
    log = os.path.join(table, "_delta_log")
    return max(int(n[:20]) for n in os.listdir(log) if n.endswith(".json") and n[:20].isdigit())


def delta_commits(table: str) -> dict[int, dict]:
    """Per commit version: streaming epoch (from its txn action), commit
    time (the commit file's mtime), bytes added and files removed."""
    log = os.path.join(table, "_delta_log")
    out = {}
    for n in os.listdir(log):
        if not (n.endswith(".json") and n[:20].isdigit()):
            continue
        path = os.path.join(log, n)
        epoch, added, removed, op = None, 0, 0, ""
        with open(path) as fh:
            for line in fh:
                a = json.loads(line)
                if "txn" in a and a["txn"].get("appId") == APP_ID:
                    epoch = int(a["txn"]["version"])
                elif "add" in a:
                    added += int(a["add"].get("size", 0))
                elif "remove" in a:
                    removed += 1
                elif "commitInfo" in a:
                    op = a["commitInfo"].get("operation", "")
        out[int(n[:20])] = {"epoch": epoch, "time": os.stat(path).st_mtime,
                            "added_bytes": added, "removed_files": removed, "op": op}
    return out
