"""ingest_live — open-loop JSON events through ``stream_ingest_json``.

Live phase: for ``--seconds``, one generator thread writes a pre-rendered
events file every ``TICK`` seconds into the stream's source directory
while the stream runs (``trigger_once=False``, catalog registration on). Freshness of an event
is the time from when its file was due until the ``run_batch`` call that
landed it returned (batch membership from the file source's checkpoint
log, batch end from the progress feed).

Drain phase: the stream is stopped, a fixed backlog is written, and the
stream restarts on the same checkpoint with ``max_files_per_trigger``;
catch-up rate is backlog rows over the time from restart until the last
backlog row landed.
"""

from __future__ import annotations

import os
import time

from perfbench import gen, streamio
from perfbench.common import pct, say

TICK = 0.25
PER_FILE = 40
BACKLOG_FILES = 48
BACKLOG_PER_FILE = 250
MAX_FILES_PER_TRIGGER = 24
SETUP_FILES = 1
LATE_LIMIT_S = 1.0


class IngestLive:
    name = "ingest_live"

    def __init__(self, work: str, seed: int, seconds: float):
        """Renders every input before a session exists."""
        self.work = work
        self.live_seconds = max(2.0, float(seconds))
        n_live = int(self.live_seconds / TICK)
        # the control message rides in the set-up batches: its batch takes
        # the slower reload path, and in the live window that one outlier
        # batch would hold a large share of the samples
        self.setup_files = gen.rtdl_events(seed, SETUP_FILES, PER_FILE, 0,
                                           control_in=SETUP_FILES - 1, prefix="a")
        first = SETUP_FILES * PER_FILE
        self.live_files = gen.rtdl_events(
            seed + 1, n_live, PER_FILE, first, mid_run_from=n_live // 2, prefix="b",
        )
        first += n_live * PER_FILE
        self.backlog_files = gen.rtdl_events(
            seed + 2, BACKLOG_FILES, BACKLOG_PER_FILE, first,
            mid_run_from=0, prefix="c",
        )

    def attach(self, spark) -> None:
        from rtdl_spark.streaming.metrics import ProgressLog

        self.spark = spark
        self.progress = ProgressLog()
        spark.streams.addListener(self.progress)

    # -- set-up -----------------------------------------------------------
    def setup(self, rep: int) -> None:
        """A new pipeline in fresh directories: stream configs, then one
        availableNow run over the first few files."""
        from rtdl_spark.config import StreamConfig, StreamRegistry
        from rtdl_spark.ingest import IngestJob
        from rtdl_spark.streaming import jobs

        base = os.path.join(self.work, f"rep{rep}")
        self.src = os.path.join(base, "src")
        self.lake = os.path.join(base, "lake")
        self.ckpt = os.path.join(base, "ckpt")
        os.makedirs(self.src)
        for _, _, _, folder, _ in gen.STREAMS:  # catalog entries of an earlier rep
            self.spark.sql(f"DROP DATABASE IF EXISTS `{folder}` CASCADE")
        registry = StreamRegistry(os.path.join(base, "configs"))
        for sid, alt, mtype, folder, fns in gen.STREAMS:
            registry.create(StreamConfig(
                stream_id=sid, stream_alt_id=alt, message_type=mtype,
                folder_name=f"{folder}", partition_time_id=2, functions=fns,
            ))
        self.job = IngestJob(self.spark, registry, self.lake)
        for f in self.setup_files:
            streamio.write_atomic(self.src, f.name, f.text)
        # one file per batch: the set-ups' batches are the stream's warm-up
        q = jobs.stream_ingest_json(self.job, self.src, gen.EVENT_SCHEMA, self.ckpt,
                                    trigger_once=True, max_files_per_trigger=1)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))

    # -- measurement ------------------------------------------------------
    def measure(self, tracer) -> dict:
        from rtdl_spark.streaming import jobs

        q = jobs.stream_ingest_json(self.job, self.src, gen.EVENT_SCHEMA, self.ckpt,
                                    trigger_once=False)
        try:
            streamio.wait_idle(q)
            g = streamio.Generator(self.src, self.live_files, TICK)
            g.start()
            g.join(timeout=self.live_seconds + 60)
            if g.error is not None:
                raise g.error
            q.processAllAvailable()
        finally:
            q.stop()
        live_run = str(q.runId)

        for f in self.backlog_files:
            streamio.write_atomic(self.src, f.name, f.text)
        restart = time.time()
        q2 = jobs.stream_ingest_json(
            self.job, self.src, gen.EVENT_SCHEMA, self.ckpt, trigger_once=False,
            max_files_per_trigger=MAX_FILES_PER_TRIGGER,
        )
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        drain_run = str(q2.runId)

        fb = streamio.file_batches(self.ckpt)
        streamio.wait_progress(self.progress, live_run,
                               max(fb[f.name] for f in self.live_files))
        streamio.wait_progress(self.progress, drain_run,
                               max(fb[f.name] for f in self.backlog_files))
        live = streamio.batch_times(self.progress.events, live_run)
        drain = streamio.batch_times(self.progress.events, drain_run)

        fresh, wait = [], []
        for f in self.live_files:
            b = live[fb[f.name]]
            due = g.due[f.name]
            fresh += [(b["sink_end"] - due) * 1000.0] * f.n_events
            wait += [(b["start"] - due) * 1000.0] * f.n_events
        last = max(drain[fb[f.name]]["sink_end"] for f in self.backlog_files)
        backlog_rows = sum(f.n_events for f in self.backlog_files)
        catchup = backlog_rows / (last - restart)
        say(f"ingest_live: {len(live)} live batches, {len(drain)} drain batches, "
            f"generator late max {max(g.late) * 1000:.1f} ms")
        return {
            "latency": fresh,
            "throughput": catchup,
            "attempted": sum(f.n_events for f in self.live_files + self.backlog_files),
            "late_s": max(g.late),
            "valid": max(g.late) <= LATE_LIMIT_S,
            "named": {
                "freshness_p50_ms": (pct(fresh, 0.5), "ms"),
                "freshness_p90_ms": (pct(fresh, 0.9), "ms"),
                "catchup_rows_s": (catchup, "rows/s"),
            },
            "batches": {**live, **drain},
            "file_batches": fb,
            "wait_ms": wait,
            "window": (g.t0, last),
        }

    def all_files(self):
        return self.setup_files + self.live_files + self.backlog_files

    # -- correctness ------------------------------------------------------
    def verify(self) -> tuple[int, list[str]]:
        """Rows per (stream folder, rtdl_table), the mid-run field, PII
        masking and catalog registration against the generator's model."""
        from pyspark.sql import functions as F

        expected: dict[tuple[str, str], int] = {}
        campaign: dict[str, int] = {}
        for f in self.all_files():
            for k, n in f.expected.items():
                expected[k] = expected.get(k, 0) + n
        for f in self.live_files + self.backlog_files:
            if "campaign" in f.text:
                campaign["canonical"] = campaign.get("canonical", 0) + f.text.count('"campaign"')
        failed, notes = 0, []
        for folder in sorted({k[0] for k in expected}):
            df = self.spark.read.parquet(os.path.join(self.lake, folder))
            got = {
                r["rtdl_table"]: (r["n"], r["n_seq"], r["n_campaign"])
                for r in df.groupBy("rtdl_table").agg(
                    F.count(F.lit(1)).alias("n"),
                    F.countDistinct("seq").alias("n_seq"),
                    F.count("campaign").alias("n_campaign"),
                ).collect()
            }
            for (fo, table), n in expected.items():
                if fo != folder:
                    continue
                g_n, g_seq, _ = got.pop(table, (0, 0, 0))
                if g_n != n or g_seq != n:
                    failed += abs(g_n - n) + (g_n - g_seq)
                    notes.append(f"{folder}/{table}: rows {g_n} (distinct {g_seq}), expected {n}")
            for table, (g_n, _, _) in got.items():
                failed += g_n
                notes.append(f"{folder}/{table}: {g_n} rows that should not land")
            if folder in campaign:
                n_c = df.filter(F.col("campaign").isNotNull()).count()
                if n_c != campaign[folder]:
                    failed += abs(n_c - campaign[folder])
                    notes.append(f"{folder}: mid-run field on {n_c} rows, expected {campaign[folder]}")
            if folder == "pii":
                leak = df.filter(
                    F.col("ssn").rlike(gen.SSN_RE) | F.col("phone").rlike(gen.PHONE_RE)
                    | F.col("note").rlike(gen.PHONE_RE)
                ).count()
                if leak:
                    failed += leak
                    notes.append(f"pii: {leak} rows with unmasked PII")
            tables = {r["tableName"] for r in self.spark.sql(f"SHOW TABLES IN `{folder}`").collect()}
            for fo, table in expected:
                if fo == folder and table.replace("-", "_") not in tables:
                    failed += 1
                    notes.append(f"catalog: {folder}.{table} not registered")
        return failed, notes
