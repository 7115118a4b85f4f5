"""Per-layer metrics of a traced run.

Every workload reports every metric below; a layer the workload does not
exercise reads 0. "Op" is the workload's unit of work: a micro-batch
(``run_batch``) on ingest_live, a MERGE commit or a read on cdc_upsert, a
SQL query or curation entry on lake_query. Metrics about writes
(``delta_writer.*``, ``fsutil.*``) also count the set-up's commits, so
``delta_writer.append_ms`` and ``delta_writer.checkpoint_ms`` show the
table build that ``setup_s`` times.
"""

from __future__ import annotations

import os

from perfbench.trace import FSUTIL_FUNCS, Span, Tracer, mean

STEMS = ("minhash_lsh", "span_dedup", "quality", "packing", "ivf_pq", "knn_graph")

# name → unit, in the order BENCHMARK.json lists them
METRICS: dict[str, str] = {
    "ingest.batch_ms": "ms",
    "ingest.self_ms_per_op": "ms",
    "ingest.jobs_per_batch": "count",
    "ingest.rows_per_batch": "count",
    "ingest.files_per_batch": "count",
    "ingest.bytes_per_row": "B",
    "catalog.register_ms": "ms",
    "catalog.calls_per_batch": "count",
    "catalog.self_ms_per_op": "ms",
    "streaming.wait_ms": "ms",
    "streaming.trigger_ms": "ms",
    "streaming.sink_ms": "ms",
    "streaming.offset_ms": "ms",
    "streaming.log_ms": "ms",
    "delta_writer.merge_ms": "ms",
    "delta_writer.merge_jobs": "count",
    "delta_writer.files_rewritten_per_commit": "count",
    "delta_writer.write_amp": "ratio",
    "delta_writer.checkpoint_ms": "ms",
    "delta_writer.append_ms": "ms",
    "delta_writer.self_ms_per_op": "ms",
    "delta_reader.snapshot_ms": "ms",
    "delta_reader.log_files_per_snapshot": "count",
    "delta_reader.files_scanned_ratio": "ratio",
    "delta_reader.self_ms_per_op": "ms",
    "fsutil.calls_per_commit": "count",
    "fsutil.ms_per_commit": "ms",
    **{f"fsutil.{fn}_per_commit": "count" for fn in FSUTIL_FUNCS},
    "queries.build_ms": "ms",
    "queries.exec_ms": "ms",
    "queries.jobs_per_query": "count",
    **{m: u for s in STEMS for m, u in ((f"operators.{s}_ms", "ms"), (f"operators.{s}_jobs", "count"))},
    "driver.py4j_calls_per_op": "count",
    "driver.py4j_ms_per_op": "ms",
    "driver.spark_jobs_per_op": "count",
    "driver.gc_ms_per_op": "ms",
    "generator.lateness_ms": "ms",
    "trace.overhead_pct": "%",
}


def _ancestors(sp: Span, by_id: dict[int, Span]):
    while sp.parent is not None:
        sp = by_id[sp.parent]
        yield sp


def per_layer(wl, tracer: Tracer, traced: dict, mark: float) -> dict:
    """All per-layer metrics. Spans that started before ``mark`` belong to
    the set-up and only enter the write-side metrics. The caller fills in
    ``trace.overhead_pct`` from the untraced runs around this one."""
    kids = tracer.children()
    by_id = {s.sid: s for s in tracer.spans}
    run = [s for s in tracer.spans if s.start >= mark]
    ops = [s for s in run if s.parent is None and s.layer != "streaming"]
    n_ops = max(1, len(ops))
    v: dict[str, float] = {}

    def spans(name, pool=run):
        return [s for s in pool if s.name == name]

    def self_per_op(layer):
        return sum(tracer.self_ms(s, kids) for s in run if s.layer == layer) / n_ops

    batches = spans("ingest.run_batch")
    v["ingest.batch_ms"] = mean(s.ms for s in batches)
    v["ingest.self_ms_per_op"] = self_per_op("ingest")
    v["ingest.jobs_per_batch"] = mean(tracer.total_jobs(s, kids) for s in batches)
    stream_batches = traced.get("batches", {})
    v["ingest.rows_per_batch"] = mean(b["rows"] for b in stream_batches.values()) if batches else 0.0
    fb = traced.get("file_batches", {})
    per_batch_files: dict[int, int] = {}
    for b in fb.values():
        if b in stream_batches:
            per_batch_files[b] = per_batch_files.get(b, 0) + 1
    v["ingest.files_per_batch"] = mean(per_batch_files.values()) if batches else 0.0
    v["ingest.bytes_per_row"] = lake_bytes_per_row(wl) if batches else 0.0

    cat = [s for s in run if s.layer == "catalog" and s.name != "catalog.views"]
    v["catalog.register_ms"] = mean(s.ms for s in cat)
    v["catalog.calls_per_batch"] = len(cat) / n_ops if cat else 0.0
    v["catalog.self_ms_per_op"] = self_per_op("catalog")

    bt = list(stream_batches.values())
    v["streaming.wait_ms"] = mean(traced.get("wait_ms", []))
    for key in ("trigger_ms", "sink_ms", "offset_ms", "log_ms"):
        v[f"streaming.{key}"] = mean(b[key] for b in bt)

    merges = spans("delta_writer.merge", tracer.spans)
    v["delta_writer.merge_ms"] = mean(s.ms for s in merges)
    v["delta_writer.merge_jobs"] = mean(tracer.total_jobs(s, kids) for s in merges)
    v["delta_writer.files_rewritten_per_commit"] = mean(
        s.extra.get("files_rewritten", 0) for s in merges)
    v["delta_writer.write_amp"] = write_amp(traced)
    v["delta_writer.checkpoint_ms"] = mean(s.ms for s in spans("delta_writer.checkpoint", tracer.spans))
    appends = spans("delta_writer.append", tracer.spans)
    v["delta_writer.append_ms"] = mean(s.ms for s in appends)
    v["delta_writer.self_ms_per_op"] = self_per_op("delta_writer")

    snaps = spans("delta_reader.snapshot")
    v["delta_reader.snapshot_ms"] = mean(s.ms for s in snaps)
    v["delta_reader.log_files_per_snapshot"] = mean(s.extra.get("log_files", 0) for s in snaps)
    read = sum(s.extra.get("files_read", 0) for s in ops)
    total = sum(s.extra.get("files_total", 0) for s in ops)
    v["delta_reader.files_scanned_ratio"] = read / total if total else 0.0
    v["delta_reader.self_ms_per_op"] = self_per_op("delta_reader")

    commits = len(merges) + len(appends)
    fs = [s for s in tracer.spans if s.layer == "fsutil"
          and any(a.layer == "delta_writer" for a in _ancestors(s, by_id))]
    nc = max(1, commits)
    v["fsutil.calls_per_commit"] = len(fs) / nc
    v["fsutil.ms_per_commit"] = sum(s.ms for s in fs) / nc
    for fn in FSUTIL_FUNCS:
        v[f"fsutil.{fn}_per_commit"] = sum(1 for s in fs if s.name == f"fsutil.{fn}") / nc

    build, execs = spans("queries.build"), spans("queries.exec")
    v["queries.build_ms"] = mean(s.ms for s in build)
    v["queries.exec_ms"] = mean(s.ms for s in execs)
    qops = [s for s in ops if s.layer in ("queries", "operators")]
    v["queries.jobs_per_query"] = mean(
        sum(tracer.total_jobs(c, kids) for c in kids.get(s.sid, ()) if c.layer == "queries")
        for s in qops)

    for stem in STEMS:
        mine = spans(f"operators.{stem}")
        v[f"operators.{stem}_ms"] = mean(s.ms for s in mine)
        v[f"operators.{stem}_jobs"] = mean(tracer.total_jobs(s, kids) for s in mine)

    v["driver.py4j_calls_per_op"] = mean(s.py4j_calls for s in ops)
    v["driver.py4j_ms_per_op"] = mean(s.py4j_ms for s in ops)
    v["driver.spark_jobs_per_op"] = mean(tracer.total_jobs(s, kids) for s in ops)
    v["driver.gc_ms_per_op"] = mean(s.gc_ms for s in ops)

    v["generator.lateness_ms"] = traced.get("late_s", 0.0) * 1000.0
    v["trace.overhead_pct"] = 0.0
    if set(v) != set(METRICS):
        raise RuntimeError(f"per-layer metrics out of step: {set(v) ^ set(METRICS)}")
    return {k: {"value": float(v[k]), "unit": METRICS[k]} for k in METRICS}


def lake_bytes_per_row(wl) -> float:
    """Parquet bytes in the lake over the rows that landed there."""
    size = 0
    for d, _, files in os.walk(wl.lake):
        size += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet"))
    rows = sum(n for f in wl.all_files() for n in f.expected.values())
    return size / rows if rows else 0.0


def write_amp(traced: dict) -> float:
    """Bytes the MERGE commits added over the bytes of the rows they
    changed (changed rows × the table's bytes per row)."""
    commits = [c for c in traced.get("commits", {}).values() if c["epoch"] is not None]
    changed = traced.get("changed_rows", 0)
    per_row = traced.get("table_bytes_per_row", 0.0)
    if not commits or not changed or not per_row:
        return 0.0
    return sum(c["added_bytes"] for c in commits) / (changed * per_row)
