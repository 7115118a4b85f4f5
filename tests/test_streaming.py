"""Structured Streaming tests: file-source streams driven synchronously to
completion (availableNow/processAllAvailable + memory sink), checked
against their batch twins on the same data."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from rtdl_spark.catalog import table


@pytest.fixture()
def events_stream(spark, sf_dir, tmp_path):
    """The events fixture re-materialized (ns→µs already converted) as a
    parquet dir a file-source stream can watch."""
    src = str(tmp_path / "events_src")
    table(spark, sf_dir, "events").write.parquet(src)
    schema = spark.read.parquet(src).schema
    return spark.readStream.schema(schema).parquet(src)


def run_to_memory(df, name, output_mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_stream_tumbling_matches_batch(spark, sf_dir, events_stream):
    from rtdl_spark.streaming import stream_tumbling_counts

    run_to_memory(
        stream_tumbling_counts(events_stream), "tumbling_out", "append"
    )
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM tumbling_out").collect()
    }
    batch = (
        table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
        .collect()
    )
    expected = {(r["ws"], r["event_type"]): r["n"] for r in batch}
    # append mode emits only watermark-finalized windows: every emitted
    # window must match the batch result, and the tail (within the final
    # watermark) may be withheld
    assert got, "no windows finalized"
    for key, n in got.items():
        assert expected[key] == n


def test_stream_dedup_within_watermark(spark, tmp_path):
    from rtdl_spark.streaming import stream_dedup_within_watermark

    src = str(tmp_path / "dup_src")
    rows = [
        (1, "2024-01-01 00:00:00", "a"),
        (1, "2024-01-01 00:00:30", "a-dup"),
        (2, "2024-01-01 00:01:00", "b"),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts string, tag string"
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)

    run_to_memory(
        stream_dedup_within_watermark(stream, "event_id"), "dedup_out", "append"
    )
    out = spark.sql("SELECT event_id FROM dedup_out").collect()
    assert sorted(r["event_id"] for r in out) == [1, 2]


def test_stream_session_counts_runs(spark, events_stream):
    from rtdl_spark.streaming import stream_session_counts

    run_to_memory(
        stream_session_counts(events_stream), "session_out", "append"
    )
    rows = spark.sql(
        "SELECT count(*) AS n FROM session_out WHERE n_events > 0"
    ).collect()
    assert rows[0]["n"] > 0


def test_stream_ingest_foreachbatch(spark, tmp_path):
    """End-to-end streaming ingest: JSON envelope files → foreachBatch →
    partitioned lake write + catalog, exactly the batch pipeline per
    micro-batch."""
    from rtdl_spark.config import StreamConfig, StreamRegistry
    from rtdl_spark.ingest import IngestJob
    from rtdl_spark.streaming import stream_ingest_json

    reg = StreamRegistry(str(tmp_path / "configs"))
    cfg = reg.create(
        StreamConfig(
            stream_id="s1",
            message_type="clicks",
            folder_name="streamFolder",
            partition_time_id=2,
        )
    )
    src = tmp_path / "stream_src"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        for i in range(5):
            f.write(json.dumps({"stream_id": "s1", "i": i, "type": "clicks"}) + "\n")

    job = IngestJob(
        spark, reg, str(tmp_path / "lake"), fixed_time="2024-03-01 00:00:00"
    )
    schema = "stream_id string, i bigint, type string"
    q = stream_ingest_json(
        job, str(src), schema, str(tmp_path / "ckpt"), trigger_once=True
    )
    q.awaitTermination(120)

    out = spark.read.parquet(str(tmp_path / "lake" / "streamFolder"))
    assert out.count() == 5
    assert out.select("rtdl_table").distinct().collect()[0][0] == "clicks"


def test_stream_ingest_batch_job_shape(spark, tmp_path, monkeypatch):
    """Pins the streaming micro-batch shape: one probe job plus one staged
    write job for all routed streams; the small-plan scope turns AQE off on the
    batch's own session while the caller's session keeps it on; catalog
    partitions are added only for buckets the job has not added yet."""
    import contextlib
    import time

    from rtdl_spark.config import StreamConfig, StreamRegistry
    from rtdl_spark.ingest import IngestJob
    from rtdl_spark.ingest import pipeline
    from rtdl_spark.streaming import stream_ingest_json

    aqe = "spark.sql.adaptive.enabled"
    folders = [f"shapeFolder{i}" for i in range(4)]
    for folder in folders:
        spark.sql(f"DROP DATABASE IF EXISTS {folder} CASCADE")
    reg = StreamRegistry(str(tmp_path / "configs"))
    for i, folder in enumerate(folders):
        reg.create(
            StreamConfig(
                stream_id=f"s{i}",
                message_type=f"t{i}",
                folder_name=folder,
                partition_time_id=2,
                functions="ingester,pii-detection" if i == 3 else "ingester",
            )
        )
    src = tmp_path / "stream_src"
    src.mkdir()

    def add_file(name):
        with open(src / name, "w") as f:
            for i in range(4):
                for k in range(10):
                    f.write(json.dumps({"stream_id": f"s{i}", "k": k}) + "\n")

    job = IngestJob(
        spark, reg, str(tmp_path / "lake"), fixed_time="2024-03-01 00:00:00"
    )
    sc = spark.sparkContext
    groups, scope_aqe, catalog_calls = [], [], []
    run_batch = job.run_batch

    def counted_run_batch(batch_df, *a, **kw):
        gid = f"shape-batch-{len(groups)}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(gid, gid)
        groups.append(gid)
        catalog_calls.append([])
        try:
            return run_batch(batch_df, *a, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    scope = pipeline._small_plan_scope

    @contextlib.contextmanager
    def watched_scope(batch_spark, involved_bytes):
        with scope(batch_spark, involved_bytes) as on:
            scope_aqe.append(
                (on, batch_spark.conf.get(aqe), spark.conf.get(aqe))
            )
            yield on

    def recorded(name, fn):
        def wrapper(*a, **kw):
            catalog_calls[-1].append((name, kw.get("partitions", a[-1])))
            return fn(*a, **kw)
        return wrapper

    monkeypatch.setattr(job, "run_batch", counted_run_batch)
    monkeypatch.setattr(pipeline, "_small_plan_scope", watched_scope)
    monkeypatch.setattr(pipeline, "register_lake_table", recorded(
        "register", pipeline.register_lake_table))
    monkeypatch.setattr(pipeline, "add_lake_partitions", recorded(
        "add", pipeline.add_lake_partitions))

    schema = "stream_id string, k bigint"

    def run(ckpt):
        q = stream_ingest_json(job, str(src), schema, ckpt,
                               trigger_once=True, max_files_per_trigger=1)
        q.awaitTermination(120)
        assert q.exception() is None

    ckpt = str(tmp_path / "ckpt")
    add_file("b1.json")
    add_file("b2.json")
    run(ckpt)
    job.fixed_time = "2024-03-02 00:00:00"  # the next batch opens a bucket
    add_file("b3.json")
    run(ckpt)

    time.sleep(0.5)  # let the listener bus deliver the last job events
    tracker = sc.statusTracker()
    assert [len(tracker.getJobIdsForGroup(g)) for g in groups] == [2, 2, 2]
    assert scope_aqe and all(
        on and batch == "false" and caller == "true"
        for on, batch, caller in scope_aqe
    )
    assert spark.conf.get(aqe) == "true"
    registered = sorted(p for name, p in catalog_calls[0])
    assert [name for name, _p in catalog_calls[0]] == ["register"] * 4
    assert registered == [[(f"t{i}", "2024-03-01")] for i in range(4)]
    assert catalog_calls[1] == []
    assert sorted(catalog_calls[2]) == [
        ("add", [(f"t{i}", "2024-03-02")]) for i in range(4)
    ]
    for i, folder in enumerate(folders):
        n = spark.sql(f"SELECT count(*) AS n FROM {folder}.t{i}").collect()
        assert n[0]["n"] == 30


def test_stream_stateful_user_totals_matches_batch(spark, sf_dir, events_stream):
    """The applyInPandasWithState running totals, after one availableNow
    pass, must equal the batch groupBy on the same data (one update row per
    user per batch; the last update per user is the final state)."""
    from rtdl_spark.streaming import stream_stateful_user_totals

    run_to_memory(
        stream_stateful_user_totals(events_stream), "user_totals", "update"
    )
    got = {
        r["user_id"]: r
        for r in spark.sql(
            """SELECT user_id, n, total FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                              ORDER BY n DESC) AS rk
                 FROM user_totals) WHERE rk = 1"""
        ).collect()
    }
    expected = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    )
    assert len(got) == len(expected)
    for r in expected:
        g = got[r["user_id"]]
        assert g["n"] == r["n"]
        assert abs(g["total"] - r["total"]) < 1e-6


def test_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream interval join (click→purchase attribution within 10
    minutes) must produce exactly the pairs the same interval join yields
    in batch. Build the two sides as separate file streams so each carries
    its own watermark."""
    from rtdl_spark.streaming import stream_interval_join

    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    sides = {}
    for side, etype in (("clicks", "click"), ("purchases", "purchase")):
        src = str(tmp_path / side)
        ev.filter(F.col("event_type") == etype).write.parquet(src)
        schema = spark.read.parquet(src).schema
        sides[side] = spark.readStream.schema(schema).parquet(src)

    joined = stream_interval_join(
        sides["clicks"], sides["purchases"], max_delay="10 minutes"
    )
    run_to_memory(joined, "ij_out", "append")
    got = {
        (r["l_event_id"], r["r_event_id"])
        for r in spark.sql("SELECT l_event_id, r_event_id FROM ij_out").collect()
    }

    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"), F.col("ts").alias("cts"),
        F.col("user_id").alias("cu"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), F.col("ts").alias("pts"),
        F.col("user_id").alias("pu"),
    )
    expected = {
        (r["cid"], r["pid"])
        for r in c.join(
            p,
            (F.col("cu") == F.col("pu"))
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 10 minutes")),
        ).collect()
    }
    assert expected, "fixture produced no attributable pairs"
    assert got == expected


def test_stream_restart_from_checkpoint_no_duplicates(spark, tmp_path):
    """Exactly-once across restarts: rerunning with the same checkpoint
    re-ingests nothing; new files ingest once. This is the guarantee that
    replaces the reference's at-least-once Kafka consumption (startupPosition
    latest, no replay — ingester/module.yaml:27-28)."""
    from rtdl_spark.config import StreamConfig, StreamRegistry
    from rtdl_spark.ingest import IngestJob
    from rtdl_spark.streaming import stream_ingest_json

    reg = StreamRegistry(str(tmp_path / "configs"))
    reg.create(
        StreamConfig(
            stream_id="s1",
            message_type="clicks",
            folder_name="evLake",
            partition_time_id=2,
        )
    )
    src = tmp_path / "src"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        for i in range(4):
            f.write(json.dumps({"stream_id": "s1", "i": i, "type": "clicks"}) + "\n")

    job = IngestJob(
        spark, reg, str(tmp_path / "lake"), fixed_time="2024-03-01 00:00:00",
        register_catalog=False,
    )
    schema = "stream_id string, i bigint, type string"
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = stream_ingest_json(job, str(src), schema, ckpt, trigger_once=True)
        q.awaitTermination(120)

    run_once()
    lake = str(tmp_path / "lake" / "evLake")
    assert spark.read.parquet(lake).count() == 4

    run_once()  # restart, no new data → no duplicates
    assert spark.read.parquet(lake).count() == 4

    with open(src / "b2.json", "w") as f:
        f.write(json.dumps({"stream_id": "s1", "i": 99, "type": "clicks"}) + "\n")
    run_once()  # restart, one new file → exactly its rows appended
    assert spark.read.parquet(lake).count() == 5


def test_stream_interval_join_left_outer_emits_expired_unmatched(spark, tmp_path):
    """Left-outer stream-stream interval join: a click with no purchase in
    its window is emitted with NULL right columns once the watermark passes
    its match horizon; rows still inside the horizon at end-of-stream stay
    buffered (not emitted) — the state-eviction contract from SCALE.md.

    Files are fed one per micro-batch (maxFilesPerTrigger=1) with a late
    second wave on BOTH sides so the global watermark actually advances."""
    import os
    import shutil

    from rtdl_spark.streaming import stream_interval_join

    def feed(side, waves):
        """waves: list of row-lists; each wave becomes one file with an
        increasing mtime so the file source processes them in order."""
        watch = tmp_path / side
        watch.mkdir()
        for i, rows in enumerate(waves):
            stage = str(tmp_path / f"_stage_{side}_{i}")
            spark.createDataFrame(
                rows, "event_id long, ts timestamp, user_id long"
            ).coalesce(1).write.parquet(stage)
            part = next(
                p for p in os.listdir(stage) if p.endswith(".parquet")
            )
            dst = watch / f"w{i}.parquet"
            shutil.copy(os.path.join(stage, part), dst)
            os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
        schema = "event_id long, ts timestamp, user_id long"
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(watch))
        )

    import datetime as dt

    t = lambda m: dt.datetime(2024, 1, 1, 10, 0) + dt.timedelta(minutes=m)
    clicks = feed(
        "clicks",
        [
            [(1, t(0), 1), (2, t(0), 2)],  # c1 will match; c2 won't
            [(3, t(120), 99)],             # late wave: advances watermark
        ],
    )
    purchases = feed(
        "purchases",
        [
            [(101, t(5), 1)],              # matches c1 (within 10 min)
            [(102, t(120), 98)],           # late wave: advances watermark
        ],
    )
    joined = stream_interval_join(
        clicks,
        purchases,
        max_delay="10 minutes",
        left_watermark="30 minutes",
        right_watermark="30 minutes",
        how="left_outer",
    )
    run_to_memory(joined, "loj_out", "append")
    rows = spark.sql(
        "SELECT l_event_id, r_event_id FROM loj_out"
    ).collect()
    matched = {(r["l_event_id"], r["r_event_id"]) for r in rows
               if r["r_event_id"] is not None}
    nulls = {r["l_event_id"] for r in rows if r["r_event_id"] is None}
    assert matched == {(1, 101)}
    # c2's horizon (10:10 + 30min watermark) is passed by the 12:00 wave →
    # emitted unmatched; c3 is still inside its horizon → held in state
    assert nulls == {2}


def test_stream_sliding_matches_batch(spark, sf_dir, events_stream):
    """Sliding windows under a stream + watermark: every finalized window
    must carry the batch count for that window (each event belongs to
    exactly window/slide = 2 windows)."""
    from rtdl_spark.streaming import stream_sliding_counts

    run_to_memory(
        stream_sliding_counts(events_stream), "sliding_out", "append"
    )
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM sliding_out").collect()
    }
    batch = (
        table(spark, sf_dir, "events")
        .groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
        .collect()
    )
    expected = {(r["ws"], r["event_type"]): r["n"] for r in batch}
    assert got, "no sliding windows finalized"
    for key, n in got.items():
        assert expected[key] == n


def test_stream_dedup_clusters_matches_batch_recompute(spark, sf_dir, tmp_path):
    """Two document waves through the streaming dedup must leave exactly
    the clustering a batch recomputation over the full corpus produces:
    within-wave, cross-wave, and transitive duplicate chains all land —
    every pair is mined when its later member's wave arrives."""
    import json as _json
    import os

    from rtdl_spark.catalog import table
    from rtdl_spark.operators.components import connected_components
    from rtdl_spark.operators.dedup import minhash_lsh_pairs
    from rtdl_spark.streaming import stream_dedup_clusters

    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", "text")
    )
    rows = [r.asDict() for r in docs.collect()]
    src = tmp_path / "doc_src"
    src.mkdir()
    # wave 1: even ids; wave 2: odd ids (separate files → separate batches
    # under maxFilesPerTrigger=1)
    for name, keep in (("w1.json", 0), ("w2.json", 1)):
        with open(src / name, "w") as f:
            for r in rows:
                if r["doc_id"] % 2 == keep:
                    f.write(_json.dumps(r) + "\n")

    state = str(tmp_path / "state")
    q = stream_dedup_clusters(
        spark,
        str(src),
        "doc_id long, text string",
        state,
        str(tmp_path / "ckpt"),
        trigger_once=True,
        max_files_per_trigger=1,  # force one batch per wave
    )
    q.awaitTermination(300)

    epochs = sorted(d for d in os.listdir(state) if d.startswith("assign_e"))
    # replay safety keeps the direct predecessor; older epochs are deleted
    assert epochs == ["assign_e000000000", "assign_e000000001"], epochs
    got = {
        (r["node"], r["component"])
        for r in spark.read.parquet(os.path.join(state, epochs[-1])).collect()
    }
    expected = {
        (r["node"], r["component"])
        for r in connected_components(
            minhash_lsh_pairs(docs, "doc_id", "text", 3, 0.5)
        ).collect()
    }
    assert got == expected and len(expected) > 0, (
        len(got), len(expected), got ^ expected,
    )


def test_stream_enrich_static_matches_batch(spark, sf_dir, events_stream):
    """Stream-static enrichment (events × customer attributes) must equal
    the same join run in batch, and the per-micro-batch plan must be a
    broadcast hash join (the stream side never shuffles — the property
    that makes enrichment free at stream scale)."""
    from rtdl_spark.streaming import stream_enrich_static

    dim = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = stream_enrich_static(
        events_stream.select("event_id", "user_id"), dim
    ).select("event_id", "user_id", "c_mktsegment")
    run_to_memory(enriched, "enrich_out", "append")
    got = {
        (r["event_id"], r["c_mktsegment"])
        for r in spark.sql("SELECT * FROM enrich_out").collect()
    }

    ev = table(spark, sf_dir, "events")
    expected = {
        (r["event_id"], r["c_mktsegment"])
        for r in ev.join(
            dim, ev["user_id"] == dim["c_custkey"], "left"
        ).collect()
    }
    assert got == expected and len(got) == ev.count()

    # every event user matches a customer here; left join must not drop
    assert all(seg is not None for _, seg in got)

    # plan proof: the identical operator applied to the batch twin (each
    # micro-batch IS a batch plan) resolves to a broadcast hash join with
    # no exchange on the stream side
    batch_plan = (
        stream_enrich_static(ev.select("event_id", "user_id"), dim)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in batch_plan


def test_stream_tumbling_drops_data_later_than_watermark(spark, tmp_path):
    """The watermark eviction contract, with its real (subtle) semantics:
    the watermark is a LOWER BOUND on dropping, not an upper bound on
    accepting — a late row arriving while its window is still in state is
    merged (Spark makes no promptness promise), but once the watermark
    passed the window end and the state was EVICTED, a later-arriving row
    for that window is discarded and can never resurrect or double-emit
    the window. Waves: on-time pair → watermark-advancer → eviction
    batch → (late row + still-open row). The finalized window must count
    exactly the on-time pair, and open windows stay withheld in append
    mode."""
    import datetime as dt
    import os
    import shutil

    from rtdl_spark.streaming import stream_tumbling_counts

    t = lambda m: dt.datetime(2024, 1, 1, 10, 0) + dt.timedelta(minutes=m)
    waves = [
        [(1, t(0), 1, "click", 1.0), (2, t(2), 1, "click", 1.0)],
        [(3, t(60), 2, "click", 1.0)],   # raises wm to 10:50 for NEXT batch
        [(6, t(61), 5, "click", 1.0)],   # runs with wm=10:50 → evicts [10:00)
        [(4, t(2), 3, "click", 1.0), (5, t(58), 4, "click", 1.0)],  # 4 late
    ]
    watch = tmp_path / "late_src"
    watch.mkdir()
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double"
    )
    for i, rows in enumerate(waves):
        stage = str(tmp_path / f"_stage_{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(stage)
        part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        dst = watch / f"w{i}.parquet"
        shutil.copy(os.path.join(stage, part), dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(watch))
    )
    run_to_memory(
        stream_tumbling_counts(stream, "5 minutes", "10 minutes"),
        "late_out",
        "append",
    )
    got = {
        (str(r["window_start"]), r["n"])
        for r in spark.sql(
            "SELECT window_start, n FROM late_out"
        ).collect()
    }
    # exactly the on-time pair: the late event_id=4 was dropped against
    # the evicted window (no resurrection, no duplicate emission), and
    # no still-open window (10:55 / 11:00 / 11:01) leaked out
    assert got == {("2024-01-01 10:00:00", 2)}, got


def test_stream_quality_scoring_matches_batch(spark, sf_dir, tmp_path):
    """Score-at-ingest: the hashed-feature linear quality scorer
    (curation.linear_quality_score) applied per micro-batch via
    foreachBatch — the deployment shape for stateless per-document
    stages (a document's tokens live in its own row, so batch-local
    scoring is exact; no streaming-aggregation state, no watermark) —
    must emit exactly the batch scores over the same corpus."""
    from rtdl_spark.operators.curation import linear_quality_score

    docs = table(spark, sf_dir, "documents")
    src = str(tmp_path / "docs_src")
    docs.write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)

    collected = []

    def score_batch(batch_df, _bid):
        collected.extend(linear_quality_score(batch_df).collect())

    q = (
        stream.writeStream.foreachBatch(score_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)

    got = {(r["doc_id"], r["n_tokens"], r["score"]) for r in collected}
    expected = {
        (r["doc_id"], r["n_tokens"], r["score"])
        for r in linear_quality_score(docs).collect()
    }
    assert got == expected and len(got) == docs.count()


def test_stream_ingest_commit_log_skips_redelivered_epochs(spark, tmp_path):
    """Exactly-once under re-delivery: after a full run, wipe the stream
    checkpoint (forcing Spark to replay every source file as the same
    epoch ids) and run again with the SAME commit log — no duplicate rows
    may land. A third run with a fresh log proves the duplicates would
    have landed without it."""
    from rtdl_spark.config import StreamConfig, StreamRegistry
    from rtdl_spark.ingest import IngestJob
    from rtdl_spark.sources import fsutil
    from rtdl_spark.streaming import stream_ingest_json
    from rtdl_spark.streaming.commit import CommitLog

    reg = StreamRegistry(str(tmp_path / "configs"))
    reg.create(
        StreamConfig(
            stream_id="s1",
            message_type="clicks",
            folder_name="streamFolder",
            partition_time_id=2,
        )
    )
    src = tmp_path / "stream_src"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        for i in range(5):
            f.write(
                json.dumps({"stream_id": "s1", "i": i, "type": "clicks"})
                + "\n"
            )
    job = IngestJob(
        spark, reg, str(tmp_path / "lake"), fixed_time="2024-03-01 00:00:00"
    )
    schema = "stream_id string, i bigint, type string"
    log_dir = str(tmp_path / "commitlog")

    def run(ckpt: str, log: str | None):
        q = stream_ingest_json(
            job, str(src), schema, ckpt, trigger_once=True,
            commit_log_dir=log,
        )
        q.awaitTermination(120)

    lake = str(tmp_path / "lake" / "streamFolder")
    run(str(tmp_path / "ckpt1"), log_dir)
    assert spark.read.parquet(lake).count() == 5
    assert CommitLog(spark, log_dir).committed_epochs() == [0]

    # Simulated offset-commit loss: new checkpoint => epoch 0 re-delivered.
    run(str(tmp_path / "ckpt2"), log_dir)
    assert spark.read.parquet(lake).count() == 5  # skipped, no dupes

    # Without the log the same replay double-writes (the failure mode).
    run(str(tmp_path / "ckpt3"), None)
    assert spark.read.parquet(lake).count() == 10
    fsutil.delete(spark, log_dir)


def test_stream_tumbling_distinct_users_matches_batch(
    spark, sf_dir, events_stream
):
    """Streaming approx-distinct per tumbling window equals the batch twin
    EXACTLY (same HLL estimator, one availableNow pass), and n_events
    confirms the windows line up."""
    from pyspark.sql import functions as F

    from rtdl_spark.catalog import table
    from rtdl_spark.streaming import stream_tumbling_distinct_users

    run_to_memory(
        stream_tumbling_distinct_users(events_stream), "distinct_users",
        "append",
    )
    got = {
        str(r["window_start"]): (r["approx_users"], r["n_events"])
        for r in spark.sql("SELECT * FROM distinct_users").collect()
    }
    ev = table(spark, sf_dir, "events")
    want = {
        str(r["window_start"]): (r["approx_users"], r["n_events"])
        for r in ev.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("window_start"), "approx_users", "n_events"
        )
        .collect()
    }
    # append mode emits only watermark-closed windows: a (small) suffix of
    # batch windows may be missing, but every emitted one must match
    assert len(got) >= len(want) - 2 > 0
    for k, v in got.items():
        assert want[k] == v, k


def test_progress_metrics_capture_and_summary(spark, sf_dir, events_stream):
    """Both capture paths (pull recentProgress / push listener) see the
    stream's batches; totals account for every input row; the windowed
    agg reports nonzero state; the summary rolls up per query."""
    from rtdl_spark.streaming import stream_tumbling_counts
    from rtdl_spark.streaming.metrics import (
        ProgressLog,
        progress_frame,
        throughput_summary,
    )

    log = ProgressLog()
    spark.streams.addListener(log)
    try:
        q = run_to_memory(
            stream_tumbling_counts(events_stream), "metrics_probe", "append"
        )
        pull = progress_frame(spark, q).cache()
        n_events = table(spark, sf_dir, "events").count()
        got = pull.agg(
            F.sum("num_input_rows"), F.count(F.lit(1)), F.max("state_rows")
        ).first()
        assert got[0] == n_events  # every input row accounted for
        assert got[1] >= 1
        assert got[2] > 0  # windowed agg keeps state
        assert pull.filter("watermark IS NOT NULL").count() >= 1

        summary = throughput_summary(pull).collect()
        assert len(summary) == 1
        assert summary[0]["total_rows"] == n_events
        assert summary[0]["max_batch_ms"] > 0

        # push path saw the same batches (listener delivery is async)
        import time

        deadline = time.time() + 30
        while time.time() < deadline:
            push = log.frame(spark)
            if (
                push.filter("query_id = '%s'" % q.id)
                .agg(F.sum("num_input_rows"))
                .first()[0]
                == n_events
            ):
                break
            time.sleep(1)
        else:
            raise AssertionError("listener never delivered full progress")
        pull.unpersist()
    finally:
        spark.streams.removeListener(log)


def test_stream_heavy_hitters_bounds_and_guarantee(spark, sf_dir, events_stream):
    """Sharded Misra-Gries heavy hitters: per-bucket state stays within
    capacity, every emitted candidate's [min_count, max_count] interval
    brackets the true frequency, and every key heavier than
    N_bucket/capacity is guaranteed present in its bucket's candidates."""
    from rtdl_spark.streaming.jobs import stream_heavy_hitters

    cap = 4
    run_to_memory(
        stream_heavy_hitters(
            events_stream, "event_type", n_buckets=2, capacity=cap
        ),
        "hh",
        "update",
    )
    # last emission per (bucket, key) is the final summary state
    final = {
        (r.bucket, r.key): r
        for r in spark.sql(
            """SELECT * FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket, key
                                              ORDER BY max_count DESC) rk
                 FROM hh) WHERE rk = 1"""
        ).collect()
    }
    truth = {
        (r.b, r.k): r.n
        for r in table(spark, sf_dir, "events")
        .select(F.col("event_type").cast("string").alias("k"))
        .withColumn("b", F.pmod(F.xxhash64("k"), F.lit(2)).cast("int"))
        .groupBy("b", "k")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    bucket_n = {}
    for (b, k), n in truth.items():
        bucket_n[b] = bucket_n.get(b, 0) + n

    # capacity bound
    for b in bucket_n:
        assert sum(1 for (bb, _) in final if bb == b) <= cap

    # interval correctness for every surviving candidate
    for (b, k), r in final.items():
        assert r.min_count <= truth[(b, k)] <= r.max_count, (b, k)

    # Misra-Gries guarantee: f > N_b/cap => present
    for (b, k), n in truth.items():
        if n > bucket_n[b] / cap:
            assert (b, k) in final, (b, k, n, bucket_n[b])


def test_stream_matview_continuous_rollup(spark, tmp_path):
    """stream_to_delta_table(matview=...): every micro-batch commits a
    Delta version AND folds it into the persisted rollup; after replay
    with a wiped checkpoint the view still equals a full recompute (no
    double counting — the txn watermark skips the batch, so no commit,
    no refresh delta)."""
    import json as _json
    import shutil

    from rtdl_spark.operators.matview import MaterializedAggView
    from rtdl_spark.sources.delta_reader import (
        _commit_versions,
        read_delta_native,
    )
    from rtdl_spark.streaming import stream_to_delta_table

    src = tmp_path / "mvsrc"
    src.mkdir()
    ckpt, root, mdir = (
        str(tmp_path / "ck"),
        str(tmp_path / "dt"),
        str(tmp_path / "mv"),
    )
    schema = "event_id long, user_id long, amount long"

    def wave(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    def run():
        mv = MaterializedAggView(
            spark, root, mdir, ["user_id"], {"amt": "amount"}
        )
        q = stream_to_delta_table(
            spark, str(src), schema, root, ckpt, "mv_app", matview=mv
        )
        q.awaitTermination(120)
        return mv

    wave("a.json", [{"event_id": i, "user_id": i % 2, "amount": i}
                    for i in range(8)])
    mv = run()
    wave("b.json", [{"event_id": 100 + i, "user_id": 1, "amount": 10}
                    for i in range(3)])
    mv = run()

    def view():
        return {r.user_id: (r.amt, r.n) for r in mv.frame().collect()}

    def full():
        return {
            r.user_id: (r.amt, r.n)
            for r in read_delta_native(spark, root)
            .groupBy("user_id")
            .agg(F.sum("amount").alias("amt"), F.count(F.lit(1)).alias("n"))
            .collect()
        }

    assert view() == full()
    assert mv.refreshed_version() == _commit_versions(spark, root)[-1]

    shutil.rmtree(ckpt)  # force re-delivery of both files
    mv = run()
    assert view() == full()  # txn watermark skipped -> no double counting


def test_stream_matview_refresh_failure_does_not_duplicate_versions(
    spark, tmp_path
):
    """If matview.refresh() dies AFTER the batch's Delta commit, the
    epoch's txn is already in that commit: the retried batch is skipped
    (no duplicate version / rows) and the self-idempotent refresh
    catches up on the next trigger."""
    import json as _json

    from rtdl_spark.operators.matview import MaterializedAggView
    from rtdl_spark.sources.delta_reader import (
        _commit_versions,
        read_delta_native,
    )
    from rtdl_spark.streaming import stream_to_delta_table

    src = tmp_path / "fsrc"
    src.mkdir()
    ckpt, root, mdir = (
        str(tmp_path / "fck"),
        str(tmp_path / "fdt"),
        str(tmp_path / "fmv"),
    )
    schema = "event_id long, user_id long, amount long"
    with open(src / "a.json", "w") as f:
        for i in range(6):
            f.write(_json.dumps(
                {"event_id": i, "user_id": i % 2, "amount": i}) + "\n")

    bomb = tmp_path / "bomb"
    bomb.touch()

    class FlakyMV:
        def __init__(self, inner):
            self.inner = inner

        def refresh(self):
            if bomb.exists():
                bomb.unlink()
                raise RuntimeError("injected refresh failure")
            self.inner.refresh()

    def run():
        mv = MaterializedAggView(
            spark, root, mdir, ["user_id"], {"amt": "amount"}
        )
        q = stream_to_delta_table(
            spark, str(src), schema, root, ckpt, "flaky_app",
            matview=FlakyMV(mv),
        )
        try:
            q.awaitTermination(120)
        except Exception:
            pass  # first run: injected refresh failure kills the query
        finally:
            if q.isActive:
                q.stop()
        return mv

    mv = run()          # append committed, refresh exploded
    mv = run()          # replayed epoch skipped; refresh catches up
    snap = read_delta_native(spark, root)
    assert snap.count() == 6          # no duplicated batch
    assert _commit_versions(spark, root) == [0]  # exactly one commit
    got = {r.user_id: (r.amt, r.n) for r in mv.frame().collect()}
    want = {
        r.user_id: (r.amt, r.n)
        for r in snap.groupBy("user_id")
        .agg(F.sum("amount").alias("amt"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_stream_ohlc_matches_batch(spark, sf_dir, events_stream):
    """Streaming OHLC after one availableNow replay == the batch candle
    query (win_ohlc_resample) on the same data — min_by/max_by state
    carries the champion across micro-batches correctly."""
    from rtdl_spark.streaming.jobs import stream_ohlc_candles

    run_to_memory(stream_ohlc_candles(events_stream), "sohlc", "update")
    got = {
        (str(r.bucket), r.event_type): (
            r.n_events, r.open, r.high, r.low, r.close, round(r.total, 2)
        )
        for r in spark.sql(
            """SELECT * FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket, event_type
                                              ORDER BY n_events DESC) rk
                 FROM sohlc) WHERE rk = 1"""
        ).collect()
    }
    from rtdl_spark.queries import all_queries

    want = {
        (str(r.bucket), r.event_type): (
            r.n_events, r.open, r.high, r.low, r.close, round(r.total, 2)
        )
        for r in all_queries()["win_ohlc_resample"](spark, sf_dir).collect()
    }
    assert got == want


def test_stream_image_ahash_matches_batch(spark, sf_dir, tmp_path):
    """Streaming multimodal decode: documents fed as a file stream hash
    to EXACTLY the per-doc values of the batch twin (the real PPM decode
    → integer average-hash path is stateless, so streaming == batch) —
    including across multiple micro-batches."""
    import json

    from rtdl_spark.streaming import stream_image_ahash

    docs = [
        (r["doc_id"], r["text"])
        for r in table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 60)
        .select("doc_id", "text")
        .collect()
    ]
    d = tmp_path / "docs_in"
    d.mkdir()
    # two waves → at least two micro-batches under availableNow
    for wave, chunk in enumerate((docs[:30], docs[30:])):
        with open(d / f"wave{wave}.jsonl", "w") as f:
            for doc_id, text in chunk:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(str(d))
    )
    run_to_memory(stream_image_ahash(stream), "img_ahash_out", "append")
    got = {
        r["doc_id"]: r["phash"]
        for r in spark.sql("SELECT * FROM img_ahash_out").collect()
    }

    batch_docs = spark.createDataFrame(docs, "doc_id long, text string")
    want = {
        r["doc_id"]: r["phash"]
        for r in stream_image_ahash(batch_docs).collect()
    }
    assert got == want and len(got) == len(docs)
