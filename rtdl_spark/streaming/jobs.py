"""Streaming jobs — the real-time half of the engine.

The reference's streaming topology (Kafka ingress → StateFun ingester →
per-message parquet writes, module.yaml + ingester.go) maps to Structured
Streaming as:

- source: ``readStream.format("kafka")`` in production; a file/json source
  carries the same envelope schema for local development and tests (the
  reference's Kafka messages are line-JSON envelopes anyway).
- processing: identical DataFrame transforms as batch — the expressions in
  rtdl_spark.queries.windows run unchanged here, with watermarks bounding
  state.
- sink: ``foreachBatch`` → IngestJob.run_batch, which gives exactly-once
  appends per micro-batch (checkpointed offsets + idempotent parquet
  append per batch directory) and replaces the reference's
  file-per-message writes (ingester.go:551-565) with micro-batch columnar
  files.

Late data: the reference has no event-time semantics at all (partition
buckets come from the wall clock, ingester.go:522-548); watermarked
event-time windows are capability-plus, flagged as such in SURVEY §2B.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves its (string,
# under future-annotations) type hints against module globals, so a
# function-local `import pandas as pd` breaks @pandas_udf inference
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from rtdl_spark.ingest.pipeline import IngestJob


def _tz_ts(events: DataFrame, col: str = "ts") -> DataFrame:
    """Watermarks require TIMESTAMP (tz-aware); the lake stores event time
    as TIMESTAMP_NTZ. With the session pinned to UTC the cast is a pure
    type change, not a value change."""
    if dict(events.dtypes).get(col) == "timestamp_ntz":
        return events.withColumn(col, F.col(col).cast("timestamp"))
    return events


def stream_ingest_json(
    job: IngestJob,
    source_dir: str,
    schema,
    checkpoint_dir: str,
    trigger_once: bool = True,
    commit_log_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming ingest: watch a directory of JSON envelopes (stand-in for
    the Kafka ingress; swap ``readStream.schema(...).json(dir)`` for
    ``readStream.format('kafka')`` + from_json in production) and run the
    full A1–A22 pipeline per micro-batch via foreachBatch.

    ``commit_log_dir`` arms the epoch commit log (streaming/commit.py):
    a re-delivered epoch (sink ran, offset commit lost) is skipped instead
    of appending duplicates — the exactly-once upgrade over the
    reference's at-least-once lake writes.

    ``max_files_per_trigger`` paces a large backfill: a month of history
    replays as bounded micro-batches instead of one giant batch whose
    shuffle state must fit at once (the knob the multi-wave watermark
    tests also rely on)."""
    reader = job.spark.readStream.schema(schema).option(
        "dropFieldIfAllNull", "true"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.json(source_dir)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        job.run_batch(batch_df)

    if commit_log_dir is not None:
        from rtdl_spark.streaming.commit import CommitLog, idempotent_sink

        sink = idempotent_sink(sink, CommitLog(job.spark, commit_log_dir))

    writer = (
        raw.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_tumbling_counts(
    events: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling counts per event_type — append-mode safe.
    State is bounded by the watermark: windows older than (max event time −
    watermark) are finalized and evicted. The money sum goes through
    DECIMAL (exact, order-independent) like the batch twin
    win_tumbling_5min, so replaying the stream equals the batch aggregate
    bit-for-bit."""
    from rtdl_spark.queries._util import dec

    return (
        _tz_ts(events)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n",
                "total_value")
    )


def stream_sliding_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked sliding windows (each event lands in window/slide
    overlapping windows). State grows with window/slide × key cardinality
    — the factor to budget when sizing executors for overlapping windows."""
    return (
        _tz_ts(events)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def stream_session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Session windows per user (gap-based), watermark-bounded state."""
    return (
        _tz_ts(events)
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def stream_dedup_within_watermark(
    events: DataFrame, key: str = "event_id", watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming exact dedup with bounded state: duplicates arriving within
    the watermark horizon are dropped; state for older keys is evicted.
    (Batch twin: dropDuplicates — unbounded state.)"""
    return _tz_ts(events).withWatermark("ts", watermark).dropDuplicatesWithinWatermark([key])


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    left_watermark: str = "30 minutes",
    right_watermark: str = "30 minutes",
    max_delay: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: pair each left event with the right
    events of the same ``key`` arriving in ``[left.ts, left.ts +
    max_delay]`` — the click-to-conversion attribution shape.

    Both sides carry watermarks and the join condition carries an explicit
    time bound, so Spark can size the join state: a buffered left row is
    droppable once the right watermark passes ``left.ts + max_delay``
    (state is bounded by watermark + interval, not by stream length —
    the property that makes this viable on an unbounded 100 TB/day
    stream). Outer variants additionally emit the unmatched side after
    its horizon expires.

    Columns come out prefixed (``l_``/``r_``) because both sides share a
    schema in the common self-join case.
    """
    l = _tz_ts(left, ts_col).withWatermark(ts_col, left_watermark)
    r = _tz_ts(right, ts_col).withWatermark(ts_col, right_watermark)
    l = l.select([F.col(c).alias(f"l_{c}") for c in l.columns])
    r = r.select([F.col(c).alias(f"r_{c}") for c in r.columns])
    cond = (
        (F.col(f"l_{key}") == F.col(f"r_{key}"))
        & (F.col(f"r_{ts_col}") >= F.col(f"l_{ts_col}"))
        & (
            F.col(f"r_{ts_col}")
            <= F.col(f"l_{ts_col}") + F.expr(f"INTERVAL {max_delay}")
        )
    )
    return l.join(r, cond, how)


USER_TOTALS_STATE = "n BIGINT, total DOUBLE"
USER_TOTALS_OUTPUT = "user_id BIGINT, n BIGINT, total DOUBLE"


def stream_enrich_static(
    events: DataFrame,
    dim: DataFrame,
    stream_key: str = "user_id",
    dim_key: str = "c_custkey",
    how: str = "left",
    broadcast: bool = True,
) -> DataFrame:
    """Stream-static enrichment join — the dimension-lookup shape every
    event pipeline needs (events × customer/account/device attributes).

    Stateless by construction: Spark joins each micro-batch against the
    static side with no streaming state at all (nothing to watermark,
    nothing to evict), which is why this is the right tool for
    enrichment and the stream-stream interval join is reserved for
    event-to-event matching. With ``broadcast=True`` (keep it: dimensions
    are small next to a 100 TB/day stream) every micro-batch is a
    map-side hash join — the event stream never shuffles.

    The static side is re-planned per micro-batch, so a dimension stored
    as a lake table picks up slowly-changing updates between batches
    without restarting the query.
    """
    d = F.broadcast(dim) if broadcast else dim
    return events.join(
        d, F.col(stream_key) == F.col(dim_key), how
    )


def stream_stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running (count, value-total) via
    ``applyInPandasWithState`` — the escape hatch for semantics the built-in
    windowed aggs can't express (the reference's StateFun functions are the
    architectural ancestor: arbitrary per-key state driven by a message
    stream, ingester/module.yaml).

    Each micro-batch emits the *updated* running totals for the users seen
    in that batch (update semantics). State is one tiny tuple per user —
    partitioned by the group key, so it scales horizontally with executors;
    use a timeout (GroupStateTimeout) in production to bound state for
    inactive keys.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n], "total": [total]})

    import pandas as pd  # local so the closure ships cleanly

    return (
        _tz_ts(events)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=USER_TOTALS_OUTPUT,
            stateStructType=USER_TOTALS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_dedup_clusters(
    spark,
    source_dir: str,
    schema: str,
    state_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    trigger_once: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Continuous corpus dedup: per micro-batch, mine MinHash-LSH
    near-dup pairs touching the new documents (batch-vs-batch AND
    batch-vs-accumulated-corpus), then fold them into a persisted
    cluster assignment via incremental_components — the streaming shape
    of the crawl→dedup loop, with cost per batch proportional to the
    batch and its candidates, never the corpus.

    Persisted state under ``state_dir`` (parquet; all control-plane file
    operations go through the Hadoop FileSystem API — sources/fsutil — so
    the same code is correct on local disk, HDFS, or object stores):
    - ``docs/e{N}/``  — (id, text) of batch N (candidate verification
      re-reads ONLY candidate texts); read recursively as one corpus;
    - ``bands/e{N}/`` — batch N's exploded (id, LSH bucket) keys: the
      index later batches' candidates join against;
    - ``assign_e{N}/`` — the clustering after batch N (absent id =
      singleton).

    Replay safety (foreachBatch may re-run the last epoch after a crash):
    every write is per-epoch and overwrite-idempotent; the previous
    assignment is resolved as the latest epoch STRICTLY BELOW the current
    one (never read-and-overwrite the same path); cleanup keeps that
    previous epoch around, deleting only older ones, so a replayed batch
    still finds its input state.

    The invariant (tested): after all batches, the assignment equals the
    batch recomputation connected_components(minhash_lsh_pairs(corpus)) —
    every pair is found exactly when its later member's batch runs.
    """
    from rtdl_spark.functions.minhash_np import minhash_band_keys_np
    from rtdl_spark.functions.text import jaccard, shingles
    from rtdl_spark.operators.components import (
        incremental_components,
        release_local_checkpoint,
    )
    from rtdl_spark.sources import fsutil

    docs_dir = f"{state_dir}/docs"
    bands_dir = f"{state_dir}/bands"

    def _epochs_below(n: int) -> list[str]:
        return sorted(
            d
            for d in fsutil.list_names(spark, state_dir)
            if d.startswith("assign_e") and int(d[len("assign_e"):]) < n
        )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.select(
            F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
        ).localCheckpoint()  # tiny; read many times below
        bands = batch.select(
            "_id",
            F.explode(minhash_band_keys_np(F.col("_text"))).alias("_bucket"),
        )
        prior_band_epochs = [
            e
            for e in fsutil.list_names(spark, bands_dir)
            if int(e[1:]) < epoch_id  # replay: ignore own partial output
        ]
        index = bands
        if prior_band_epochs:
            index = index.unionByName(
                spark.read.parquet(
                    *[f"{bands_dir}/{e}" for e in prior_band_epochs]
                )
            )
        # candidates touching the batch, normalized to id1 < id2
        cand = (
            bands.join(
                index.select(F.col("_id").alias("_oid"), "_bucket"), "_bucket"
            )
            .filter(F.col("_id") != F.col("_oid"))
            .select(
                F.least("_id", "_oid").alias("id1"),
                F.greatest("_id", "_oid").alias("id2"),
            )
            .distinct()
        )
        prior_doc_epochs = [
            e
            for e in fsutil.list_names(spark, docs_dir)
            if int(e[1:]) < epoch_id
        ]
        texts = batch
        if prior_doc_epochs:
            texts = texts.unionByName(
                spark.read.parquet(
                    *[f"{docs_dir}/{e}" for e in prior_doc_epochs]
                )
            )
        sh = texts.select("_id", shingles(F.col("_text")).alias("_sh"))
        pairs = (
            cand.join(
                sh.select(F.col("_id").alias("id1"), F.col("_sh").alias("s1")),
                "id1",
            )
            .join(
                sh.select(F.col("_id").alias("id2"), F.col("_sh").alias("s2")),
                "id2",
            )
            # round exactly like minhash_lsh_pairs: the batch-recompute
            # equality must hold at the threshold boundary too
            .filter(F.round(jaccard(F.col("s1"), F.col("s2")), 6) >= threshold)
            .select("id1", "id2")
        )
        prev_epochs = _epochs_below(epoch_id)
        if prev_epochs:
            prev = spark.read.parquet(f"{state_dir}/{prev_epochs[-1]}")
        else:
            prev = spark.createDataFrame([], "node long, component long")
        assign = incremental_components(prev, pairs)
        assign.write.mode("overwrite").parquet(
            f"{state_dir}/assign_e{epoch_id:09d}"
        )
        batch.write.mode("overwrite").parquet(f"{docs_dir}/e{epoch_id:09d}")
        bands.write.mode("overwrite").parquet(f"{bands_dir}/e{epoch_id:09d}")
        # keep the direct predecessor (a replayed current epoch reads it);
        # everything older is unreachable by any replay — delete
        for old in prev_epochs[:-1]:
            fsutil.delete(spark, f"{state_dir}/{old}")
        # long-running mode: don't let per-batch checkpoint blocks pile up
        release_local_checkpoint(batch)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.json(source_dir)
    writer = raw.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_tumbling_distinct_users(
    events: DataFrame,
    window: str = "10 minutes",
    watermark: str = "10 minutes",
    rsd: float = 0.02,
) -> DataFrame:
    """Watermarked tumbling approx-distinct users per window — the
    streaming cardinality dashboard. approx_count_distinct's HLL state is
    a fixed-size sketch per open window (KBs), where exact
    COUNT(DISTINCT) would buffer every key — unbounded per-window state a
    stream must never hold. Same estimator as the batch twin, so a
    one-pass availableNow run equals the batch computation exactly
    (tested), not just approximately."""
    return (
        _tz_ts(events)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.approx_count_distinct("user_id", rsd).alias("approx_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("window_start"), "approx_users", "n_events"
        )
    )


def stream_to_delta_table(
    spark,
    source_dir: str,
    schema,
    table_root: str,
    checkpoint_dir: str,
    app_id: str,
    transform=None,
    trigger_once: bool = True,
    partition_by: list[str] | None = None,
    matview=None,
) -> StreamingQuery:
    """Continuous exactly-once appends into a REAL Delta table via the
    NATIVE protocol writer (sources/delta_writer.py) — the actual Delta
    streaming-sink algorithm, not an approximation: every micro-batch
    commit carries a SetTransaction action ``(app_id, epoch_id)``, and a
    re-delivered epoch (Structured Streaming replays the batch whose
    offset commit was lost) is detected by ``txn version ≤ latest`` and
    SKIPPED inside the writer, so a batch can never double-append even
    if the sink crashes between the Delta commit and the streaming
    checkpoint. The idempotency marker IS the table commit itself — one
    atomic put-if-absent file carries both the data and the progress
    watermark, which is why the protocol defines txn actions at all
    (delta-io PROTOCOL.md, Transaction Identifiers).

    The result is versioned, time-travelable, OPTIMIZE/VACUUM-able, and
    readable by any Delta client while the stream runs.

    ``matview`` (an ``operators.matview.MaterializedAggView`` over
    ``table_root``) is refreshed after each batch's commit: continuous
    rollup maintenance. A failed refresh fails the batch, but its data
    commit already carries the epoch's txn, so the replayed epoch skips
    the append and only the self-idempotent refresh runs again."""
    from rtdl_spark.sources.delta_writer import write_delta_native

    raw = spark.readStream.schema(schema).json(source_dir)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        out = transform(batch_df) if transform is not None else batch_df
        write_delta_native(
            out.sparkSession,
            out,
            table_root,
            mode="append",
            partition_by=partition_by,
            txn=(app_id, int(epoch_id)),
        )
        if matview is not None:
            matview.refresh()

    writer = raw.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_upsert_to_delta(
    spark,
    source_dir: str,
    schema,
    table_root: str,
    checkpoint_dir: str,
    app_id: str,
    on: list[str],
    transform=None,
    trigger_once: bool = True,
    when_matched="update",
    when_not_matched="insert",
    when_not_matched_by_source=None,
) -> StreamingQuery:
    """Continuous exactly-once UPSERTS into a native Delta table — the
    foreachBatch + MERGE pattern every delta-spark streaming-CDC
    pipeline uses (reference: deltawriter/delta_writer.py:88 funnels
    exactly this shape), on the same SetTransaction idempotency rail as
    ``stream_to_delta_table``: each micro-batch's MERGE commit carries
    ``(app_id, epoch_id)``, and a re-delivered epoch is skipped inside
    the writer, so a batch can never double-apply even if the sink
    crashes between the Delta commit and the streaming checkpoint.
    Batches are deduped on ``on`` keeping the LAST row per key (source
    files list in name order, so later rows supersede earlier ones
    within a batch — the usual CDC convention). The full r10 clause
    model passes through (conditional/column-level matched clauses,
    conditional inserts, NOT MATCHED BY SOURCE)."""
    from rtdl_spark.sources.delta_writer import merge_into_delta_native

    raw = spark.readStream.schema(schema).json(source_dir)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        out = transform(batch_df) if transform is not None else batch_df
        # last-write-wins per key within the batch (MERGE refuses
        # duplicate source keys — nondeterministic otherwise)
        w = Window.partitionBy(*on).orderBy(
            F.col("_src_order").desc()
        )
        deduped = (
            out.withColumn(
                "_src_order", F.monotonically_increasing_id()
            )
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_src_order", "_rn")
        )
        merge_into_delta_native(
            deduped.sparkSession,
            table_root,
            deduped,
            on=on,
            when_matched=when_matched,
            when_not_matched=when_not_matched,
            when_not_matched_by_source=when_not_matched_by_source,
            txn=(app_id, int(epoch_id)),
        )

    writer = raw.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


HH_OUTPUT = "bucket int, key string, min_count long, max_count long"
HH_STATE = "keys array<string>, counts array<long>, errors array<long>"


def stream_heavy_hitters(
    events: DataFrame,
    key_col: str = "event_type",
    n_buckets: int = 8,
    capacity: int = 16,
) -> DataFrame:
    """Streaming heavy hitters with BOUNDED state: the space-saving /
    Misra-Gries summary, sharded. Keys hash into ``n_buckets`` state
    groups; each group maintains at most ``capacity`` counters no matter
    how many distinct keys flow through — where an exact groupBy-count
    would grow state with key cardinality forever.

    Per key the summary tracks (count_upper, error): true frequency f
    satisfies max_count - error <= f <= max_count, and any key with
    f > N_bucket/capacity is guaranteed present (Misra-Gries bound).
    Each micro-batch emits every bucket's current candidates (update
    semantics); union the buckets and re-rank for the global view —
    sketches merge, which is exactly why this shape scales horizontally.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    import pandas as pd  # local so the closure ships cleanly

    cap = int(capacity)

    def update(key, pdfs, state: GroupState):
        if state.exists:
            ks, cs, es = state.get
            counters = {k: [c, e] for k, c, e in zip(ks, cs, es)}
        else:
            counters = {}
        for pdf in pdfs:
            for k, n in pdf["_hh_key"].value_counts().items():
                n = int(n)
                if k in counters:
                    counters[k][0] += n
                elif len(counters) < cap:
                    counters[k] = [n, 0]
                else:
                    # space-saving: evict the current minimum, inherit its
                    # count as the new key's error bound
                    mk = min(counters, key=lambda x: (counters[x][0], x))
                    mc = counters[mk][0]
                    del counters[mk]
                    counters[k] = [mc + n, mc]
        items = sorted(counters.items())
        state.update(
            (
                [k for k, _ in items],
                [v[0] for _, v in items],
                [v[1] for _, v in items],
            )
        )
        yield pd.DataFrame(
            {
                "bucket": [key[0]] * len(items),
                "key": [k for k, _ in items],
                "min_count": [v[0] - v[1] for _, v in items],
                "max_count": [v[0] for _, v in items],
            }
        )

    return (
        events.withColumn("_hh_key", F.col(key_col).cast("string"))
        .withColumn(
            "_hh_bucket",
            F.pmod(F.xxhash64("_hh_key"), F.lit(n_buckets)).cast("int"),
        )
        .groupBy("_hh_bucket")
        .applyInPandasWithState(
            update,
            outputStructType=HH_OUTPUT,
            stateStructType=HH_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_ohlc_candles(
    events: DataFrame,
    window: str = "15 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming OHLC candles: per event type and time bucket, open/high/
    low/close/count/total maintained incrementally — min_by/max_by are
    algebraic (state = current champion + its key), so the candle is ONE
    watermarked streaming aggregate with fixed-size per-window state;
    watermark-expired windows finalize and evict. Must equal the batch
    twin (win_ohlc_resample) exactly on replay — pinned by test."""
    from rtdl_spark.queries._util import dec

    return (
        _tz_ts(events)
        .withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window).alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min_by("value", "ts").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ts").alias("close"),
            F.sum(dec("value")).cast("double").alias("total"),
        )
        .select(
            F.col("w.start").alias("bucket"), "event_type", "n_events",
            "open", "high", "low", "close", "total",
        )
    )


def stream_image_ahash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming multimodal decode lane: documents arriving as a stream
    become P5 grayscale payloads and are perceptually hashed through the
    REAL container decode (operators/multimodal.py::perceptual_hash
    (codec="ppm") → functions/imagecodec.py) — the streaming twin of
    multimodal_image_ahash / x_image_ahash_full.

    Stateless by construction (a scalar Arrow-batched UDF per
    micro-batch): nothing to watermark, no state store, so the stage
    scales exactly like its batch twin — one decode lane per input
    split. Feed the phash column into stream_dedup_clusters (or a banded
    hamming join per batch) for streaming media near-dup detection; a
    compressed codec (PIL/ffmpeg) slots into the same UDF at the marked
    plug point.
    """
    from pyspark.sql.types import BinaryType

    from rtdl_spark.functions.imagecodec import make_ppm
    from rtdl_spark.operators.multimodal import perceptual_hash

    @F.pandas_udf(BinaryType())
    def to_ppm(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: make_ppm(
                t.encode("utf-8"), 16, max(len(t.encode("utf-8")) // 16, 1), 1
            )
        )

    payloads = docs.select(
        F.col(id_col).alias("doc_id"), to_ppm(F.col(text_col)).alias("payload")
    )
    return perceptual_hash(payloads, codec="ppm").select("doc_id", "phash")
