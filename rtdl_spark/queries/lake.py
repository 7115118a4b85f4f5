"""Lake-level query entries: the pure-SQL API surface and the end-to-end
ingest replay (the reference's core dataflow, benchmarked as an operator).

``sql_revenue_by_region`` exercises the ``spark.sql`` text interface over
catalog-registered views — the exact surface rtdl's users got from Dremio
(reference README.md:22-23), here served natively by the session catalog.

``x_ingest_json_replay`` replays the full A1–A22 pipeline (envelope →
route → resolve → time-bucket → partitioned columnar write) over JSON
envelopes derived from the events fixture. The ``x_`` prefix adds it to
bench.py's headline set, so ingest throughput is measured per round — the
reference's own write path was one parquet file + a catalog REST round-trip
per message (ingester.go:551-565,1029); this is the micro-batch replacement.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rtdl_spark.catalog import register_views, table
from rtdl_spark.queries import query
from rtdl_spark.queries._util import local_result, REVENUE_SQL

_BENCH_STREAM = "99999999-aaaa-bbbb-cccc-000000000001"


@query(
    "sql_revenue_by_region",
    oracle=f"""
    SELECT r_name AS region,
           CAST(SUM({REVENUE_SQL}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY r_name
    ORDER BY revenue DESC
    """,
)
def sql_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-text API: identical semantics to the DataFrame queries, via
    ``spark.sql`` over registered views. Catalyst plans both identically
    (same broadcast/pushdown properties — it's one optimizer)."""
    register_views(
        spark, sf_dir, ("lineitem", "orders", "customer", "nation", "region")
    )
    return spark.sql(
        f"""
        SELECT r_name AS region,
               CAST(SUM({REVENUE_SQL}) AS DOUBLE) AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation   ON c_nationkey = n_nationkey
          JOIN region   ON n_regionkey = r_regionkey
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY r_name
        ORDER BY revenue DESC
        """
    )


def _replay(spark: SparkSession, sf_dir: str, pinned_schema: str) -> DataFrame:
    from rtdl_spark.config import StreamConfig, StreamRegistry
    from rtdl_spark.ingest import IngestJob
    from rtdl_spark.ingest.pipeline import TABLE_COL

    events = table(spark, sf_dir, "events")
    envelopes = events.select(
        F.to_json(
            F.struct(
                F.lit(_BENCH_STREAM).alias("stream_id"),
                F.col("event_type").alias("type"),
                F.col("event_id"),
                F.col("user_id"),
                F.col("value"),
                F.col("props"),
            )
        ).alias("value")
    )
    # Scratch on tmpfs when available: the replay benches the ENGINE's
    # ingest path (parse → infer → route → bucket → columnar encode), and
    # disk/page-cache state made the numbers swing ~2× run-to-run —
    # phantom regressions in round-over-round comparisons. Real-deployment
    # IO cost belongs to a sink benchmark, not this one.
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_ingest_replay_", dir=shm)
    try:
        src = os.path.join(workdir, "src")
        # NOT spread (r11, measured): rendering the envelopes across 32
        # tasks fans the downstream lake write into 32 writers per
        # (table, bucket) partition — the parquet job went 0.24 -> 1.39 s
        # and the file count exploded. The single-task render is 0.2 s.
        envelopes.write.mode("overwrite").text(src)
        registry = StreamRegistry(os.path.join(workdir, "configs"))
        registry.create(
            StreamConfig(
                stream_id=_BENCH_STREAM,
                message_type="events",
                file_store_type_id=1,
                folder_name="replay",
                partition_time_id=2,  # daily buckets
                compression_type_id=1,  # snappy
                functions="ingester",
                pinned_schema=pinned_schema,
            )
        )
        job = IngestJob(
            spark,
            registry,
            os.path.join(workdir, "lake"),
            fixed_time="2024-02-15 10:30:00",
            register_catalog=False,
        )
        job.ingest_json_dir(src)
        lake = spark.read.parquet(os.path.join(workdir, "lake", "replay"))
        rows = (
            lake.groupBy(F.col(TABLE_COL).alias("resolved_table"))
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .collect()
        )
        # LocalRelation, not createDataFrame(rows): the stock path fans
        # the handful of summary rows into a defaultParallelism-task job
        # that the bench's count() then pays (~0.24 s measured r11)
        from rtdl_spark.functions.localdf import local_df

        return local_df(
            spark, rows, "resolved_table string, n_rows bigint"
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query("x_ingest_json_replay")
def x_ingest_json_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ingest replay: events → JSON envelopes → IngestJob
    (envelope, routing, type resolution, daily buckets, snappy partitioned
    write) → read-back summary. No oracle: the deliverable is the pipeline
    side effect; tests/test_ingest.py verifies each stage's semantics, and
    this entry times the whole path at bench scale.

    Returns a tiny materialized summary (rows per resolved table) so the
    scratch lake can be deleted before returning.
    """
    return _replay(spark, sf_dir, pinned_schema="")


@query("x_ingest_pinned_replay")
def x_ingest_pinned_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same replay with the stream's schema pinned in the registry:
    ingest reads with the pinned schema instead of inferring, deleting one
    full pass over the raw JSON. Benched next to x_ingest_json_replay so
    the inference cost — the price of reference-parity dynamic schemas
    (A8) — is a measured number per round, not folklore."""
    return _replay(
        spark,
        sf_dir,
        pinned_schema=(
            "stream_id string, type string, event_id bigint, "
            "user_id bigint, value double, props string"
        ),
    )


@query(
    "lake_profile_orders",
    oracle="""
    SELECT 'o_orderkey' AS "column", COUNT(*) AS n_rows,
           COUNT(*) - COUNT(o_orderkey) AS n_nulls,
           ROUND((COUNT(*) - COUNT(o_orderkey)) * 1.0
                 / GREATEST(COUNT(*), 1), 6) AS null_frac,
           COUNT(DISTINCT o_orderkey) AS n_distinct,
           CAST(MIN(o_orderkey) AS VARCHAR) AS min_val,
           CAST(MAX(o_orderkey) AS VARCHAR) AS max_val,
           CAST(NULL AS DOUBLE) AS avg_len
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
           ROUND((COUNT(*) - COUNT(o_custkey)) * 1.0
                 / GREATEST(COUNT(*), 1), 6),
           COUNT(DISTINCT o_custkey),
           CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR),
           CAST(NULL AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
           ROUND((COUNT(*) - COUNT(o_orderstatus)) * 1.0
                 / GREATEST(COUNT(*), 1), 6),
           COUNT(DISTINCT o_orderstatus),
           CAST(MIN(o_orderstatus) AS VARCHAR),
           CAST(MAX(o_orderstatus) AS VARCHAR),
           ROUND(AVG(length(o_orderstatus)), 6)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
           ROUND((COUNT(*) - COUNT(o_orderpriority)) * 1.0
                 / GREATEST(COUNT(*), 1), 6),
           COUNT(DISTINCT o_orderpriority),
           CAST(MIN(o_orderpriority) AS VARCHAR),
           CAST(MAX(o_orderpriority) AS VARCHAR),
           ROUND(AVG(length(o_orderpriority)), 6)
    FROM orders
    """,
)
def lake_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-card profiling pass (operators/profile.py::profile_table):
    per-column null/distinct/min/max/length stats for four orders columns,
    computed in ONE scan (single hash-aggregate row, map-combinable) —
    the ANALYZE/monitoring surface the reference delegates to
    Dremio/Glue. Oracle recomputes every statistic per column in DuckDB."""
    from rtdl_spark.operators.profile import profile_table

    o = table(spark, sf_dir, "orders")
    return profile_table(
        o, ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    )


@query(
    "lake_histogram_price",
    oracle="""
    WITH rng AS (
      SELECT MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    ), counted AS (
      SELECT CAST(LEAST(FLOOR((l_extendedprice - mn) * 10 / (mx - mn)),
                        9) AS INT) AS bucket,
             COUNT(*) AS n
      FROM lineitem, rng
      WHERE l_extendedprice IS NOT NULL
      GROUP BY 1
    )
    SELECT b.bucket,
           ROUND(mn + b.bucket * (mx - mn) / 10, 6) AS lo,
           ROUND(mn + (b.bucket + 1) * (mx - mn) / 10, 6) AS hi,
           COALESCE(c.n, 0) AS n
    FROM (SELECT UNNEST(range(10))::INT AS bucket) b
    CROSS JOIN rng
    LEFT JOIN counted c USING (bucket)
    """,
)
def lake_histogram_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (operators/profile.py::histogram) of
    l_extendedprice in 10 bins: two map-combinable passes (range, then
    bucket counts), empty bins materialized. Oracle re-runs the identical
    IEEE bucketing formula in DuckDB, so the bin counts themselves are
    hash-verified."""
    from rtdl_spark.operators.profile import histogram

    li = table(spark, sf_dir, "lineitem")
    return histogram(li, "l_extendedprice", 10)


@query(
    "source_csv_roundtrip",
    oracle="""
    SELECT n_regionkey, COUNT(*) AS n_nations,
           MIN(n_name) AS first_name, MAX(n_name) AS last_name
    FROM nation GROUP BY n_regionkey
    """,
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan/sink path made driver-visible: nation → CSV (header) →
    schema'd read-back → aggregate; the oracle aggregates the original
    parquet, so the hash-compare proves the CSV write+read is lossless
    for ints and strings. Scratch on tmpfs when available, removed after
    materialization."""
    nat = table(spark, sf_dir, "nation")
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_csv_rt_", dir=shm)
    try:
        path = os.path.join(workdir, "nation_csv")
        nat.write.option("header", True).csv(path)
        back = (
            spark.read.option("header", True)
            .schema(nat.schema)
            .csv(path)
        )
        rows = (
            back.groupBy("n_regionkey")
            .agg(
                F.count(F.lit(1)).alias("n_nations"),
                F.min("n_name").alias("first_name"),
                F.max("n_name").alias("last_name"),
            )
            .collect()
        )
        return spark.createDataFrame(rows)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "lake_incremental_rollup",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def lake_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-rollup refresh (operators/merge.py::merge_aggregates):
    the persisted rollup over 'history' (even orderkeys) absorbs the new
    batch's (odd orderkeys) partial aggregate via one full-outer merge —
    history's raw rows never re-read. The oracle recomputes the rollup
    over ALL orders, so the hash-compare proves merged == recomputed."""
    from rtdl_spark.operators.merge import merge_aggregates
    from rtdl_spark.queries._util import dec

    o = table(spark, sf_dir, "orders")

    # Partial sums stay DECIMAL through the merge (adding double halves
    # would drift in the last bits); one cast to double at the very end.
    def rollup(df):
        return df.groupBy("o_orderpriority").agg(
            F.sum(dec("o_totalprice")).alias("total_price"),
            F.count(F.lit(1)).alias("n"),
        )

    prior = rollup(o.filter(F.col("o_orderkey") % 2 == 0))
    delta = rollup(o.filter(F.col("o_orderkey") % 2 == 1))
    merged = merge_aggregates(
        prior, delta, ["o_orderpriority"], ["total_price"]
    )
    return merged.select(
        "o_orderpriority",
        F.col("total_price").cast("double").alias("total_price"),
        "n",
    )


@query(
    "lake_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
      WHERE o_orderdate < DATE '1997-01-01'
    ), new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
      FROM orders
      WHERE o_orderdate < DATE '1998-01-01' AND o_orderkey % 97 <> 3
    ), d AS (
      SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
             CASE WHEN o.o_orderkey IS NULL THEN 'added'
                  WHEN n.o_orderkey IS NULL THEN 'removed'
                  WHEN o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
                   AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
                  THEN 'unchanged'
                  ELSE 'changed' END AS change_type
      FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    )
    SELECT change_type, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS key_sum
    FROM d GROUP BY change_type
    """,
)
def lake_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / CDC extraction (operators/merge.py::snapshot_diff):
    two simulated loads of orders (old = pre-1997; new = pre-1998 with a
    price bump on every 10th key and every 97th-mod-3 key deleted) are
    classified added/removed/changed/unchanged by one full-outer join with
    null-safe value equality. The key_sum digest pins the exact membership
    of each class, not just the counts."""
    from rtdl_spark.operators.merge import snapshot_diff

    orders = table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderdate") < "1997-01-01").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    new = (
        orders.filter(
            (F.col("o_orderdate") < "1998-01-01")
            & (F.col("o_orderkey") % 97 != 3)
        )
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 10 == 0, F.col("o_totalprice") + 1.0
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
            "o_orderstatus",
        )
    )
    d = snapshot_diff(old, new, ["o_orderkey"])
    return d.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    )


@query(
    "lake_hll_sketch_rollup",
    # The sketch estimate itself is engine-specific, but the EXACT
    # distinct count and the ≤5% error guarantee are not: emit the exact
    # side plus an in-bounds boolean, so the driver hash-verifies the
    # rollup grain, the true cardinalities, and that the merged sketches
    # honor their bound (the agg_approx_count_distinct pattern).
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_exact,
           TRUE AS within_5pct
    FROM orders GROUP BY o_orderstatus
    """,
)
def lake_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL distinct-count rollup (operators/sketches.py):
    per-(status, month) customer sketches built in ONE scan, then rolled
    up to status grain by sketch union — the only way COUNT(DISTINCT)
    rolls up without re-scanning 100 TB. The sketch estimate is
    engine-specific, so the oracle checks the exact distinct count and
    the ≤5% relative-error guarantee of the MERGED sketches; estimate
    parity, parquet persistence, and merge-vs-direct-build equality are
    additionally pinned in tests/test_operators.py."""
    from rtdl_spark.operators.sketches import build_sketches, merge_sketches

    o = table(spark, sf_dir, "orders").withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    )
    fine = build_sketches(o, ["o_orderstatus", "month"], "o_custkey")
    merged = merge_sketches(fine, ["o_orderstatus"]).select(
        "o_orderstatus", "n_distinct_est"
    )
    exact = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n_exact"))
    )
    return merged.join(exact, "o_orderstatus").select(
        "o_orderstatus",
        "n_exact",
        (
            F.abs(F.col("n_distinct_est") - F.col("n_exact"))
            <= 0.05 * F.col("n_exact")
        ).alias("within_5pct"),
    )


@query(
    "lake_histogram_equidepth",
    oracle="""
    SELECT bucket, ROUND(MIN(v), 6) AS lo, ROUND(MAX(v), 6) AS hi,
           COUNT(*) AS n
    FROM (
      SELECT CAST(o_totalprice AS DOUBLE) AS v,
             NTILE(8) OVER (ORDER BY CAST(o_totalprice AS DOUBLE)) AS bucket
      FROM orders WHERE o_totalprice IS NOT NULL
    )
    GROUP BY bucket
    """,
)
def lake_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram (operators/profile.py::equidepth_histogram):
    8 quantile bins over order totalprice — near-equal counts with data-
    adaptive edges, the skew-robust twin of lake_histogram_price."""
    from rtdl_spark.operators.profile import equidepth_histogram

    o = table(spark, sf_dir, "orders")
    return equidepth_histogram(o, "o_totalprice", 8)


@query(
    "sql_lateral_top_order",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment, l.top_price, l.top_key
    FROM customer c, LATERAL (
      SELECT o.o_totalprice AS top_price, o.o_orderkey AS top_key
      FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o.o_totalprice DESC, o.o_orderkey
      LIMIT 1
    ) l
    WHERE c.c_custkey % 50 = 0
    """,
)
def sql_lateral_top_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery through the SQL-text surface: each
    sampled customer picks its single highest order. Catalyst
    decorrelates this into a join + per-key window rather than executing
    per-row — the plan property that makes LATERAL safe at 100 TB."""
    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_mktsegment, l.top_price, l.top_key
        FROM customer c, LATERAL (
          SELECT o.o_totalprice AS top_price, o.o_orderkey AS top_key
          FROM orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o.o_totalprice DESC, o.o_orderkey
          LIMIT 1
        ) l
        WHERE c.c_custkey % 50 = 0
        """
    )


@query(
    "source_python_datasource",
    oracle="""
    SELECT concat('user', CAST(i % 50 AS VARCHAR)) AS name,
           COUNT(*) AS n,
           ROUND(SUM((42 * 1000003 + i * 31) % 97 + (i % 7) / 10.0), 6)
             AS sum_value
    FROM range(0, 1000) t(i)
    GROUP BY 1
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 DataSource API,
    sources/envelope_source.py): the 'rtdl_envelopes' format generates
    the reference's envelope stream natively — here 1000 deterministic
    envelopes flow through from_json into an ordinary aggregation, and
    the DuckDB oracle REGENERATES the same rows from the (seed, i)
    formula over range(): the source's content contract, verified."""
    from rtdl_spark.sources.envelope_source import EnvelopeDataSource

    spark.dataSource.register(EnvelopeDataSource)
    env = (
        spark.read.format("rtdl_envelopes")
        .option("n_rows", 1000)
        .option("seed", 42)
        .load()
    )
    p = F.from_json(
        F.col("payload_json"), "name string, value double"
    ).alias("p")
    return (
        env.select(p)
        .groupBy(F.col("p.name").alias("name"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("p.value"), 6).alias("sum_value"),
        )
    )


@query(
    "source_orc_roundtrip",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM orders WHERE o_orderkey % 5 = 0
    GROUP BY o_orderstatus
    """,
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan/sink path (the second builtin columnar format besides
    parquet — some lakes standardize on it): a filtered orders slice →
    ORC write (snappy) → read-back → exact decimal aggregate; the oracle
    aggregates the original parquet, so the hash-compare proves the ORC
    round-trip is lossless for ints/doubles/strings. Scratch on tmpfs,
    removed after materialization."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 5 == 0)
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_orc_rt_", dir=shm)
    try:
        path = os.path.join(workdir, "orders_orc")
        o.select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        ).write.option("compression", "snappy").orc(path)
        back = spark.read.orc(path)
        rows = (
            back.groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_price"),
            )
            .collect()
        )
        return spark.createDataFrame(rows)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "lake_footer_stats",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           MIN(o_orderkey) AS min_o_orderkey,
           MAX(o_orderkey) AS max_o_orderkey,
           MIN(o_custkey) AS min_o_custkey,
           MAX(o_custkey) AS max_o_custkey
    FROM orders
    """,
)
def lake_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footer-answered table stats (operators/profile.py::footer_stats):
    COUNT/MIN/MAX served by DSv2 parquet aggregate pushdown — the scan
    node OUTPUTS the aggregate, reading metadata instead of 100 TB of
    pages. Values are exact, so the ordinary oracle verifies them; the
    plan property (PushedAggregation) is pinned in tests/test_plans.py."""
    from rtdl_spark.operators.profile import footer_stats

    return footer_stats(
        spark, f"{sf_dir}/orders.parquet", ["o_orderkey", "o_custkey"]
    )


@query(
    "lake_skew_report",
    oracle="""
    WITH k AS (
      SELECT o_custkey, COUNT(*) AS key_count
      FROM orders GROUP BY o_custkey
    ), t AS (
      SELECT SUM(key_count) AS total, COUNT(*) AS n_keys FROM k
    )
    SELECT o_custkey, CAST(key_count AS BIGINT) AS key_count,
           ROUND(key_count / total, 6) AS share,
           ROUND(key_count * n_keys / total, 4) AS skew_factor
    FROM k CROSS JOIN t
    ORDER BY key_count DESC, o_custkey
    LIMIT 10
    """,
)
def lake_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew report (operators/skew.py::skew_report): the 10 heaviest
    o_custkey groups with their share of all rows and skew factor
    (count ÷ mean group size) — the number that decides between the plain
    hash plan, AQE skew split, and explicit salting. Two map-combinable
    aggregations + a TakeOrdered over the per-key frame; the input is
    never re-sorted."""
    from rtdl_spark.operators.skew import skew_report

    o = table(spark, sf_dir, "orders")
    return skew_report(o, ["o_custkey"], top_n=10)


@query(
    "lake_versioned_diff",
    oracle="""
    WITH s1 AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 5 IN (0, 1, 2)
    ), s2 AS (
      SELECT o_orderkey,
             o_totalprice + CASE WHEN o_orderkey % 5 = 0 THEN 1.0 ELSE 0.0 END
               AS o_totalprice
      FROM orders WHERE o_orderkey % 5 IN (0, 3)
    ), d AS (
      SELECT COALESCE(s1.o_orderkey, s2.o_orderkey) AS k,
             CASE WHEN s1.o_orderkey IS NULL THEN 'added'
                  WHEN s2.o_orderkey IS NULL THEN 'removed'
                  WHEN s1.o_totalprice = s2.o_totalprice THEN 'unchanged'
                  ELSE 'changed' END AS change_type
      FROM s1 FULL OUTER JOIN s2 ON s1.o_orderkey = s2.o_orderkey
    )
    SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM d GROUP BY change_type
    """,
)
def lake_versioned_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta time travel exercised end-to-end on a native Delta table:
    two appends build version 1, an overwrite (price bump on every
    %5==0 order, rows %5∈(1,2) dropped, %5==3 added) becomes version 2,
    and the returned frame is the keyed diff between the two snapshots —
    which the oracle recomputes directly from the fixture with a
    full-outer join. The scratch table lives on tmpfs and is deleted
    before returning."""
    import os
    import shutil
    import tempfile

    from rtdl_spark.operators.merge import snapshot_diff
    from rtdl_spark.sources.delta_reader import read_delta_native
    from rtdl_spark.sources.delta_writer import write_delta_native

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_versioned_", dir=shm)
    try:
        path = os.path.join(workdir, "tbl")
        write_delta_native(spark, o.filter("o_orderkey % 5 IN (0, 1)"), path)
        write_delta_native(spark, o.filter("o_orderkey % 5 = 2"), path)
        write_delta_native(
            spark,
            o.filter("o_orderkey % 5 IN (0, 3)").withColumn(
                "o_totalprice",
                F.col("o_totalprice")
                + F.when(F.col("o_orderkey") % 5 == 0, 1.0).otherwise(0.0),
            ),
            path,
            mode="overwrite",
        )
        out = (
            snapshot_diff(
                read_delta_native(spark, path, version=1),
                read_delta_native(spark, path, version=2),
                ["o_orderkey"],
            )
            .groupBy("change_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


_SQL_SUBQ = """
SELECT n_name,
       (SELECT COUNT(*) FROM supplier s
        WHERE s.s_nationkey = n.n_nationkey) AS n_suppliers
FROM nation n
WHERE EXISTS (SELECT 1 FROM customer c
              WHERE c.c_nationkey = n.n_nationkey AND c.c_acctbal > 9000)
  AND n_regionkey IN (SELECT r_regionkey FROM region
                      WHERE r_name IN ('ASIA', 'EUROPE'))
"""


@query("sql_exists_in_scalar_subqueries", oracle=_SQL_SUBQ)
def sql_exists_in_scalar_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three remaining subquery shapes through the SQL-text surface
    in one statement: correlated EXISTS (→ left-semi join), uncorrelated
    IN (→ semi join on the broadcast region list), and a correlated
    SCALAR subquery in the projection (→ aggregate + left outer join).
    Catalyst de-correlates all three — never per-row execution — and the
    oracle is the SAME text run by DuckDB."""
    register_views(
        spark, sf_dir, ("nation", "supplier", "customer", "region")
    )
    return spark.sql(_SQL_SUBQ)


@query(
    "lake_outlier_report",
    oracle="""
    WITH med AS (
      SELECT l_returnflag, median(l_quantity) AS med_qty,
             COUNT(*) AS n_rows
      FROM lineitem GROUP BY 1
    ), dev AS (
      SELECT li.l_returnflag, med.med_qty, med.n_rows,
             ABS(li.l_quantity - med.med_qty) AS adev
      FROM lineitem li JOIN med USING (l_returnflag)
    ), mad AS (
      SELECT l_returnflag, ANY_VALUE(med_qty) AS med_qty,
             ANY_VALUE(n_rows) AS n_rows,
             median(adev) AS mad_qty
      FROM dev GROUP BY 1
    )
    SELECT d.l_returnflag, m.n_rows, m.med_qty, m.mad_qty,
           CAST(SUM(CASE WHEN d.adev > 1.5 * m.mad_qty THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (l_returnflag)
    GROUP BY d.l_returnflag, m.n_rows, m.med_qty, m.mad_qty
    """,
)
def lake_outlier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier data card: per-group median + MAD (median absolute
    deviation) and the count of rows beyond 1.5x MAD — the
    skew/corruption detector that, unlike mean±k·stddev, a single wild
    value cannot poison.

    Exactness: quantity is integer-valued, so medians and deviations live
    on the exact half-integer grid — interpolation and the threshold
    comparison are bit-identical across engines, no rounding needed.
    Scale shape: two grouped exact-percentile aggregates plus one
    conditional count, all shuffling only on the (tiny) group key; the
    group medians are broadcast back, the table is never sorted. For
    truly high-cardinality value domains swap median() for the mergeable
    approx sketch (see text_adaptive_quality_filter's approx= path)."""
    li = table(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.median("l_quantity").alias("med_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    dev = li.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag", "med_qty", "n_rows",
        F.abs(F.col("l_quantity") - F.col("med_qty")).alias("adev"),
    )
    mad = dev.groupBy("l_returnflag").agg(
        F.any_value("med_qty").alias("med_qty"),
        F.any_value("n_rows").alias("n_rows"),
        F.median("adev").alias("mad_qty"),
    )
    return (
        dev.select("l_returnflag", "adev")
        .join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag", "n_rows", "med_qty", "mad_qty")
        .agg(
            F.sum(
                F.when(F.col("adev") > 1.5 * F.col("mad_qty"), 1).otherwise(0)
            ).cast("bigint").alias("n_outliers")
        )
    )


@query(
    "source_binaryfile_scan",
    oracle="""
    WITH f AS (
      SELECT UNNEST(range(0, 20)) AS i
    ), gen AS (
      SELECT 'asset_' || CAST(i AS VARCHAR) || '.bin' AS fname,
             'media-asset-' || CAST(i AS VARCHAR) || ':'
             || repeat('x', CAST(i * 7 AS INT)) AS body
      FROM f
    )
    SELECT fname, CAST(len(body) AS BIGINT) AS n_bytes,
           md5(hex(encode(body))) AS content_md5
    FROM gen
    """,
)
def source_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The opaque-binary ingestion path (multimodal contract, SURVEY §2C):
    spark.read.format('binaryFile') over a directory of assets → (path,
    length, content) rows. The query hashes every file's exact bytes; the
    oracle regenerates the expected bytes in SQL, so the compare proves
    the binary reader is byte-faithful. At scale this is the image/audio
    bronze layer: each file one row, scan parallelism = file count, and
    pathGlobFilter/recursiveFileLookup prune at the listing, before any
    byte is read."""
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_binsrc_", dir=shm)
    try:
        for i in range(20):
            body = f"media-asset-{i}:" + "x" * (i * 7)
            with open(os.path.join(workdir, f"asset_{i}.bin"), "wb") as f:
                f.write(body.encode())
        bf = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.bin")
            .load(workdir)
        )
        rows = bf.select(
            F.element_at(F.split(F.col("path"), "/"), -1).alias("fname"),
            F.col("length").alias("n_bytes"),
            F.md5(F.hex(F.col("content"))).alias("content_md5"),
        ).collect()
        return local_result(spark, rows, "fname string, n_bytes long, content_md5 string")
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "lake_constraint_audit",
    oracle="""
    WITH pk AS (
      SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) AS pk_dupes
      FROM orders
    ), fk AS (
      SELECT COUNT(*) AS fk_orphans
      FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE c.c_custkey IS NULL
    ), nn AS (
      SELECT CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS status_nulls,
             CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS nonpositive_prices,
             CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
                             OR o_orderdate > TIMESTAMP '2030-01-01'
                           THEN 1 ELSE 0 END) AS BIGINT) AS dates_out_of_range,
             COUNT(*) AS n_rows
      FROM orders
    )
    SELECT nn.n_rows, pk.pk_dupes, fk.fk_orphans, nn.status_nulls,
           nn.nonpositive_prices, nn.dates_out_of_range
    FROM pk CROSS JOIN fk CROSS JOIN nn
    """,
)
def lake_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint audit card (the dbt-test / Delta-constraint layer, run
    as a query): primary-key uniqueness, referential integrity (orphan
    foreign keys via anti-join), NOT NULL, and range checks — one row of
    violation counts. Scale: the PK check is one count-distinct
    aggregate, the FK check one broadcast-able anti-join on the dimension
    key, the column checks ride a single scan; nothing is ever sorted.
    Zeroes on this fixture by construction — the point is the shape."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    pk = o.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("pk_dupes")
    )
    fk = (
        o.join(
            c.select(F.col("c_custkey")),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("fk_orphans"))
    )
    nn = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("o_orderstatus").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("status_nulls"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("bigint")
        .alias("nonpositive_prices"),
        F.sum(
            F.when(
                (F.col("o_orderdate") < F.to_timestamp(F.lit("1990-01-01")))
                | (F.col("o_orderdate") > F.to_timestamp(F.lit("2030-01-01"))),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("dates_out_of_range"),
    )
    return (
        pk.join(fk)
        .join(nn)
        .select(
            "n_rows", "pk_dupes", "fk_orphans", "status_nulls",
            "nonpositive_prices", "dates_out_of_range",
        )
    )


@query(
    "lake_delete_by_keys",
    # Survivors are pure relational algebra (anti join on the fixed key
    # set); the physical-pruning claims ride as columns the oracle can
    # assert exactly: rewritten < scanned (the layout is KEY-CLUSTERED,
    # so the two purged customers live in few files) and rows_deleted =
    # the matching row count.
    oracle="""
    WITH tgt AS (
      SELECT DISTINCT o_custkey FROM orders ORDER BY o_custkey LIMIT 2
    ), survivors AS (
      SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM orders WHERE o_custkey NOT IN (SELECT o_custkey FROM tgt)
      GROUP BY o_orderstatus
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS rows_deleted
      FROM orders WHERE o_custkey IN (SELECT o_custkey FROM tgt)
    )
    SELECT s.o_orderstatus, s.n_rows, st.rows_deleted,
           TRUE AS pruned_rewrites
    FROM survivors s CROSS JOIN stats st
    """,
)
def lake_delete_by_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted physical delete exercised end-to-end
    (operators/merge.py::delete_by_keys — the GDPR primitive): orders
    staged to a partitioned scratch table CLUSTERED BY the delete key
    (8 hash files per status — exactly the bucketing/Z-order-by-user-id
    layout that makes right-to-be-forgotten feasible at 100 TB), the two
    lowest customers purged, and the returned frame is the surviving
    per-status row counts plus the delete accounting — which the oracle
    recomputes as a plain anti-join. ``pruned_rewrites`` asserts the
    physical claim: fewer files rewritten than scanned, because the
    key-clustered layout confines each customer to one file per
    partition. Scratch on tmpfs, deleted before returning."""
    import os
    import shutil
    import tempfile

    from rtdl_spark.operators.merge import delete_by_keys

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_delete_", dir=shm)
    try:
        root = os.path.join(workdir, "tbl")
        (
            o.repartition(8, "o_custkey")
            .write.partitionBy("o_orderstatus")
            .parquet(root)
        )
        targets = (
            o.select("o_custkey").distinct().orderBy("o_custkey").limit(2)
        )
        stats = delete_by_keys(spark, root, targets, "o_custkey")
        out = (
            spark.read.parquet(root)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .withColumn(
                "rows_deleted",
                F.lit(stats["rows_deleted"]).cast("bigint"),
            )
            .withColumn(
                "pruned_rewrites",
                F.lit(stats["files_rewritten"] < stats["files_scanned"]),
            )
        )
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "lake_delta_native_read",
    # the staged Delta table is derived from orders by a pure mod rule
    # (src = a/b/c by o_orderkey % 3; v0 active = {a,b}, v1 removes b and
    # adds c), so the oracle recomputes both snapshots straight from the
    # orders view while Spark must obtain them by REPLAYING the Delta log
    # (protocol JSON actions, partitionValues injection, remove
    # tombstones, time travel)
    oracle="""
    WITH t AS (
      SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'a'
                  WHEN o_orderkey % 3 = 1 THEN 'b'
                  ELSE 'c' END AS src,
             o_totalprice
      FROM orders
    )
    SELECT 0 AS v, src, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM t WHERE src IN ('a', 'b') GROUP BY src
    UNION ALL
    SELECT 1 AS v, src, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM t WHERE src IN ('a', 'c') GROUP BY src
    """,
)
def lake_delta_native_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE Delta protocol read, end to end with no delta-spark
    (sources/delta_reader.py, r5 — closes the 'a Delta table written by
    actual rtdl is not readable here' gap for the read side): a Delta
    table is staged per the PUBLIC protocol (JSON commit actions,
    partitionValues carrying a partition column that exists in no data
    file, a remove tombstone), then both versions are read back through
    log replay — version 0 sees files a+b, version 1 sees the tombstone
    drop b and add c. Counts and DECIMAL-exact totals per injected
    partition value, at both versions, hash-verified."""
    import json as _json

    from rtdl_spark.queries._util import dec
    from rtdl_spark.sources.delta_reader import read_delta_native

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 3 == 0, "a")
        .when(F.col("o_orderkey") % 3 == 1, "b")
        .otherwise("c")
        .alias("src"),
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_delta_", dir=shm)
    try:
        root = os.path.join(workdir, "dtab")
        log = os.path.join(root, "_delta_log")
        os.makedirs(log)

        def stage_file(src_tag: str, name: str) -> dict:
            stage = os.path.join(workdir, f"stage_{src_tag}")
            (
                o.filter(F.col("src") == src_tag)
                .select("o_orderkey", "o_totalprice")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(stage)
            )
            part = next(
                p for p in os.listdir(stage) if p.endswith(".parquet")
            )
            shutil.move(os.path.join(stage, part), os.path.join(root, name))
            return {
                "add": {
                    "path": name,
                    "partitionValues": {"src": src_tag},
                    "size": os.path.getsize(os.path.join(root, name)),
                    "modificationTime": 1700000000000,
                    "dataChange": True,
                }
            }

        meta = {
            "metaData": {
                "id": "rtdl-delta-native-read",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _json.dumps(
                    {
                        "type": "struct",
                        "fields": [
                            {"name": "o_orderkey", "type": "long",
                             "nullable": True, "metadata": {}},
                            {"name": "o_totalprice", "type": "double",
                             "nullable": True, "metadata": {}},
                            {"name": "src", "type": "string",
                             "nullable": True, "metadata": {}},
                        ],
                    }
                ),
                "partitionColumns": ["src"],
                "configuration": {},
                "createdTime": 1700000000000,
            }
        }
        proto = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
        add_a = stage_file("a", "part-a.parquet")
        add_b = stage_file("b", "part-b.parquet")
        add_c = stage_file("c", "part-c.parquet")
        with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
            for act in (
                {"commitInfo": {"timestamp": 1, "operation": "WRITE"}},
                proto, meta, add_a, add_b,
            ):
                f.write(_json.dumps(act) + "\n")
        with open(os.path.join(log, f"{1:020d}.json"), "w") as f:
            for act in (
                {"commitInfo": {"timestamp": 2, "operation": "MERGE"}},
                {"remove": {"path": "part-b.parquet",
                            "deletionTimestamp": 2, "dataChange": True}},
                add_c,
            ):
                f.write(_json.dumps(act) + "\n")

        def snap(version: int) -> DataFrame:
            return (
                read_delta_native(spark, root, version=version)
                .groupBy("src")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(dec("o_totalprice")).cast("double").alias("total"),
                )
                .withColumn("v", F.lit(version))
                .select("v", "src", "n", "total")
            )

        out = snap(0).unionByName(snap(1))
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "lake_delta_native_write",
    oracle="""
    WITH t AS (
      SELECT o_orderkey, o_totalprice,
             CASE WHEN o_orderkey % 3 = 0 THEN 'a'
                  WHEN o_orderkey % 3 = 1 THEN 'b'
                  ELSE 'c' END AS src
      FROM orders
    )
    SELECT 0 AS v, src, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM t WHERE src IN ('a', 'b') GROUP BY src
    UNION ALL
    SELECT 1 AS v, src, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM t GROUP BY src
    UNION ALL
    SELECT 2 AS v, src, COUNT(*) AS n, CAST(NULL AS DOUBLE) AS total
    FROM t WHERE src = 'a' GROUP BY src
    """,
)
def lake_delta_native_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE Delta protocol WRITE, end to end with no delta-spark
    (sources/delta_writer.py, r5 — closes A18's write direction): a
    partitioned Delta table is CREATED by the native writer (protocol +
    metaData + partitioned adds with numRecords stats), APPENDED to
    (version 1), then OVERWRITTEN with a narrower schema (version 2 —
    remove tombstones + replacement metaData), and finally CHECKPOINTED
    (classic single-part parquet + _last_checkpoint). All three versions
    are read back through log replay — the latest via the checkpoint,
    the earlier two via the JSON commits — and hash-verified against the
    oracle recomputing each version's contents from the fixture."""
    from rtdl_spark.queries._util import dec
    from rtdl_spark.sources.delta_reader import read_delta_native
    from rtdl_spark.sources.delta_writer import (
        write_checkpoint_native,
        write_delta_native,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 3 == 0, "a")
        .when(F.col("o_orderkey") % 3 == 1, "b")
        .otherwise("c")
        .alias("src"),
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_deltaw_", dir=shm)
    try:
        root = os.path.join(workdir, "dtab")
        write_delta_native(
            spark,
            o.filter(F.col("src").isin("a", "b")),
            root,
            partition_by=["src"],
            checkpoint_interval=0,
        )
        write_delta_native(
            spark, o.filter(F.col("src") == "c"), root,
            checkpoint_interval=0,
        )
        write_delta_native(
            spark,
            o.filter(F.col("src") == "a").select("o_orderkey", "src"),
            root,
            mode="overwrite",
            checkpoint_interval=0,
        )
        write_checkpoint_native(spark, root)

        def snap(version: int, has_price: bool) -> DataFrame:
            df = read_delta_native(spark, root, version=version)
            total = (
                F.sum(dec("o_totalprice")).cast("double")
                if has_price
                else F.lit(None).cast("double")
            )
            return (
                df.groupBy("src")
                .agg(F.count(F.lit(1)).alias("n"), total.alias("total"))
                .withColumn("v", F.lit(version))
                .select("v", "src", "n", "total")
            )

        out = snap(0, True).unionByName(snap(1, True)).unionByName(
            snap(2, False)
        )
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "lake_delta_optimize",
    oracle="""
    WITH t AS (
      SELECT o_orderkey, o_totalprice,
             CASE WHEN o_orderkey % 3 = 0 THEN 'a'
                  WHEN o_orderkey % 3 = 1 THEN 'b'
                  ELSE 'c' END AS src
      FROM orders
    )
    SELECT src, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           CAST(1 AS BIGINT) AS n_files,
           CAST(2 AS INT) AS version
    FROM t GROUP BY src
    """,
)
def lake_delta_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native Delta OPTIMIZE end-to-end (sources/delta_writer.py::
    optimize_delta_native): two appends build a partitioned table whose
    partitions each hold several files; OPTIMIZE bin-packs every
    partition down to ONE file in a single distributed rewrite job and
    commits the swap as dataChange=false. The result must be invisible
    to query semantics — per-partition counts and DECIMAL-exact sums are
    hash-verified unchanged — while the active file set (read from the
    post-OPTIMIZE snapshot's add actions) drops to exactly one file per
    partition at version 2."""
    from rtdl_spark.queries._util import dec
    from rtdl_spark.sources.delta_reader import (
        read_delta_native,
        snapshot_actions,
    )
    from rtdl_spark.sources.delta_writer import (
        optimize_delta_native,
        write_delta_native,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 3 == 0, "a")
        .when(F.col("o_orderkey") % 3 == 1, "b")
        .otherwise("c")
        .alias("src"),
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_deltao_", dir=shm)
    try:
        root = os.path.join(workdir, "dtab")
        write_delta_native(
            spark,
            o.filter(F.col("o_orderkey") % 2 == 0).repartition(3),
            root,
            partition_by=["src"],
            checkpoint_interval=0,
        )
        write_delta_native(
            spark,
            o.filter(F.col("o_orderkey") % 2 == 1).repartition(3),
            root,
            checkpoint_interval=0,
        )
        res = optimize_delta_native(spark, root, target_file_bytes=1 << 30)
        _, _, active, _, _ = snapshot_actions(spark, root)
        per_part: dict[str, int] = {}
        for a in active.values():
            k = a["partitionValues"]["src"]
            per_part[k] = per_part.get(k, 0) + 1
        files = local_result(
            spark,
            [(k, v) for k, v in per_part.items()], "src string, n_files long"
        )
        out = (
            read_delta_native(spark, root)
            .groupBy("src")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(dec("o_totalprice")).cast("double").alias("total"),
            )
            .join(files, "src")
            .withColumn("version", F.lit(int(res["version"])).cast("int"))
            .select("src", "n", "total", "n_files", "version")
        )
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "lake_delta_merge",
    oracle="""
    WITH t AS (
      SELECT o_orderkey, o_totalprice,
             CASE WHEN o_orderkey % 3 = 0 THEN 'a'
                  WHEN o_orderkey % 3 = 1 THEN 'b'
                  ELSE 'c' END AS src
      FROM orders
    ), final AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0
                  THEN o_totalprice + 100.0 ELSE o_totalprice END
               AS o_totalprice,
             src
      FROM t
      UNION ALL
      SELECT -o_orderkey - 1, o_totalprice, 'z'
      FROM t WHERE o_orderkey % 11 = 0
    )
    SELECT src, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM final GROUP BY src
    """,
)
def lake_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native Delta MERGE INTO end-to-end (sources/delta_writer.py::
    merge_into_delta_native): a partitioned table built from orders gets
    one upsert — every %7==0 key's price bumped by 100 (matched →
    update, rewriting ONLY the files containing matches) and a synthetic
    negative-key row per %11==0 order inserted into a BRAND-NEW
    partition 'z' (not-matched → insert, exercising dynamic partition
    creation inside the merge). Per-partition counts and DECIMAL-exact
    sums of the final snapshot are hash-verified against the oracle's
    recomputation."""
    from rtdl_spark.queries._util import dec
    from rtdl_spark.sources.delta_reader import read_delta_native
    from rtdl_spark.sources.delta_writer import (
        merge_into_delta_native,
        write_delta_native,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 3 == 0, "a")
        .when(F.col("o_orderkey") % 3 == 1, "b")
        .otherwise("c")
        .alias("src"),
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_deltam_", dir=shm)
    try:
        root = os.path.join(workdir, "dtab")
        write_delta_native(
            spark, o.repartition(4), root, partition_by=["src"],
            checkpoint_interval=0,
        )
        updates = o.filter(F.col("o_orderkey") % 7 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(100.0)
        )
        inserts = o.filter(F.col("o_orderkey") % 11 == 0).select(
            (-F.col("o_orderkey") - 1).alias("o_orderkey"),
            "o_totalprice",
            F.lit("z").alias("src"),
        )
        merge_into_delta_native(
            spark, root, updates.unionByName(inserts), on=["o_orderkey"]
        )
        out = (
            read_delta_native(spark, root)
            .groupBy("src")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(dec("o_totalprice")).cast("double").alias("total"),
            )
        )
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "lake_delta_dml",
    oracle="""
    WITH t AS (
      SELECT o_orderkey, o_totalprice,
             CASE WHEN o_orderkey % 3 = 0 THEN 'a'
                  WHEN o_orderkey % 3 = 1 THEN 'b'
                  ELSE 'c' END AS src
      FROM orders
    ), after_delete AS (
      SELECT * FROM t WHERE NOT (o_totalprice > 200000.0)
    ), after_update AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 13 = 0
                  THEN o_totalprice + 7.0 ELSE o_totalprice END
               AS o_totalprice,
             CASE WHEN o_orderkey % 13 = 0 THEN 'u' ELSE src END AS src
      FROM after_delete
    )
    SELECT src, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM after_update GROUP BY src
    """,
)
def lake_delta_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native Delta DELETE WHERE + UPDATE WHERE end-to-end
    (sources/delta_writer.py::delete_where_delta_native /
    update_where_delta_native): a partitioned table loses every row with
    o_totalprice > 200000 (only match-bearing files rewritten), then
    every %13==0 key is updated — price +7 AND src moved to the
    brand-new partition 'u' (the SET touches the PARTITION column, so
    rows migrate directories inside the rewrite). Final per-partition
    counts and DECIMAL-exact sums hash-verified against the oracle's
    two-step replay."""
    from rtdl_spark.queries._util import dec
    from rtdl_spark.sources.delta_reader import read_delta_native
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
        update_where_delta_native,
        write_delta_native,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 3 == 0, "a")
        .when(F.col("o_orderkey") % 3 == 1, "b")
        .otherwise("c")
        .alias("src"),
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_deltad_", dir=shm)
    try:
        root = os.path.join(workdir, "dtab")
        write_delta_native(
            spark, o.repartition(4), root, partition_by=["src"],
            checkpoint_interval=0,
        )
        delete_where_delta_native(spark, root, "o_totalprice > 200000.0")
        update_where_delta_native(
            spark,
            root,
            "o_orderkey % 13 = 0",
            {"o_totalprice": "o_totalprice + 7.0", "src": "'u'"},
        )
        out = (
            read_delta_native(spark, root)
            .groupBy("src")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(dec("o_totalprice")).cast("double").alias("total"),
            )
        )
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "x_delta_lifecycle_full",
    # data-invariant steps (optimize/zorder) plus the merge+delete replay:
    # the oracle recomputes the final state directly from the fixture
    oracle="""
    WITH t AS (
      SELECT o_orderkey, o_totalprice,
             CASE WHEN o_orderkey % 3 = 0 THEN 'a'
                  WHEN o_orderkey % 3 = 1 THEN 'b'
                  ELSE 'c' END AS src
      FROM orders
    ), merged AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0
                  THEN o_totalprice + 100.0 ELSE o_totalprice END
               AS o_totalprice,
             src
      FROM t
      UNION ALL
      SELECT -o_orderkey - 1, o_totalprice, 'z'
      FROM t WHERE o_orderkey % 11 = 0
    ), final AS (
      SELECT * FROM merged WHERE NOT (o_totalprice > 250000.0)
    )
    SELECT src, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM final GROUP BY src
    """,
)
def x_delta_lifecycle_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench twin (x_ prefix → headline set): the FULL native-Delta
    lifecycle at bench scale, timed per round — partitioned CREATE +
    second APPEND (put-if-absent commits, stats), MERGE INTO (updates +
    new-partition inserts, match-pruned rewrite), DELETE WHERE
    (predicate-pruned rewrite), OPTIMIZE ZORDER BY o_orderkey
    (rank-binned curve clustering), and the final log-replay read — all
    through sources/delta_writer.py with zero delta-spark. The oracle
    replays merge+delete from the fixture; optimize must be invisible."""
    from rtdl_spark.queries._util import dec
    from rtdl_spark.sources.delta_reader import read_delta_native
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
        merge_into_delta_native,
        optimize_delta_native,
        write_delta_native,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 3 == 0, "a")
        .when(F.col("o_orderkey") % 3 == 1, "b")
        .otherwise("c")
        .alias("src"),
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_deltax_", dir=shm)
    try:
        root = os.path.join(workdir, "dtab")
        write_delta_native(
            spark,
            o.filter(F.col("o_orderkey") % 2 == 0).repartition(4),
            root,
            partition_by=["src"],
            checkpoint_interval=0,
        )
        write_delta_native(
            spark,
            o.filter(F.col("o_orderkey") % 2 == 1).repartition(4),
            root,
            checkpoint_interval=0,
        )
        updates = o.filter(F.col("o_orderkey") % 7 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(100.0)
        )
        inserts = o.filter(F.col("o_orderkey") % 11 == 0).select(
            (-F.col("o_orderkey") - 1).alias("o_orderkey"),
            "o_totalprice",
            F.lit("z").alias("src"),
        )
        merge_into_delta_native(
            spark, root, updates.unionByName(inserts), on=["o_orderkey"]
        )
        delete_where_delta_native(spark, root, "o_totalprice > 250000.0")
        optimize_delta_native(
            spark, root, target_file_bytes=64 << 20,
            zorder_by=["o_orderkey"], zorder_curve="morton",
        )
        out = (
            read_delta_native(spark, root)
            .groupBy("src")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(dec("o_totalprice")).cast("double").alias("total"),
            )
        )
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "lake_delta_table_changes",
    # the oracle replays the lifecycle (append, price update, delete)
    # and classifies every key with the same full-outer-join semantics
    oracle="""
    WITH v0 AS (
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders WHERE o_orderkey % 32 < 8
    ), appended AS (
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders WHERE o_orderkey % 32 >= 8 AND o_orderkey % 32 < 12
    ), v3 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0 THEN price + 1.0 ELSE price END
               AS price
      FROM (SELECT * FROM v0 UNION ALL SELECT * FROM appended)
      WHERE NOT (o_orderkey % 7 = 0)
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN o.price IS NOT DISTINCT FROM n.price THEN 'unchanged'
                ELSE 'changed' END AS change_type
    FROM v0 o FULL OUTER JOIN v3 n ON o.o_orderkey = n.o_orderkey
    """,
)
def lake_delta_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF-less change feed over a NATIVE Delta table
    (operators/merge.py::delta_table_changes): a lifecycle of append →
    UPDATE WHERE → DELETE WHERE, then every key classified added /
    removed / changed / unchanged between version 0 and the tip via one
    full-outer keyed diff (the 100 TB mode — each snapshot's rows move
    once). Hash-verified against the oracle's lifecycle replay."""
    from rtdl_spark.operators.merge import delta_table_changes
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
        update_where_delta_native,
        write_delta_native,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_deltac_", dir=shm)
    try:
        root = os.path.join(workdir, "ctab")
        write_delta_native(
            spark,
            o.filter(F.col("o_orderkey") % 32 < 8).repartition(4),
            root,
            checkpoint_interval=0,
        )
        write_delta_native(
            spark,
            o.filter(
                (F.col("o_orderkey") % 32 >= 8)
                & (F.col("o_orderkey") % 32 < 12)
            ).repartition(2),
            root,
            checkpoint_interval=0,
        )
        update_where_delta_native(
            spark, root, "o_orderkey % 5 = 0", {"price": "price + 1.0"}
        )
        delete_where_delta_native(spark, root, "o_orderkey % 7 = 0")
        out = delta_table_changes(
            spark, root, from_version=0, keys=["o_orderkey"]
        )
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "lake_delta_restore",
    # after RESTORE to version 1, the table's content must equal v1
    # exactly: the initial load plus the first append, deletes undone
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders WHERE o_orderkey % 16 < 6
    )
    SELECT CAST(o_orderkey % 4 AS INT) AS grp, COUNT(*) AS n,
           CAST(SUM(price) AS DOUBLE) AS total
    FROM v1 GROUP BY 1
    """,
)
def lake_delta_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native RESTORE TO VERSION (sources/delta_writer.py::
    restore_delta_native): create → append → DELETE WHERE → restore to
    version 1. Pure log surgery — no data rewritten, history preserved —
    and the final per-group counts/DECIMAL sums must equal version 1's
    content exactly (the delete fully undone)."""
    from rtdl_spark.queries._util import dec
    from rtdl_spark.sources.delta_reader import read_delta_native
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
        restore_delta_native,
        write_delta_native,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_deltar_", dir=shm)
    try:
        root = os.path.join(workdir, "rtab")
        write_delta_native(
            spark,
            o.filter(F.col("o_orderkey") % 16 < 3).repartition(3),
            root,
            checkpoint_interval=0,
        )
        write_delta_native(
            spark,
            o.filter(
                (F.col("o_orderkey") % 16 >= 3)
                & (F.col("o_orderkey") % 16 < 6)
            ).repartition(2),
            root,
            checkpoint_interval=0,
        )
        delete_where_delta_native(spark, root, "o_orderkey % 3 = 0")
        res = restore_delta_native(spark, root, 1)
        assert res["version"] == 3, res
        out = (
            read_delta_native(spark, root)
            .groupBy((F.col("o_orderkey") % 4).cast("int").alias("grp"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(dec("price")).cast("double").alias("total"),
            )
        )
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "lake_delta_dv_read",
    # the DV deletes rows by PHYSICAL POSITION in a file written sorted
    # by o_orderkey, so the oracle reconstructs the same positions with
    # ROW_NUMBER() and applies the identical delete rule; v0 (pre-DV)
    # must still see every row
    oracle="""
    WITH t AS (
      SELECT o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS idx
      FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT 0 AS v, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total
    FROM t
    UNION ALL
    SELECT 1 AS v, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total
    FROM t
    WHERE NOT (idx % 7 = 0 OR (idx >= 10 AND idx < 40))
    """,
)
def lake_delta_dv_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETION VECTOR read (sources/dv.py + delta_reader, r7 — the last
    reader-side refusal in the native Delta stack): a spec-shaped DV
    table is staged — one sorted data file, then a remove+add commit
    attaching a storageType-"u" DV (base85 UUID path, CRC-checked
    framing, 64-bit RoaringBitmapArray with both a periodic scatter and
    a contiguous run of deleted positions) under
    minReaderVersion 3 / readerFeatures ["deletionVectors"].  Version 0
    reads all rows; the tip drops exactly the bitmap's positions via
    the _metadata.row_index anti-filter.  Counts + DECIMAL totals at
    both versions, hash-verified against the ROW_NUMBER() oracle."""
    import json as _json

    from rtdl_spark.queries._util import dec
    from rtdl_spark.sources.delta_reader import read_delta_native
    from rtdl_spark.sources.dv import write_dv_file

    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 3 == 0)
        .select("o_orderkey", "o_totalprice")
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_dv_", dir=shm)
    try:
        root = os.path.join(workdir, "dvtab")
        log = os.path.join(root, "_delta_log")
        os.makedirs(log)
        stage = os.path.join(workdir, "stage")
        # ONE file, physically sorted by o_orderkey: row index i is the
        # i-th smallest key — the bridge between DV positions and SQL
        (
            o.coalesce(1)
            .sortWithinPartitions("o_orderkey")
            .write.mode("overwrite")
            .parquet(stage)
        )
        part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        shutil.move(os.path.join(stage, part), os.path.join(root, "f.parquet"))
        n_rows = o.count()
        deleted = [
            i for i in range(n_rows) if i % 7 == 0 or 10 <= i < 40
        ]
        _, _, (desc,) = write_dv_file(root, [deleted])

        add = {
            "path": "f.parquet",
            "partitionValues": {},
            "size": os.path.getsize(os.path.join(root, "f.parquet")),
            "modificationTime": 1700000000000,
            "dataChange": True,
        }
        meta = {
            "metaData": {
                "id": "rtdl-delta-dv-read",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _json.dumps(
                    {
                        "type": "struct",
                        "fields": [
                            {"name": "o_orderkey", "type": "long",
                             "nullable": True, "metadata": {}},
                            {"name": "o_totalprice", "type": "double",
                             "nullable": True, "metadata": {}},
                        ],
                    }
                ),
                "partitionColumns": [],
                "configuration": {},
                "createdTime": 1700000000000,
            }
        }
        with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
            for act in (
                {"commitInfo": {"timestamp": 1, "operation": "WRITE"}},
                {"protocol": {
                    "minReaderVersion": 3, "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors"]}},
                meta,
                {"add": add},
            ):
                f.write(_json.dumps(act) + "\n")
        with open(os.path.join(log, f"{1:020d}.json"), "w") as f:
            for act in (
                {"commitInfo": {"timestamp": 2, "operation": "DELETE"}},
                {"remove": {"path": "f.parquet", "deletionTimestamp": 2,
                            "dataChange": True}},
                {"add": {**add, "deletionVector": desc}},
            ):
                f.write(_json.dumps(act) + "\n")

        def snap(version: int) -> DataFrame:
            return (
                read_delta_native(spark, root, version=version)
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(dec("o_totalprice")).cast("double").alias("total"),
                )
                .select(F.lit(version).alias("v"), "n", "total")
            )

        out = snap(0).unionByName(snap(1))
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "lake_delta_cm_write",
    # the table's LOGICAL content after create(v0, k%3=0 subset) +
    # native append(v1, rest) + DELETE WHERE k%7=0 (v2) is a pure rule
    # over orders — but Spark must produce it by writing PHYSICAL
    # column names/field ids and reading them back through the mapping
    oracle="""
    WITH t AS (
      SELECT o_orderkey AS k, o_totalprice AS price,
             CAST(o_orderkey % 2 AS VARCHAR) AS seg
      FROM orders WHERE o_orderkey % 5 = 0
    )
    SELECT seg, COUNT(*) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM t WHERE k % 7 <> 0
    GROUP BY seg
    """,
)
def lake_delta_cm_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN-MAPPED table WRITES (r7, sources/delta_writer.py): a
    name-mode CM table is staged per the protocol (physical names
    col-kk/col-pp/col-ss, physically-keyed partitionValues,
    minWriterVersion 5), then the native writer APPENDS (files staged
    under physical names + parquet field ids at every level; logical
    schema validated first) and runs DELETE WHERE through the CM scan
    (predicate on LOGICAL names, rewrite re-staged physically). Final
    per-segment counts + DECIMAL totals read back via the CM batch
    reader, hash-verified."""
    import json as _json

    from rtdl_spark.queries._util import dec
    from rtdl_spark.sources.delta_reader import read_delta_native
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
        write_delta_native,
    )

    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 5 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("price"),
            (F.col("o_orderkey") % 2).cast("string").alias("seg"),
        )
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_cmw_", dir=shm)
    try:
        root = os.path.join(workdir, "cmtab")
        log = os.path.join(root, "_delta_log")
        os.makedirs(log)
        # v0: one physical file per seg for the k%3=0 subset, written
        # under PHYSICAL names (what a real CM writer leaves on disk)
        init = o.filter(F.col("k") % 3 == 0)
        adds = []
        for seg in ("0", "1"):
            stage = os.path.join(workdir, f"stage_{seg}")
            (
                init.filter(F.col("seg") == seg)
                .select(
                    F.col("k").alias("col-kk"),
                    F.col("price").alias("col-pp"),
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(stage)
            )
            part = next(
                p for p in os.listdir(stage) if p.endswith(".parquet")
            )
            name = f"col-ss={seg}/init.parquet"
            os.makedirs(os.path.join(root, f"col-ss={seg}"))
            shutil.move(
                os.path.join(stage, part), os.path.join(root, name)
            )
            adds.append(
                {
                    "add": {
                        "path": name,
                        "partitionValues": {"col-ss": seg},
                        "size": os.path.getsize(os.path.join(root, name)),
                        "modificationTime": 1700000000000,
                        "dataChange": True,
                    }
                }
            )
        schema = {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True,
                 "metadata": {"delta.columnMapping.id": 1,
                              "delta.columnMapping.physicalName": "col-kk"}},
                {"name": "price", "type": "double", "nullable": True,
                 "metadata": {"delta.columnMapping.id": 2,
                              "delta.columnMapping.physicalName": "col-pp"}},
                {"name": "seg", "type": "string", "nullable": True,
                 "metadata": {"delta.columnMapping.id": 3,
                              "delta.columnMapping.physicalName": "col-ss"}},
            ],
        }
        with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
            for act in (
                {"commitInfo": {"timestamp": 1, "operation": "WRITE"}},
                {"protocol": {"minReaderVersion": 2,
                              "minWriterVersion": 5}},
                {"metaData": {
                    "id": "rtdl-cm-write",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": _json.dumps(schema),
                    "partitionColumns": ["seg"],
                    "configuration": {
                        "delta.columnMapping.mode": "name",
                        "delta.columnMapping.maxColumnId": "3"},
                    "createdTime": 1}},
                *adds,
            ):
                f.write(_json.dumps(act) + "\n")

        # v1: native CM append of the remaining rows (physical staging)
        write_delta_native(
            spark,
            o.filter(F.col("k") % 3 != 0),
            root,
            checkpoint_interval=0,
        )
        # v2: DELETE WHERE through the CM scan, logical predicate
        delete_where_delta_native(spark, root, "k % 7 = 0")

        out = (
            read_delta_native(spark, root)
            .groupBy("seg")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(dec("price")).cast("double").alias("total"),
            )
        )
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "lake_delta_ict_history",
    # ICT determinism: v0 is staged with inCommitTimestamp pinned to the
    # constant 9999999999999 — FAR ahead of any wall clock this decade —
    # so the writer's monotonicity rule (strictly greater than the
    # previous commit's ICT) forces v1/v2 to EXACTLY +1/+2; row counts
    # per version are pure rules over orders
    oracle="""
    WITH t AS (SELECT o_orderkey AS k FROM orders
               WHERE o_orderkey % 4 = 0)
    SELECT 0 AS version, 0 AS ict_offset,
           (SELECT COUNT(*) FROM t WHERE k % 2 = 0) AS n_rows
    UNION ALL
    SELECT 1, 1, (SELECT COUNT(*) FROM t)
    UNION ALL
    SELECT 2, 2, (SELECT COUNT(*) FROM t WHERE k % 3 <> 0)
    """,
)
def lake_delta_ict_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-COMMIT TIMESTAMP writes (r7): on a table with
    delta.enableInCommitTimestamps=true, every commit this writer makes
    carries a MONOTONIC inCommitTimestamp — pinned deterministic here by
    staging v0's ICT far in the future, so the append (v1) and DELETE
    (v2) must stamp exactly prev+1/prev+2 (the protocol's clock-skew
    guarantee: strictly greater than the previous commit even when the
    wall clock lags). Output: (version, ict - base, rows at version) —
    version row counts read back via time travel."""
    import json as _json

    from rtdl_spark.sources.delta_reader import (
        delta_history,
        read_delta_native,
    )
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
        write_delta_native,
    )

    base_ict = 9_999_999_999_999
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 4 == 0)
        .select(F.col("o_orderkey").alias("k"))
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_ict_", dir=shm)
    try:
        root = os.path.join(workdir, "icttab")
        log = os.path.join(root, "_delta_log")
        os.makedirs(log)
        stage = os.path.join(workdir, "stage")
        (
            o.filter(F.col("k") % 2 == 0)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(stage)
        )
        part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        shutil.move(os.path.join(stage, part), os.path.join(root, "f0.parquet"))
        with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
            for act in (
                {"commitInfo": {"timestamp": 1, "operation": "WRITE",
                                "inCommitTimestamp": base_ict}},
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                              "writerFeatures": ["inCommitTimestamp"]}},
                {"metaData": {
                    "id": "rtdl-ict",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": _json.dumps({
                        "type": "struct",
                        "fields": [{"name": "k", "type": "long",
                                    "nullable": True, "metadata": {}}]}),
                    "partitionColumns": [],
                    "configuration": {
                        "delta.enableInCommitTimestamps": "true"},
                    "createdTime": 1}},
                {"add": {
                    "path": "f0.parquet", "partitionValues": {},
                    "size": os.path.getsize(
                        os.path.join(root, "f0.parquet")),
                    "modificationTime": 1, "dataChange": True}},
            ):
                f.write(_json.dumps(act) + "\n")

        write_delta_native(
            spark, o.filter(F.col("k") % 2 != 0), root,
            checkpoint_interval=0,
        )  # v1
        delete_where_delta_native(spark, root, "k % 3 = 0")  # v2

        hist = {h["version"]: int(h["timestamp"])
                for h in delta_history(spark, root)}
        rows = [
            (
                v,
                hist[v] - base_ict,
                read_delta_native(spark, root, version=v).count(),
            )
            for v in (0, 1, 2)
        ]
        return local_result(
            spark, rows, "`version` int, `ict_offset` int, `n_rows` bigint"
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "lake_delta_dv_delete",
    # after the DV delete, the table's logical content is a pure rule
    # over orders; v<target> content (pre-delete) must be intact — the
    # data files are never rewritten, only masked
    oracle="""
    WITH t AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 6 = 0
    )
    SELECT 'after' AS phase, COUNT(*) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM t WHERE k % 30 <> 0
    UNION ALL
    SELECT 'before', COUNT(*),
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
    FROM t
    """,
)
def lake_delta_dv_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETION-VECTOR DELETE (r7, delta_writer.py::
    delete_where_delta_dv): on a DV-enabled table, DELETE WHERE writes
    roaring bitmaps of the matched physical row positions — ZERO data
    bytes rewritten (asserted: every add keeps its original path and
    size) — and the bitmaps are built and written ON THE EXECUTORS
    (applyInPandas per file). Post-delete content and the untouched
    pre-delete snapshot (time travel) both hash-verified."""
    import json as _json

    from rtdl_spark.queries._util import dec
    from rtdl_spark.sources.delta_reader import (
        read_delta_native,
        snapshot_actions,
    )
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_dv,
        write_delta_native,
    )

    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 6 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("price"),
        )
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_dvd_", dir=shm)
    try:
        root = os.path.join(workdir, "dvdel")
        write_delta_native(
            spark, o.repartition(4), root, checkpoint_interval=0
        )
        # table-owner enablement: protocol feature + config in one commit
        _, meta, _, current, _ = snapshot_actions(spark, root)
        log = os.path.join(root, "_delta_log")
        with open(os.path.join(log, f"{current + 1:020d}.json"), "w") as f:
            f.write(_json.dumps({"commitInfo": {
                "timestamp": 2, "operation": "UPGRADE"}}) + "\n")
            f.write(_json.dumps({"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": ["deletionVectors"]}}) + "\n")
            f.write(_json.dumps({"metaData": {
                **meta,
                "configuration": {
                    "delta.enableDeletionVectors": "true"}}}) + "\n")

        _, _, active0, v_before, _ = snapshot_actions(spark, root)
        sizes0 = {p: a["size"] for p, a in active0.items()}
        delete_where_delta_dv(spark, root, "k % 30 = 0")
        _, _, active1, _, _ = snapshot_actions(spark, root)
        assert {p: a["size"] for p, a in active1.items()} == sizes0, (
            "DV delete must not rewrite any data file"
        )

        def agg(df, phase):
            return df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(dec("price")).cast("double").alias("total"),
            ).select(F.lit(phase).alias("phase"), "n", "total")

        out = agg(read_delta_native(spark, root), "after").unionByName(
            agg(read_delta_native(spark, root, version=v_before), "before")
        )
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "lake_delta_dv_update",
    # masked-old + appended-new must equal a plain SQL UPDATE over the
    # orders-derived rule; the pre-update snapshot stays intact
    oracle="""
    WITH t AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 9 = 0
    ), u AS (
      SELECT k,
             CASE WHEN k % 45 = 0 THEN price * 2 ELSE price END AS price
      FROM t
    )
    SELECT COUNT(*) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
           COUNT(CASE WHEN price <> (SELECT MIN(price) FROM t WHERE
                 t.k = u.k) THEN 1 END) AS n_changed
    FROM u
    """,
)
def lake_delta_dv_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETION-VECTOR UPDATE (r7, delta_writer.py::
    update_where_delta_dv): matched rows' old versions are masked via
    executor-written bitmaps (original files untouched — asserted by
    size) and the new versions are appended, in ONE commit. Content
    equals the SQL UPDATE; cardinality preserved."""
    import json as _json

    from rtdl_spark.queries._util import dec
    from rtdl_spark.sources.delta_reader import (
        read_delta_native,
        snapshot_actions,
    )
    from rtdl_spark.sources.delta_writer import (
        update_where_delta_dv,
        write_delta_native,
    )

    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 9 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("price"),
        )
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_dvu_", dir=shm)
    try:
        root = os.path.join(workdir, "dvup")
        write_delta_native(
            spark, o.repartition(3), root, checkpoint_interval=0
        )
        _, meta, _, current, _ = snapshot_actions(spark, root)
        log = os.path.join(root, "_delta_log")
        with open(os.path.join(log, f"{current + 1:020d}.json"), "w") as f:
            f.write(_json.dumps({"commitInfo": {
                "timestamp": 2, "operation": "UPGRADE"}}) + "\n")
            f.write(_json.dumps({"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": ["deletionVectors"]}}) + "\n")
            f.write(_json.dumps({"metaData": {
                **meta,
                "configuration": {
                    "delta.enableDeletionVectors": "true"}}}) + "\n")

        _, _, active0, _, _ = snapshot_actions(spark, root)
        sizes0 = {p: a["size"] for p, a in active0.items()}
        update_where_delta_dv(
            spark, root, "k % 45 = 0", {"price": "price * 2"}
        )
        _, _, active1, _, _ = snapshot_actions(spark, root)
        for p, a in active1.items():
            if p in sizes0:
                assert a["size"] == sizes0[p], (
                    "DV update must not rewrite pre-existing files"
                )

        after = read_delta_native(spark, root)
        base = o.withColumnRenamed("price", "price0")
        out = (
            after.join(base, "k")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(dec("price")).cast("double").alias("total"),
                F.count(
                    F.when(F.col("price") != F.col("price0"), 1)
                ).alias("n_changed"),
            )
        )
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "lake_delta_cdf",
    # the change feed decomposes per version into pure rules over
    # orders: v0/v2 inserts (initial load + append), v3 deletes
    # (k%7=0), v4 update pre/post images (k%11=0 among survivors)
    oracle="""
    WITH t AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 = 0
    )
    SELECT 0 AS version, 'insert' AS change_type, COUNT(*) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM t WHERE k % 3 = 0
    UNION ALL
    SELECT 2, 'insert', COUNT(*),
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
    FROM t WHERE k % 3 <> 0
    UNION ALL
    SELECT 3, 'delete', COUNT(*),
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
    FROM t WHERE k % 7 = 0
    UNION ALL
    SELECT 4, 'update_preimage', COUNT(*),
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
    FROM t WHERE k % 7 <> 0 AND k % 11 = 0
    UNION ALL
    SELECT 4, 'update_postimage', COUNT(*),
           CAST(SUM(CAST(price * 2 AS DECIMAL(18,2))) AS DOUBLE)
    FROM t WHERE k % 7 <> 0 AND k % 11 = 0
    """,
)
def lake_delta_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED, write + read (r7): on a CDF-enabled table,
    DELETE/UPDATE WHERE emit _change_data files + cdc actions (a
    partial-file rewrite is NOT derivable from add/remove — the
    survivors would read as inserts), appends stay derivable, and
    read_table_changes_cdf reconstructs the full change history —
    inserts, deletes, update pre/post images — per commit. Counts +
    DECIMAL totals per (version, change_type), hash-verified."""
    import json as _json

    from rtdl_spark.queries._util import dec
    from rtdl_spark.sources.delta_reader import (
        read_table_changes_cdf,
        snapshot_actions,
    )
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
        update_where_delta_native,
        write_delta_native,
    )

    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 4 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("price"),
        )
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_cdf_", dir=shm)
    try:
        root = os.path.join(workdir, "cdftab")
        write_delta_native(  # v0
            spark, o.filter(F.col("k") % 3 == 0).repartition(2), root,
            checkpoint_interval=0,
        )
        _, meta, _, current, _ = snapshot_actions(spark, root)
        log = os.path.join(root, "_delta_log")
        with open(os.path.join(log, f"{current + 1:020d}.json"), "w") as f:
            f.write(_json.dumps({"commitInfo": {
                "timestamp": 2, "operation": "SET TBLPROPERTIES"}}) + "\n")
            f.write(_json.dumps({"protocol": {
                "minReaderVersion": 1, "minWriterVersion": 4}}) + "\n")
            f.write(_json.dumps({"metaData": {
                **meta,
                "configuration": {
                    "delta.enableChangeDataFeed": "true"}}}) + "\n")
        write_delta_native(  # v2
            spark, o.filter(F.col("k") % 3 != 0).repartition(2), root,
            checkpoint_interval=0,
        )
        delete_where_delta_native(spark, root, "k % 7 = 0")        # v3
        update_where_delta_native(                                 # v4
            spark, root, "k % 11 = 0", {"price": "price * 2"}
        )

        # v0 is a pure append made BEFORE CDF was enabled (v1) — strict
        # mode refuses feed-less commits (delta-spark parity);
        # allow_unrecorded opts into deriving it as inserts, which is
        # exact for appends
        ch = read_table_changes_cdf(spark, root, 0, 4,
                                    allow_unrecorded=True)
        out = (
            ch.groupBy(
                F.col("_commit_version").cast("int").alias("version"),
                F.col("_change_type").alias("change_type"),
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(dec("price")).cast("double").alias("total"),
            )
        )
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "lake_delta_generated_cols",
    # the generated column is OMITTED by every append; the table's
    # content must equal computing it from the generation expression
    oracle="""
    WITH t AS (
      SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 5 = 0
    )
    SELECT CAST(k % 4 AS INT) AS bucket, COUNT(*) AS n,
           MIN(k) AS min_k, MAX(k) AS max_k
    FROM t GROUP BY 1
    """,
)
def lake_delta_generated_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED columns (r7, delta_writer.py::_complete_generated /
    _enforce_constraints): a table whose ``bucket`` column carries
    delta.generationExpression is appended by frames that OMIT the
    column — the writer computes it per the expression (and validates
    it when provided; mismatches refuse loudly, covered by tests).
    Per-bucket counts and key ranges hash-verified."""
    import json as _json

    from rtdl_spark.sources.delta_reader import (
        read_delta_native,
        snapshot_actions,
    )
    from rtdl_spark.sources.delta_writer import write_delta_native

    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 5 == 0)
        .select(F.col("o_orderkey").alias("k"))
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_gen_", dir=shm)
    try:
        root = os.path.join(workdir, "gentab")
        write_delta_native(  # v0: seeds the schema incl. bucket
            spark,
            o.filter(F.col("k") % 3 == 0).withColumn(
                "bucket", (F.col("k") % 4).cast("int")
            ),
            root,
            checkpoint_interval=0,
        )
        _, meta, _, current, _ = snapshot_actions(spark, root)
        schema = _json.loads(meta["schemaString"])
        for f in schema["fields"]:
            if f["name"] == "bucket":
                f["metadata"] = {
                    "delta.generationExpression": "CAST(k % 4 AS INT)"
                }
        log = os.path.join(root, "_delta_log")
        with open(os.path.join(log, f"{current + 1:020d}.json"), "w") as f:
            f.write(_json.dumps({"commitInfo": {
                "timestamp": 2, "operation": "SET"}}) + "\n")
            f.write(_json.dumps({"protocol": {
                "minReaderVersion": 1, "minWriterVersion": 4}}) + "\n")
            f.write(_json.dumps({"metaData": {
                **meta, "schemaString": _json.dumps(schema)}}) + "\n")

        # appends OMIT bucket: the writer computes it
        write_delta_native(
            spark, o.filter(F.col("k") % 3 == 1), root,
            checkpoint_interval=0,
        )
        write_delta_native(
            spark, o.filter(F.col("k") % 3 == 2), root,
            checkpoint_interval=0,
        )
        out = (
            read_delta_native(spark, root)
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("k").alias("min_k"),
                F.max("k").alias("max_k"),
            )
        )
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

@query(
    "lake_delta_identity",
    # the identity values are a pure function of the ROW COUNT (the
    # start/step lattice, contiguous after the watermark) — the pairing
    # row->value is partition-dependent, so the oracle verifies the
    # (rank, value) SET, which is deterministic
    oracle="""
    WITH t AS (
      SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 6 = 0
    ),
    r AS (SELECT ROW_NUMBER() OVER () AS rn FROM t)
    SELECT rn, CAST(100 + 3 * (rn - 1) AS BIGINT) AS rid FROM r
    """,
)
def lake_delta_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTITY columns (r7, delta_writer.py::_apply_identity): a table
    whose ``rid`` column carries delta.identity.* metadata (writer
    version 6) is appended by frames that OMIT the column — the writer
    GENERATES values from the start/step lattice contiguous after the
    high watermark and advances the watermark via a metaData action in
    the SAME commit. Two appends prove the chain continues across
    commits; (rank, value) pairs hash-verified.

    Scale shape: generation is the zipWithIndex two-pass (freeze, one
    tiny per-partition count aggregate, narrow mapInPandas) — no global
    sort, no single-partition funnel."""
    import json as _json

    from rtdl_spark.sources.delta_reader import (
        read_delta_native,
        snapshot_actions,
    )
    from rtdl_spark.sources.delta_writer import write_delta_native

    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 6 == 0)
        .select(F.col("o_orderkey").alias("k"))
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_ident_", dir=shm)
    try:
        root = os.path.join(workdir, "idtab")
        write_delta_native(  # v0: schema seed (k only), zero rows
            spark, o.limit(0), root, checkpoint_interval=0
        )
        _, meta, _, current, _ = snapshot_actions(spark, root)
        schema = _json.loads(meta["schemaString"])
        schema["fields"].insert(0, {
            "name": "rid", "type": "long", "nullable": True,
            "metadata": {
                "delta.identity.start": 100,
                "delta.identity.step": 3,
                "delta.identity.allowExplicitInsert": False,
            },
        })
        log = os.path.join(root, "_delta_log")
        with open(os.path.join(log, f"{current + 1:020d}.json"), "w") as f:
            f.write(_json.dumps({"commitInfo": {
                "timestamp": 2, "operation": "ADD COLUMN"}}) + "\n")
            f.write(_json.dumps({"protocol": {
                "minReaderVersion": 1, "minWriterVersion": 6}}) + "\n")
            f.write(_json.dumps({"metaData": {
                **meta, "schemaString": _json.dumps(schema)}}) + "\n")

        # two appends OMIT rid — generated; the second continues the
        # watermark chain committed by the first
        write_delta_native(
            spark, o.filter(F.col("k") % 2 == 0).repartition(3),
            root, checkpoint_interval=0,
        )
        write_delta_native(
            spark, o.filter(F.col("k") % 2 != 0).repartition(2),
            root, checkpoint_interval=0,
        )
        from pyspark.sql import Window

        out = read_delta_native(spark, root).select(
            F.row_number()
            .over(Window.orderBy("rid"))
            .cast("long")
            .alias("rn"),
            F.col("rid"),
        )
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

@query(
    "lake_delta_identity_sync",
    # explicit inserts never advance the watermark; SYNC IDENTITY
    # re-derives it as the smallest start/step lattice point >= the
    # column max, so generation after the sync continues at hwm + step.
    # Both row sets are deterministic as (rank-by-value, value) pairs.
    oracle="""
    WITH e AS (
      SELECT o_orderkey * 10 + 1 AS rid
      FROM orders WHERE o_orderkey % 11 = 0
    ),
    g AS (
      SELECT o_orderkey AS k FROM orders
      WHERE o_orderkey % 13 = 0 AND o_orderkey % 11 <> 0
    ),
    hwm AS (
      SELECT 100 + 3 * CAST(CEIL((MAX(rid) - 100) / 3.0) AS BIGINT) AS h
      FROM e
    )
    SELECT 'explicit' AS grp,
           ROW_NUMBER() OVER (ORDER BY rid) AS rn,
           CAST(rid AS BIGINT) AS rid
    FROM e
    UNION ALL
    SELECT 'generated', rn, (SELECT h FROM hwm) + 3 * rn
    FROM (SELECT ROW_NUMBER() OVER () AS rn FROM g)
    """,
)
def lake_delta_identity_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SYNC IDENTITY (r8, delta_writer.py::sync_identity_delta_native):
    a BY DEFAULT identity column receives EXPLICIT values (which per
    spec never advance the high watermark), then ALTER TABLE ... SYNC
    IDENTITY re-derives the watermark from the column data — rounded up
    to the start/step lattice — and a subsequent OMITTED-column append
    generates values strictly beyond every explicit one. (rank, value)
    pairs for both row classes, hash-verified.

    Scale shape: the resync is ONE distributed max aggregate plus a
    KB-scale metadata-only commit; generation stays the zipWithIndex
    two-pass. Reference: rtdl delegates Delta maintenance to
    delta-spark (deltawriter/delta_writer.py:88-94)."""
    import json as _json

    from rtdl_spark.sources.delta_reader import (
        read_delta_native,
        snapshot_actions,
    )
    from rtdl_spark.sources.delta_writer import (
        sync_identity_delta_native,
        write_delta_native,
    )

    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_idsync_", dir=shm)
    try:
        root = os.path.join(workdir, "idstab")
        write_delta_native(  # v0: schema seed (k only), zero rows
            spark, o.limit(0), root, checkpoint_interval=0
        )
        _, meta, _, current, _ = snapshot_actions(spark, root)
        schema = _json.loads(meta["schemaString"])
        schema["fields"].insert(0, {
            "name": "rid", "type": "long", "nullable": True,
            "metadata": {
                "delta.identity.start": 100,
                "delta.identity.step": 3,
                "delta.identity.allowExplicitInsert": True,
            },
        })
        log = os.path.join(root, "_delta_log")
        with open(os.path.join(log, f"{current + 1:020d}.json"), "w") as f:
            f.write(_json.dumps({"commitInfo": {
                "timestamp": 2, "operation": "ADD COLUMN"}}) + "\n")
            f.write(_json.dumps({"protocol": {
                "minReaderVersion": 1, "minWriterVersion": 6}}) + "\n")
            f.write(_json.dumps({"metaData": {
                **meta, "schemaString": _json.dumps(schema)}}) + "\n")

        # v2: EXPLICIT rids (allowed BY DEFAULT; watermark untouched)
        write_delta_native(
            spark,
            o.filter(F.col("k") % 11 == 0).select(
                (F.col("k") * 10 + 1).alias("rid"), "k"
            ).repartition(2),
            root, checkpoint_interval=0,
        )
        sync_identity_delta_native(spark, root)  # v3: resync watermark
        # v4: OMITTED rid — generated beyond every explicit value
        write_delta_native(
            spark,
            o.filter(
                (F.col("k") % 13 == 0) & (F.col("k") % 11 != 0)
            ).repartition(3),
            root, checkpoint_interval=0,
        )
        from pyspark.sql import Window

        t = read_delta_native(spark, root).withColumn(
            "grp",
            F.when(F.col("k") % 11 == 0, "explicit").otherwise(
                "generated"
            ),
        )
        out = t.select(
            "grp",
            F.row_number()
            .over(Window.partitionBy("grp").orderBy("rid"))
            .cast("long")
            .alias("rn"),
            F.col("rid"),
        )
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

@query(
    "lake_delta_v2_checkpoint",
    # the snapshot must survive v2-checkpoint-bounded replay: the JSON
    # tail at/below the checkpoint is DELETED, so the grouped totals
    # can only be right if the UUID-named top-level + sidecars carry
    # the full pre-checkpoint state
    oracle="""
    WITH t AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 9 = 0
    ),
    rows_all AS (
      SELECT k, price FROM t WHERE k % 2 = 0
      UNION ALL SELECT k, price FROM t WHERE k % 2 = 1
      UNION ALL SELECT k + 1000000000, price FROM t WHERE k % 5 = 0
    )
    SELECT CAST(k % 4 AS INT) AS bucket, COUNT(*) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM rows_all GROUP BY 1
    """,
)
def lake_delta_v2_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2 (UUID-named) checkpoint WRITE + checkpoint-bounded replay
    (r8, delta_writer.py::write_checkpoint_native layout=v2): a
    v2Checkpoint-feature table is checkpointed into the top-level +
    _delta_log/_sidecars/ layout, every JSON commit at/below the
    checkpoint is deleted, an append lands on top, and the read-back
    grouped totals prove the whole pre-checkpoint state came through
    the sidecars. Hash-verified.

    Scale shape: the add set flows into the sidecars as a DataFrame
    (never collected); the top-level holds only KB-scale control rows.
    Reference: rtdl delegates Delta maintenance to delta-spark
    (deltawriter/delta_writer.py:88-94)."""
    import glob as _glob
    import json as _json

    from rtdl_spark.queries._util import dec
    from rtdl_spark.sources.delta_reader import read_delta_native
    from rtdl_spark.sources.delta_writer import (
        write_checkpoint_native,
        write_delta_native,
    )

    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 9 == 0
    ).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_v2ck_", dir=shm)
    try:
        root = os.path.join(workdir, "v2tab")
        write_delta_native(  # v0
            spark, o.filter(F.col("k") % 2 == 0).repartition(2), root,
            checkpoint_interval=0,
        )
        log = os.path.join(root, "_delta_log")
        with open(os.path.join(log, f"{1:020d}.json"), "w") as f:  # v1
            f.write(_json.dumps({"commitInfo": {
                "timestamp": 5, "operation": "UPGRADE"}}) + "\n")
            f.write(_json.dumps({"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["v2Checkpoint"],
                "writerFeatures": ["v2Checkpoint", "appendOnly",
                                   "invariants"]}}) + "\n")
        write_delta_native(  # v2
            spark, o.filter(F.col("k") % 2 == 1).repartition(2), root,
            checkpoint_interval=0,
        )
        v = write_checkpoint_native(spark, root, layout="v2")
        for p in _glob.glob(os.path.join(log, "*.json")):
            if int(os.path.basename(p).split(".")[0]) <= v:
                os.remove(p)  # replay MUST go through the v2 layout
        write_delta_native(  # v3: lands on top of the checkpoint
            spark,
            o.filter(F.col("k") % 5 == 0).select(
                (F.col("k") + 1000000000).alias("k"), "price"
            ).repartition(2),
            root, checkpoint_interval=0,
        )
        out = (
            read_delta_native(spark, root)
            .groupBy((F.col("k") % 4).cast("int").alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(dec("price")).cast("double").alias("total"),
            )
        )
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

@query(
    "lake_delta_row_tracking",
    # row ids are assigned in baseRowId order across appends and must
    # SURVIVE a DELETE + UPDATE + OPTIMIZE unchanged for surviving
    # rows; the oracle recomputes the expected (id -> row id) pairing
    # from the append order (two appends, each a single sorted file)
    oracle="""
    WITH a1 AS (
      SELECT o_orderkey AS k,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
      FROM orders WHERE o_orderkey % 10 = 0
    ),
    n1 AS (SELECT COUNT(*) AS n FROM a1),
    a2 AS (
      SELECT o_orderkey AS k,
             (SELECT n FROM n1)
               + ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
      FROM orders WHERE o_orderkey % 10 = 5
    ),
    survivors AS (
      SELECT k, rid FROM a1 WHERE k % 3 <> 0
      UNION ALL SELECT k, rid FROM a2 WHERE k % 3 <> 0
    )
    SELECT CAST(rid % 7 AS BIGINT) AS bucket, COUNT(*) AS n,
           MIN(rid) AS min_rid, MAX(rid) AS max_rid,
           COUNT(DISTINCT rid) AS distinct_rids
    FROM survivors GROUP BY 1
    """,
)
def lake_delta_row_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rowTracking REWRITES (r8, delta_writer.py::_rt_materialize_cols
    — was a named refusal): two single-file sorted appends assign
    deterministic baseRowId ranges; a DELETE WHERE, an UPDATE WHERE
    and an OPTIMIZE then rewrite the files, and every surviving row's
    ROW ID must come through unchanged via the materialized row-id
    column — verified by recomputing each row's id the spec's way
    (materialized ?? baseRowId + row index) and hashing grouped
    aggregates against the oracle's replay of the append order.

    Scale shape: id materialization is a broadcast join of a KB-scale
    per-file base map + one narrow coalesce; no global sort beyond the
    test's own deterministic single-file staging."""
    import json as _json

    import pyarrow.parquet as _pq

    from rtdl_spark.sources.delta_reader import snapshot_actions
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
        optimize_delta_native,
        update_where_delta_native,
        write_delta_native,
    )

    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_rtrk_", dir=shm)
    try:
        root = os.path.join(workdir, "rttab")
        write_delta_native(  # v0: zero-row schema seed
            spark, o.limit(0), root, checkpoint_interval=0
        )
        log = os.path.join(root, "_delta_log")
        with open(os.path.join(log, f"{1:020d}.json"), "w") as f:  # v1
            f.write(_json.dumps({"commitInfo": {
                "timestamp": 2, "operation": "UPGRADE"}}) + "\n")
            f.write(_json.dumps({"protocol": {
                "minReaderVersion": 1, "minWriterVersion": 7,
                "writerFeatures": ["rowTracking", "domainMetadata",
                                   "appendOnly", "invariants"]}}) + "\n")
        # two SINGLE-FILE SORTED appends -> deterministic id order
        write_delta_native(
            spark,
            o.filter(F.col("k") % 10 == 0)
            .repartition(1).sortWithinPartitions("k"),
            root, checkpoint_interval=0,
        )
        write_delta_native(
            spark,
            o.filter(F.col("k") % 10 == 5)
            .repartition(1).sortWithinPartitions("k"),
            root, checkpoint_interval=0,
        )
        delete_where_delta_native(spark, root, "k % 3 = 0")
        update_where_delta_native(
            spark, root, "k % 11 = 0", {"k": "k"}  # id-preserving touch
        )
        optimize_delta_native(spark, root, target_file_bytes=1 << 30)

        # resolve each surviving row's id the spec's way, from the
        # actual files + add actions
        _, meta, active, _, _ = snapshot_actions(spark, root)
        conf = meta.get("configuration") or {}
        mat_id = conf["delta.rowTracking.materializedRowIdColumnName"]
        rows = []
        for rel, a in active.items():
            t = _pq.read_table(os.path.join(root, rel)).to_pylist()
            for i, r in enumerate(t):
                rid = r.get(mat_id)
                if rid is None:
                    rid = int(a["baseRowId"]) + i
                rows.append((int(r["k"]), int(rid)))
        got = local_result(spark, rows, "k bigint, rid bigint")
        out = (
            got.groupBy((F.col("rid") % 7).alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("rid").alias("min_rid"),
                F.max("rid").alias("max_rid"),
                F.countDistinct("rid").alias("distinct_rids"),
            )
        )
        rows2 = out.collect()
        return local_result(spark, rows2, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

@query(
    "lake_delta_invariants",
    # the violating append must FAIL atomically (table content stays
    # exactly the passing rows) and the passing appends must all land
    oracle="""
    WITH t AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 7 = 0
    )
    SELECT CAST(k % 3 AS INT) AS bucket, COUNT(*) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
           TRUE AS violation_raised
    FROM t GROUP BY 1
    """,
)
def lake_delta_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEGACY column invariants ENFORCED (r8,
    delta_writer.py::_invariants — was the last wholesale writer
    refusal): a table whose ``k`` column carries delta.invariants
    metadata accepts appends that satisfy the expression and FAILS a
    violating append atomically — the table's content afterwards is
    exactly the passing rows, and the violation column records that
    the write raised. Hash-verified grouped totals.

    Reference: writer protocol v2's invariant duty (the published
    Delta protocol); rtdl delegates enforcement to delta-spark
    (deltawriter/delta_writer.py:88-94)."""
    import json as _json

    from rtdl_spark.queries._util import dec
    from rtdl_spark.sources.delta_reader import (
        read_delta_native,
        snapshot_actions,
    )
    from rtdl_spark.sources.delta_writer import write_delta_native

    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 7 == 0
    ).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_inv_", dir=shm)
    try:
        root = os.path.join(workdir, "invtab")
        write_delta_native(  # v0: zero-row schema seed
            spark, o.limit(0), root, checkpoint_interval=0
        )
        _, meta, _, current, _ = snapshot_actions(spark, root)
        schema = _json.loads(meta["schemaString"])
        for f in schema["fields"]:
            if f["name"] == "k":
                f["metadata"] = {
                    "delta.invariants": _json.dumps(
                        {"expression":
                            {"expression": "k < 1000000000"}}
                    )
                }
        log = os.path.join(root, "_delta_log")
        with open(os.path.join(log, f"{current + 1:020d}.json"), "w") as f:
            f.write(_json.dumps({"commitInfo": {
                "timestamp": 2, "operation": "ADD INVARIANT"}}) + "\n")
            f.write(_json.dumps({"protocol": {
                "minReaderVersion": 1, "minWriterVersion": 2}}) + "\n")
            f.write(_json.dumps({"metaData": {
                **meta, "schemaString": _json.dumps(schema)}}) + "\n")

        write_delta_native(  # v2: every row satisfies the invariant
            spark, o.repartition(2), root, checkpoint_interval=0
        )
        violated = False
        try:
            write_delta_native(
                spark,
                o.select((F.col("k") + 1000000000).alias("k"), "price"),
                root, checkpoint_interval=0,
            )
        except Exception:
            violated = True
        out = (
            read_delta_native(spark, root)
            .groupBy((F.col("k") % 3).cast("int").alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(dec("price")).cast("double").alias("total"),
            )
            .withColumn("violation_raised", F.lit(violated))
        )
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

@query(
    "lake_delta_cdf_dv_restore",
    # restoring to before a DV DELETE un-masks the deleted rows; the
    # restore commit's change feed must be EXACTLY those rows as
    # inserts (derived from the deletion-vector mask diff — no cdc
    # files exist for a RESTORE)
    oracle="""
    WITH t AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 8 = 0
    )
    SELECT 'insert' AS change_type, COUNT(*) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM t WHERE k % 5 = 0
    """,
)
def lake_delta_cdf_dv_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF x deletion vectors x RESTORE (r8,
    delta_reader.py::_dv_sel_keep_udf — was a refusal): a DV DELETE
    masks rows with zero data rewritten; RESTORE to the pre-delete
    version re-adds the same files with the mask dropped, and the
    change feed derives the restore commit's changes from the MASK
    DIFF — exactly the un-deleted rows, as inserts. Hash-verified.

    Scale shape: only KB-scale DV descriptors ride the plan; bitmaps
    decode worker-side (cached per executor) and the diff is a numpy
    membership test in the Arrow lane."""
    import json as _json

    from rtdl_spark.queries._util import dec
    from rtdl_spark.sources.delta_reader import (
        read_table_changes_cdf,
        snapshot_actions,
    )
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_dv,
        restore_delta_native,
        write_delta_native,
    )

    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 8 == 0
    ).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_cdvr_", dir=shm)
    try:
        root = os.path.join(workdir, "cdvrtab")
        write_delta_native(spark, o.repartition(2), root,  # v0
                           checkpoint_interval=0)
        _, meta, _, current, _ = snapshot_actions(spark, root)
        log = os.path.join(root, "_delta_log")
        with open(os.path.join(log, f"{current + 1:020d}.json"), "w") as f:
            f.write(_json.dumps({"commitInfo": {
                "timestamp": 2, "operation": "UPGRADE"}}) + "\n")
            f.write(_json.dumps({"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": ["deletionVectors", "appendOnly",
                                   "invariants",
                                   "changeDataFeed"]}}) + "\n")
            f.write(_json.dumps({"metaData": {
                **meta,
                "configuration": {
                    "delta.enableDeletionVectors": "true",
                    "delta.enableChangeDataFeed": "true",
                }}}) + "\n")
        dv = delete_where_delta_dv(spark, root, "k % 5 = 0")    # v2
        res = restore_delta_native(spark, root, dv["version"] - 1)  # v3
        ch = read_table_changes_cdf(
            spark, root, res["version"], res["version"]
        )
        out = (
            ch.groupBy(F.col("_change_type").alias("change_type"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(dec("price")).cast("double").alias("total"),
            )
        )
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

@query(
    "lake_delta_clustered_optimize",
    # OPTIMIZE on a clustered table (no explicit zorder) must leave the
    # CONTENT exactly unchanged while re-organizing files; the oracle
    # is the content after the two appends
    oracle="""
    WITH t AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 6 = 0
    )
    SELECT CAST(k % 5 AS INT) AS bucket, COUNT(*) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
           MIN(k) AS min_k, MAX(k) AS max_k
    FROM t GROUP BY 1
    """,
)
def lake_delta_clustered_optimize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Clustered tables created THROUGH THE API (r9 — r8 fabricated the
    domain by hand): write_delta_native(cluster_by=["k"]) declares the
    clustering + domainMetadata features and the delta.clustering
    domain in the creating commit; a second append inherits it; then
    OPTIMIZE with NO explicit zorder_by reclusters by the domain's
    columns (delta-spark's OPTIMIZE-on-clustered-table behavior) —
    content hash-verified unchanged, and the domain survives the
    commit. Grouped totals, hash-verified.

    Scale shape: the recluster is the zorder lane — one distributed
    window sort per partition group, bins as contiguous curve-rank
    ranges; the domain metadata is KB-scale driver state."""
    from rtdl_spark.queries._util import dec
    from rtdl_spark.sources.delta_reader import (
        read_delta_native,
        snapshot_domains,
    )
    from rtdl_spark.sources.delta_writer import (
        optimize_delta_native,
        write_delta_native,
    )

    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 6 == 0
    ).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_clus_", dir=shm)
    try:
        root = os.path.join(workdir, "clustab")
        write_delta_native(  # v0: creates CLUSTER BY (k)
            spark, o.filter(F.col("k") % 2 == 0).repartition(3), root,
            cluster_by=["k"], checkpoint_interval=0,
        )
        write_delta_native(  # v1: plain append inherits the domain
            spark, o.filter(F.col("k") % 2 == 1).repartition(2), root,
            checkpoint_interval=0,
        )
        res = optimize_delta_native(  # v2: reclusters by `k`
            spark, root, target_file_bytes=1 << 22
        )
        assert res["version"] is not None
        doms = snapshot_domains(spark, root)
        assert not doms["delta.clustering"].get("removed")
        out = (
            read_delta_native(spark, root)
            .groupBy((F.col("k") % 5).cast("int").alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(dec("price")).cast("double").alias("total"),
                F.min("k").alias("min_k"),
                F.max("k").alias("max_k"),
            )
        )
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

@query(
    "lake_delta_cm_lifecycle",
    # the full CM lifecycle's FINAL state: create(name mode) -> append
    # -> DELETE WHERE -> mergeSchema evolution adding `flag` -> append
    # lacking `flag`; grouped counts + the evolved column's nullness
    # split prove the physical-name round-trip end to end
    oracle="""
    WITH t AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 5 = 0
    ),
    final AS (
      SELECT k, price, CASE WHEN k % 10 = 0 THEN 1 ELSE NULL END AS flag
      FROM t WHERE k % 7 <> 0
      UNION ALL
      SELECT k + 1000000, price, NULL FROM t
    )
    SELECT CAST(k % 3 AS INT) AS grp, COUNT(*) AS n,
           COUNT(flag) AS n_flagged,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM final GROUP BY 1
    """,
)
def lake_delta_cm_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN-MAPPED table CREATION + EVOLUTION (r7,
    delta_writer.py::_cm_annotate_field): the writer creates a
    name-mode CM table (fresh ids + col-<uuid> physical names at every
    level, protocol 2/5), appends, deletes, EVOLVES the schema via
    mergeSchema (the new ``flag`` column gets an id above maxColumnId)
    and appends a frame LACKING the evolved column — the native reader
    resolves every physical name back to logical. Grouped counts +
    nullness of the evolved column, hash-verified."""
    from rtdl_spark.sources.delta_reader import read_delta_native
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
        write_delta_native,
    )

    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 5 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("price"),
        )
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_cmlc_", dir=shm)
    try:
        root = os.path.join(workdir, "cmtab")
        write_delta_native(  # v0: CM creation
            spark, o.repartition(2), root, column_mapping="name",
            checkpoint_interval=0,
        )
        delete_where_delta_native(spark, root, "k % 7 = 0")    # v1
        write_delta_native(  # v2: schema-only evolution adds `flag`
            spark,
            o.limit(0).withColumn("flag", F.lit(1).cast("int")),
            root, merge_schema=True, checkpoint_interval=0,
        )
        # v3: flag values for k%10=0 survivors via plain UPDATE
        from rtdl_spark.sources.delta_writer import (
            update_where_delta_native,
        )

        update_where_delta_native(
            spark, root, "k % 10 = 0", {"flag": "1"}
        )
        write_delta_native(  # v4: append LACKING flag (null-filled)
            spark,
            o.withColumn("k", F.col("k") + 1000000).repartition(2),
            root, merge_schema=True, checkpoint_interval=0,
        )
        out = (
            read_delta_native(spark, root)
            .groupBy((F.col("k") % 3).cast("int").alias("grp"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count("flag").alias("n_flagged"),
                F.sum(F.col("price").cast("decimal(18,2)"))
                .cast("double")
                .alias("total"),
            )
        )
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "lake_delta_alter_properties",
    # lifecycle: create -> SET TBLPROPERTIES(CDF, protocol upgraded in
    # the same commit) -> ADD CONSTRAINT (validated against existing
    # rows) -> DELETE (cdc recorded) -> DROP CONSTRAINT -> append rows
    # the dropped constraint would have refused. The oracle replays the
    # surviving-row algebra; the CDF/constraint duties are asserted
    # in-query (wrong protocol/config would raise, and the final
    # grouped state hash-verifies the data effects).
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 6 = 0
    ), kept AS (
      SELECT k, price FROM base WHERE k % 5 <> 0
      UNION ALL
      SELECT k + 1000000, -1.0 FROM base WHERE k % 11 = 0
    )
    SELECT CAST(k % 4 AS INT) AS grp, COUNT(*) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM kept GROUP BY 1
    """,
)
def lake_delta_alter_properties(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ALTER TABLE properties/constraints lifecycle through the native
    API (sources/delta_alter.py, r9): SET TBLPROPERTIES enables CDF
    with the protocol upgraded IN THE SAME COMMIT; ADD CONSTRAINT
    validates every existing row before committing; the DELETE then
    records cdc change files; DROP CONSTRAINT re-opens the gate and
    rows the constraint would have refused append. Each step is a
    metadata-only commit (plus the delete's rewrite); the final state
    is hash-verified and the in-flight duties (cdc rows, constraint
    refusal) are asserted inline.

    Scale shape: ALTERs are O(1) driver commits; the only data work is
    ADD CONSTRAINT's validation scan (prunes to the first violation)
    and the delete rewrite."""
    from rtdl_spark.sources.delta_alter import (
        alter_add_constraint,
        alter_drop_constraint,
        alter_set_tblproperties,
    )
    from rtdl_spark.sources.delta_reader import (
        read_delta_native,
        read_table_changes_cdf,
    )
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
        write_delta_native,
    )

    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 6 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("price"),
        )
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_alterp_", dir=shm)
    try:
        root = os.path.join(workdir, "altab")
        write_delta_native(  # v0
            spark, o.repartition(2), root, checkpoint_interval=0
        )
        res = alter_set_tblproperties(  # v1: CDF on + protocol upgrade
            spark, root, {"delta.enableChangeDataFeed": "true"}
        )
        assert res["protocol_upgraded"]
        alter_add_constraint(spark, root, "pricePos", "price > 0")  # v2
        d = delete_where_delta_native(spark, root, "k % 5 = 0")  # v3
        assert d["cdc_files"] >= 1  # the ALTER-enabled feed recorded it
        ch = read_table_changes_cdf(spark, root, d["version"], d["version"])
        assert ch.filter(F.col("_change_type") != "delete").count() == 0
        # the constraint the ALTER added refuses violating appends ...
        bad = o.filter(F.col("k") % 11 == 0).select(
            (F.col("k") + 1000000).alias("k"),
            F.lit(-1.0).alias("price"),
        )
        try:
            write_delta_native(spark, bad, root, checkpoint_interval=0)
            raise AssertionError("constraint did not refuse")
        except Exception as e:
            assert "pricepos" in str(e).lower()
        alter_drop_constraint(spark, root, "pricePos")  # v4
        write_delta_native(spark, bad, root, checkpoint_interval=0)  # v5
        out = (
            read_delta_native(spark, root)
            .groupBy((F.col("k") % 4).cast("int").alias("grp"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("price").cast("decimal(18,2)"))
                .cast("double")
                .alias("total"),
            )
        )
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "lake_delta_alter_schema",
    # schema-DDL lifecycle on a table UPGRADED to column mapping:
    # create plain -> upgrade none->name (existing files keep resolving
    # through their on-disk names) -> ADD COLUMNS -> backfill via
    # UPDATE -> RENAME COLUMN (metadata-only) -> append at the renamed
    # schema -> DROP COLUMN. The oracle replays the row algebra with
    # the final column names.
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 8 = 0
    ), final AS (
      SELECT k, CASE WHEN k % 3 = 0 THEN 'hot' ELSE NULL END AS seg
      FROM base
      UNION ALL
      SELECT k + 1000000, 'new' FROM base WHERE k % 16 = 0
    )
    SELECT COALESCE(seg, 'none') AS seg, COUNT(*) AS n,
           MIN(k) AS min_k, MAX(k) AS max_k
    FROM final GROUP BY 1
    """,
)
def lake_delta_alter_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema DDL through the native ALTER API (r9): a PLAIN table is
    UPGRADED to column-mapping 'name' mode (every existing column keeps
    its on-disk name as physicalName, so pre-upgrade files resolve
    untouched), then ADD COLUMNS appends a nullable column (old files
    null-fill), UPDATE backfills it, RENAME COLUMN changes only the
    logical name (id + physicalName stay — zero data movement), an
    append lands at the renamed schema, and DROP COLUMN removes the
    price column (files untouched; the dropped id is never reused).
    Final state hash-verified.

    Scale shape: every ALTER is a metadata-only commit; the upgrade
    never rewrites files — exactly why column mapping exists."""
    from rtdl_spark.sources.delta_alter import (
        alter_add_columns,
        alter_drop_column,
        alter_rename_column,
        alter_set_tblproperties,
    )
    from rtdl_spark.sources.delta_reader import read_delta_native
    from rtdl_spark.sources.delta_writer import (
        update_where_delta_native,
        write_delta_native,
    )

    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 8 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("price"),
        )
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_alters_", dir=shm)
    try:
        root = os.path.join(workdir, "altab")
        write_delta_native(  # v0: plain table, no mapping
            spark, o.repartition(2), root, checkpoint_interval=0
        )
        alter_set_tblproperties(  # v1: none -> name upgrade
            spark, root, {"delta.columnMapping.mode": "name"}
        )
        alter_add_columns(spark, root, [("segment", "string")])  # v2
        update_where_delta_native(  # v3: backfill the new column
            spark, root, "k % 3 = 0", {"segment": "'hot'"}
        )
        alter_rename_column(spark, root, "segment", "seg")  # v4
        write_delta_native(  # v5: append at the renamed schema
            spark,
            o.filter(F.col("k") % 16 == 0).select(
                (F.col("k") + 1000000).alias("k"),
                F.col("price"),
                F.lit("new").alias("seg"),
            ),
            root,
            checkpoint_interval=0,
        )
        alter_drop_column(spark, root, "price")  # v6
        got = read_delta_native(spark, root)
        assert got.columns == ["k", "seg"]
        out = got.groupBy(
            F.coalesce(F.col("seg"), F.lit("none")).alias("seg")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "lake_delta_shallow_clone",
    # clone at version, then DIVERGE both tables: delete on the clone
    # (copy-on-write — the source keeps every row), append to the
    # source (invisible to the clone). The oracle replays both
    # lineages; one output row per table proves the isolation.
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 7 = 0
    ), clone_rows AS (
      SELECT k, price FROM base WHERE k % 3 <> 0
    ), source_rows AS (
      SELECT k, price FROM base
      UNION ALL
      SELECT k + 1000000, price FROM base WHERE k % 2 = 0
    )
    SELECT 'clone' AS tbl, COUNT(*) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM clone_rows
    UNION ALL
    SELECT 'source' AS tbl, COUNT(*) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM source_rows
    """,
)
def lake_delta_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE (sources/delta_clone.py, r9): the clone's creating
    commit references the source's files by ABSOLUTE path — zero data
    copied — then the two tables diverge: DELETE on the clone is
    copy-on-write (rewrites stage into the clone's root; the source
    keeps every row and every file), an append to the source never
    shows in the clone. Both final states hash-verified in one frame.

    Scale shape: the clone commit is O(active files) driver bookkeeping
    and one put-if-absent log write — no data job at all; the first
    DML pays the normal rewrite cost for only the files it touches."""
    from rtdl_spark.sources.delta_clone import clone_delta_native
    from rtdl_spark.sources.delta_reader import read_delta_native
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
        write_delta_native,
    )

    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("price"),
        )
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_clone_", dir=shm)
    try:
        src = os.path.join(workdir, "src")
        dst = os.path.join(workdir, "clone")
        write_delta_native(  # src v0
            spark, o.repartition(2), src, checkpoint_interval=0
        )
        res = clone_delta_native(spark, src, dst)
        assert res["files_referenced"] > 0
        delete_where_delta_native(spark, dst, "k % 3 = 0")  # clone only
        write_delta_native(  # source only
            spark,
            o.filter(F.col("k") % 2 == 0).select(
                (F.col("k") + 1000000).alias("k"), F.col("price")
            ),
            src,
            checkpoint_interval=0,
        )

        def summary(root, name):
            return (
                read_delta_native(spark, root)
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("price").cast("decimal(18,2)"))
                    .cast("double")
                    .alias("total"),
                )
                .select(F.lit(name).alias("tbl"), "n", "total")
            )

        out = summary(dst, "clone").unionByName(summary(src, "source"))
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "lake_delta_create_ddl",
    # CREATE TABLE with identity + generated + NOT NULL through the
    # API, then a plain insert: identity values form EXACTLY the
    # arithmetic lattice start + step*k for k=0..n-1 (which row gets
    # which value is partition-assignment-dependent, so the oracle
    # checks the closed-form set aggregates), the generated column is
    # data-derived (hash-verified per group), NOT NULL held.
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 = 0
    ), n AS (SELECT COUNT(*) AS c FROM base)
    SELECT CAST(b.k % 3 AS INT) AS bucket,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(b.price AS DECIMAL(18,2))) AS DOUBLE) AS total,
           (SELECT 1000 FROM n) AS min_uid,
           (SELECT 1000 + 7 * (c - 1) FROM n) AS max_uid,
           (SELECT 1000 * c + 7 * (c * (c - 1) // 2) FROM n) AS sum_uid,
           TRUE AS lattice_ok
    FROM base b GROUP BY 1
    """,
)
def lake_delta_create_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE TABLE through the native DDL API (delta_alter.py::
    create_delta_table_native, r9): identity column (start 1000, step
    7), a generated bucket column, and a NOT NULL price — the creating
    commit is metadata-only; the insert flows through the append lane,
    which GENERATES the omitted identity values on the lattice,
    COMPUTES the omitted generated column, and enforces NOT NULL. The
    oracle verifies the identity set's closed-form aggregates (min/max/
    sum of the arithmetic progression — assignment order is
    partitioning-dependent, the SET is not), the generated column's
    data-derived grouping, and the lattice residue.

    Scale shape: identity assignment is the zipWithIndex two-pass (one
    tiny per-partition count + a narrow mapInPandas), no global sort."""
    from rtdl_spark.sources.delta_alter import create_delta_table_native
    from rtdl_spark.sources.delta_reader import read_delta_native
    from rtdl_spark.sources.delta_writer import write_delta_native

    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 4 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("price"),
        )
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_createddl_", dir=shm)
    try:
        root = os.path.join(workdir, "ddltab")
        create_delta_table_native(
            spark, root,
            "uid long, k long, price double, bucket int",
            identity={"uid": {"start": 1000, "step": 7, "always": True}},
            generated={"bucket": "CAST(k % 3 AS INT)"},
            not_null=["price"],
        )
        write_delta_native(  # uid + bucket omitted: both computed
            spark, o.repartition(4), root, checkpoint_interval=0
        )
        t = read_delta_native(spark, root)
        out = (
            t.groupBy(F.col("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("price").cast("decimal(18,2)"))
                .cast("double")
                .alias("total"),
            )
            .crossJoin(
                t.agg(
                    F.min("uid").alias("min_uid"),
                    F.max("uid").alias("max_uid"),
                    F.sum("uid").alias("sum_uid"),
                    (
                        F.count(F.lit(1))
                        == F.sum(
                            ((F.col("uid") - 1000) % 7 == 0).cast("long")
                        )
                    ).alias("lattice_ok"),
                )
            )
            .select(
                "bucket", "n_rows", "total", "min_uid", "max_uid",
                "sum_uid", "lattice_ok",
            )
        )
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "lake_delta_data_skipping",
    # selective predicate over a range-partitioned native table: the
    # oracle replays the filtered algebra; the in-query assertions pin
    # that files were actually PRUNED from stats (not just filtered)
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT CAST(k % 5 AS INT) AS bucket, COUNT(*) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
           MIN(k) AS min_k, MAX(k) AS max_k
    FROM base WHERE k >= (SELECT (MAX(k) * 4) // 5 FROM base)
    GROUP BY 1
    """,
)
def lake_delta_data_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA SKIPPING (r9): writes harvest per-file minValues/maxValues/
    nullCount from the parquet footers into the add-action stats (zero
    extra Spark jobs — the footer is already on the driver's disk);
    read_delta_native(where=...) then prunes every file whose stats
    prove no row can match BEFORE any scan task launches, and still
    applies the full predicate to the survivors. Here the table is
    range-partitioned on k, so the top-quintile key predicate opens only
    the top range files — asserted via data_skipping_report, content hash-verified.

    Scale shape: THE 100 TB read lever — a selective predicate over a
    clustered column turns a full-table scan into a handful of file
    opens; the pruning itself is O(files) driver arithmetic over
    KB-scale stats."""
    from rtdl_spark.sources.delta_reader import (
        data_skipping_report,
        read_delta_native,
    )
    from rtdl_spark.sources.delta_writer import write_delta_native

    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 2 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("price"),
        )
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_skip_", dir=shm)
    try:
        root = os.path.join(workdir, "skiptab")
        write_delta_native(
            spark, o.repartitionByRange(8, "k"), root,
            checkpoint_interval=0,
        )
        # data-relative threshold (top ~20% of the key range) with
        # exact integer arithmetic, identical in the oracle
        thr = (o.agg(F.max("k")).collect()[0][0] * 4) // 5
        rep = data_skipping_report(spark, root, f"k >= {thr}")
        assert rep["pruned"] > 0, rep  # stats really skipped files
        assert rep["total"] == rep["kept"] + rep["pruned"]
        out = (
            read_delta_native(spark, root, where=f"k >= {thr}")
            .groupBy((F.col("k") % 5).cast("int").alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("price").cast("decimal(18,2)"))
                .cast("double")
                .alias("total"),
                F.min("k").alias("min_k"),
                F.max("k").alias("max_k"),
            )
        )
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "lake_delta_sql_surface",
    # the full lifecycle driven by SQL STRINGS (delta_sql): CREATE with
    # generated column + CDF property, insert, ADD CONSTRAINT, DELETE,
    # UPDATE, OPTIMIZE ZORDER — the oracle replays the row algebra
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 10 = 0
    ), after_delete AS (
      SELECT k, price FROM base WHERE k % 4 <> 0
    ), final AS (
      SELECT k,
             CASE WHEN k % 6 = 0 THEN price + 1000 ELSE price END AS price
      FROM after_delete
    )
    SELECT CAST(k % 3 AS INT) AS bucket, COUNT(*) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM final GROUP BY 1
    """,
)
def lake_delta_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-TEXT surface (sources/delta_sql.py, r9): the statements a
    delta-spark user types — CREATE TABLE (generated column +
    TBLPROPERTIES), ALTER TABLE ADD CONSTRAINT, DELETE FROM, UPDATE,
    OPTIMIZE ZORDER BY, DESCRIBE DETAIL — each parsed and routed to the
    native implementation; the reference funnels exactly these strings
    to delta-spark (deltawriter/delta_writer.py:88). Final grouped
    state hash-verified; the CDF property set at CREATE is proven live
    by the DELETE's cdc files."""
    from rtdl_spark.sources.delta_reader import read_delta_native
    from rtdl_spark.sources.delta_sql import delta_sql
    from rtdl_spark.sources.delta_writer import write_delta_native

    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("price"),
        )
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_sql_", dir=shm)
    try:
        root = os.path.join(workdir, "sqltab")
        delta_sql(spark, f"""
            CREATE TABLE delta.`{root}` (
              k BIGINT NOT NULL,
              price DOUBLE,
              bucket INT GENERATED ALWAYS AS (CAST(k % 3 AS INT))
            ) USING DELTA
            TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')
        """)
        write_delta_native(spark, o.repartition(2), root,
                           checkpoint_interval=0)
        delta_sql(
            spark,
            f"ALTER TABLE delta.`{root}` ADD CONSTRAINT posk CHECK (k >= 0)",
        )
        d = delta_sql(spark, f"DELETE FROM delta.`{root}` WHERE k % 4 = 0")
        assert d["cdc_files"] >= 1  # CREATE's CDF property is live
        delta_sql(
            spark,
            f"UPDATE delta.`{root}` SET price = price + 1000 "
            f"WHERE k % 6 = 0",
        )
        delta_sql(spark, f"OPTIMIZE delta.`{root}` ZORDER BY (k)")
        detail = delta_sql(
            spark, f"DESCRIBE DETAIL delta.`{root}`"
        ).collect()[0]
        assert detail["numFiles"] >= 1
        out = (
            read_delta_native(spark, root)
            .groupBy(F.col("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("price").cast("decimal(18,2)"))
                .cast("double")
                .alias("total"),
            )
        )
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "lake_delta_merge_clauses",
    oracle="""
    WITH t AS (
      SELECT o_orderkey, o_totalprice,
             CASE WHEN o_orderkey % 3 = 0 THEN 'a'
                  WHEN o_orderkey % 3 = 1 THEN 'b'
                  ELSE 'c' END AS src
      FROM orders
    ), s AS (
      -- matched half: doubled price for %4==0 keys, halved otherwise
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 4 = 0
                  THEN o_totalprice * 2 ELSE o_totalprice * 0.5 END
               AS o_totalprice,
             'x' AS src
      FROM t WHERE o_orderkey % 2 = 0
      UNION ALL
      -- unmatched half: brand-new negative keys
      SELECT -o_orderkey - 1, o_totalprice, 'x'
      FROM t WHERE o_orderkey % 13 = 0
    ), matched AS (
      SELECT t.o_orderkey AS k, t.o_totalprice AS tp, t.src AS tsrc,
             s.o_totalprice AS sp
      FROM t JOIN s ON t.o_orderkey = s.o_orderkey
    ), resolved AS (
      -- first-true-clause-wins, exactly the engine's order
      SELECT k, tp, tsrc, sp,
             CASE WHEN sp > tp THEN 0
                  WHEN tsrc = 'b' THEN 1 END AS clause
      FROM matched
    ), final AS (
      -- unmatched target rows: the by-source DELETE claims expensive
      -- 'c' rows; everything else survives
      SELECT o_orderkey, o_totalprice, src FROM t
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM s)
        AND NOT (src = 'c' AND o_totalprice > 300000.0)
      UNION ALL
      SELECT k, tp, tsrc FROM resolved WHERE clause IS NULL
      UNION ALL
      SELECT k, sp + tp, tsrc FROM resolved WHERE clause = 0
      UNION ALL
      SELECT s.o_orderkey, s.o_totalprice, 'z' FROM s
      WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM t)
        AND s.o_totalprice < 100000.0
    )
    SELECT src, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM final GROUP BY src
    """,
)
def lake_delta_merge_clauses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional / column-level MERGE clauses end-to-end (r10,
    sources/delta_writer.py::merge_into_delta_native list form;
    reference: /root/reference/deltawriter/delta_writer.py:88 funnels
    user MERGE through delta-spark's clause engine): matched rows are
    claimed by the FIRST true clause — an arithmetic column-level
    UPDATE SET (s+t) when the source price beats the target's, a DELETE
    of partition-'b' rows otherwise, survival when neither holds — and
    unmatched source rows insert under a condition into partition 'z'
    via INSERT (cols) VALUES (exprs), and a NOT MATCHED BY SOURCE
    clause deletes expensive partition-'c' rows the source no longer
    carries (r10 third clause family). The oracle recomputes the exact
    clause resolution in plain SQL; per-partition counts + DECIMAL
    sums are hash-verified."""
    from rtdl_spark.queries._util import dec
    from rtdl_spark.sources.delta_reader import read_delta_native
    from rtdl_spark.sources.delta_writer import (
        merge_into_delta_native,
        write_delta_native,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 3 == 0, "a")
        .when(F.col("o_orderkey") % 3 == 1, "b")
        .otherwise("c")
        .alias("src"),
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_deltamc_", dir=shm)
    try:
        root = os.path.join(workdir, "dtab")
        write_delta_native(
            spark, o.repartition(4), root, partition_by=["src"],
            checkpoint_interval=0,
        )
        src = (
            o.filter(F.col("o_orderkey") % 2 == 0)
            .select(
                "o_orderkey",
                F.when(
                    F.col("o_orderkey") % 4 == 0,
                    F.col("o_totalprice") * 2,
                )
                .otherwise(F.col("o_totalprice") * 0.5)
                .alias("o_totalprice"),
                F.lit("x").alias("src"),
            )
            .unionByName(
                o.filter(F.col("o_orderkey") % 13 == 0).select(
                    (-F.col("o_orderkey") - 1).alias("o_orderkey"),
                    "o_totalprice",
                    F.lit("x").alias("src"),
                )
            )
        )
        merge_into_delta_native(
            spark, root, src, on=["o_orderkey"],
            when_matched=[
                {"action": "update",
                 "condition": "s.o_totalprice > t.o_totalprice",
                 "set": {"o_totalprice":
                         "s.o_totalprice + t.o_totalprice"}},
                {"action": "delete", "condition": "t.src = 'b'"},
            ],
            when_not_matched=[
                {"action": "insert",
                 "condition": "s.o_totalprice < 100000.0",
                 "values": {"o_orderkey": "s.o_orderkey",
                            "o_totalprice": "s.o_totalprice",
                            "src": "'z'"}},
            ],
            when_not_matched_by_source=[
                {"action": "delete",
                 "condition":
                     "t.src = 'c' AND t.o_totalprice > 300000.0"},
            ],
        )
        out = (
            read_delta_native(spark, root)
            .groupBy("src")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(dec("o_totalprice")).cast("double").alias("total"),
            )
        )
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "lake_delta_convert",
    oracle="""
    WITH t AS (
      SELECT o_orderkey, o_totalprice,
             CASE WHEN o_orderkey % 3 = 0 THEN 'a'
                  WHEN o_orderkey % 3 = 1 THEN 'b'
                  ELSE 'c' END AS src
      FROM orders
    ), after_delete AS (
      SELECT * FROM t WHERE src <> 'b'
    ), after_update AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0
                  THEN o_totalprice + 50.0 ELSE o_totalprice END
               AS o_totalprice,
             src
      FROM after_delete
    )
    SELECT src, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM after_update GROUP BY src
    """,
)
def lake_delta_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERT TO DELTA end-to-end (r10, sources/delta_writer.py::
    convert_to_delta_native via the SQL front end): a plain Hive-
    partitioned parquet directory — the shape rtdl's own ingester
    produces (/root/reference/ingester/ingester.go:1182-1485) — is
    converted IN PLACE (zero data copied; adds reference the existing
    files, footer stats ride in), then exercised as a full Delta
    citizen: partition DELETE + conditional UPDATE run on the converted
    log. The oracle recomputes the whole pipeline in plain SQL;
    per-partition counts + DECIMAL sums are hash-verified."""
    from rtdl_spark.queries._util import dec
    from rtdl_spark.sources.delta_reader import read_delta_native
    from rtdl_spark.sources.delta_sql import delta_sql
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
        update_where_delta_native,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 3 == 0, "a")
        .when(F.col("o_orderkey") % 3 == 1, "b")
        .otherwise("c")
        .alias("src"),
    )
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="rtdl_deltacv_", dir=shm)
    try:
        root = os.path.join(workdir, "plainp")
        o.repartition(4).write.partitionBy("src").parquet(root)
        res = delta_sql(
            spark,
            f"CONVERT TO DELTA parquet.`{root}` "
            "PARTITIONED BY (src string)",
        )
        assert res["version"] == 0 and res["files"] >= 3
        delete_where_delta_native(spark, root, "src = 'b'")
        update_where_delta_native(
            spark, root, "o_orderkey % 5 = 0",
            {"o_totalprice": "o_totalprice + 50.0"},
        )
        out = (
            read_delta_native(spark, root)
            .groupBy("src")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(dec("o_totalprice")).cast("double").alias("total"),
            )
        )
        rows = out.collect()  # materialize before the scratch dir dies
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
