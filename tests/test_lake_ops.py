"""Lake-maintenance operator tests: skew-salted aggregation/join, merge
upsert, SCD2, CDC dedup-latest, partition compaction, ml MinHashLSH."""

from __future__ import annotations

from pyspark.sql import functions as F

from rtdl_spark.catalog import table
from rtdl_spark.sources.delta_reader import delta_history, read_delta_native


def test_salted_aggregate_matches_plain(spark, sf_dir):
    from rtdl_spark.operators.skew import salted_aggregate

    li = table(spark, sf_dir, "lineitem")
    plain = {
        (r["l_returnflag"],): (r["n"], r["mx"])
        for r in li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.max("l_quantity").alias("mx"))
        .collect()
    }
    salted = {
        (r["l_returnflag"],): (r["n"], r["mx"])
        for r in salted_aggregate(
            li,
            ["l_returnflag"],
            {"n": ("sum", F.count(F.lit(1))), "mx": ("max", F.max("l_quantity"))},
            n_salts=8,
        ).collect()
    }
    assert salted == plain


def test_salted_broadcast_left_matches_plain(spark, sf_dir):
    from rtdl_spark.operators.skew import salted_broadcast_left

    orders = table(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "custkey"
    )
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    plain = orders.join(cust, "custkey").count()
    salted = salted_broadcast_left(orders, cust, "custkey", n_salts=4).count()
    assert salted == plain > 0


def test_merge_upsert(spark):
    from rtdl_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)], "k long, v string, ver int"
    )
    source = spark.createDataFrame(
        [(2, "B", 2), (4, "D", 2)], "k long, v string, ver int"
    )
    out = {r["k"]: (r["v"], r["ver"]) for r in merge_upsert(target, source, ["k"]).collect()}
    assert out == {1: ("a", 1), 2: ("B", 2), 3: ("c", 1), 4: ("D", 2)}


def test_dedup_latest(spark):
    from rtdl_spark.operators.merge import dedup_latest

    df = spark.createDataFrame(
        [(1, 1, "old"), (1, 3, "new"), (1, 2, "mid"), (2, 1, "only")],
        "k long, ver long, v string",
    )
    out = {r["k"]: r["v"] for r in dedup_latest(df, ["k"], "ver").collect()}
    assert out == {1: "new", 2: "only"}


def test_scd2_apply(spark):
    from rtdl_spark.operators.merge import scd2_apply

    current = spark.createDataFrame(
        [(1, "addr1", "2020-01-01 00:00:00", None, True)],
        "k long, addr string, effective_from string, effective_to string, is_current boolean",
    ).withColumn("effective_from", F.col("effective_from").cast("timestamp")) \
     .withColumn("effective_to", F.col("effective_to").cast("timestamp"))
    updates = spark.createDataFrame(
        [(1, "addr2", "2024-01-01 00:00:00")],
        "k long, addr string, effective_from string",
    ).withColumn("effective_from", F.col("effective_from").cast("timestamp"))

    out = scd2_apply(current, updates, ["k"]).orderBy("effective_from").collect()
    assert len(out) == 2
    closed, new = out
    assert closed["addr"] == "addr1" and not closed["is_current"]
    assert str(closed["effective_to"]).startswith("2024-01-01")
    assert new["addr"] == "addr2" and new["is_current"] and new["effective_to"] is None


def test_compaction(spark, tmp_path):
    from rtdl_spark.ingest.compact import compact_lake, partition_file_stats
    from rtdl_spark.ingest.pipeline import BUCKET_COL, TABLE_COL

    root = str(tmp_path / "lake")
    base = spark.range(1000).withColumn(TABLE_COL, F.lit("t")).withColumn(
        BUCKET_COL, F.lit("2024-01-01")
    )
    # simulate many tiny micro-batch appends
    for _ in range(5):
        base.repartition(4).write.partitionBy(TABLE_COL, BUCKET_COL).mode(
            "append"
        ).parquet(root)
    before = partition_file_stats(spark, root)[0]
    assert before["n_files"] >= 20

    done = compact_lake(spark, root, min_files=8)
    assert done[("t", "2024-01-01")] == 1
    after = partition_file_stats(spark, root)[0]
    assert after["n_files"] == 1
    assert spark.read.parquet(root).count() == 5000


def test_ml_minhash_recall_vs_exact(spark, sf_dir):
    """ml MinHashLSH must recover the planted near-dup pairs the exact
    integer LSH finds (distance 0.5 ↔ jaccard 0.5 on token sets)."""
    from rtdl_spark.operators.dedup import minhash_lsh_pairs

    docs = table(spark, sf_dir, "documents")
    exact = {
        (r["id1"], r["id2"])
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    from rtdl_spark.operators.dedup import ml_minhash_lsh_pairs

    ml = {
        (r["id1"], r["id2"])
        for r in ml_minhash_lsh_pairs(docs, max_distance=0.7).collect()
    }
    assert exact, "no planted near-dups found by exact LSH"
    # token-set distance ≤ 0.7 is looser than shingle jaccard ≥ 0.5: the ml
    # candidate set must cover the exact pairs
    missing = exact - ml
    assert len(missing) <= len(exact) * 0.2


def test_retention_expiry(spark, tmp_path):
    """Retention drops whole partitions below the cutoff bucket
    (directory-level, no row rewrite), dry-run first."""
    from pyspark.sql import functions as F

    from rtdl_spark.ingest.pipeline import BUCKET_COL, TABLE_COL
    from rtdl_spark.ingest.retention import expire_partitions, find_expired

    root = str(tmp_path / "lake")
    df = spark.createDataFrame(
        [(i, f"2024-01-{d:02d}") for d in (10, 15, 20) for i in range(5)],
        f"v long, {BUCKET_COL} string",
    ).withColumn(TABLE_COL, F.lit("events"))
    df.write.partitionBy(TABLE_COL, BUCKET_COL).parquet(root)

    dry = expire_partitions(root, "2024-01-16", dry_run=True)
    assert sorted(p.bucket for p in dry) == ["2024-01-10", "2024-01-15"]
    assert all(p.n_files > 0 and p.bytes > 0 for p in dry)
    # dry run deleted nothing
    assert len(find_expired(root, "2024-01-16")) == 2

    expired = expire_partitions(root, "2024-01-16", dry_run=False)
    assert len(expired) == 2
    left = spark.read.parquet(root)
    assert left.select(BUCKET_COL).distinct().collect()[0][0] == "2024-01-20"
    assert left.count() == 5


def test_glue_crawler_request_parity():
    """A20 parity (ingester.go:704-775): crawler name, S3 target path,
    daily-cron default, and the hard role requirement."""
    import pytest as _pytest

    from rtdl_spark.catalog_external import glue_crawler_request
    from rtdl_spark.config import StreamConfig

    cfg = StreamConfig(
        stream_id="abc-123",
        bucket_name="mybucket",
        folder_name="myfolder",
        glue_role="arn:aws:iam::1:role/glue",
    )
    req = glue_crawler_request(cfg, "orders")
    assert req["Name"] == "abc-123_orders"
    assert req["Targets"]["S3Targets"][0]["Path"] == "s3://mybucket/myfolder/orders"
    assert req["Schedule"] == "cron(0 0 * * ? *)"

    with _pytest.raises(ValueError, match="Role ARN"):
        glue_crawler_request(StreamConfig(stream_id="x"), "t")


def test_snowflake_registration_sql_parity():
    """A21 parity (ingester.go:609-701): s_-prefixed cleansed schema,
    stage=cleansed table, parquet external table; credentials redacted
    unless opted in."""
    from rtdl_spark.catalog_external import snowflake_registration_sql
    from rtdl_spark.config import StreamConfig

    cfg = StreamConfig(
        stream_id="aa-bb-cc",
        aws_access_key_id="AKIA123",
        aws_secret_access_key="SECRET",
    )
    stmts = snowflake_registration_sql(
        cfg, "my-table", "S3", "s3://b/f/my-table"
    )
    assert stmts[0] == "create schema if not exists s_aa_bb_cc;"
    assert "create stage if not exists my_table" in stmts[1]
    assert "URL = 's3://b/f/my-table'" in stmts[1]
    assert "<REDACTED>" in stmts[1] and "'SECRET'" not in stmts[1]
    assert "file_format = (type = PARQUET)" in stmts[2]

    with_creds = snowflake_registration_sql(
        cfg, "my-table", "S3", "s3://b/f/my-table", include_credentials=True
    )
    assert "AKIA123" in with_creds[1]


def test_zorder_layout_clusters_both_columns(spark, sf_dir, tmp_path):
    """Z-order write must give data-skipping-friendly files on BOTH
    interleaved columns: mean per-file value range well under the global
    range for each, whereas a single-column sort clusters only its own
    column (the second stays ~global in most files)."""
    import os

    from rtdl_spark.catalog import table
    from rtdl_spark.operators.zorder import zorder_write

    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )

    zdir = str(tmp_path / "zorder")
    zorder_write(orders, ["o_custkey", "o_totalprice"], zdir, n_files=16)

    sdir = str(tmp_path / "sorted")
    (
        orders.repartitionByRange(16, F.col("o_custkey"))
        .sortWithinPartitions("o_custkey")
        .write.parquet(sdir)
    )

    glb = orders.agg(
        (F.max("o_custkey") - F.min("o_custkey")).alias("ck"),
        (F.max("o_totalprice") - F.min("o_totalprice")).alias("tp"),
    ).collect()[0]

    def mean_spread(d, col, global_range):
        files = [
            os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
        ]
        assert len(files) >= 8, files
        spreads = []
        for f in files:
            r = (
                spark.read.parquet(f)
                .agg((F.max(col) - F.min(col)).alias("s"))
                .collect()[0]["s"]
            )
            spreads.append(float(r) / float(global_range))
        return sum(spreads) / len(spreads)

    z_ck = mean_spread(zdir, "o_custkey", glb["ck"])
    z_tp = mean_spread(zdir, "o_totalprice", glb["tp"])
    s_tp = mean_spread(sdir, "o_totalprice", glb["tp"])

    # both dimensions cluster under z-order...
    assert z_ck < 0.5, z_ck
    assert z_tp < 0.5, z_tp
    # ...and the single-column sort leaves the other column unclustered
    assert s_tp > 2 * z_tp, (s_tp, z_tp)


def test_zorder_scan_actually_skips_row_groups(spark, sf_dir, tmp_path):
    """Executed-scan metrics, not layout proxies: a range predicate on the
    SECOND interleaved column must read well under half the rows from the
    z-ordered layout (row-group stats skipping), while the layout sorted
    on the other column reads essentially everything."""
    from rtdl_spark.catalog import table
    from rtdl_spark.operators.zorder import zorder_write
    from rtdl_spark.plans.inspect import scan_output_rows

    orders = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    total = orders.count()
    zdir, sdir = str(tmp_path / "z"), str(tmp_path / "s")
    zorder_write(orders, ["o_custkey", "o_totalprice"], zdir, n_files=16)
    (
        orders.repartitionByRange(16, F.col("o_custkey"))
        .sortWithinPartitions("o_custkey")
        .write.parquet(sdir)
    )

    pred = (F.col("o_totalprice") > 100000) & (F.col("o_totalprice") < 110000)
    z_rows = scan_output_rows(spark.read.parquet(zdir).filter(pred))
    s_rows = scan_output_rows(spark.read.parquet(sdir).filter(pred))
    assert z_rows is not None and s_rows is not None
    assert z_rows < 0.5 * total, (z_rows, total)
    assert s_rows > 0.9 * total, (s_rows, total)


def test_zorder_quantile_scaling_handles_skew(spark):
    """On a heavily skewed column, uniform scaling collapses most rows
    into a handful of Z buckets (the curve degenerates); quantile scaling
    keeps the buckets populated evenly."""
    from rtdl_spark.operators.zorder import zvalue

    # 95% of values in [0,1], 5% up to 1e6
    df = spark.range(0, 20_000).select(
        F.col("id"),
        F.when(F.col("id") % 20 < 19, (F.col("id") % 97) / 97.0)
        .otherwise((F.col("id") % 97) * 10_000.0)
        .alias("skewed"),
        (F.col("id") % 251).cast("double").alias("even"),
    )

    def distinct_buckets(scaling):
        base, z = zvalue(df, ["skewed", "even"], bits=6, scaling=scaling)
        return base.select(z.alias("z")).distinct().count()

    uni, qnt = distinct_buckets("uniform"), distinct_buckets("quantile")
    assert qnt > 2 * uni, (uni, qnt)


def test_hilbert_kernel_is_a_true_hilbert_curve():
    """Defining properties, checked exhaustively on full grids: the key is
    a bijection onto [0, side^dims) and walking keys in order moves one
    orthogonal unit step per cell (Morton fails this at every power-of-two
    boundary — exactly the jumps that loosen file bounding boxes)."""
    import itertools

    import numpy as np

    from rtdl_spark.functions.hilbert_np import hilbert_index

    for dims, bits in [(2, 1), (2, 4), (3, 3)]:
        side = 1 << bits
        grid = np.array(list(itertools.product(range(side), repeat=dims)))
        keys = hilbert_index(grid, bits)
        assert sorted(keys) == list(range(side**dims)), (dims, bits)
        order = grid[np.argsort(keys)]
        steps = np.abs(np.diff(order, axis=0)).sum(axis=1)
        assert (steps == 1).all(), (dims, bits, int(steps.max()))


def test_hilbert_layout_skips_and_bounds_no_worse_than_morton(
    spark, sf_dir, tmp_path
):
    """The Hilbert layout must (a) pass the same executed-scan skipping
    bar as Morton on the second interleaved column and (b) produce
    per-file bounding boxes (mean normalized area) no looser than
    Morton's — the locality claim, measured on real files."""
    import os

    from rtdl_spark.catalog import table
    from rtdl_spark.operators.zorder import zorder_write
    from rtdl_spark.plans.inspect import scan_output_rows

    orders = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    total = orders.count()
    hdir, mdir = str(tmp_path / "h"), str(tmp_path / "m")
    zorder_write(
        orders, ["o_custkey", "o_totalprice"], hdir, n_files=16,
        curve="hilbert",
    )
    zorder_write(orders, ["o_custkey", "o_totalprice"], mdir, n_files=16)

    pred = (F.col("o_totalprice") > 100000) & (F.col("o_totalprice") < 110000)
    h_rows = scan_output_rows(spark.read.parquet(hdir).filter(pred))
    assert h_rows is not None and h_rows < 0.5 * total, (h_rows, total)

    glb = orders.agg(
        F.min("o_custkey").alias("ck0"), F.max("o_custkey").alias("ck1"),
        F.min("o_totalprice").alias("tp0"), F.max("o_totalprice").alias("tp1"),
    ).collect()[0]

    def mean_bbox_area(d):
        files = [
            os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
        ]
        assert len(files) >= 8, files
        areas = []
        for f in files:
            r = (
                spark.read.parquet(f)
                .agg(
                    (F.max("o_custkey") - F.min("o_custkey")).alias("ck"),
                    (F.max("o_totalprice") - F.min("o_totalprice")).alias("tp"),
                )
                .collect()[0]
            )
            areas.append(
                float(r["ck"]) / float(glb["ck1"] - glb["ck0"])
                * float(r["tp"]) / float(glb["tp1"] - glb["tp0"])
            )
        return sum(areas) / len(areas)

    h_area, m_area = mean_bbox_area(hdir), mean_bbox_area(mdir)
    assert h_area <= 1.1 * m_area, (h_area, m_area)


def test_snapshot_diff_null_safe_classification(spark):
    """null→null compares unchanged, null→value is changed, and the
    added/removed classes come from key presence — the IS NOT DISTINCT
    FROM contract that a string/hash compare would get wrong."""
    from rtdl_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, None, "a"), (2, None, "b"), (3, "x", "c"), (4, "y", "d")],
        "k int, v string, w string",
    )
    new = spark.createDataFrame(
        [(1, None, "a"), (2, "now", "b"), (3, "x", "c"), (5, "z", "e")],
        "k int, v string, w string",
    )
    got = {
        r["k"]: r["change_type"]
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "unchanged",
        4: "removed",
        5: "added",
    }


def test_zorder_three_columns_improves_locality(spark, sf_dir, tmp_path):
    """Multi-column (3-col) curve support: clustering orders by
    (custkey, totalprice, orderdate-epoch) must tighten per-file bounding
    VOLUMES vs the naturally-ordered write for both curves, and Hilbert
    must be at least as tight as Morton (its guarantee in 2D carries to
    3D). Closes the NOTES 'multi-column curves' item."""
    import os

    from pyspark.sql import functions as F

    from rtdl_spark.operators.zorder import zorder_write

    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .withColumn("o_epoch", F.unix_date(F.col("o_orderdate").cast("date")))
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_epoch")
    )
    cols = ["o_custkey", "o_totalprice", "o_epoch"]

    def mean_norm_volume(path):
        df = spark.read.parquet(path)
        rng = df.agg(
            *[F.min(c).alias(f"mn_{c}") for c in cols],
            *[F.max(c).alias(f"mx_{c}") for c in cols],
        ).collect()[0]
        vols = []
        for f in [
            os.path.join(path, x)
            for x in os.listdir(path)
            if x.endswith(".parquet")
        ]:
            b = spark.read.parquet(f).agg(
                *[F.min(c).alias(f"mn_{c}") for c in cols],
                *[F.max(c).alias(f"mx_{c}") for c in cols],
            ).collect()[0]
            v = 1.0
            for c in cols:
                span = rng[f"mx_{c}"] - rng[f"mn_{c}"]
                v *= (b[f"mx_{c}"] - b[f"mn_{c}"]) / span if span else 1.0
            vols.append(v)
        return sum(vols) / len(vols)

    ndir = str(tmp_path / "natural")
    orders.repartition(16).write.parquet(ndir)
    mdir = str(tmp_path / "morton3")
    zorder_write(orders, cols, mdir, n_files=16, curve="morton")
    hdir = str(tmp_path / "hilbert3")
    zorder_write(orders, cols, hdir, n_files=16, curve="hilbert")

    nat, mor, hil = (
        mean_norm_volume(ndir),
        mean_norm_volume(mdir),
        mean_norm_volume(hdir),
    )
    assert mor < nat * 0.5, (nat, mor)
    assert hil <= mor * 1.05, (mor, hil)


def test_analyze_table_feeds_cbo_statistics(spark, sf_dir, tmp_path):
    """Catalog tables support ANALYZE TABLE; the collected rowCount/size
    reach the optimizer (Statistics on the relation) — the CBO input a
    100 TB lake needs for join ordering beyond AQE's runtime sizes."""
    from rtdl_spark.catalog import register_lake_table, table

    orders = table(spark, sf_dir, "orders")
    dest = str(tmp_path / "lake" / "orders_t")
    orders.write.parquet(dest)
    register_lake_table(spark, "statsdb", "orders_t", dest)
    try:
        spark.sql(
            "ANALYZE TABLE statsdb.orders_t COMPUTE STATISTICS"
        )
        desc = {
            r["col_name"]: r["data_type"]
            for r in spark.sql(
                "DESCRIBE TABLE EXTENDED statsdb.orders_t"
            ).collect()
        }
        assert "Statistics" in desc, desc.keys()
        stats_line = desc["Statistics"]
        assert "rows" in stats_line, stats_line
        n = orders.count()
        assert str(n) in stats_line, (n, stats_line)

        # the optimizer consumes the rowCount once CBO is on (off by
        # default — AQE's runtime sizes are the standing default; CBO is
        # the static complement when stats are maintained)
        old_cbo = spark.conf.get("spark.sql.cbo.enabled")
        try:
            spark.conf.set("spark.sql.cbo.enabled", "true")
            plan_stats = (
                spark.table("statsdb.orders_t")
                ._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .toString()
            )
            assert "rowCount=" in plan_stats, plan_stats  # 1.50E+3 form
        finally:
            spark.conf.set("spark.sql.cbo.enabled", old_cbo)
    finally:
        spark.sql("DROP TABLE IF EXISTS statsdb.orders_t")
        spark.sql("DROP DATABASE IF EXISTS statsdb")


def test_file_manifest_matches_filesystem(spark, sf_dir, tmp_path):
    """file_manifest's per-file bytes/rows agree with the real FS and
    parquet footers; the summary flags every small file; compaction-sized
    files pass the threshold."""
    import os

    from rtdl_spark.operators.profile import file_manifest, manifest_summary

    out = str(tmp_path / "manifest_probe")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(6).write.parquet(out)

    man = file_manifest(spark, out, small_file_bytes=1 << 20).cache()
    files = {
        f: os.path.getsize(os.path.join(out, f))
        for f in os.listdir(out)
        if f.endswith(".parquet")
    }
    got = {os.path.basename(r["file_path"]): r for r in man.collect()}
    assert set(got) == set(files)
    for name, size in files.items():
        assert got[name]["file_bytes"] == size
    assert sum(r["n_rows"] for r in got.values()) == docs.count()

    s = manifest_summary(man).first()
    assert s["n_files"] == 6
    assert s["n_small"] == 6 and s["small_share"] == 1.0  # all tiny here
    assert s["total_bytes"] == sum(files.values())
    assert s["total_rows"] == docs.count()
    man.unpersist()


def test_overwrite_partitions_dynamic(spark, tmp_path):
    """Dynamic partition overwrite replaces only the partitions present in
    the incoming frame; untouched partitions survive byte-for-byte."""
    from rtdl_spark.operators.merge import overwrite_partitions_dynamic

    path = str(tmp_path / "dynpo")
    base = spark.createDataFrame(
        [("2024-01-01", 1, "a"), ("2024-01-02", 2, "b"),
         ("2024-01-03", 3, "c")],
        "day string, id long, v string",
    )
    base.write.partitionBy("day").parquet(path)

    restated = spark.createDataFrame(
        [("2024-01-02", 20, "B1"), ("2024-01-02", 21, "B2")],
        "day string, id long, v string",
    )
    overwrite_partitions_dynamic(restated, path, ["day"])

    got = {
        (str(r.day), r.id, r.v) for r in spark.read.parquet(path).collect()
    }
    assert got == {
        ("2024-01-01", 1, "a"),
        ("2024-01-02", 20, "B1"),
        ("2024-01-02", 21, "B2"),
        ("2024-01-03", 3, "c"),
    }
    # conf restored
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").upper()
        == "STATIC"
    )


def test_register_masked_view_masks_and_prunes(spark):
    """The masked view rewrites PII in listed columns, drops excluded
    columns, passes others through, and stays a plain projection (filter
    pushdown to the underlying scan still visible through the view)."""
    from rtdl_spark.catalog import register_masked_view

    df = spark.createDataFrame(
        [
            (1, "call 212-555-1234 now", "ok", "secret-a"),
            (2, "ssn 123-45-6789", "fine", "secret-b"),
        ],
        "id long, note string, clean string, internal string",
    )
    register_masked_view(
        spark, df, "masked_v", ["note"], drop_cols=["internal"]
    )
    rows = {r.id: r for r in spark.sql("SELECT * FROM masked_v").collect()}
    assert "columns" not in rows[1].asDict() or True
    assert "internal" not in rows[1].asDict()
    assert "212-555-1234" not in rows[1].note and "###" in rows[1].note
    assert "123-45-6789" not in rows[2].note and "###" in rows[2].note
    assert rows[1].clean == "ok"

    got = spark.sql("SELECT id FROM masked_v WHERE id = 2").collect()
    assert [r.id for r in got] == [2]


def test_register_masked_view_rejects_unknown_columns(spark):
    """A typo in mask_cols/drop_cols must raise, not silently expose
    unmasked PII through the governance view."""
    import pytest

    from rtdl_spark.catalog import register_masked_view

    df = spark.createDataFrame(
        [(1, "ssn 123-45-6789")], "id long, note string"
    )
    with pytest.raises(ValueError, match="notes"):
        register_masked_view(spark, df, "masked_bad_v", ["notes"])
    with pytest.raises(ValueError, match="internal"):
        register_masked_view(
            spark, df, "masked_bad_v", ["note"], drop_cols=["internal"]
        )


def test_materialized_agg_view_incremental_and_rebuild(spark, tmp_path):
    """MaterializedAggView over a Delta source: first refresh builds,
    append-only refreshes fold ONLY the delta (and equal a full
    recompute), an overwrite commit forces a rebuild, and vacuuming the
    view leaves only the live state files."""
    import os

    from rtdl_spark.operators.matview import MaterializedAggView
    from rtdl_spark.sources.delta_reader import snapshot_state
    from rtdl_spark.sources.delta_writer import (
        vacuum_delta_native,
        write_delta_native,
    )

    src, view = str(tmp_path / "fact"), str(tmp_path / "mv")
    mv = MaterializedAggView(
        spark, src, view, ["k"], {"total": "val", "wide": "val * 2"}
    )

    def write(rows, mode="append"):
        write_delta_native(
            spark, spark.createDataFrame(rows, "k string, val long"), src,
            mode=mode,
        )

    def recompute():
        return {
            (r.k): (r.total, r.wide, r.n)
            for r in read_delta_native(spark, src)
            .groupBy("k")
            .agg(
                F.sum("val").alias("total"),
                F.sum(F.expr("val * 2")).alias("wide"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        }

    write([("a", 1), ("b", 2)])
    v1 = mv.refresh()
    assert {(r.k): (r.total, r.wide, r.n) for r in mv.frame().collect()} == recompute()

    write([("b", 10), ("c", 5)])
    v2 = mv.refresh()
    assert v2 > v1
    assert {(r.k): (r.total, r.wide, r.n) for r in mv.frame().collect()} == recompute()
    # idempotent when current
    assert mv.refresh() == v2
    assert mv.refreshed_version() == v2

    # overwrite invalidates increments -> rebuild still correct
    write([("z", 7), ("z", 3)], mode="overwrite")
    mv.refresh()
    got = {(r.k): (r.total, r.wide, r.n) for r in mv.frame().collect()}
    assert got == recompute() == {"z": (10, 20, 2)}

    vacuum_delta_native(spark, view, retain_ms=0)
    _, live, _ = snapshot_state(spark, view)
    on_disk = sorted(
        os.path.relpath(os.path.join(d, f), view)
        for d, _, fs in os.walk(view)
        if "_delta_log" not in d
        for f in fs
        if f.endswith(".parquet")
    )
    assert on_disk == sorted(p for p, _ in live)


def test_materialized_agg_view_mixed_commits(spark, tmp_path, monkeypatch):
    """Refresh across commits that are not plain appends: an OPTIMIZE
    commit (only dataChange=false actions) stays on the incremental
    path, a DELETE commit forces the full recompute, and in both cases
    the view equals a fresh groupBy over the source."""
    from rtdl_spark.operators import matview
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
        optimize_delta_native,
        write_delta_native,
    )

    src, view = str(tmp_path / "fact"), str(tmp_path / "mv")
    mv = matview.MaterializedAggView(spark, src, view, ["k"], {"total": "val"})
    calls = []

    def spy(name):
        real = getattr(matview, name)

        def wrapped(spark_, table_dir, *a, **kw):
            calls.append((name, table_dir.rstrip("/")))
            return real(spark_, table_dir, *a, **kw)

        monkeypatch.setattr(matview, name, wrapped)

    spy("read_table_changes_cdf")
    spy("read_delta_native")

    def write(rows):
        write_delta_native(
            spark, spark.createDataFrame(rows, "k string, val long"), src
        )

    def fresh():
        return {
            r.k: (r.total, r.n)
            for r in read_delta_native(spark, src)
            .groupBy("k")
            .agg(F.sum("val").alias("total"), F.count(F.lit(1)).alias("n"))
            .collect()
        }

    def current():
        return {r.k: (r.total, r.n) for r in mv.frame().collect()}

    write([("a", 1), ("b", 2)])
    mv.refresh()
    write([("a", 3), ("c", 4)])
    write([("b", 5)])
    before = mv.refreshed_version()
    optimize_delta_native(spark, src, target_file_bytes=1 << 30)
    write([("c", 6)])
    # the range holds the OPTIMIZE commit: its dataChange=false swap adds
    # no rows, so the refresh folds only the appends' inserts
    ops = [h["operation"] for h in delta_history(spark, src)[before + 1:]]
    assert "OPTIMIZE" in ops

    calls.clear()
    mv.refresh()
    assert ("read_table_changes_cdf", src) in calls
    assert ("read_delta_native", src) not in calls
    assert current() == fresh()

    delete_where_delta_native(spark, src, "k = 'a'")
    write([("d", 7)])
    calls.clear()
    target = mv.refresh()
    assert ("read_table_changes_cdf", src) not in calls
    assert ("read_delta_native", src) in calls
    assert target == mv.refreshed_version()
    assert current() == fresh()
    assert "a" not in current()


def test_delete_by_keys_rewrites_only_affected_files(spark, tmp_path):
    """GDPR-style targeted delete: only files containing a target key are
    rewritten (mtimes of every other file are untouched), the purged
    rows are gone and every survivor row remains byte-identical, the
    partitioned table still reads cleanly afterwards, and re-running the
    same delete is an idempotent no-op."""
    import os
    import time

    from rtdl_spark.operators.merge import delete_by_keys

    root = str(tmp_path / "tbl")
    # 3 partitions × 4 files each; user_id spread so targets live in a
    # known subset of files
    df = spark.range(1200).select(
        F.col("id").alias("row_id"),
        (F.col("id") % 100).alias("user_id"),
        (F.col("id") % 3).cast("string").alias("p"),
        (F.col("id") * 7).alias("payload"),
    )
    df.repartition(4, "row_id").write.partitionBy("p").parquet(root)

    before = {
        r["row_id"]: (r["user_id"], r["payload"], r["p"])
        for r in spark.read.parquet(root).collect()
    }
    files_before = {
        os.path.join(dp, f): os.path.getmtime(os.path.join(dp, f))
        for dp, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    }

    targets = spark.createDataFrame([(7,), (42,)], "user_id long")
    time.sleep(0.05)
    out = delete_by_keys(spark, root, targets, "user_id")
    assert out["rows_deleted"] == sum(
        1 for uid, _, _ in before.values() if uid in (7, 42)
    )
    assert 0 < out["files_rewritten"] <= out["files_scanned"]

    after = {
        r["row_id"]: (r["user_id"], r["payload"], r["p"])
        for r in spark.read.parquet(root).collect()
    }
    assert set(after) == {
        rid for rid, (uid, _, _) in before.items() if uid not in (7, 42)
    }
    assert all(after[rid] == before[rid] for rid in after)

    # untouched files really untouched (same path, same mtime)
    files_after = {
        os.path.join(dp, f): os.path.getmtime(os.path.join(dp, f))
        for dp, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    }
    untouched = set(files_before) & set(files_after)
    assert untouched and all(
        files_before[f] == files_after[f] for f in untouched
    )
    assert len(files_before) - len(
        set(files_before) & set(files_after)
    ) == out["files_rewritten"]

    # idempotent: the second run finds nothing to rewrite
    again = delete_by_keys(spark, root, targets, "user_id")
    assert again["files_rewritten"] == 0 and again["rows_deleted"] == 0


def test_delete_by_keys_constant_job_count_and_recovery(spark, tmp_path):
    """The 100 TB contract: a scatter-keyed delete touching MANY files
    costs the same constant number of Spark jobs as one touching few
    (the rewrite is ONE distributed pass + driver-side FS metadata
    swaps, not a per-file job loop), and the rename-before-delete swap
    order means a crash between the two leaves a recoverable (never
    lossy) state: re-running completes the job exactly once."""
    import os

    from rtdl_spark.operators.merge import delete_by_keys
    from rtdl_spark.sources import fsutil

    def build(root: str, n_files: int) -> None:
        df = spark.range(2000).select(
            F.col("id").alias("row_id"),
            (F.col("id") % 50).alias("user_id"),
            (F.col("id") * 3).alias("payload"),
        )
        df.repartition(n_files, "row_id").write.parquet(root)

    def jobs_used(root: str, targets) -> int:
        # count ALL job ids allocated during the call (the scheduler's
        # next-job counter is a plain monotonically increasing int)
        before_all = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
        delete_by_keys(spark, root, targets, "user_id")
        after_all = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
        return after_all - before_all

    # scatter key: user_id = id % 50 appears in EVERY file
    few_root = str(tmp_path / "few")
    many_root = str(tmp_path / "many")
    build(few_root, 2)
    build(many_root, 24)
    t1 = spark.createDataFrame([(7,)], "user_id long")
    n_few = jobs_used(few_root, t1)
    t2 = spark.createDataFrame([(9,)], "user_id long")
    n_many = jobs_used(many_root, t2)
    assert n_many == n_few, (n_few, n_many)
    assert spark.read.parquet(many_root).filter("user_id = 9").count() == 0
    assert spark.read.parquet(many_root).count() == 2000 - 40

    # crash-window recovery: simulate "renamed the staged survivors in,
    # crashed before deleting the original" — both files coexist
    # (documented transient double-count); a re-run must converge to the
    # exact survivor set, no loss, no duplicates.
    root = str(tmp_path / "crash")
    build(root, 4)
    files = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet") and not f.startswith("purged-")
    )
    victim = files[0]
    # hand-craft the committed-rename state for one file
    one = spark.read.parquet(victim)
    surv = one.filter("user_id <> 11")
    staged = str(tmp_path / "stage_one")
    surv.coalesce(1).write.parquet(staged)
    part = [f for f in os.listdir(staged) if f.endswith(".parquet")][0]
    final = os.path.join(
        os.path.dirname(victim), "purged-" + os.path.basename(victim)
    )
    fsutil.rename(spark, os.path.join(staged, part), final)
    # original still present: table transiently double-counts survivors
    t3 = spark.createDataFrame([(11,)], "user_id long")
    delete_by_keys(spark, root, t3, "user_id")
    got = spark.read.parquet(root)
    assert got.filter("user_id = 11").count() == 0
    rest = got.groupBy("row_id").count().filter("count > 1").count()
    assert rest == 0, "duplicated survivors after recovery"
    assert got.count() == 2000 - 40
