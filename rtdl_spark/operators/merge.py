"""Upsert (MERGE) and SCD2 emulation over parquet — the CDC surface of the
lake (guide: 'CDC / SCD2 → MERGE INTO (needs Delta; emulate with anti-join
+ union + window)').

With Delta on the classpath, ``MERGE INTO`` does this transactionally; the
parquet emulation here has the same dataflow shape (broadcast-able
anti-join + union) and is what foreachBatch upserts compile to on a plain
parquet lake. At 100 TB you partition the target and rewrite only the
partitions that received updates (see rewrite_changed_partitions)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def merge_upsert(target: DataFrame, source: DataFrame, keys: list[str]) -> DataFrame:
    """Classic upsert: source rows win on key collision, target rows
    survive otherwise. Equivalent to
    MERGE INTO target USING source ON keys WHEN MATCHED UPDATE * WHEN NOT
    MATCHED INSERT *."""
    untouched = target.join(source.select(*keys), keys, "left_anti")
    return untouched.unionByName(source)


def dedup_latest(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Keep the newest version per key (CDC compaction): one window shuffle
    on the key, descending by version/time with a deterministic tiebreak."""
    w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def scd2_apply(
    current: DataFrame,
    updates: DataFrame,
    keys: list[str],
    effective_col: str = "effective_from",
    end_col: str = "effective_to",
    current_flag: str = "is_current",
) -> DataFrame:
    """Slowly-changing-dimension type 2: close out changed current rows
    (end-date them) and append the new versions as current."""
    upd_keys = updates.select(*keys, F.col(effective_col).alias("_new_from"))
    closed = (
        current.join(F.broadcast(upd_keys), keys, "inner")
        .filter(F.col(current_flag))
        .withColumn(end_col, F.col("_new_from"))
        .withColumn(current_flag, F.lit(False))
        .drop("_new_from")
    )
    unchanged = current.join(upd_keys.select(*keys), keys, "left_anti")
    new_rows = updates.withColumn(end_col, F.lit(None).cast("timestamp")).withColumn(
        current_flag, F.lit(True)
    )
    return unchanged.unionByName(closed).unionByName(new_rows)


def merge_aggregates(
    prior: DataFrame,
    delta: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    count_col: str = "n",
) -> DataFrame:
    """Incremental rollup maintenance — the materialized-view refresh
    pattern: a persisted per-key aggregate table absorbs a new batch's
    PARTIAL aggregate instead of recomputing from all history. Works for
    any algebraically mergeable aggregate (sum/count here; min/max the
    same way); avg/stddev derive from merged sums downstream.

    Scale shape: the delta is batch-sized and its partial agg tiny —
    the merge is one full-outer join on the rollup key + coalesced adds;
    the history's raw events are never re-read. This is exactly what a
    foreachBatch maintains against a lake rollup table at 100 TB:
    refresh cost tracks the BATCH, not the table.
    """
    d = delta.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"_d_{c}") for c in sum_cols],
        F.col(count_col).alias("_d_n"),
    )
    merged = prior.join(d, keys, "full_outer")
    return merged.select(
        *[F.col(k) for k in keys],
        *[
            (
                F.coalesce(F.col(c), F.lit(0))
                + F.coalesce(F.col(f"_d_{c}"), F.lit(0))
            ).alias(c)
            for c in sum_cols
        ],
        (
            F.coalesce(F.col(count_col), F.lit(0))
            + F.coalesce(F.col("_d_n"), F.lit(0))
        ).alias(count_col),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Classify every key across two table snapshots as added / removed /
    changed / unchanged — the audit/CDC-extraction twin of merge_upsert
    (diff two loads, emit only the delta downstream).

    One full-outer sort-merge join on the key; on a partitioned/bucketed
    lake table the exchange is pruned to co-partitioned reads, so diffing
    two 100 TB snapshots moves each row once. Value comparison is
    null-safe column equality (IS NOT DISTINCT FROM), never string/hash
    round-trips — engine-portable and collision-free.

    Output: key columns + change_type.
    """
    if compare_cols is None:
        compare_cols = [c for c in new.columns if c not in keys]
    o = old.select(
        *keys, *compare_cols, F.lit(True).alias("_in_old")
    ).alias("o")
    n = new.select(
        *keys, *compare_cols, F.lit(True).alias("_in_new")
    ).alias("n")
    same = None
    for c in compare_cols:
        eq = F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        same = eq if same is None else (same & eq)
    joined = o.join(n, keys, "full_outer")
    return joined.select(
        *keys,
        F.when(F.col("o._in_old").isNull(), F.lit("added"))
        .when(F.col("n._in_new").isNull(), F.lit("removed"))
        .when(same if same is not None else F.lit(True), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("change_type"),
    )


def delta_table_changes(
    spark,
    table_dir: str,
    from_version: int,
    to_version: int | None = None,
    keys: list[str] | None = None,
    mode: str = "keyed",
) -> DataFrame:
    """Change feed between two NATIVE Delta versions WITHOUT the CDF
    writer feature (writer v4, which this engine refuses by name):
    the versions are time-travel reads, diffed.

    mode="keyed" (the 100 TB path): one full-outer join on ``keys``
    classifying added / removed / changed / unchanged — each snapshot's
    rows move once, co-partitioned reads prune the exchange on a
    partitioned table (snapshot_diff's plan). mode="rows": the EXACT
    multiset diff (exceptAll both ways → insert/delete rows) — row-level
    fidelity with no key assumption, at the cost of a full-width
    shuffle; right for audits, wrong for a petabyte.

    Honest divergence from real CDF: CDF records row changes AS WRITTEN
    (update_preimage/postimage) from per-commit change files; a
    version-diff cannot distinguish an update from a delete+insert of
    the same key, and vacuumed history obviously cannot be diffed.
    """
    from rtdl_spark.sources.delta_reader import read_delta_native

    old = read_delta_native(spark, table_dir, version=from_version)
    new = read_delta_native(spark, table_dir, version=to_version)
    if mode == "keyed":
        if not keys:
            raise ValueError("mode='keyed' needs key columns")
        return snapshot_diff(old, new, keys)
    if mode != "rows":
        raise ValueError(f"mode must be keyed|rows, got {mode!r}")
    ins = new.exceptAll(old).withColumn("change_type", F.lit("insert"))
    dels = old.exceptAll(new).withColumn("change_type", F.lit("delete"))
    return ins.unionByName(dels)


def overwrite_partitions_dynamic(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Partition-scoped overwrite (INSERT OVERWRITE ... PARTITION dynamic):
    replace ONLY the partitions present in ``df``, leave every other
    partition untouched — the idempotent backfill/restatement primitive
    (re-running a day's pipeline rewrites that day, never the table).

    Uses Spark's native dynamic partitionOverwriteMode: the writer stages
    new files per touched partition and commits by directory swap, so a
    failed job never leaves a partially-deleted table (static mode would
    first truncate the whole root). The conf is set per-write here and
    restored, not assumed session-wide."""
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "STATIC")
    spark.conf.set(key, "dynamic")
    try:
        (
            df.write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(path)
        )
    finally:
        spark.conf.set(key, prev)


def delete_by_keys(
    spark,
    table_dir: str,
    keys: DataFrame,
    key_col: str,
) -> dict:
    """Targeted physical delete (GDPR / right-to-be-forgotten): purge all
    rows whose ``key_col`` appears in ``keys`` by rewriting ONLY the
    parquet files that actually contain a matching row — at 100 TB the
    delete set touches a tiny fraction of files, and untouched files are
    neither rewritten nor fully read.

    Three phases, a CONSTANT number of Spark jobs regardless of how many
    files are affected (a scatter-keyed delete touching thousands of
    files costs the same four jobs as a clustered one touching two —
    pinned by test):
    0. FREEZE — materialize the key set once (localCheckpoint) so a
       ``keys`` frame derived from the very table being rewritten cannot
       be silently re-evaluated mid-run against already-mutated files.
       The key set is driver-bounded by definition (a delete request),
       so the subsequent broadcast is safe.
    1. IDENTIFY — scan just (key_col, _metadata.file_path) (column
       pruning keeps this a one-narrow-column pass), broadcast semi-join
       the delete keys, and aggregate per-file match counts: one job
       yields the affected-file list AND rows_deleted.
    2. REWRITE — ONE distributed job over all affected files: explicit
       file-list scan (physical columns only, so directory-derived
       partition values are not duplicated into the data schema),
       anti-join the keys once, tag each row with its source file's id
       (broadcast file→id map), and write every file's survivors in a
       single ``partitionBy(file id)`` pass to a staging root inside the
       table ("_"-prefixed, so Spark's file listing never surfaces
       in-flight state to concurrent readers).
    3. SWAP — driver-side filesystem METADATA ops only (no Spark jobs):
       per affected file, rename its staged survivor parquet to a
       DETERMINISTIC final name ("purged-" + original name) in the
       original directory FIRST, then delete the original. Crash
       recovery is exact: a re-run skips the rename when the final name
       already exists (the write committed; only the delete is owed), so
       no ordering of crash points loses survivor rows or duplicates
       them — unlike delete-then-rename, where a crash in the gap
       strands survivors in the staging dir.

    Returns {"files_scanned", "files_rewritten", "rows_deleted"}.
    Caveats: file-level atomicity only (readers can observe a partially
    deleted table mid-run — use delete_where_delta_native on a Delta
    table for snapshot semantics); partition directory values are preserved because each
    surviving row is written back to its source file's directory.
    """
    import os
    import posixpath

    from rtdl_spark.sources import fsutil

    # phase 0: freeze the delete set (one job; truncates lineage so the
    # broadcast below can never re-read a mutated source)
    frozen = keys.select(F.col(key_col)).distinct().localCheckpoint(eager=True)
    k = F.broadcast(frozen)

    base = spark.read.option("basePath", table_dir).parquet(table_dir)
    n_total_files = base.select(
        F.col("_metadata.file_path")
    ).distinct().count()
    # phase 1: affected files + per-file match counts in ONE pass
    per_file = (
        base.select(F.col(key_col), F.col("_metadata.file_path").alias("fp"))
        .join(k, key_col, "semi")
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("matches"))
        .collect()
    )
    affected = sorted(r["fp"] for r in per_file)
    rows_deleted = int(sum(r["matches"] for r in per_file))
    if not affected:
        return {
            "files_scanned": n_total_files,
            "files_rewritten": 0,
            "rows_deleted": 0,
        }

    def _local(fp: str) -> str:
        return fp[7:] if fp.startswith("file://") else fp

    staging = posixpath.join(table_dir, "_rtdl_delete_stage")
    fsutil.delete(spark, staging)
    # phase 2: one distributed rewrite over ALL affected files
    fmap = F.broadcast(
        spark.createDataFrame(
            [(fp, i) for i, fp in enumerate(affected)], "_fp string, _fid int"
        )
    )
    aff = spark.read.parquet(*[_local(fp) for fp in affected])
    survivors = (
        aff.withColumn("_fp", F.col("_metadata.file_path"))
        .join(k, key_col, "anti")
        .join(fmap, "_fp", "inner")
        .drop("_fp")
    )
    # repartition on the file id: each id lands in exactly one task, so
    # partitionBy writes exactly one survivor parquet per original file
    (
        survivors.repartition("_fid")
        .write.partitionBy("_fid")
        .mode("overwrite")
        .parquet(staging)
    )
    # phase 3: batched swap — pure FS metadata ops, zero Spark jobs
    for i, fp in enumerate(affected):
        local = _local(fp)
        final = os.path.join(
            os.path.dirname(local), "purged-" + os.path.basename(local)
        )
        part_dir = posixpath.join(staging, f"_fid={i}")
        staged_parts = [
            f for f in fsutil.list_names(spark, part_dir)
            if f.endswith(".parquet")
        ]
        if staged_parts and not fsutil.exists(spark, final):
            fsutil.rename(
                spark, posixpath.join(part_dir, staged_parts[0]), final
            )
        fsutil.delete(spark, local)
    fsutil.delete(spark, staging)
    return {
        "files_scanned": n_total_files,
        "files_rewritten": len(affected),
        "rows_deleted": rows_deleted,
    }
