"""Round-5 soak: delete_by_keys at 10M rows (clustered vs scatter-keyed
layouts — quantifying the sequential cliff the r4 verdict flagged and the
distributed rewrite's win) and MaterializedAggView incremental refresh vs
full rebuild at 100+ source versions.

Usage: python tools/soak_r5.py [--rows 10000000] [--versions 120]
Writes human-readable timings to stdout; transfer the cells to SCALE.md.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    rows = 10_000_000
    versions = 120
    if "--rows" in sys.argv:
        rows = int(sys.argv[sys.argv.index("--rows") + 1])
    if "--versions" in sys.argv:
        versions = int(sys.argv[sys.argv.index("--versions") + 1])

    from pyspark.sql import functions as F

    from rtdl_spark.operators.matview import MaterializedAggView
    from rtdl_spark.operators.merge import delete_by_keys
    from rtdl_spark.session import get_spark
    from rtdl_spark.sources.delta_writer import (
        vacuum_delta_native,
        write_delta_native,
    )

    spark = get_spark("rtdl_spark_soak_r5")
    spark.sparkContext.setLogLevel("ERROR")

    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="soak_r5_", dir=shm)
    print(f"workdir={work} rows={rows} versions={versions} "
          f"load1={os.getloadavg()[0]:.1f}")

    def jobs_and_time(fn):
        before = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        after = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
        return out, dt, after - before

    # ---- delete_by_keys: clustered vs scatter, same 10M-row table -----
    base = spark.range(rows).select(
        F.col("id").alias("row_id"),
        (F.col("id") % 100_000).alias("user_id"),
        (F.col("id") % 7).cast("string").alias("p"),
        (F.col("id") * 13 % 1_000_003).alias("payload"),
    )
    n_files = 32

    for label, part_col in (("clustered", "user_id"), ("scatter", "row_id")):
        root = os.path.join(work, f"del_{label}")
        base.repartition(n_files, part_col).write.partitionBy("p").parquet(
            root
        )
        targets = spark.createDataFrame(
            [(i * 997,) for i in range(50)], "user_id long"
        )
        stats, dt, jobs = jobs_and_time(
            lambda: delete_by_keys(spark, root, targets, "user_id")
        )
        print(
            f"delete_by_keys {label}: {dt:.1f}s jobs={jobs} "
            f"files_rewritten={stats['files_rewritten']}/"
            f"{stats['files_scanned']} rows_deleted={stats['rows_deleted']}"
        )
        shutil.rmtree(root, ignore_errors=True)

    # ---- matview: incremental refresh vs rebuild at 100+ versions ----
    fact, mv_dir = os.path.join(work, "fact"), os.path.join(work, "mv")
    batch_rows = max(rows // versions, 1)
    mv = MaterializedAggView(
        spark, fact, mv_dir, keys=["k"], sum_cols={"total": "amount"}
    )
    t_append = t_refresh = 0.0
    for v in range(versions):
        batch = spark.range(batch_rows).select(
            (F.col("id") % 1000).alias("k"),
            (F.col("id") % 97).cast("double").alias("amount"),
        )
        t0 = time.perf_counter()
        write_delta_native(spark, batch.coalesce(4), fact)
        t_append += time.perf_counter() - t0
        t0 = time.perf_counter()
        mv.refresh()
        t_refresh += time.perf_counter() - t0
        vacuum_delta_native(spark, mv_dir, retain_ms=0)
    print(
        f"matview: {versions} append+refresh cycles "
        f"({batch_rows} rows each): append_total={t_append:.1f}s "
        f"refresh_total={t_refresh:.1f}s "
        f"avg_refresh={t_refresh / versions:.2f}s"
    )
    # one more batch: incremental vs full recompute on the same state
    batch = spark.range(batch_rows).select(
        (F.col("id") % 1000).alias("k"),
        (F.col("id") % 97).cast("double").alias("amount"),
    )
    write_delta_native(spark, batch.coalesce(4), fact)
    _, dt_inc, _ = jobs_and_time(mv.refresh)
    # force the rebuild path: a new view over the full history
    mv2 = MaterializedAggView(
        spark, fact, os.path.join(work, "mv2"), keys=["k"],
        sum_cols={"total": "amount"},
    )
    _, dt_full, _ = jobs_and_time(mv2.refresh)
    print(
        f"matview at {versions + 1} versions / {rows + batch_rows} rows: "
        f"incremental_refresh={dt_inc:.2f}s full_rebuild={dt_full:.2f}s "
        f"ratio={dt_full / max(dt_inc, 1e-9):.1f}x"
    )
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
