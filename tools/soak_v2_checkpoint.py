"""V2 (UUID-named) checkpoint WRITE soak at >=50k active files — the
round-8 extension of tools/soak_delta_scale.py's control-plane gate.

Same fabrication trick (1 real parquet file hard-linked N times behind a
genuine commit 0), then:

1. write_checkpoint_native(layout="v2", sidecar_parts=4) — on local
   disk the add set is the driver snapshot, written to the sidecars with
   pyarrow (driver allocations, measured with tracemalloc, are those of
   snapshot_actions); on remote storage it flows into them as a
   DataFrame.
2. delete the JSON tail at/below the checkpoint: every subsequent plan
   goes through the top-level + sidecars.
3. snapshot_adds_frame planning wall + driver allocations (must stay
   O(tail), the sidecars scanned distributed).
4. one real append — the streaming-sink path on a v2-checkpointed
   table must not pay O(N) per micro-batch.

Usage: python tools/soak_v2_checkpoint.py [--files 50000]
Transfer the printed cells to SCALE.md.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
import tracemalloc

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_files = 50_000
    if "--files" in sys.argv:
        n_files = int(sys.argv[sys.argv.index("--files") + 1])

    import tempfile

    from pyspark.sql import functions as F

    from rtdl_spark.session import get_spark
    from rtdl_spark.sources.delta_reader import (
        read_delta_native,
        snapshot_adds_frame,
    )
    from rtdl_spark.sources.delta_writer import (
        write_checkpoint_native,
        write_delta_native,
    )

    spark = get_spark(app_name="soak-v2-checkpoint")
    work = tempfile.mkdtemp(prefix="soak_v2ck_")
    root = os.path.join(work, "table")
    os.makedirs(root)

    def timed(label, fn, trace=False):
        if trace:
            tracemalloc.start()
        t0 = time.time()
        out = fn()
        wall = time.time() - t0
        peak = None
        if trace:
            _cur, peak = tracemalloc.get_traced_memory()
            tracemalloc.stop()
        print(
            f"  {label}: {wall:.2f}s"
            + (f", driver-python peak {peak / 1e6:.1f} MB" if trace else "")
        )
        return out, wall, peak

    seed_dir = os.path.join(work, "seed")
    df = spark.range(0, 100).select("id", (F.col("id") * 3).alias("v"))
    df.coalesce(1).write.parquet(seed_dir)
    seed = next(
        os.path.join(seed_dir, f)
        for f in os.listdir(seed_dir)
        if f.endswith(".parquet")
    )
    size = os.path.getsize(seed)
    t0 = time.time()
    names = [f"f{i:06d}.parquet" for i in range(n_files)]
    for name in names:
        os.link(seed, os.path.join(root, name))
    print(f"  fabricate: {n_files} hard links in {time.time() - t0:.2f}s")

    log = os.path.join(root, "_delta_log")
    os.makedirs(log)
    ts = int(time.time() * 1000)
    with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {
            "timestamp": ts, "operation": "WRITE"}}) + "\n")
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["v2Checkpoint"],
            "writerFeatures": ["v2Checkpoint", "appendOnly",
                               "invariants"]}}) + "\n")
        f.write(json.dumps({"metaData": {
            "id": "soak-v2ck-table",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": df.schema.json(),
            "partitionColumns": [],
            "configuration": {},
            "createdTime": ts,
        }}) + "\n")
        for name in names:
            f.write(json.dumps({"add": {
                "path": name, "partitionValues": {}, "size": size,
                "modificationTime": ts, "dataChange": True,
                "stats": json.dumps({"numRecords": 100}),
            }}, separators=(",", ":")) + "\n")

    print(f"cell 1: V2 checkpoint write at {n_files} files, 4 sidecars")
    (cv, _w, _p) = timed(
        "write_checkpoint_native(layout=v2, sidecar_parts=4)",
        lambda: write_checkpoint_native(
            spark, root, layout="v2", sidecar_parts=4
        ),
        trace=True,
    )
    sidecars = glob.glob(os.path.join(log, "_sidecars", "*.parquet"))
    print(f"  sidecar files: {len(sidecars)}")

    print("cell 2: JSON tail deleted — plans go through the v2 layout")
    for p in glob.glob(os.path.join(log, "*.json")):
        if int(os.path.basename(p).split(".")[0]) <= cv:
            os.remove(p)

    print("cell 3: snapshot_adds_frame planning through sidecars")
    (res, _w, _p) = timed(
        "snapshot_adds_frame",
        lambda: snapshot_adds_frame(spark, root),
        trace=True,
    )
    n = res[2].count()
    print(f"  active adds via sidecars: {n}")
    assert n == n_files

    print("cell 4: one real append on the v2-checkpointed table")
    timed(
        "write_delta_native(append)",
        lambda: write_delta_native(
            spark,
            spark.range(1000, 1010).select(
                "id", (F.col("id") * 3).alias("v")
            ),
            root,
        ),
        trace=True,
    )
    got = read_delta_native(spark, root)
    assert got.where("id >= 1000").count() == 10

    import shutil

    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
