"""Delta CONTROL-PLANE soak at >=50k active files (the r5 verdict's
scale gate for calling the native Delta stack 100 TB-ready).

The point is planning cost, not data volume: a 100 TB table is millions
of files whose *log* must stay cheap to plan against. So the table here
is fabricated — one real parquet data file hard-linked N times, with a
genuine commit 0 carrying N add actions — which makes a 50k-file table
in seconds while keeping every byte of the log and checkpoint REAL (the
checkpoint is written by write_checkpoint_native itself).

Each cell is timed untraced, then run a second time under tracemalloc for
its driver-side Python allocation peak (state the first run changed is
put back in between), so the wall times are not tracing figures.

Cells:
1. checkpoint WRITE at N files — on local disk the add set is the
   driver snapshot, written with pyarrow; on remote storage it flows
   checkpoint->parquet as a DataFrame.
2. snapshot_actions vs snapshot_control vs snapshot_adds_frame planning
   wall + driver-side Python allocations. control/frame must be FLAT
   (O(tail)), actions is the O(N) scan-planning baseline.
3. one real append through write_delta_native — the streaming-sink path
   must not pay O(N) per micro-batch.
4. distributed vacuum: 20%% of the files unreferenced by a fabricated
   remove commit, reaped by vacuum_delta_native_distributed (executors
   delete; driver holds only bounded listing chunks).

Usage: python tools/soak_delta_scale.py [--files 50000]
Transfer the printed cells to SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
import tracemalloc
from urllib.parse import unquote

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
        snapshot_actions,
        snapshot_adds_frame,
        snapshot_control,
    )
    from rtdl_spark.sources.delta_writer import (
        vacuum_delta_native_distributed,
        write_checkpoint_native,
        write_delta_native,
    )

    spark = get_spark(app_name="soak-delta-scale")
    work = tempfile.mkdtemp(prefix="soak_delta_scale_")
    root = os.path.join(work, "table")
    os.makedirs(root)

    def timed(label, fn, trace=False, reset=None):
        """Run ``fn`` untraced for its wall time; with ``trace``, run it
        again under tracemalloc for the driver-Python peak, after
        ``reset(out)`` has undone what the first run changed. Tracing
        slows allocation-heavy calls up to tenfold, so a traced run's
        wall would measure the tracing, not the call."""
        t0 = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
        peak = None
        if trace:
            if reset is not None:
                reset(out)
            tracemalloc.start()
            try:
                fn()
                peak = tracemalloc.get_traced_memory()[1]
            finally:
                tracemalloc.stop()
        print(
            f"  {label}: {wall:.2f}s"
            + (f", driver-python peak {peak / 1e6:.1f} MB" if trace else "")
        )
        return out, wall, peak

    # --- fabricate the table: 1 real parquet file, N hard links, real log
    seed_dir = os.path.join(work, "seed")
    df = spark.range(0, 100).select(
        "id", (F.col("id") * 3).alias("v")
    )
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
        f.write(json.dumps({"commitInfo": {"timestamp": ts, "operation": "WRITE"}}) + "\n")
        f.write(json.dumps({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}) + "\n")
        f.write(
            json.dumps(
                {
                    "metaData": {
                        "id": "soak-scale-table",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": df.schema.json(),
                        "partitionColumns": [],
                        "configuration": {},
                        "createdTime": ts,
                    }
                }
            )
            + "\n"
        )
        for name in names:
            f.write(
                json.dumps(
                    {
                        "add": {
                            "path": name,
                            "partitionValues": {},
                            "size": size,
                            "modificationTime": ts,
                            "dataChange": True,
                            "stats": json.dumps({"numRecords": 100}),
                        }
                    },
                    separators=(",", ":"),
                )
                + "\n"
            )

    def undo_checkpoint():
        """Reset for a checkpoint cell: drop the checkpoint it wrote and
        put back the ``_last_checkpoint`` it replaced."""
        last = os.path.join(log, "_last_checkpoint")
        prior = open(last).read() if os.path.exists(last) else None

        def reset(version):
            os.remove(os.path.join(log, f"{version:020d}.checkpoint.parquet"))
            if prior is None:
                os.remove(last)
            else:
                with open(last, "w") as f:
                    f.write(prior)

        return reset

    print(f"cell 1: checkpoint write at {n_files} files")
    timed(
        "write_checkpoint_native",
        lambda: write_checkpoint_native(spark, root),
        trace=True,
        reset=undo_checkpoint(),
    )

    print("cell 2: snapshot planning after the checkpoint")
    (_, w_actions, m_actions) = timed(
        "snapshot_actions (full, O(N) scan planning)",
        lambda: snapshot_actions(spark, root),
        trace=True,
    )
    (_, w_ctl, m_ctl) = timed(
        "snapshot_control (flat)", lambda: snapshot_control(spark, root), trace=True
    )
    (_, w_frame, m_frame) = timed(
        "snapshot_adds_frame (flat; frame stays distributed)",
        lambda: snapshot_adds_frame(spark, root),
        trace=True,
    )
    ratio = (m_actions or 1) / max(m_ctl or 1, 1)
    print(f"  driver-memory ratio actions/control: {ratio:.0f}x")

    def undo_append(version):
        """Reset for the append cell: drop its commit and the data files
        it added (left behind, vacuum would count them in cell 4)."""
        commit = os.path.join(log, f"{version:020d}.json")
        with open(commit) as f:
            for line in f:
                add = json.loads(line).get("add")
                if add:
                    os.remove(os.path.join(root, unquote(add["path"])))
        os.remove(commit)

    print("cell 3: one real append (the streaming-sink path)")
    extra = spark.range(1000, 1010).select("id", (F.col("id") * 3).alias("v"))
    timed(
        "write_delta_native append",
        lambda: write_delta_native(spark, extra, root, checkpoint_interval=0),
        trace=True,
        reset=undo_append,
    )
    timed(
        "write_checkpoint_native (from prior checkpoint)",
        lambda: write_checkpoint_native(spark, root),
        trace=True,
        reset=undo_checkpoint(),
    )

    n_remove = n_files // 5
    print(f"cell 4: distributed vacuum of {n_remove} unreferenced files")
    versions = sorted(
        int(n.split(".")[0]) for n in os.listdir(log) if n.endswith(".json")
    )
    nxt = versions[-1] + 1
    ts2 = int(time.time() * 1000)
    with open(os.path.join(log, f"{nxt:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {"timestamp": ts2, "operation": "DELETE"}}) + "\n")
        for name in names[:n_remove]:
            f.write(
                json.dumps(
                    {
                        "remove": {
                            "path": name,
                            "deletionTimestamp": ts2,
                            "dataChange": True,
                        }
                    },
                    separators=(",", ":"),
                )
                + "\n"
            )
    (reaped, w_vac, m_vac) = timed(
        "vacuum_delta_native_distributed(retain_ms=0)",
        lambda: vacuum_delta_native_distributed(spark, root, retain_ms=0),
        trace=True,
        reset=lambda _n: [
            os.link(seed, os.path.join(root, name)) for name in names[:n_remove]
        ],
    )
    assert reaped == n_remove, (reaped, n_remove)
    gone = sum(
        1 for name in names[:n_remove] if os.path.exists(os.path.join(root, name))
    )
    kept = sum(
        1 for name in names[n_remove:] if os.path.exists(os.path.join(root, name))
    )
    assert gone == 0 and kept == n_files - n_remove, (gone, kept)
    print(f"  reaped {reaped}, active survivors intact ({kept})")

    sample = read_delta_native(spark, root).limit(5).count()
    assert sample == 5
    print("  post-vacuum table readable")

    import shutil

    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
