"""Native Delta log WRITER tests (sources/delta_writer.py): tables are
written with no delta-spark anywhere, then verified both through the
native log-replay reader AND by inspecting the raw protocol artifacts
(JSON commit actions, checkpoint parquet, _last_checkpoint) — the writer
must emit the PUBLIC protocol, not merely something its own reader
accepts. The gated test_gated.py delta test exercises the real package
whenever an image ships it; this suite proves the A18 WRITE path works
today."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from rtdl_spark.sources.delta_reader import (
    delta_history,
    read_delta_native,
    snapshot_actions,
)
from rtdl_spark.sources.delta_writer import (
    DeltaConcurrentWriteError,
    optimize_delta_native,
    vacuum_delta_native,
    write_checkpoint_native,
    write_delta_native,
)


def _frame(spark, lo, hi, tag="x"):
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") * 2).alias("v"),
        F.lit(tag).alias("tag"),
    )


def _log_actions(table, version):
    path = os.path.join(table, "_delta_log", f"{version:020d}.json")
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def test_create_append_roundtrip_and_log_shape(spark, tmp_path):
    """First write creates protocol+metaData+adds; a second append only
    adds. Both versions read back exactly, history shows both commits,
    and the raw commit JSON carries the spec's required fields."""
    table = str(tmp_path / "t1")
    v0 = write_delta_native(spark, _frame(spark, 0, 10), table)
    v1 = write_delta_native(spark, _frame(spark, 10, 15), table)
    assert (v0, v1) == (0, 1)

    assert read_delta_native(spark, table, version=0).count() == 10
    got = read_delta_native(spark, table)
    assert got.count() == 15
    assert sorted(r["id"] for r in got.collect()) == list(range(15))
    assert [h["version"] for h in delta_history(spark, table)] == [0, 1]

    acts0 = _log_actions(table, 0)
    kinds0 = [next(iter(a)) for a in acts0]
    assert kinds0[0] == "commitInfo"
    assert "protocol" in kinds0 and "metaData" in kinds0
    proto = next(a["protocol"] for a in acts0 if "protocol" in a)
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}
    meta = next(a["metaData"] for a in acts0 if "metaData" in a)
    assert json.loads(meta["schemaString"])["type"] == "struct"
    adds0 = [a["add"] for a in acts0 if "add" in a]
    assert adds0 and all(
        a["dataChange"] and a["size"] > 0 and a["path"].endswith(".parquet")
        for a in adds0
    )
    # numRecords stats present and sum to the row count
    assert sum(
        json.loads(a["stats"])["numRecords"] for a in adds0
    ) == 10
    acts1 = _log_actions(table, 1)
    assert not any("metaData" in a or "protocol" in a for a in acts1)


def test_partitioned_write_layout_and_values(spark, tmp_path):
    """partitionBy produces Hive-style paths in the table root, add
    actions carry partitionValues, and the reader re-injects the
    partition column with its schema type."""
    table = str(tmp_path / "t2")
    df = spark.range(0, 20).select(
        F.col("id"), (F.col("id") % 3).cast("int").alias("bucket")
    )
    write_delta_native(spark, df, table, partition_by=["bucket"])

    assert sorted(
        d for d in os.listdir(table) if d.startswith("bucket=")
    ) == ["bucket=0", "bucket=1", "bucket=2"]
    adds = [a["add"] for a in _log_actions(table, 0) if "add" in a]
    assert {a["partitionValues"]["bucket"] for a in adds} == {"0", "1", "2"}
    assert all(a["path"].startswith("bucket=") for a in adds)

    got = read_delta_native(spark, table)
    assert dict(got.dtypes)["bucket"] == "int"
    assert got.filter("bucket = 1").count() == 7

    # appends must keep the table's partitioning (inherited when None)
    write_delta_native(spark, df, table)
    assert read_delta_native(spark, table).count() == 40
    with pytest.raises(ValueError, match="partitioning"):
        write_delta_native(spark, df, table, partition_by=[])


def test_overwrite_tombstones_and_schema_change(spark, tmp_path):
    """Overwrite removes every active file (older versions still see
    them) and may replace the schema — the new metaData keeps the table
    id per the protocol."""
    table = str(tmp_path / "t3")
    write_delta_native(spark, _frame(spark, 0, 10), table)
    meta0, = [
        a["metaData"] for a in _log_actions(table, 0) if "metaData" in a
    ]

    new = spark.range(100, 104).select(
        F.col("id"), F.lit("fresh").alias("note")
    )
    v = write_delta_native(spark, new, table, mode="overwrite")
    assert v == 1
    acts = _log_actions(table, 1)
    removes = [a["remove"] for a in acts if "remove" in a]
    assert len(removes) > 0 and all(r["dataChange"] for r in removes)
    meta1, = [a["metaData"] for a in acts if "metaData" in a]
    assert meta1["id"] == meta0["id"]  # same table, new schema

    assert read_delta_native(spark, table, version=0).count() == 10
    latest = read_delta_native(spark, table)
    assert latest.columns == ["id", "note"]
    assert latest.count() == 4

    # schema mismatch on APPEND is refused
    with pytest.raises(ValueError, match="schema mismatch"):
        write_delta_native(spark, _frame(spark, 0, 3), table)


def test_merge_schema_append_evolves_columns(spark, tmp_path):
    """Schema evolution on append: a new column is APPENDED to metaData
    in the same commit; old files null-fill it on read; a frame missing
    an existing column is fine (its new files null-fill); a type
    conflict on a shared name is refused."""
    table = str(tmp_path / "ev1")
    write_delta_native(spark, _frame(spark, 0, 5), table)

    extra = spark.range(5, 8).select(
        F.col("id"),
        (F.col("id") * 2).alias("v"),
        F.lit("x").alias("tag"),
        F.lit(1.5).alias("score"),  # NEW column
    )
    v = write_delta_native(spark, extra, table, merge_schema=True)
    assert v == 1
    meta = [a for a in _log_actions(table, 1) if "metaData" in a][0]
    fields = json.loads(meta["metaData"]["schemaString"])["fields"]
    assert [f["name"] for f in fields] == ["id", "v", "tag", "score"]
    assert fields[-1]["nullable"] is True

    got = read_delta_native(spark, table)
    assert got.columns == ["id", "v", "tag", "score"]
    assert got.filter("score IS NULL").count() == 5  # old files null-fill
    assert got.filter("score = 1.5").count() == 3

    # frame LACKING an existing NULLABLE column (score, forced nullable
    # by the evolution above): its rows null-fill that column. Lacking a
    # NON-nullable column is refused — covered by
    # test_merge_schema_refuses_dropping_non_nullable_column.
    narrow = spark.range(8, 10).select(
        F.col("id"), (F.col("id") * 2).alias("v"), F.lit("n").alias("tag")
    )
    v2 = write_delta_native(spark, narrow, table, merge_schema=True)
    # no metaData action: the schema did not change
    assert not any("metaData" in a for a in _log_actions(table, v2))
    got = read_delta_native(spark, table)
    assert got.count() == 10
    assert got.filter("id >= 8 AND score IS NULL").count() == 2

    # type conflict refused
    bad = spark.range(0, 1).select(
        F.col("id"),
        (F.col("id") * 2).alias("v"),
        F.lit("t").alias("tag"),
        F.lit("oops").alias("score"),
    )
    with pytest.raises(ValueError, match="type conflict"):
        write_delta_native(spark, bad, table, merge_schema=True)
    # without merge_schema the drift is still a hard error
    with pytest.raises(ValueError, match="schema mismatch"):
        write_delta_native(spark, narrow, table)


def test_append_only_table_blocks_overwrite(spark, tmp_path):
    """delta.appendOnly=true in an existing table's configuration must
    refuse overwrites (the protocol's writer requirement)."""
    table = str(tmp_path / "t4")
    write_delta_native(spark, _frame(spark, 0, 5), table)
    # flip the config the way a foreign writer would: new metaData commit
    meta = [a for a in _log_actions(table, 0) if "metaData" in a][0]
    meta["metaData"]["configuration"] = {"delta.appendOnly": "true"}
    with open(
        os.path.join(table, "_delta_log", f"{1:020d}.json"), "w"
    ) as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 1}}) + "\n")
        f.write(json.dumps(meta) + "\n")
    write_delta_native(spark, _frame(spark, 5, 8), table)  # append ok
    with pytest.raises(ValueError, match="appendOnly"):
        write_delta_native(
            spark, _frame(spark, 0, 1), table, mode="overwrite"
        )


def test_foreign_writer_protocol_and_invariants_refused(spark, tmp_path):
    """Tables demanding writer behavior we don't implement are refused
    loudly: minWriterVersion beyond 7 and legacy column invariants.
    CHECK constraints / generated columns / identity columns are no
    longer refused — v3..v6 duties are ENFORCED (see test_identity.py
    for v6). v6 without identity metadata appends fine."""
    table = str(tmp_path / "t5")
    write_delta_native(spark, _frame(spark, 0, 5), table)
    with open(
        os.path.join(table, "_delta_log", f"{1:020d}.json"), "w"
    ) as f:
        f.write(
            json.dumps(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 8}}
            )
            + "\n"
        )
    with pytest.raises(ValueError, match="minWriterVersion 8"):
        write_delta_native(spark, _frame(spark, 5, 8), table)

    # v5 with a CHECK constraint: accepted AND enforced — a passing
    # frame commits, a violating one fails the write
    table5 = str(tmp_path / "t5b")
    write_delta_native(spark, _frame(spark, 1, 5), table5)
    with open(
        os.path.join(table5, "_delta_log", f"{1:020d}.json"), "w"
    ) as f:
        f.write(
            json.dumps(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 5}}
            )
            + "\n"
        )
        f.write(
            json.dumps(
                {
                    "metaData": {
                        "id": "c",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": _frame(spark, 0, 1).schema.json(),
                        "partitionColumns": [],
                        "configuration": {
                            "delta.constraints.posid": "id > 0"
                        },
                        "createdTime": 1,
                    }
                }
            )
            + "\n"
        )
    write_delta_native(spark, _frame(spark, 5, 8), table5)  # 5..7 pass
    with pytest.raises(Exception, match="CHECK constraint posid"):
        write_delta_native(spark, _frame(spark, 0, 2), table5)  # id=0

    # LEGACY column invariants (writer v2's delta.invariants field
    # metadata): since r8 ENFORCED through the CHECK-constraint lane
    # (NULL passes, FALSE violates — delta-spark converts invariants
    # to CHECK internally); malformed invariant JSON refuses loudly
    table2 = str(tmp_path / "t6")
    write_delta_native(spark, _frame(spark, 1, 5), table2)
    schema = json.loads(_frame(spark, 0, 1).schema.json())
    for f in schema["fields"]:
        if f["name"] == "id":
            f["metadata"] = {
                "delta.invariants":
                    '{"expression":{"expression":"id > 0"}}'
            }

    def _set_schema(tbl, ver, sj):
        with open(
            os.path.join(tbl, "_delta_log", f"{ver:020d}.json"), "w"
        ) as f:
            f.write(json.dumps({"metaData": {
                "id": "x",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(sj),
                "partitionColumns": [],
                "configuration": {},
                "createdTime": 1,
            }}) + "\n")

    _set_schema(table2, 1, schema)
    write_delta_native(spark, _frame(spark, 5, 8), table2)  # 5..7 pass
    with pytest.raises(Exception, match="invariant"):
        write_delta_native(spark, _frame(spark, 0, 2), table2)  # id=0
    from rtdl_spark.sources.delta_reader import read_delta_native
    assert read_delta_native(spark, table2).count() == 7

    # malformed invariant JSON: refuse rather than silently skip
    bad = json.loads(json.dumps(schema))
    for f in bad["fields"]:
        if f["name"] == "id":
            f["metadata"] = {"delta.invariants": "not json"}
    _set_schema(table2, 3, bad)
    with pytest.raises(ValueError, match="unparseable"):
        write_delta_native(spark, _frame(spark, 9, 10), table2)

    # NESTED struct invariants are collected and enforced (delta-spark
    # walks nested structs; the stored expression references the full
    # dotted path, so it enforces unchanged) — ADVICE r8
    table7 = str(tmp_path / "t7nested")
    nested = spark.sql(
        "SELECT id, named_struct('v', id * 10) AS s FROM range(1, 4)"
    )
    write_delta_native(spark, nested, table7)
    nschema = json.loads(nested.schema.json())
    for f in nschema["fields"]:
        if f["name"] == "s":
            f["type"]["fields"][0]["metadata"] = {
                "delta.invariants":
                    '{"expression":{"expression":"s.v > 5"}}'
            }
    _set_schema(table7, 1, nschema)
    write_delta_native(
        spark,
        spark.sql(
            "SELECT id, named_struct('v', id * 10) AS s FROM range(4, 6)"
        ),
        table7,
    )  # s.v in {40, 50} — passes
    with pytest.raises(Exception, match="invariant on 's.v'"):
        write_delta_native(
            spark,
            spark.sql(
                "SELECT id, named_struct('v', 0L) AS s FROM range(6, 7)"
            ),
            table7,
        )

    # an invariant under an ARRAY element is beyond per-element
    # expression reach: refuse loudly instead of silently not enforcing
    table8 = str(tmp_path / "t8arr")
    arr = spark.sql(
        "SELECT id, array(named_struct('v', id)) AS a FROM range(1, 3)"
    )
    write_delta_native(spark, arr, table8)
    aschema = json.loads(arr.schema.json())
    for f in aschema["fields"]:
        if f["name"] == "a":
            f["type"]["elementType"]["fields"][0]["metadata"] = {
                "delta.invariants":
                    '{"expression":{"expression":"v > 0"}}'
            }
    _set_schema(table8, 1, aschema)
    with pytest.raises(ValueError, match="array/map element"):
        write_delta_native(
            spark,
            spark.sql(
                "SELECT id, array(named_struct('v', id)) AS a "
                "FROM range(3, 4)"
            ),
            table8,
        )


def test_commit_race_retries_next_version(spark, tmp_path):
    """Put-if-absent semantics: when the target version file already
    exists (a concurrent writer won), the append retries at the next
    version instead of clobbering — and a poisoned log (every retry
    taken) raises DeltaConcurrentWriteError."""
    table = str(tmp_path / "t7")
    write_delta_native(spark, _frame(spark, 0, 5), table)
    # simulate a concurrent writer owning version 1 (a valid empty commit)
    with open(
        os.path.join(table, "_delta_log", f"{1:020d}.json"), "w"
    ) as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 1}}) + "\n")
    v = write_delta_native(spark, _frame(spark, 5, 8), table)
    assert v == 2
    assert read_delta_native(spark, table).count() == 8


def test_live_racer_exhausts_retries_loudly(spark, tmp_path, monkeypatch):
    """A racer that wins EVERY version slot (simulated by forcing the
    put-if-absent to report 'lost') ends in DeltaConcurrentWriteError —
    never a clobbered or skipped commit."""
    import rtdl_spark.sources.delta_writer as dw

    table = str(tmp_path / "t7b")
    write_delta_native(spark, _frame(spark, 0, 5), table)
    attempts = []

    def always_lose(spark_, root, version, actions):
        attempts.append(version)
        # the racer "owns" this slot: make it visible to the re-read
        with open(
            os.path.join(root, "_delta_log", f"{version:020d}.json"), "w"
        ) as f:
            f.write(json.dumps({"commitInfo": {"timestamp": version}}) + "\n")
        return False

    monkeypatch.setattr(dw, "_try_commit", always_lose)
    with pytest.raises(DeltaConcurrentWriteError):
        write_delta_native(
            spark, _frame(spark, 5, 8), table, max_retries=3
        )
    # each retry targeted the NEXT free version, monotonically
    assert attempts == [1, 2, 3]


def test_checkpoint_bounds_replay_and_is_the_real_format(spark, tmp_path):
    """After a checkpoint, reads no longer need the earlier JSON commits
    (proved by DELETING them) — and the checkpoint parquet itself carries
    protocol/metaData/add columns per the classic format."""
    table = str(tmp_path / "t8")
    for i in range(4):
        write_delta_native(
            spark,
            _frame(spark, 10 * i, 10 * i + 10),
            table,
            checkpoint_interval=0,
        )
    cv = write_checkpoint_native(spark, table)
    assert cv == 3
    log = os.path.join(table, "_delta_log")
    assert os.path.exists(
        os.path.join(log, f"{3:020d}.checkpoint.parquet")
    )
    last = json.loads(open(os.path.join(log, "_last_checkpoint")).read())
    assert last["version"] == 3

    ckpt = spark.read.parquet(
        os.path.join(log, f"{3:020d}.checkpoint.parquet")
    )
    assert {"protocol", "metaData", "add", "remove"} <= set(ckpt.columns)
    assert ckpt.filter(F.col("add").isNotNull()).count() == len(
        snapshot_actions(spark, table)[2]
    )
    # checkpoint adds are dataChange=false per the spec
    assert (
        ckpt.filter(F.col("add.dataChange") == True).count() == 0  # noqa: E712
    )

    # tail commit after the checkpoint, then delete the pre-checkpoint log
    write_delta_native(
        spark, _frame(spark, 40, 45), table, checkpoint_interval=0
    )
    for i in range(3):
        os.remove(os.path.join(log, f"{i:020d}.json"))
    got = read_delta_native(spark, table)
    assert got.count() == 45
    assert read_delta_native(spark, table, version=3).count() == 40


def test_auto_checkpoint_interval(spark, tmp_path):
    """checkpoint_interval triggers the checkpoint from inside the write
    path (Delta's every-10-commits behavior, shrunk to 2 here)."""
    table = str(tmp_path / "t9")
    for i in range(3):
        write_delta_native(
            spark,
            _frame(spark, i, i + 1),
            table,
            checkpoint_interval=2,
        )
    log = os.path.join(table, "_delta_log")
    assert os.path.exists(
        os.path.join(log, f"{2:020d}.checkpoint.parquet")
    )
    assert json.loads(
        open(os.path.join(log, "_last_checkpoint")).read()
    )["version"] == 2


def test_plain_parquet_readers_still_work(spark, tmp_path):
    """The table directory stays a valid plain-parquet dataset: the log
    lives under '_delta_log' which Spark's file index hides, so readers
    that know nothing of Delta see exactly the data files."""
    table = str(tmp_path / "t10")
    write_delta_native(spark, _frame(spark, 0, 10), table)
    write_delta_native(spark, _frame(spark, 10, 20), table)
    assert spark.read.parquet(table).count() == 20


def test_optimize_bin_packs_preserving_data_and_history(spark, tmp_path):
    """OPTIMIZE compacts each partition's files into one, commits
    dataChange=false adds/removes in ONE commit, leaves the data
    byte-for-value identical, keeps pre-optimize versions readable (no
    bytes deleted), and uses O(1) Spark jobs regardless of file count."""
    table = str(tmp_path / "o1")
    df = spark.range(0, 30).select(
        F.col("id"), (F.col("id") % 2).cast("int").alias("p")
    )
    for i in range(3):
        write_delta_native(
            spark,
            df.filter(F.col("id") % 3 == i),
            table,
            partition_by=["p"],
            checkpoint_interval=0,
        )
    _, _, active0, v0, _ = snapshot_actions(spark, table)
    files_before = len(active0)
    assert files_before >= 6  # >=3 per partition

    before = sorted(
        (r["id"], r["p"])
        for r in read_delta_native(spark, table).collect()
    )
    njobs_before = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    res = optimize_delta_native(spark, table, target_file_bytes=1 << 30)
    njobs = (
        spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
        - njobs_before
    )
    assert njobs <= 8, f"optimize used {njobs} jobs — not O(1)"
    assert res["version"] == v0 + 1
    assert res["files_in"] == files_before and res["files_out"] == 2

    _, _, active1, _, _ = snapshot_actions(spark, table)
    assert len(active1) == 2
    after = sorted(
        (r["id"], r["p"])
        for r in read_delta_native(spark, table).collect()
    )
    assert after == before
    # pre-optimize version still readable: OPTIMIZE deletes no bytes
    assert read_delta_native(spark, table, version=v0).count() == 30

    acts = _log_actions(table, res["version"])
    assert acts[0]["commitInfo"]["operation"] == "OPTIMIZE"
    assert all(
        not a["add"]["dataChange"] for a in acts if "add" in a
    )
    assert all(
        not a["remove"]["dataChange"] for a in acts if "remove" in a
    )
    # per-bin numRecords stats survive the rewrite
    assert sum(
        json.loads(a["add"]["stats"])["numRecords"]
        for a in acts
        if "add" in a
    ) == 30

    # idempotent no-op when already packed
    res2 = optimize_delta_native(spark, table, target_file_bytes=1 << 30)
    assert res2["version"] is None


def test_optimize_where_scopes_to_one_partition(spark, tmp_path):
    """The `where` filter optimizes only matching partitions — the
    selective-maintenance path a 100 TB table requires."""
    table = str(tmp_path / "o2")
    df = spark.range(0, 20).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("p")
    )
    for i in range(2):
        write_delta_native(
            spark,
            df.filter(F.col("id") % 2 == 0)
            if i == 0
            else df,
            table,
            partition_by=["p"],
            checkpoint_interval=0,
        )
    res = optimize_delta_native(
        spark, table, target_file_bytes=1 << 30, where={"p": "0"}
    )
    assert res["partitions"] == 1
    _, _, active, _, _ = snapshot_actions(spark, table)
    p0 = [a for a in active.values() if a["partitionValues"]["p"] == "0"]
    p1 = [a for a in active.values() if a["partitionValues"]["p"] == "1"]
    assert len(p0) == 1 and len(p1) >= 1
    assert read_delta_native(spark, table).count() == 30


def test_optimize_zorder_clusters_and_preserves_data(spark, tmp_path):
    """OPTIMIZE ZORDER BY: output files own contiguous curve-rank ranges,
    so per-file min/max on the z-ordered column become near-disjoint —
    the footer-skipping property — while the data survives exactly and
    the commit stays dataChange=false."""
    import numpy as np

    table = str(tmp_path / "z1")
    # 4 appends of interleaved ids -> every file spans the full id range
    for i in range(4):
        write_delta_native(
            spark,
            spark.range(0, 4000)
            .filter(F.col("id") % 4 == i)
            .select("id", (F.col("id") % 97).alias("k")),
            table,
            checkpoint_interval=0,
        )
    before = sorted(
        r["id"] for r in read_delta_native(spark, table).collect()
    )

    res = optimize_delta_native(
        spark,
        table,
        target_file_bytes=12_000,  # force several output files
        zorder_by=["id"],
        zorder_curve="morton",
    )
    assert res["files_out"] >= 3
    after = sorted(
        r["id"] for r in read_delta_native(spark, table).collect()
    )
    assert after == before

    # per-file id ranges must be (near-)disjoint: total overlap across
    # file [min,max] spans collapses vs the all-interleaved input
    _, _, active, _, _ = snapshot_actions(spark, table)
    spans = []
    for a in active.values():
        df = spark.read.parquet(os.path.join(table, a["path"]))
        row = df.agg(
            F.min("id").alias("lo"), F.max("id").alias("hi")
        ).collect()[0]
        spans.append((row["lo"], row["hi"]))
    spans.sort()
    overlaps = sum(
        max(0, min(h1, h2) - max(l1, l2))
        for (l1, h1), (l2, h2) in zip(spans, spans[1:])
    )
    widths = sum(h - l for l, h in spans)
    assert overlaps <= widths * 0.05, (spans, overlaps)

    acts = _log_actions(table, res["version"])
    assert acts[0]["commitInfo"]["operationParameters"]["zOrderBy"] == (
        '["id"]'
    )
    assert all(not a["add"]["dataChange"] for a in acts if "add" in a)

    # numpy cross-check: ranks really partition the id space evenly-ish
    sizes = [
        json.loads(a["add"]["stats"])["numRecords"]
        for a in acts
        if "add" in a
    ]
    assert sum(sizes) == 4000
    # percent-rank ties (multiple ids share one 8-bit z value) bunch a
    # few rows at bucket boundaries — allow 10% imbalance
    assert max(sizes) <= int(np.ceil(4000 / len(sizes)) * 1.10)


def test_timestamp_time_travel_and_delta_view(spark, tmp_path):
    """timestampAsOf semantics (last commit at-or-before the given time,
    errors before the first commit) + the SQL catalog view over a native
    Delta table, pinned by version and by timestamp."""
    from rtdl_spark.catalog import register_delta_view
    from rtdl_spark.sources.delta_reader import version_at_timestamp

    table = str(tmp_path / "ts1")
    write_delta_native(spark, _frame(spark, 0, 5), table)
    write_delta_native(spark, _frame(spark, 5, 12), table)
    hist = delta_history(spark, table)
    t0, t1 = hist[0]["timestamp"], hist[1]["timestamp"]

    assert version_at_timestamp(spark, table, t0) == 0
    assert version_at_timestamp(spark, table, t1 + 10_000) == 1
    with pytest.raises(ValueError, match="predates"):
        version_at_timestamp(spark, table, t0 - 10_000)
    assert read_delta_native(spark, table, timestamp=t0).count() == 5
    with pytest.raises(ValueError, match="not both"):
        read_delta_native(spark, table, version=1, timestamp=t0)

    register_delta_view(spark, table, "dv_latest")
    register_delta_view(spark, table, "dv_v0", version=0)
    register_delta_view(spark, table, "dv_t0", timestamp=t0)
    assert spark.sql("SELECT COUNT(*) n FROM dv_latest").collect()[0]["n"] == 12
    assert spark.sql("SELECT COUNT(*) n FROM dv_v0").collect()[0]["n"] == 5
    assert spark.sql("SELECT COUNT(*) n FROM dv_t0").collect()[0]["n"] == 5


def test_merge_into_update_insert_delete(spark, tmp_path):
    """MERGE INTO semantics on a partitioned table: matched rows are
    replaced (or deleted), unmatched source rows are inserted, files
    WITHOUT matches are never rewritten (their add entries survive
    identically), and the commit is removes+adds with dataChange=true."""
    from rtdl_spark.sources.delta_writer import merge_into_delta_native

    table = str(tmp_path / "m1")
    base = spark.range(0, 100).select(
        F.col("id"),
        (F.col("id") % 4).cast("int").alias("p"),
        (F.col("id") * 10).alias("v"),
    )
    write_delta_native(
        spark, base, table, partition_by=["p"], checkpoint_interval=0
    )
    _, _, active0, _, _ = snapshot_actions(spark, table)

    # update ids 0..9 (v -> -1), insert ids 100..104
    srcu = spark.range(0, 10).select(
        F.col("id"), (F.col("id") % 4).cast("int").alias("p"),
        F.lit(-1).cast("long").alias("v"),
    )
    srci = spark.range(100, 105).select(
        F.col("id"), (F.col("id") % 4).cast("int").alias("p"),
        (F.col("id") * 10).alias("v"),
    )
    njobs0 = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    res = merge_into_delta_native(
        spark, table, srcu.unionByName(srci), on=["id"]
    )
    njobs = (
        spark.sparkContext._jsc.sc().dagScheduler().nextJobId() - njobs0
    )
    # constant bound (AQE splits the fixed stages into ~18 jobs) — the
    # point is the count does NOT grow with affected-file count
    assert njobs <= 25, f"merge used {njobs} jobs — not O(1)"
    assert res["version"] == 1 and res["files_rewritten"] >= 1

    got = read_delta_native(spark, table)
    assert got.count() == 105
    assert got.filter("v = -1").count() == 10
    assert got.filter("id >= 100").count() == 5
    assert got.filter("id = 7").collect()[0]["v"] == -1
    assert got.filter("id = 50").collect()[0]["v"] == 500

    # files with no matches kept their original add entries (no rewrite)
    _, _, active1, _, _ = snapshot_actions(spark, table)
    acts = _log_actions(table, 1)
    removed = {a["remove"]["path"] for a in acts if "remove" in a}
    survivors = set(active0) - removed
    assert survivors and all(
        active1[p]["modificationTime"] == active0[p]["modificationTime"]
        for p in survivors
    )
    assert all(
        a["remove"]["dataChange"] and "add" not in a
        for a in acts
        if "remove" in a
    )

    # delete mode: remove ids 0..4; no inserts
    res2 = merge_into_delta_native(
        spark,
        table,
        got.filter("id < 5"),
        on=["id"],
        when_matched="delete",
        when_not_matched="ignore",
    )
    assert res2["version"] == 2
    after = read_delta_native(spark, table)
    assert after.count() == 100
    assert after.filter("id < 5").count() == 0
    # time travel still sees the pre-delete state
    assert read_delta_native(spark, table, version=1).count() == 105


def test_delete_where_and_update_where(spark, tmp_path):
    """The DML pair on a partitioned table: DELETE WHERE rewrites only
    match-bearing files (NULL-predicate rows kept per SQL), UPDATE WHERE
    transforms matches — including moving rows to a DIFFERENT partition
    when the SET touches a partition column."""
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
        update_where_delta_native,
    )

    table = str(tmp_path / "dml1")
    base = spark.range(0, 60).select(
        F.col("id"),
        (F.col("id") % 3).cast("int").alias("p"),
        F.when(F.col("id") % 10 == 0, None)
        .otherwise(F.col("id") * 2)
        .alias("v"),
    )
    write_delta_native(
        spark, base, table, partition_by=["p"], checkpoint_interval=0
    )
    _, _, active0, _, _ = snapshot_actions(spark, table)

    # DELETE WHERE v > 100 — NULL v rows must survive
    res = delete_where_delta_native(spark, table, "v > 100")
    assert res["version"] == 1 and res["files_rewritten"] >= 1
    got = read_delta_native(spark, table)
    assert got.filter("v > 100").count() == 0
    assert got.filter("v IS NULL").count() == 6
    assert got.count() == 60 - base.filter("v > 100").count()

    # no-match predicate is a version-less no-op
    res2 = delete_where_delta_native(spark, table, "v > 100000")
    assert res2["version"] is None

    # UPDATE WHERE moving rows across partitions (SET touches p)
    res3 = update_where_delta_native(
        spark, table, "id < 6", {"p": "9", "v": "-id"}
    )
    assert res3["version"] == 2
    after = read_delta_native(spark, table)
    moved = after.filter("p = 9")
    assert moved.count() == 6
    assert {r["v"] for r in moved.collect()} == {0, -1, -2, -3, -4, -5}
    assert after.count() == got.count()
    # the new partition directory exists on disk
    assert os.path.isdir(os.path.join(table, "p=9"))
    # time travel still sees both prior states
    assert read_delta_native(spark, table, version=0).count() == 60

    with pytest.raises(ValueError, match="SET columns"):
        update_where_delta_native(spark, table, "id < 2", {"nope": "1"})
    with pytest.raises(ValueError, match="at least one SET"):
        update_where_delta_native(spark, table, "id < 2", {})


def test_merge_guards(spark, tmp_path):
    """Duplicate source keys and schema drift are refused loudly."""
    from rtdl_spark.sources.delta_writer import merge_into_delta_native

    table = str(tmp_path / "m2")
    write_delta_native(spark, _frame(spark, 0, 10), table)
    dup = _frame(spark, 0, 2).unionByName(_frame(spark, 0, 1))
    with pytest.raises(ValueError, match="multiple rows per key"):
        merge_into_delta_native(spark, table, dup, on=["id"])
    with pytest.raises(ValueError, match="schema"):
        merge_into_delta_native(
            spark, table, _frame(spark, 0, 2).drop("tag"), on=["id"]
        )
    with pytest.raises(ValueError, match="merge keys"):
        merge_into_delta_native(
            spark, table, _frame(spark, 0, 2), on=["nope"]
        )


def test_vacuum_reaps_unreferenced_files_only(spark, tmp_path):
    """VACUUM deletes exactly the files no longer referenced by the
    latest snapshot (after the retention window): the latest read is
    unaffected, time travel to the compacted-away version now fails, a
    dry run deletes nothing, and recent files are protected."""
    table = str(tmp_path / "v1")
    for i in range(3):
        write_delta_native(
            spark, _frame(spark, 10 * i, 10 * i + 10), table,
            checkpoint_interval=0,
        )
    optimize_delta_native(spark, table, target_file_bytes=1 << 30)

    # retention protects files younger than the window
    assert vacuum_delta_native(spark, table) == []
    preview = vacuum_delta_native(spark, table, retain_ms=0, dry_run=True)
    assert len(preview) >= 3
    assert all(os.path.exists(p) for p in preview)  # dry run deleted nothing

    gone = vacuum_delta_native(spark, table, retain_ms=0)
    assert gone == preview
    assert not any(os.path.exists(p) for p in gone)
    assert read_delta_native(spark, table).count() == 30
    with pytest.raises(Exception):
        read_delta_native(spark, table, version=0).collect()


def test_ingest_deltawriter_chain_writes_real_delta(spark, tmp_path):
    """A18 end-to-end: a stream config with functions=
    'ingester,deltawriter' (the reference's full chain,
    constants/all_functions.json) makes each ingested batch ALSO land as
    a commit in a real Delta table — versioned, time-travelable, and
    still a valid plain-parquet directory."""
    from rtdl_spark.config import StreamConfig, StreamRegistry
    from rtdl_spark.ingest import IngestJob

    sid = "837a8d07-cd06-4e17-bcd8-aef0b5e48d31"
    reg = StreamRegistry(str(tmp_path / "configs"))
    reg.create(
        StreamConfig(
            stream_id=sid,
            message_type="evt",
            file_store_type_id=1,
            folder_name="dwdb",
            partition_time_id=2,
            compression_type_id=1,
            functions="ingester,deltawriter",
        )
    )
    job = IngestJob(
        spark, reg, str(tmp_path / "lake"), fixed_time="2024-02-15 10:30:00"
    )

    def batch(name, events):
        d = tmp_path / name
        d.mkdir()
        with open(d / "b.json", "w") as f:
            for e in events:
                f.write(json.dumps(e) + "\n")
        job.ingest_json_dir(str(d))

    batch("in1", [{"stream_id": sid, "name": f"u{i}"} for i in range(4)])
    batch("in2", [{"stream_id": sid, "name": f"w{i}"} for i in range(3)])

    delta_dir = str(tmp_path / "lake" / "_delta" / "dwdb")
    assert [h["version"] for h in delta_history(spark, delta_dir)] == [0, 1]
    assert read_delta_native(spark, delta_dir, version=0).count() == 4
    latest = read_delta_native(spark, delta_dir)
    assert latest.count() == 7
    assert {r["name"] for r in latest.collect()} == {
        f"u{i}" for i in range(4)
    } | {f"w{i}" for i in range(3)}
    # plain readers unaffected by the log
    assert spark.read.parquet(delta_dir).count() == 7


def test_txn_exactly_once_skip_and_checkpoint_survival(spark, tmp_path):
    """SetTransaction semantics: a commit carrying txn=(app, v) makes any
    later write with version <= v a no-op (returns -1, no commit, no
    rows) — and the txn watermark SURVIVES checkpoint-bounded replay
    (proved by deleting the pre-checkpoint commits)."""
    from rtdl_spark.sources.delta_reader import last_txn_version

    table = str(tmp_path / "tx1")
    assert write_delta_native(
        spark, _frame(spark, 0, 5), table, txn=("appA", 0)
    ) == 0
    assert write_delta_native(
        spark, _frame(spark, 5, 10), table, txn=("appA", 1)
    ) == 1
    assert last_txn_version(spark, table, "appA") == 1
    assert last_txn_version(spark, table, "appB") is None

    # re-delivered epoch 1 and stale epoch 0: both skipped
    assert write_delta_native(
        spark, _frame(spark, 5, 10), table, txn=("appA", 1)
    ) == -1
    assert write_delta_native(
        spark, _frame(spark, 0, 5), table, txn=("appA", 0)
    ) == -1
    assert read_delta_native(spark, table).count() == 10
    # a different app is independent
    assert write_delta_native(
        spark, _frame(spark, 10, 12), table, txn=("appB", 0)
    ) == 2

    write_checkpoint_native(spark, table)
    log = os.path.join(table, "_delta_log")
    for i in range(3):
        os.remove(os.path.join(log, f"{i:020d}.json"))
    assert last_txn_version(spark, table, "appA") == 1
    assert last_txn_version(spark, table, "appB") == 0
    assert write_delta_native(
        spark, _frame(spark, 5, 10), table, txn=("appA", 1)
    ) == -1
    assert read_delta_native(spark, table).count() == 12


def test_stream_to_delta_table_exactly_once(spark, tmp_path):
    """The Delta streaming sink end-to-end: each micro-batch is one
    Delta commit with a txn action; wiping the streaming checkpoint
    (forcing full epoch re-delivery) appends NOTHING because the table's
    own txn watermark skips the replayed epochs."""
    import json as _json
    import shutil

    from rtdl_spark.sources.delta_reader import delta_history
    from rtdl_spark.streaming import stream_to_delta_table

    src = tmp_path / "dsrc"
    src.mkdir()
    ckpt = str(tmp_path / "dckpt")
    root = str(tmp_path / "dtbl")
    schema = "event_id long, user_id long"

    def wave(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    wave("w1.json", [{"event_id": i, "user_id": i % 3} for i in range(10)])
    q = stream_to_delta_table(
        spark, str(src), schema, root, ckpt, app_id="ingestA"
    )
    q.awaitTermination(120)
    assert read_delta_native(spark, root).count() == 10
    v1 = delta_history(spark, root)[-1]["version"]

    wave("w2.json", [{"event_id": 100 + i, "user_id": 0} for i in range(5)])
    q = stream_to_delta_table(
        spark, str(src), schema, root, ckpt, app_id="ingestA"
    )
    q.awaitTermination(120)
    assert read_delta_native(spark, root).count() == 15
    assert read_delta_native(spark, root, version=v1).count() == 10

    # lose the offset log -> everything re-delivered -> txn skips all
    shutil.rmtree(ckpt)
    q = stream_to_delta_table(
        spark, str(src), schema, root, ckpt, app_id="ingestA"
    )
    q.awaitTermination(120)
    assert read_delta_native(spark, root).count() == 15, (
        "re-delivered epochs must be skipped by the txn watermark"
    )


def test_special_chars_in_partition_values_roundtrip(spark, tmp_path):
    """Partition values needing Hive path escaping (space, '%', '=') and
    the URL-encoded add.path round-trip exactly through write+read."""
    table = str(tmp_path / "t11")
    df = spark.createDataFrame(
        [(1, "a b"), (2, "p%q"), (3, "x=y"), (4, None)],
        "id int, k string",
    )
    write_delta_native(spark, df, table, partition_by=["k"])
    got = read_delta_native(spark, table)
    assert sorted(
        (r["id"], r["k"]) for r in got.collect()
    ) == [(1, "a b"), (2, "p%q"), (3, "x=y"), (4, None)]
    adds = [a["add"] for a in _log_actions(table, 0) if "add" in a]
    vals = {a["partitionValues"]["k"] for a in adds}
    assert vals == {"a b", "p%q", "x=y", None}


def test_rewrite_retries_over_concurrent_append(spark, tmp_path, monkeypatch):
    """The round-5 verdict's interleaved-writers case: an append wins the
    version race against a DELETE WHERE mid-flight; the DELETE re-reads
    the tip, sees only a blind append (no metadata change, its removed
    files still active) and commits at the NEXT version — BOTH writers
    land, matching delta-spark's OptimisticTransaction conflict rules
    (the old behavior aborted on the first lost race)."""
    import rtdl_spark.sources.delta_writer as dw
    from rtdl_spark.sources.delta_writer import delete_where_delta_native

    table = str(tmp_path / "race_append")
    write_delta_native(spark, _frame(spark, 0, 10).coalesce(1), table)

    real = dw._try_commit
    state = {"raced": False}

    def race_once(spark_, root, version, actions):
        if not state["raced"]:
            state["raced"] = True  # set BEFORE the inner write recurses
            state["append_version"] = write_delta_native(
                spark_, _frame(spark_, 100, 105, "late").coalesce(1), root
            )
        return real(spark_, root, version, actions)

    monkeypatch.setattr(dw, "_try_commit", race_once)
    res = delete_where_delta_native(spark, table, "id < 3")
    assert state["append_version"] == 1, "the racer append took v1"
    assert res["version"] == 2, "the DELETE must retry and land at v2"

    got = read_delta_native(spark, table)
    ids = sorted(r["id"] for r in got.collect())
    assert ids == list(range(3, 10)) + list(range(100, 105))
    ops = [h["operation"] for h in delta_history(spark, table)]
    assert ops == ["WRITE", "WRITE", "DELETE"]


def test_rewrite_aborts_on_concurrent_file_removal(spark, tmp_path, monkeypatch):
    """If the interleaved commit REWROTE the same files (here: a racing
    DELETE over the same single-file table), the loser's staged rewrite
    is stale — it must abort with DeltaConcurrentWriteError, never
    resurrect the racer's deleted rows."""
    import rtdl_spark.sources.delta_writer as dw
    from rtdl_spark.sources.delta_writer import delete_where_delta_native

    table = str(tmp_path / "race_remove")
    write_delta_native(spark, _frame(spark, 0, 10).coalesce(1), table)

    real = dw._try_commit
    state = {"raced": False}

    def race_once(spark_, root, version, actions):
        if not state["raced"]:
            state["raced"] = True
            delete_where_delta_native(spark_, root, "id >= 8")
        return real(spark_, root, version, actions)

    monkeypatch.setattr(dw, "_try_commit", race_once)
    with pytest.raises(DeltaConcurrentWriteError, match="removed files"):
        delete_where_delta_native(spark, table, "id < 3")
    # the racer's result stands; the loser changed nothing
    ids = sorted(r["id"] for r in read_delta_native(spark, table).collect())
    assert ids == list(range(0, 8))


@pytest.mark.parametrize("loser", ["dv_delete", "cow_delete", "optimize"])
def test_rewrite_aborts_on_concurrent_dv_commit(
    spark, tmp_path, monkeypatch, loser
):
    """A racing DV DELETE re-adds the SAME paths with new deletion
    vectors, so a path-only conflict check sees every removed file still
    active. The loser must compare the DV identity too (Delta reconciles
    files on path + dvId) and abort — committing its plan would drop the
    racer's mask and bring ids 25..29 back."""
    import rtdl_spark.sources.delta_writer as dw
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_dv,
        delete_where_delta_native,
    )
    from tests.test_dv import _dv_enabled_table

    # OPTIMIZE leaves single-file partitions alone, so it races on 3
    root = _dv_enabled_table(
        spark, tmp_path, nfiles=3 if loser == "optimize" else 1
    )
    real = dw._try_commit
    state = {"raced": False}

    def race_once(spark_, root_, version, actions):
        if not state["raced"]:
            state["raced"] = True
            delete_where_delta_dv(spark_, root_, "id >= 25")
        return real(spark_, root_, version, actions)

    monkeypatch.setattr(dw, "_try_commit", race_once)
    run = {
        "dv_delete": lambda: delete_where_delta_dv(spark, root, "id < 3"),
        "cow_delete": lambda: delete_where_delta_native(spark, root, "id < 3"),
        "optimize": lambda: optimize_delta_native(spark, root, min_files=1),
    }[loser]
    with pytest.raises(DeltaConcurrentWriteError):
        run()
    ids = sorted(r["id"] for r in read_delta_native(spark, root).collect())
    assert ids == list(range(25))


def test_promote_stops_moving_after_first_failed_rename(
    spark, tmp_path, monkeypatch
):
    """The threaded promote (remote stores) must stop moving files once
    one rename fails: the queued moves are skipped, and the error says
    how many files already reached the table root."""
    import threading
    import time

    import rtdl_spark.sources.delta_writer as dw
    from rtdl_spark.sources import fsutil

    root = tmp_path / "t"
    staging = root / "_stage"
    staging.mkdir(parents=True)
    n = 64
    for i in range(n):
        (staging / f"part-{i:05d}.parquet").write_bytes(b"x")
    moved = []
    lock = threading.Lock()

    def rename(spark_, src, dst):
        if src.endswith("part-00000.parquet"):
            return False
        time.sleep(0.05)
        os.rename(src, dst)
        with lock:
            moved.append(dst)
        return True

    monkeypatch.setattr(fsutil, "_is_local", lambda spark_, path: False)
    monkeypatch.setattr(fsutil, "rename", rename)
    with pytest.raises(IOError, match="already moved") as err:
        dw._promote_staged(spark, str(root), str(staging), [], False)
    assert len(moved) < n // 2
    assert f"{len(moved)} of {n}" in str(err.value)


def test_rewrite_aborts_on_concurrent_metadata_change(spark, tmp_path, monkeypatch):
    """A concurrent schema evolution (mergeSchema append carrying a new
    metaData) invalidates a staged rewrite plan — abort, don't commit
    files written under the old schema."""
    import rtdl_spark.sources.delta_writer as dw
    from rtdl_spark.sources.delta_writer import update_where_delta_native

    table = str(tmp_path / "race_meta")
    write_delta_native(spark, _frame(spark, 0, 10).coalesce(1), table)

    real = dw._try_commit
    state = {"raced": False}

    def race_once(spark_, root, version, actions):
        if not state["raced"]:
            state["raced"] = True
            evolved = _frame(spark_, 50, 55).withColumn(
                "extra", F.lit(1)
            ).coalesce(1)
            write_delta_native(spark_, evolved, root, merge_schema=True)
        return real(spark_, root, version, actions)

    monkeypatch.setattr(dw, "_try_commit", race_once)
    with pytest.raises(DeltaConcurrentWriteError, match="METADATA"):
        update_where_delta_native(
            spark, table, "id < 3", {"v": "v + 1000"}
        )


def test_merge_update_preserves_duplicate_target_rows(spark, tmp_path):
    """Delta MERGE's UPDATE SET * updates EVERY matched target row —
    duplicate-key target rows must not collapse to one (the r5 ADVICE
    finding: the old semi-join emitted exactly one source row per key)."""
    from rtdl_spark.sources.delta_writer import merge_into_delta_native

    table = str(tmp_path / "dup_target")
    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 11, "b"), (2, 20, "c")],
        "id bigint, v bigint, tag string",
    )
    write_delta_native(spark, df.coalesce(1), table)

    src = spark.createDataFrame([(1, 99, "new")], "id bigint, v bigint, tag string")
    merge_into_delta_native(spark, table, src, on=["id"])

    rows = sorted(
        (r["id"], r["v"], r["tag"])
        for r in read_delta_native(spark, table).collect()
    )
    assert rows == [(1, 99, "new"), (1, 99, "new"), (2, 20, "c")], (
        "both duplicate-key target rows must become the source row"
    )


def test_uri_scheme_table_dir_full_lifecycle(spark, tmp_path):
    """The r5 ADVICE medium finding: a URI-formed table_dir (file:///…)
    must work through the whole DML/maintenance surface — every driver-
    side path comparison now happens in scheme-less (_plain) form, and
    vacuum must never see active files as unreferenced."""
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
        merge_into_delta_native,
        optimize_delta_native,
        update_where_delta_native,
    )

    plain_root = str(tmp_path / "uri_t")
    table = "file://" + plain_root  # tmp_path is absolute -> file:///...
    df = spark.createDataFrame(
        [(i, i * 2, "p%d" % (i % 2)) for i in range(20)],
        "id bigint, v bigint, part string",
    )
    write_delta_native(spark, df, table, partition_by=["part"])
    write_delta_native(
        spark,
        spark.createDataFrame(
            [(100, 0, "p0"), (101, 2, "p1")],
            "id bigint, v bigint, part string",
        ),
        table,
    )

    assert delete_where_delta_native(spark, table, "id < 4")[
        "files_rewritten"
    ] > 0
    update_where_delta_native(spark, table, "id = 100", {"v": "v + 7"})
    src = spark.createDataFrame(
        [(101, 999, "p1"), (200, 1, "p0")],
        "id bigint, v bigint, part string",
    )
    merge_into_delta_native(spark, table, src, on=["id"])
    optimize_delta_native(spark, table, min_files=1)

    # vacuum must classify ACTIVE files as kept even on a URI root
    _, _, active, _, _ = snapshot_actions(spark, table)
    import urllib.parse as up

    active_plain = {
        os.path.join(plain_root, up.unquote(p)) for p in active
    }
    victims = vacuum_delta_native(spark, table, retain_ms=0, dry_run=True)
    assert not (set(victims) & active_plain), (
        "vacuum tried to reap live files on a URI-formed table root"
    )

    got = read_delta_native(spark, table)
    ids = sorted(r["id"] for r in got.collect())
    assert ids == list(range(4, 20)) + [100, 101, 200]
    assert got.filter("id = 100").collect()[0]["v"] == 7
    assert got.filter("id = 101").collect()[0]["v"] == 999
    # reading through the plain path sees the identical table
    assert sorted(
        r["id"] for r in read_delta_native(spark, plain_root).collect()
    ) == ids


def test_merge_schema_refuses_dropping_non_nullable_column(spark, tmp_path):
    """Found by the evolution x streaming soak: a mergeSchema append
    whose frame LACKS a NON-NULLABLE table column must be refused —
    readers null-fill missing columns, and the Arrow streaming lane
    (correctly) rejects nulls in non-nullable fields. Lacking a NULLABLE
    column stays legal."""
    table = str(tmp_path / "nn")
    # id from range is non-nullable; v is nullable (when-without-otherwise)
    df = spark.range(0, 5).select(
        "id", F.when(F.col("id") >= 0, F.col("id") * 2).alias("v")
    )
    write_delta_native(spark, df, table)

    lacks_nullable = spark.range(5, 8).select(
        "id", F.lit("x").alias("tag")
    )
    v = write_delta_native(spark, lacks_nullable, table, merge_schema=True)
    assert v == 1  # dropping nullable v is fine

    lacks_required = spark.range(8, 10).select(
        F.col("id").alias("other"), F.lit("y").alias("tag")
    )
    with pytest.raises(ValueError, match="NON-NULLABLE.*id"):
        write_delta_native(
            spark, lacks_required, table, merge_schema=True
        )


def test_delta_table_changes_modes(spark, tmp_path):
    """CDF-less change feed: keyed mode classifies add/remove/change,
    rows mode is the exact multiset diff (a duplicated row appearing
    once more shows up exactly once as an insert)."""
    from rtdl_spark.operators.merge import delta_table_changes
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
        update_where_delta_native,
    )

    table = str(tmp_path / "chg")
    df = spark.createDataFrame(
        [(1, 10), (2, 20), (2, 20), (3, 30)], "k bigint, v bigint"
    )
    write_delta_native(spark, df.coalesce(1), table)
    write_delta_native(
        spark,
        spark.createDataFrame([(4, 40), (2, 20)], "k bigint, v bigint"),
        table,
    )
    update_where_delta_native(spark, table, "k = 3", {"v": "v + 5"})
    delete_where_delta_native(spark, table, "k = 1")

    keyed = {
        r["k"]: r["change_type"]
        for r in delta_table_changes(
            spark, table, 0, keys=["k"]
        ).collect()
    }
    assert keyed == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}

    rows = sorted(
        (r["k"], r["v"], r["change_type"])
        for r in delta_table_changes(
            spark, table, 0, mode="rows"
        ).collect()
    )
    # k=2 gained exactly ONE more (2,20) copy -> one insert row;
    # k=3 changed -> delete old + insert new; k=1 deleted; k=4 inserted
    assert rows == [
        (1, 10, "delete"),
        (2, 20, "insert"),
        (3, 30, "delete"),
        (3, 35, "insert"),
        (4, 40, "insert"),
    ]


def test_restore_to_version(spark, tmp_path):
    """RESTORE: the current state becomes version V again via one NEW
    commit — pure log surgery (no data rewritten), history preserved,
    schema drift rolled back, and a vacuumed target refuses by file
    name."""
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
        restore_delta_native,
        vacuum_delta_native,
    )

    table = str(tmp_path / "rst")
    write_delta_native(spark, _frame(spark, 0, 10).coalesce(1), table)
    write_delta_native(spark, _frame(spark, 10, 15).coalesce(1), table)
    delete_where_delta_native(spark, table, "id < 4")      # v2
    write_delta_native(                                    # v3: +score
        spark,
        _frame(spark, 20, 22).withColumn("score", F.lit(1.0)).coalesce(1),
        table,
        merge_schema=True,
    )

    res = restore_delta_native(spark, table, 1)
    assert res["version"] == 4
    assert res["files_added"] > 0 and res["files_removed"] > 0
    assert res["metadata_restored"] is True  # score column rolled back

    got = read_delta_native(spark, table)
    assert got.columns == ["id", "v", "tag"]
    assert sorted(r["id"] for r in got.collect()) == list(range(15))
    # history preserved; the restore itself is time-travelable
    assert [h["version"] for h in delta_history(spark, table)] == list(
        range(5)
    )
    assert read_delta_native(spark, table, version=3).count() == 13

    # no-op restore to the current tip
    assert restore_delta_native(spark, table, 4)["version"] is None

    # idempotent content: restoring v4 -> v1 state again equals itself
    res2 = restore_delta_native(spark, table, 1)
    assert res2["files_added"] == 0 and res2["files_removed"] == 0

    # vacuumed target refuses by name: drop to v... delete files of v3
    delete_where_delta_native(spark, table, "id >= 10")    # drops v1 files
    vacuum_delta_native(spark, table, retain_ms=0)
    with pytest.raises(ValueError, match="no longer exists"):
        restore_delta_native(spark, table, 1)


def test_restore_readds_checkpoint_adds_with_datachange_true(
    spark, tmp_path
):
    """r6 ADVICE: adds sourced from a CHECKPOINT carry dataChange=false
    (the spec requires checkpoints to write them that way); RESTORE
    must not copy that verbatim — streaming readers skip
    dataChange=false adds, so the restored rows would be silently
    invisible downstream. delta-spark's RESTORE commits its re-adds
    with dataChange=true; ours must too."""
    from rtdl_spark.sources.delta_stream_source import _DeltaStreamReader
    from rtdl_spark.sources.delta_writer import (
        restore_delta_native,
        write_checkpoint_native,
    )

    table = str(tmp_path / "rstdc")
    write_delta_native(spark, _frame(spark, 0, 8).coalesce(1), table)  # v0
    write_checkpoint_native(spark, table)  # checkpoint AT v0
    write_delta_native(  # v1: overwrite removes v0's file
        spark, _frame(spark, 100, 104, "y").coalesce(1), table,
        mode="overwrite",
    )
    res = restore_delta_native(spark, table, 0)  # v2 re-adds v0's file
    assert res["version"] == 2 and res["files_added"] == 1

    adds = [a["add"] for a in _log_actions(table, 2) if "add" in a]
    assert adds and all(a["dataChange"] is True for a in adds), (
        "RESTORE re-adds must be dataChange=true even when sourced "
        "from a checkpoint's dataChange=false add rows"
    )
    # the consequence, checked where it bites: the streaming source
    # EMITS the restore commit's files (it skips dataChange=false adds;
    # RESTORE is a change commit, so the caller opts in via
    # ignoreChanges — without the dataChange fix the files would be
    # invisible even then)
    r = _DeltaStreamReader(
        read_delta_native(spark, table).schema,
        {"path": table, "ignoreChanges": "true"},
    )
    parts = [
        p
        for p in r.partitions({"version": 1}, {"version": 2})
        if p.path
    ]
    assert len(parts) == 1, "restored file must be visible to the stream"


def test_distributed_vacuum_escapable_characters_zero_victims(
    spark, tmp_path
):
    """r6 ADVICE (data-loss class): Hadoop's Path.toString PERCENT-
    ESCAPES reserved characters in the binaryFile listing while
    add.path is url-decoded — an undecoded comparison mismatches any
    live file whose path carries '%', ':', space or '+' (Hive-escaped
    partition values do), sending LIVE data files to the reaper. Both
    sides now normalize through one decoder: a fresh table with
    escapable partition values has ZERO victims, and reap parity with
    the driver-side vacuum holds after a real rewrite."""
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
        vacuum_delta_native,
        vacuum_delta_native_distributed,
    )

    table = str(tmp_path / "vesc")
    vals = ["a%b", "a:b", "a b", "a+b", "a=b", "100%"]
    df = spark.range(0, 12).select(
        "id",
        F.element_at(
            F.array(*[F.lit(v) for v in vals]),
            (F.col("id") % 6 + 1).cast("int"),
        ).alias("p"),
    )
    write_delta_native(spark, df, table, partition_by=["p"])

    # every file is live: NOTHING may be a victim
    assert (
        vacuum_delta_native_distributed(
            spark, table, retain_ms=0, dry_run=True
        )
        == 0
    ), "live files with escapable path characters became vacuum victims"

    # the same form mismatch infected every _metadata.file_path
    # comparison: DELETE's identify->rewrite subset and OPTIMIZE's
    # file->bin map matched NOTHING on escapable names (empty bins,
    # dropped rewrites) — both must round-trip content exactly
    delete_where_delta_native(spark, table, "id % 2 = 0")
    got = sorted(r["id"] for r in read_delta_native(spark, table).collect())
    assert got == [i for i in range(12) if i % 2 == 1]

    from rtdl_spark.sources.delta_writer import optimize_delta_native

    res = optimize_delta_native(spark, table, target_file_bytes=1 << 30)
    assert res["version"] is not None and res["files_out"] > 0
    got = sorted(r["id"] for r in read_delta_native(spark, table).collect())
    assert got == [i for i in range(12) if i % 2 == 1], (
        "OPTIMIZE must not lose rows in escapable partitions"
    )

    # orphans from both rewrites; distributed reap == driver-side plan
    expected = vacuum_delta_native(spark, table, retain_ms=0, dry_run=True)
    assert len(expected) > 0
    n = vacuum_delta_native_distributed(spark, table, retain_ms=0)
    assert n == len(expected)
    assert vacuum_delta_native(spark, table, retain_ms=0, dry_run=True) == []
    got = sorted(r["id"] for r in read_delta_native(spark, table).collect())
    assert got == [i for i in range(12) if i % 2 == 1]


def test_append_schema_compatibility_matrix(spark, tmp_path):
    """r6 verdict item 3: the full append-compatibility matrix —
    {missing, extra, retyped, renamed, case-collision, null-into-
    non-nullable} × {nullable, non-nullable} × {data, partition}
    columns, for plain and mergeSchema appends. Every cell is either
    accepted-and-readable or refused BY NAME, with real Delta's
    behavior as the oracle for which is which. Nested non-nullable
    fields are documented out-of-scope (top-level enforcement)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    def mk(tag):
        t = str(tmp_path / f"mx_{tag}")
        base = spark.createDataFrame(
            [(1, "a", 10, "p1"), (2, "b", 20, "p1")],
            StructType([
                StructField("id", LongType(), False),       # non-nullable
                StructField("tag", StringType(), True),
                StructField("v", LongType(), True),
                StructField("p", StringType(), True),
            ]),
        )
        write_delta_native(spark, base, t, partition_by=["p"])
        return t

    def frame(schema, rows):
        return spark.createDataFrame(rows, schema)

    S = StructField

    # --- plain append, exact schema: accepted
    t = mk("ok")
    write_delta_native(
        spark,
        frame(
            StructType([S("id", LongType(), False), S("tag", StringType()),
                        S("v", LongType()), S("p", StringType())]),
            [(3, "c", 30, "p2")],
        ),
        t,
    )
    assert read_delta_native(spark, t).count() == 3

    # --- missing NULLABLE data column: plain refused, mergeSchema ok
    fm = frame(
        StructType([S("id", LongType(), False), S("tag", StringType()),
                    S("p", StringType())]),
        [(4, "d", "p2")],
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        write_delta_native(spark, fm, t)
    write_delta_native(spark, fm, t, merge_schema=True)
    got = read_delta_native(spark, t).filter("id = 4").collect()
    assert got[0]["v"] is None  # null-filled

    # --- missing NON-NULLABLE column: refused by name even w/ merge
    fnn = frame(
        StructType([S("tag", StringType()), S("v", LongType()),
                    S("p", StringType())]),
        [("e", 50, "p2")],
    )
    with pytest.raises(ValueError, match="NON-NULLABLE.*id"):
        write_delta_native(spark, fnn, t, merge_schema=True)

    # --- missing PARTITION column: refused by name
    fp = frame(
        StructType([S("id", LongType(), False), S("tag", StringType()),
                    S("v", LongType())]),
        [(6, "f", 60)],
    )
    with pytest.raises(ValueError, match="partition columns absent"):
        write_delta_native(spark, fp, t, merge_schema=True)

    # --- extra column: plain refused; mergeSchema appends it NULLABLE
    t2 = mk("extra")
    fx = frame(
        StructType([S("id", LongType(), False), S("tag", StringType()),
                    S("v", LongType()), S("p", StringType()),
                    S("score", LongType(), False)]),  # frame says NOT NULL
        [(3, "c", 30, "p2", 99)],
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        write_delta_native(spark, fx, t2)
    write_delta_native(spark, fx, t2, merge_schema=True)
    got = read_delta_native(spark, t2)
    import json as _json

    from rtdl_spark.sources.delta_reader import snapshot_actions

    _, meta2, _, _, _ = snapshot_actions(spark, t2)
    evolved = {
        f["name"]: f for f in _json.loads(meta2["schemaString"])["fields"]
    }
    assert evolved["score"]["nullable"] is True, (
        "evolved columns must be FORCED nullable (old files null-fill)"
    )
    assert got.filter("score IS NULL").count() == 2
    assert got.filter("score = 99").count() == 1

    # --- retyped column: refused by name (both modes)
    t3 = mk("retype")
    fr = frame(
        StructType([S("id", LongType(), False), S("tag", LongType()),
                    S("v", LongType()), S("p", StringType())]),
        [(3, 7, 30, "p2")],
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        write_delta_native(spark, fr, t3)
    with pytest.raises(ValueError, match="type conflict.*tag"):
        write_delta_native(spark, fr, t3, merge_schema=True)

    # --- renamed nullable column (drop old + add new): mergeSchema
    # accepts as evolution (rename is undetectable — delta-spark too)
    t4 = mk("rename")
    frn = frame(
        StructType([S("id", LongType(), False), S("tag2", StringType()),
                    S("v", LongType()), S("p", StringType())]),
        [(3, "c", 30, "p2")],
    )
    write_delta_native(spark, frn, t4, merge_schema=True)
    got = read_delta_native(spark, t4)
    assert got.filter("tag IS NULL").count() == 1
    assert got.filter("tag2 IS NULL").count() == 2

    # --- CASE collision: a frame column differing only by case is the
    # same column, not a new one — refused by name (Delta resolves
    # names case-insensitively)
    t5 = mk("case")
    fc = frame(
        StructType([S("id", LongType(), False), S("TAG", StringType()),
                    S("v", LongType()), S("p", StringType())]),
        [(3, "c", 30, "p2")],
    )
    with pytest.raises(ValueError, match="CASE"):
        write_delta_native(spark, fc, t5, merge_schema=True)

    # --- NULL into a NON-NULLABLE column: the write itself must fail
    # (real Delta: DELTA_NOT_NULL_CONSTRAINT_VIOLATED), never commit
    t6 = mk("nn")
    fnull = frame(
        StructType([S("id", LongType(), True), S("tag", StringType()),
                    S("v", LongType()), S("p", StringType())]),
        [(None, "x", 70, "p2"), (7, "y", 71, "p2")],
    )
    with pytest.raises(Exception, match="NOT NULL"):
        write_delta_native(spark, fnull, t6)
    # nothing committed, table content unchanged
    assert read_delta_native(spark, t6).count() == 2

    # same frame with NO nulls in the data: accepted (the check is a
    # runtime row test, not a nullability-flag comparison)
    fok = frame(
        StructType([S("id", LongType(), True), S("tag", StringType()),
                    S("v", LongType()), S("p", StringType())]),
        [(8, "z", 80, "p2")],
    )
    write_delta_native(spark, fok, t6)
    assert read_delta_native(spark, t6).count() == 3

    # --- UPDATE SET null into non-nullable: refused at rewrite time
    from rtdl_spark.sources.delta_writer import update_where_delta_native

    with pytest.raises(Exception, match="NOT NULL"):
        update_where_delta_native(
            spark, t6, "v = 80", {"id": "CAST(NULL AS BIGINT)"}
        )
    got = sorted(r["id"] for r in read_delta_native(spark, t6).collect())
    assert got == [1, 2, 8]


def _mk_cm_table(spark, tmp_path, mode):
    """Spec-shaped column-mapped table (same fixture family as the
    reader conformance tests): logical (id, s{inner,j}, p) with physical
    names col-aaa / col-sss{col-inn,col-jjj} / col-ppp, partitioned by
    p, one initial file."""
    root = str(tmp_path / f"cmw_{mode}")
    os.makedirs(os.path.join(root, "_delta_log"))
    # the initial file mimics a real CM writer: physical names AND
    # parquet field ids at every level (id-mode readers resolve by id)
    import pyarrow as pa
    import pyarrow.parquet as pq

    fschema = pa.schema([
        pa.field("col-aaa", pa.int64(),
                 metadata={b"PARQUET:field_id": b"1"}),
        pa.field("col-sss", pa.struct([
            pa.field("col-inn", pa.string(),
                     metadata={b"PARQUET:field_id": b"3"}),
            pa.field("col-jjj", pa.int64(),
                     metadata={b"PARQUET:field_id": b"4"}),
        ]), metadata={b"PARQUET:field_id": b"2"}),
    ])
    tab = pa.table(
        {
            "col-aaa": pa.array([1, 2]),
            "col-sss": pa.array(
                [{"col-inn": "x", "col-jjj": 10},
                 {"col-inn": "y", "col-jjj": 20}],
                type=fschema.field("col-sss").type,
            ),
        },
        schema=fschema,
    )
    os.makedirs(os.path.join(root, "d"))
    pq.write_table(tab, os.path.join(root, "d", "init.parquet"))
    part = next(
        f for f in os.listdir(os.path.join(root, "d"))
        if f.endswith(".parquet")
    )
    schema = {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-aaa"}},
            {"name": "s",
             "type": {"type": "struct", "fields": [
                 {"name": "inner", "type": "string", "nullable": True,
                  "metadata": {"delta.columnMapping.id": 3,
                               "delta.columnMapping.physicalName": "col-inn"}},
                 {"name": "j", "type": "long", "nullable": True,
                  "metadata": {"delta.columnMapping.id": 4,
                               "delta.columnMapping.physicalName": "col-jjj"}},
             ]},
             "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-sss"}},
            {"name": "p", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 5,
                          "delta.columnMapping.physicalName": "col-ppp"}},
        ],
    }
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 1, "operation": "WRITE"}}) + "\n")
        f.write(json.dumps({"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}) + "\n")
        f.write(json.dumps({"metaData": {
            "id": f"cmw-{mode}", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": ["p"],
            "configuration": {"delta.columnMapping.mode": mode,
                              "delta.columnMapping.maxColumnId": "5"},
            "createdTime": 1}}) + "\n")
        f.write(json.dumps({"add": {
            "path": "d/" + part,
            "partitionValues": {"col-ppp": "east"},
            "size": os.path.getsize(os.path.join(root, "d", part)),
            "modificationTime": 1, "dataChange": True}}) + "\n")
    return root


@pytest.mark.parametrize("mode", ["name", "id"])
def test_cm_table_append_and_delete(spark, tmp_path, mode):
    """r6 verdict item 6: WRITES to an existing column-mapped table —
    appends stage files in the PHYSICAL layout (physical names at every
    nesting level + parquet field ids, physically-keyed
    partitionValues), DELETE WHERE rewrites through the logical scan
    and re-stages physically; the native reader reads it all back under
    logical names in BOTH modes. maxColumnId is untouched (no schema
    change is ever committed)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )
    from rtdl_spark.sources.delta_writer import delete_where_delta_native

    root = _mk_cm_table(spark, tmp_path, mode)
    inner = StructType([
        StructField("inner", StringType(), True),
        StructField("j", LongType(), True),
    ])
    frame = spark.createDataFrame(
        [(3, ("z", 30), "west"), (4, ("w", 40), "east")],
        StructType([
            StructField("id", LongType(), True),
            StructField("s", inner, True),
            StructField("p", StringType(), True),
        ]),
    )
    v = write_delta_native(spark, frame, root, checkpoint_interval=0)
    assert v == 1

    got = read_delta_native(spark, root)
    rows = sorted(
        (r["id"], r["s"]["inner"], r["s"]["j"], r["p"])
        for r in got.collect()
    )
    assert rows == [
        (1, "x", 10, "east"), (2, "y", 20, "east"),
        (3, "z", 30, "west"), (4, "w", 40, "east"),
    ]

    # the staged files are PHYSICAL: dir name is the physical partition
    # column; parquet footers carry physical names + field ids nested
    import pyarrow.parquet as pq

    acts = _log_actions(root, 1)
    new_adds = [a["add"] for a in acts if "add" in a]
    assert len(new_adds) == 2
    for a in new_adds:
        assert a["path"].startswith("col-ppp="), a["path"]
        assert set(a["partitionValues"]) == {"col-ppp"}
        import urllib.parse as up

        sa = pq.ParquetFile(
            os.path.join(root, up.unquote(a["path"]))
        ).schema_arrow
        names = {f.name for f in sa}
        assert names == {"col-aaa", "col-sss"}
        s_field = next(f for f in sa if f.name == "col-sss")
        kids = {
            s_field.type.field(i).name: (
                s_field.type.field(i).metadata or {}
            ).get(b"PARQUET:field_id")
            for i in range(s_field.type.num_fields)
        }
        assert kids == {b"col-inn": b"3", b"col-jjj": b"4"} or kids == {
            "col-inn": b"3", "col-jjj": b"4",
        }

    # metaData untouched: no new metaData action, maxColumnId preserved
    assert not any("metaData" in a for a in acts)

    # DELETE WHERE through the CM scan (predicate on LOGICAL names)
    res = delete_where_delta_native(spark, root, "s.j >= 30 AND p = 'east'")
    assert res["version"] == 2 and res["files_rewritten"] >= 1
    rows = sorted(
        (r["id"], r["s"]["j"], r["p"])
        for r in read_delta_native(spark, root).collect()
    )
    assert rows == [(1, 10, "east"), (2, 20, "east"), (3, 30, "west")]

    # schema EVOLUTION now works (r7: fresh id above maxColumnId —
    # test_cm_table_creation_and_evolution covers it in depth); MERGE
    # stages physically like the rewrite path; OPTIMIZE / overwrite
    # stay refused by name
    from rtdl_spark.sources.delta_writer import (
        merge_into_delta_native,
        optimize_delta_native,
    )

    wide = frame.withColumn("extra", F.lit(1))
    write_delta_native(spark, wide, root, merge_schema=True)
    from rtdl_spark.sources.delta_reader import snapshot_actions

    _, meta2, _, _, _ = snapshot_actions(spark, root)
    ef = [
        f for f in json.loads(meta2["schemaString"])["fields"]
        if f["name"] == "extra"
    ][0]
    assert ef["metadata"]["delta.columnMapping.id"] == 6  # above maxId 5
    assert int(
        meta2["configuration"]["delta.columnMapping.maxColumnId"]
    ) == 6
    # MERGE through the CM scan: update id=1's payload + insert id=50
    msrc = spark.createDataFrame(
        [(1, ("XX", 99), "east", 7), (50, ("nn", 50), "west", 7)],
        wide.schema,
    )
    res = merge_into_delta_native(spark, root, msrc, on=["id"])
    assert res["version"] is not None
    got = {
        r["id"]: (r["s"]["inner"], r["extra"])
        for r in read_delta_native(spark, root).collect()
    }
    assert got[1] == ("XX", 7) and got[50] == ("nn", 7)
    # OPTIMIZE on CM (r7): physical passthrough repack — row set
    # unchanged, field ids re-attached (see
    # test_cm_optimize_repacks_physically); overwrite stays refused
    res_opt = optimize_delta_native(
        spark, root, target_file_bytes=1 << 30, min_files=2
    )
    assert res_opt["version"] is not None
    after = {
        r["id"]: (r["s"]["inner"], r["extra"])
        for r in read_delta_native(spark, root).collect()
    }
    assert after == got, "OPTIMIZE must not change the row set"
    # r8: a schema-REPLACING overwrite (frame lacks the evolved
    # `extra` column) rebuilds the mapping instead of refusing —
    # retained columns keep their identity
    # (test_cm_schema_replacing_overwrite covers the metaData side)
    write_delta_native(spark, frame, root, mode="overwrite")
    back = read_delta_native(spark, root)
    assert back.columns == ["id", "s", "p"]
    assert back.count() == frame.count()


def test_cm_append_streams_back_logically(spark, tmp_path):
    """Cross-lane check: files our CM append stages are resolved by the
    STREAMING source too (physical struct children by name)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )
    from rtdl_spark.sources.delta_stream_source import DeltaStreamDataSource

    root = _mk_cm_table(spark, tmp_path, "name")
    inner = StructType([
        StructField("inner", StringType(), True),
        StructField("j", LongType(), True),
    ])
    frame = spark.createDataFrame(
        [(5, ("q", 50), "north")],
        StructType([
            StructField("id", LongType(), True),
            StructField("s", inner, True),
            StructField("p", StringType(), True),
        ]),
    )
    write_delta_native(spark, frame, root, checkpoint_interval=0)
    spark.dataSource.register(DeltaStreamDataSource)
    sink = str(tmp_path / "cmsink")
    q = (
        spark.readStream.format("rtdl_delta_stream")
        .option("path", root)
        .load()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "cmckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = sorted(
        (r["id"], r["s"]["inner"], r["s"]["j"], r["p"])
        for r in spark.read.parquet(sink).collect()
    )
    assert rows == [
        (1, "x", 10, "east"), (2, "y", 20, "east"), (5, "q", 50, "north"),
    ]


def test_in_commit_timestamp_writes(spark, tmp_path):
    """r6 verdict item 7: when delta.enableInCommitTimestamps is set,
    every commit this writer makes carries a MONOTONIC
    inCommitTimestamp — strictly greater than the previous commit's
    even when the wall clock lags behind it (the protocol's clock-skew
    guarantee) — and timestamp time travel resolves through the ICT."""
    from rtdl_spark.sources.delta_reader import delta_history
    from rtdl_spark.sources.delta_writer import delete_where_delta_native

    root = str(tmp_path / "ict")
    os.makedirs(os.path.join(root, "_delta_log"))
    df = spark.range(0, 4).select(F.col("id"))
    df.coalesce(1).write.parquet(os.path.join(root, "d"))
    part = next(
        f for f in os.listdir(os.path.join(root, "d"))
        if f.endswith(".parquet")
    )
    far_future = 9_999_999_999_999  # the prev ICT is AHEAD of the clock
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {
            "timestamp": 1, "operation": "WRITE",
            "inCommitTimestamp": far_future}}) + "\n")
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["inCommitTimestamp"]}}) + "\n")
        f.write(json.dumps({"metaData": {
            "id": "ict", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}}]}),
            "partitionColumns": [],
            "configuration": {"delta.enableInCommitTimestamps": "true"},
            "createdTime": 1}}) + "\n")
        f.write(json.dumps({"add": {
            "path": "d/" + part, "partitionValues": {},
            "size": os.path.getsize(os.path.join(root, "d", part)),
            "modificationTime": 1, "dataChange": True}}) + "\n")

    # append (WRITE path) then DELETE (rewrite path): both must stamp
    write_delta_native(
        spark, spark.range(10, 12).select("id"), root, checkpoint_interval=0
    )
    delete_where_delta_native(spark, root, "id = 0")

    icts = []
    for v in (0, 1, 2):
        acts = _log_actions(root, v)
        info = next(a["commitInfo"] for a in acts if "commitInfo" in a)
        assert "inCommitTimestamp" in info, f"commit {v} missing ICT"
        icts.append(int(info["inCommitTimestamp"]))
    assert icts[0] == far_future
    assert icts[1] == far_future + 1, (
        "ICT must be STRICTLY greater than the previous commit's even "
        "when the wall clock is behind it"
    )
    assert icts[2] == far_future + 2

    # history resolves through ICT (reader preference already in place)
    hist = delta_history(spark, root)
    assert [h["timestamp"] for h in hist] == icts


def test_cleanup_delta_log_bounds_history(spark, tmp_path):
    """Log retention cleanup: commits below the checkpoint AND older
    than the retention window are deleted (age from the commit's OWN
    timestamp, ICT preferred); current reads are untouched, time travel
    to a cleaned version refuses loudly, young commits survive."""
    from rtdl_spark.sources.delta_writer import (
        cleanup_delta_log_native,
        write_checkpoint_native,
    )

    table = str(tmp_path / "logc")
    for lo in (0, 5, 10):
        write_delta_native(
            spark,
            spark.range(lo, lo + 5).select("id").coalesce(1),
            table,
            checkpoint_interval=0,
        )
    write_checkpoint_native(spark, table)  # checkpoint at v2

    # retention window still open: nothing deletable
    assert cleanup_delta_log_native(
        spark, table, retain_ms=3600_000, dry_run=True
    ) == []

    victims = cleanup_delta_log_native(spark, table, retain_ms=0)
    assert f"{0:020d}.json" in victims and f"{1:020d}.json" in victims
    assert f"{2:020d}.json" not in victims  # the checkpointed tip stays

    got = sorted(r["id"] for r in read_delta_native(spark, table).collect())
    assert got == list(range(15))
    with pytest.raises(ValueError, match="missing commit"):
        read_delta_native(spark, table, version=0)

    # appends continue normally after cleanup
    write_delta_native(
        spark, spark.range(15, 18).select("id"), table,
        checkpoint_interval=0,
    )
    assert read_delta_native(spark, table).count() == 18

    # a later checkpoint supersedes the old one's files
    write_checkpoint_native(spark, table)  # at v3
    victims2 = cleanup_delta_log_native(spark, table, retain_ms=0)
    assert f"{2:020d}.checkpoint.parquet" in victims2
    assert read_delta_native(spark, table).count() == 18


def test_check_constraints_enforced(spark, tmp_path):
    """CHECK constraints (a wholesale refusal until r7) are ENFORCED:
    a violating append/UPDATE fails loudly and commits nothing; passing
    rows flow; NULL constraint results pass (SQL CHECK semantics)."""
    from rtdl_spark.sources.delta_reader import snapshot_actions
    from rtdl_spark.sources.delta_writer import update_where_delta_native

    table = str(tmp_path / "chk")
    write_delta_native(
        spark,
        spark.createDataFrame(
            [(i, i * 2) for i in range(1, 6)], "id long, v long"
        ),
        table,
        checkpoint_interval=0,
    )
    _, meta, _, current, _ = snapshot_actions(spark, table)
    with open(
        os.path.join(table, "_delta_log", f"{current + 1:020d}.json"), "w"
    ) as f:
        f.write(json.dumps({"commitInfo": {
            "timestamp": 2, "operation": "ADD CONSTRAINT"}}) + "\n")
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 3}}) + "\n")
        f.write(json.dumps({"metaData": {
            **meta,
            "configuration": {"delta.constraints.posv": "v > 0"}}})
            + "\n")

    # passing append
    write_delta_native(
        spark,
        spark.range(6, 8).select("id", (F.col("id") * 2).alias("v")),
        table,
        checkpoint_interval=0,
    )
    assert read_delta_native(spark, table).count() == 7

    # violating append: loud, nothing committed
    bad = spark.createDataFrame([(8, 0), (9, 18)], "id long, v long")
    with pytest.raises(Exception, match="CHECK constraint posv"):
        write_delta_native(spark, bad, table, checkpoint_interval=0)
    assert read_delta_native(spark, table).count() == 7

    # NULL constraint result passes (SQL CHECK)
    nulls = spark.createDataFrame(
        [(30, None)], "id long, v long"
    )
    write_delta_native(spark, nulls, table, checkpoint_interval=0)
    assert read_delta_native(spark, table).count() == 8

    # UPDATE driving a row into violation: refused at rewrite time
    with pytest.raises(Exception, match="CHECK constraint posv"):
        update_where_delta_native(spark, table, "id = 6", {"v": "-1"})
    got = sorted(r["id"] for r in read_delta_native(spark, table).collect())
    assert got == [1, 2, 3, 4, 5, 6, 7, 30]


def test_generated_columns_computed_and_validated(spark, tmp_path):
    """GENERATED columns (a wholesale refusal until r7): a frame that
    OMITS the column gets it computed from the generation expression; a
    frame that PROVIDES it is validated (mismatch refuses loudly,
    null-safe equality)."""
    from rtdl_spark.sources.delta_reader import snapshot_actions

    table = str(tmp_path / "gen")
    write_delta_native(
        spark,
        spark.range(1, 4).select(
            "id", (F.col("id") % 3).cast("int").alias("bucket")
        ),
        table,
        checkpoint_interval=0,
    )
    _, meta, _, current, _ = snapshot_actions(spark, table)
    schema = json.loads(meta["schemaString"])
    for f in schema["fields"]:
        if f["name"] == "bucket":
            f["metadata"] = {
                "delta.generationExpression": "CAST(id % 3 AS INT)"
            }
    with open(
        os.path.join(table, "_delta_log", f"{current + 1:020d}.json"), "w"
    ) as f:
        f.write(json.dumps({"commitInfo": {
            "timestamp": 2, "operation": "SET"}}) + "\n")
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 4}}) + "\n")
        f.write(json.dumps({"metaData": {
            **meta, "schemaString": json.dumps(schema)}}) + "\n")

    # omitted -> computed
    write_delta_native(
        spark, spark.range(10, 13).select("id"), table,
        checkpoint_interval=0,
    )
    got = {
        r["id"]: r["bucket"]
        for r in read_delta_native(spark, table).collect()
    }
    assert got[10] == 1 and got[11] == 2 and got[12] == 0

    # provided and CORRECT -> accepted
    ok = spark.createDataFrame([(20, 2)], "id long, bucket int")
    write_delta_native(spark, ok, table, checkpoint_interval=0)

    # provided and WRONG -> loud refusal, nothing committed
    bad = spark.createDataFrame([(21, 5)], "id long, bucket int")
    with pytest.raises(Exception, match="generated column 'bucket'"):
        write_delta_native(spark, bad, table, checkpoint_interval=0)
    assert read_delta_native(spark, table).count() == 7


def test_domain_metadata_preserved_through_checkpoints(spark, tmp_path):
    """domainMetadata (r7): a foreign writer's per-domain state — row
    tracking, clustering — survives our appends AND our checkpoints
    (latest action per domain wins, removed=true tombstones kept); a
    table demanding the domainMetadata writer feature is writable."""
    from rtdl_spark.sources.delta_reader import snapshot_domains
    from rtdl_spark.sources.delta_writer import write_checkpoint_native

    root = str(tmp_path / "dom")
    write_delta_native(
        spark, _frame(spark, 0, 5), root, checkpoint_interval=0
    )
    with open(
        os.path.join(root, "_delta_log", f"{1:020d}.json"), "w"
    ) as f:
        f.write(json.dumps({"commitInfo": {
            "timestamp": 2, "operation": "SET"}}) + "\n")
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["domainMetadata", "appendOnly",
                               "invariants"]}}) + "\n")
        f.write(json.dumps({"domainMetadata": {
            "domain": "delta.clustering",
            "configuration": json.dumps({"cols": ["id"]}),
            "removed": False}}) + "\n")
        f.write(json.dumps({"domainMetadata": {
            "domain": "app.custom", "configuration": "one",
            "removed": False}}) + "\n")
    with open(
        os.path.join(root, "_delta_log", f"{2:020d}.json"), "w"
    ) as f:
        f.write(json.dumps({"commitInfo": {
            "timestamp": 3, "operation": "SET"}}) + "\n")
        f.write(json.dumps({"domainMetadata": {
            "domain": "app.custom", "configuration": "two",
            "removed": True}}) + "\n")

    # our append on the feature-carrying table is accepted
    v = write_delta_native(spark, _frame(spark, 5, 8), root,
                           checkpoint_interval=0)
    assert v == 3

    doms = snapshot_domains(spark, root)
    assert doms["delta.clustering"]["removed"] is False
    assert doms["app.custom"]["configuration"] == "two"
    assert doms["app.custom"]["removed"] is True

    # checkpoint carries the state; replay bounded by it still sees it
    cv = write_checkpoint_native(spark, root)
    for old in range(0, cv + 1):
        p = os.path.join(root, "_delta_log", f"{old:020d}.json")
        if os.path.exists(p):
            os.remove(p)
    doms2 = snapshot_domains(spark, root)
    assert doms2 == doms
    got = sorted(r["id"] for r in read_delta_native(spark, root).collect())
    assert got == list(range(8))


def test_timestamp_ntz_roundtrip(spark, tmp_path):
    """timestampNtz (reader+writer feature): a TIMESTAMP_NTZ column
    round-trips through the native writer and reader — it is a TYPE,
    not a writer duty; a v7 table carrying the feature appends fine."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "ntz")
    df = spark.range(0, 4).select(
        "id",
        F.to_timestamp_ntz(
            F.lit("2024-03-01 10:15:30")
        ).alias("ts"),
    )
    write_delta_native(spark, df, root, checkpoint_interval=0)
    with open(
        os.path.join(root, "_delta_log", f"{1:020d}.json"), "w"
    ) as f:
        f.write(json.dumps({"commitInfo": {
            "timestamp": 2, "operation": "SET"}}) + "\n")
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["timestampNtz"],
            "writerFeatures": ["timestampNtz", "appendOnly",
                               "invariants"]}}) + "\n")
    write_delta_native(spark, df.withColumn("id", F.col("id") + 10),
                       root, checkpoint_interval=0)
    got = read_delta_native(spark, root)
    assert dict(got.dtypes)["ts"] == "timestamp_ntz"
    rows = got.collect()
    assert len(rows) == 8
    assert all(str(r["ts"]) == "2024-03-01 10:15:30" for r in rows)


def test_row_tracking_appends_assign_base_row_ids(spark, tmp_path):
    """rowTracking (r7): appends to a feature-carrying table assign
    fresh non-overlapping baseRowId ranges after the delta.rowTracking
    high watermark, stamp defaultRowCommitVersion, and advance the
    watermark domain in the SAME commit; the ids survive checkpoints;
    rewrites (which must preserve ids) refuse by name."""
    from rtdl_spark.sources.delta_reader import (
        snapshot_actions,
        snapshot_domains,
    )
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
        optimize_delta_native,
        write_checkpoint_native,
    )

    root = str(tmp_path / "rt")
    write_delta_native(
        spark, _frame(spark, 0, 6).coalesce(2), root, checkpoint_interval=0
    )
    with open(
        os.path.join(root, "_delta_log", f"{1:020d}.json"), "w"
    ) as f:
        f.write(json.dumps({"commitInfo": {
            "timestamp": 2, "operation": "UPGRADE"}}) + "\n")
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["rowTracking", "domainMetadata",
                               "appendOnly", "invariants"]}}) + "\n")

    v2 = write_delta_native(
        spark, _frame(spark, 6, 11).coalesce(2), root,
        checkpoint_interval=0,
    )
    v3 = write_delta_native(
        spark, _frame(spark, 11, 14).coalesce(1), root,
        checkpoint_interval=0,
    )

    _, _, active, _, _ = snapshot_actions(spark, root)
    tracked = sorted(
        (a["baseRowId"], a["defaultRowCommitVersion"],
         json.loads(a["stats"])["numRecords"])
        for a in active.values()
        if a.get("baseRowId") is not None
    )
    # ranges are contiguous from 0 and never overlap
    expect_next = 0
    for base, dcv, nr in tracked:
        assert base == expect_next
        expect_next = base + nr
    assert expect_next == 8  # 5 rows in v2 + 3 rows in v3
    assert sorted({dcv for _, dcv, _ in tracked}) == [v2, v3]
    doms = snapshot_domains(spark, root)
    assert json.loads(
        doms["delta.rowTracking"]["configuration"]
    )["rowIdHighWaterMark"] == 7

    # ids survive the checkpoint flow
    cv = write_checkpoint_native(spark, root)
    for old in range(0, cv + 1):
        p = os.path.join(root, "_delta_log", f"{old:020d}.json")
        if os.path.exists(p):
            os.remove(p)
    _, _, active2, _, _ = snapshot_actions(spark, root)
    tracked2 = sorted(
        (a["baseRowId"], a["defaultRowCommitVersion"])
        for a in active2.values()
        if a.get("baseRowId") is not None
    )
    assert tracked2 == [(b, d) for b, d, _ in tracked]

    # and another append continues after the checkpointed watermark
    v4 = write_delta_native(
        spark, _frame(spark, 14, 16).coalesce(1), root,
        checkpoint_interval=0,
    )
    doms2 = snapshot_domains(spark, root)
    assert json.loads(
        doms2["delta.rowTracking"]["configuration"]
    )["rowIdHighWaterMark"] == 9

    # r8: every DML path now PRESERVES row ids via the materialized
    # columns — see test_row_tracking_rewrites_preserve_ids (DELETE/
    # UPDATE/OPTIMIZE + MERGE) and test_row_tracking_dv_dml_preserves_ids


def _row_ids(spark, root):
    """{id value: (row id, commit version)} resolved the spec's way:
    materialized column if non-null, else baseRowId + row index /
    defaultRowCommitVersion of the containing file."""
    from rtdl_spark.sources.delta_reader import snapshot_actions

    _, meta, active, _, _ = snapshot_actions(spark, root)
    conf = meta.get("configuration") or {}
    mat_id = conf.get("delta.rowTracking.materializedRowIdColumnName")
    mat_cv = conf.get(
        "delta.rowTracking.materializedRowCommitVersionColumnName"
    )
    out = {}
    import pyarrow.parquet as pq

    for rel, a in active.items():
        p = os.path.join(root, rel)
        t = pq.read_table(p).to_pylist()
        for i, row in enumerate(t):
            rid = row.get(mat_id) if mat_id else None
            if rid is None:
                rid = a["baseRowId"] + i
            rcv = row.get(mat_cv) if mat_cv else None
            if rcv is None:
                rcv = a["defaultRowCommitVersion"]
            out[row["id"]] = (rid, rcv)
    return out


def test_row_tracking_rewrites_preserve_ids(spark, tmp_path):
    """rowTracking REWRITES (r8, was a named refusal): DELETE WHERE,
    UPDATE WHERE and OPTIMIZE carry each surviving row's identity into
    the rewritten files via the materialized row-id/commit-version
    columns (minted into the configuration on first need). Updated
    rows keep their id and take the NEW commit version; moved-but-
    untouched rows keep both."""
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
        optimize_delta_native,
        update_where_delta_native,
    )

    root = str(tmp_path / "rtrw")
    write_delta_native(  # v0: schema seed, zero rows (every data file
        spark, _frame(spark, 0, 0), root, checkpoint_interval=0
    )  # in this table is born under the feature and carries ids)
    with open(
        os.path.join(root, "_delta_log", f"{1:020d}.json"), "w"
    ) as f:
        f.write(json.dumps({"commitInfo": {
            "timestamp": 2, "operation": "UPGRADE"}}) + "\n")
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["rowTracking", "domainMetadata",
                               "appendOnly", "invariants"]}}) + "\n")
    write_delta_native(  # v2: ids 0..9
        spark, _frame(spark, 0, 10).coalesce(2), root,
        checkpoint_interval=0,
    )
    before = _row_ids(spark, root)

    # DELETE: survivors keep id AND commit version
    res = delete_where_delta_native(spark, root, "id IN (2, 7)")
    assert res["version"] is not None
    after_del = _row_ids(spark, root)
    assert set(after_del) == set(before) - {2, 7}
    for k, v in after_del.items():
        assert v == before[k], f"row {k} identity changed on DELETE"

    # the materialized column names were minted into the configuration
    from rtdl_spark.sources.delta_reader import snapshot_actions
    _, meta, _, _, _ = snapshot_actions(spark, root)
    conf = meta["configuration"]
    assert conf["delta.rowTracking.materializedRowIdColumnName"]
    assert conf["delta.rowTracking.materializedRowCommitVersionColumnName"]

    # UPDATE: matched rows keep id, take the NEW commit version;
    # untouched neighbors in the rewritten files keep both
    vu = update_where_delta_native(
        spark, root, "id = 4", {"v": "v + 100"}
    )["version"]
    after_upd = _row_ids(spark, root)
    assert after_upd[4][0] == before[4][0], "updated row id changed"
    assert after_upd[4][1] == vu, "updated row must take the new version"
    for k in set(after_upd) - {4}:
        assert after_upd[k] == after_del[k]

    # OPTIMIZE: everything preserved, ids and versions alike
    vo = optimize_delta_native(spark, root, target_file_bytes=1 << 30)
    assert vo["version"] is not None
    after_opt = _row_ids(spark, root)
    assert after_opt == after_upd, "OPTIMIZE must not mint identities"

    # MERGE (r8): matched targets keep their id with a fresh commit
    # version; inserted rows get fresh ids
    from rtdl_spark.sources.delta_writer import merge_into_delta_native

    msrc = spark.createDataFrame(
        [(5, 5000, "m"), (40, 4000, "m")], "id long, v long, tag string"
    )
    vm = merge_into_delta_native(spark, root, msrc, on=["id"])["version"]
    after_mrg = _row_ids(spark, root)
    assert after_mrg[5][0] == after_opt[5][0], "MERGE changed a row id"
    assert after_mrg[5][1] == vm, "updated row must take the new version"
    assert 40 in after_mrg
    for k in set(after_opt) - {5}:
        assert after_mrg[k] == after_opt[k]
    assert after_mrg[40][0] not in {
        rid for rid, _ in after_opt.values()
    }, "inserted row must get a FRESH id"

    # fresh appends continue the id sequence (no reuse of rewritten
    # files' baseRowId ranges)
    write_delta_native(
        spark, _frame(spark, 50, 53).coalesce(1), root,
        checkpoint_interval=0,
    )
    after_app = _row_ids(spark, root)
    new_ids = {after_app[k][0] for k in (50, 51, 52)}
    assert len(new_ids) == 3
    assert new_ids.isdisjoint(
        {rid for rid, _ in after_mrg.values()}
    ), "fresh appends must never reuse live row ids"
    # the read path never leaks the materialized columns
    from rtdl_spark.sources.delta_reader import read_delta_native
    assert read_delta_native(spark, root).columns == ["id", "v", "tag"]


def test_checkpoint_preserves_protocol_features(spark, tmp_path):
    """REGRESSION (r7): the classic-checkpoint writer stored only
    minReader/minWriterVersion — a checkpointed v3/v7 table LOST its
    reader/writer features once the JSON tail was cleaned, silently
    un-gating every feature-keyed duty (DV, CM, rowTracking) and
    corrupting the table for other engines. Features now round-trip."""
    from rtdl_spark.sources.delta_reader import snapshot_actions
    from rtdl_spark.sources.delta_writer import write_checkpoint_native

    root = str(tmp_path / "feat")
    write_delta_native(
        spark, _frame(spark, 0, 4), root, checkpoint_interval=0
    )
    with open(
        os.path.join(root, "_delta_log", f"{1:020d}.json"), "w"
    ) as f:
        f.write(json.dumps({"commitInfo": {
            "timestamp": 2, "operation": "UPGRADE"}}) + "\n")
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors", "appendOnly",
                               "invariants"]}}) + "\n")
        f.write(json.dumps({"metaData": {
            **snapshot_actions(spark, root)[1],
            "configuration": {"delta.appendOnly": "true"}}}) + "\n")

    cv = write_checkpoint_native(spark, root)
    for old in range(0, cv + 1):
        p = os.path.join(root, "_delta_log", f"{old:020d}.json")
        if os.path.exists(p):
            os.remove(p)

    protocol, meta, _, _, _ = snapshot_actions(spark, root)
    assert set(protocol.get("readerFeatures") or ()) == {"deletionVectors"}
    assert set(protocol.get("writerFeatures") or ()) == {
        "deletionVectors", "appendOnly", "invariants"
    }
    # and the feature-keyed duty still enforces: appendOnly blocks
    # overwrite after the tail is gone
    with pytest.raises(ValueError, match="appendOnly"):
        write_delta_native(
            spark, _frame(spark, 4, 6), root, mode="overwrite",
            checkpoint_interval=0,
        )


@pytest.mark.parametrize("mode", ["name", "id"])
def test_cm_table_creation_and_evolution(spark, tmp_path, mode):
    """CM table CREATION (r7, was a named refusal) and mergeSchema
    EVOLUTION: every column at every nesting level gets a fresh
    delta.columnMapping.id + col-<uuid> physicalName (evolution assigns
    NEW columns ids above maxColumnId and advances it), staged files
    carry physical names AND parquet field ids, and both CM read modes
    resolve everything back to logical names.

    Also pins the field-id regression found building this: ids
    attached via .to() alone were LOST for flat/foldable columns (a
    lit() evolution column reached the writer id-less) — they now ride
    alias metadata."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from rtdl_spark.sources.delta_reader import snapshot_actions
    from rtdl_spark.sources.delta_writer import delete_where_delta_native

    root = str(tmp_path / f"cmc_{mode}")
    df = spark.range(0, 10).select(
        "id", (F.col("id") % 2).cast("string").alias("p"),
        F.struct(
            F.col("id").cast("string").alias("s1"),
            (F.col("id") * 2).alias("s2"),
        ).alias("nest"),
    )
    v = write_delta_native(
        spark, df, root, partition_by=["p"], column_mapping=mode,
        checkpoint_interval=0,
    )
    assert v == 0
    _, meta, _, _, _ = snapshot_actions(spark, root)
    conf = meta["configuration"]
    assert conf["delta.columnMapping.mode"] == mode
    assert int(conf["delta.columnMapping.maxColumnId"]) == 5
    sj = json.loads(meta["schemaString"])
    assert all(
        "delta.columnMapping.physicalName" in f["metadata"]
        for f in sj["fields"]
    )
    fp = glob.glob(root + "/*/*.parquet")[0]
    sa = pq.ParquetFile(fp).schema_arrow
    assert all(f.name.startswith("col-") for f in sa)
    assert all(
        (f.metadata or {}).get(b"PARQUET:field_id") is not None for f in sa
    ), "staged files must carry parquet field ids"

    got = read_delta_native(spark, root)
    rows = sorted(
        (r["id"], r["p"], r["nest"]["s1"], r["nest"]["s2"])
        for r in got.collect()
    )
    assert rows[0] == (0, "0", "0", 0) and len(rows) == 10

    write_delta_native(
        spark, df.withColumn("id", F.col("id") + 10), root,
        checkpoint_interval=0,
    )
    delete_where_delta_native(spark, root, "id = 3")
    assert read_delta_native(spark, root).count() == 19

    # evolution: the new LITERAL column w gets id 6 and reads back
    write_delta_native(
        spark,
        df.withColumn("id", F.col("id") + 100).withColumn(
            "w", F.lit(1.5)
        ),
        root, merge_schema=True, checkpoint_interval=0,
    )
    _, meta2, _, _, _ = snapshot_actions(spark, root)
    assert int(
        meta2["configuration"]["delta.columnMapping.maxColumnId"]
    ) == 6
    wf = [
        f for f in json.loads(meta2["schemaString"])["fields"]
        if f["name"] == "w"
    ][0]
    assert wf["metadata"]["delta.columnMapping.id"] == 6
    assert wf["metadata"]["delta.columnMapping.physicalName"].startswith(
        "col-"
    )
    got = read_delta_native(spark, root)
    assert got.filter("w IS NOT NULL").count() == 10
    assert got.filter("w IS NULL").count() == 19

    # an evolution frame LACKING w still appends; readers null-fill
    write_delta_native(
        spark, df.withColumn("id", F.col("id") + 200), root,
        merge_schema=True, checkpoint_interval=0,
    )
    assert read_delta_native(spark, root).filter("id >= 200").count() == 10

    # the option never converts an existing table
    with pytest.raises(ValueError, match="creation"):
        write_delta_native(
            spark, df, root,
            column_mapping="name" if mode == "id" else "id",
            checkpoint_interval=0,
        )


@pytest.mark.parametrize("mode", ["name", "id"])
def test_cm_optimize_repacks_physically(spark, tmp_path, mode):
    """OPTIMIZE on column-mapped tables (r7, was the last CM rewrite
    refusal besides overwrite): a pure PHYSICAL-layout passthrough —
    files read under physical names, repacked per physical partition
    dir, parquet field ids re-attached at every nesting level (an
    id-mode reader of the output would otherwise null every column).
    Row set unchanged; ZORDER variant works on LOGICAL column names."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from rtdl_spark.sources.delta_reader import snapshot_actions
    from rtdl_spark.sources.delta_writer import optimize_delta_native

    root = str(tmp_path / f"optcm_{mode}")
    df = spark.range(0, 40).select(
        "id", (F.col("id") % 2).cast("string").alias("p"),
        F.struct(F.col("id").cast("string").alias("s1")).alias("nest"),
    )
    write_delta_native(
        spark, df.repartition(4), root, partition_by=["p"],
        column_mapping=mode, checkpoint_interval=0,
    )
    write_delta_native(
        spark, df.withColumn("id", F.col("id") + 100).repartition(4),
        root, checkpoint_interval=0,
    )
    _, _, active0, _, _ = snapshot_actions(spark, root)
    res = optimize_delta_native(spark, root, target_file_bytes=1 << 30)
    assert res["version"] is not None
    _, _, active1, _, _ = snapshot_actions(spark, root)
    assert len(active1) < len(active0)

    got = read_delta_native(spark, root)
    assert sorted(r["id"] for r in got.collect()) == sorted(
        list(range(40)) + list(range(100, 140))
    )
    assert got.filter("nest.s1 = '7'").count() == 2  # one per batch

    newest = max(
        glob.glob(root + "/*/*.parquet"), key=os.path.getmtime
    )
    sa = pq.ParquetFile(newest).schema_arrow
    assert all(
        (f.metadata or {}).get(b"PARQUET:field_id") for f in sa
    ), "repacked files must carry field ids"
    assert all(f.name.startswith("col-") for f in sa)

    # ZORDER BY takes logical names and re-clusters without row loss
    optimize_delta_native(
        spark, root, zorder_by=["id"], target_file_bytes=1 << 18
    )
    assert read_delta_native(spark, root).count() == 80


@pytest.mark.parametrize("mode", ["name", "id"])
def test_cm_same_schema_overwrite(spark, tmp_path, mode):
    """Same-schema OVERWRITE on CM tables (r7): actives tombstoned, the
    new data staged physically, CM metadata untouched, old versions
    still time-travelable. (Schema-REPLACING overwrite is supported
    since r8 — test_cm_schema_replacing_overwrite.)"""
    from pyspark.sql import functions as F

    from rtdl_spark.sources.delta_reader import snapshot_actions

    root = str(tmp_path / f"cmo_{mode}")
    df = spark.range(0, 10).select(
        "id", (F.col("id") % 2).cast("string").alias("p")
    )
    write_delta_native(
        spark, df, root, partition_by=["p"], column_mapping=mode,
        checkpoint_interval=0,
    )
    write_delta_native(
        spark, df.withColumn("id", F.col("id") + 50), root,
        mode="overwrite", checkpoint_interval=0,
    )
    assert sorted(
        r["id"] for r in read_delta_native(spark, root).collect()
    ) == list(range(50, 60))
    assert read_delta_native(spark, root, version=0).count() == 10
    _, meta, _, _, _ = snapshot_actions(spark, root)
    assert meta["configuration"]["delta.columnMapping.mode"] == mode

@pytest.mark.parametrize("mode", ["name", "id"])
def test_cm_schema_replacing_overwrite(spark, tmp_path, mode):
    """Schema-REPLACING overwrite on CM tables (r8 — the last CM
    writer refusal lifted): the mapping is REBUILT — retained columns
    (matched by logical name, nested levels included) keep their
    delta.columnMapping.id/physicalName, dropped columns vanish (ids
    never reused), new columns get fresh ids above maxColumnId, and
    maxColumnId advances in the same metaData. Old versions stay
    time-travelable under their own metaData."""
    import json as _json

    from pyspark.sql import functions as F

    from rtdl_spark.sources.delta_reader import (
        read_delta_native,
        snapshot_actions,
    )

    root = str(tmp_path / f"cmr_{mode}")
    df = spark.range(0, 10).select(
        "id",
        F.struct(
            F.col("id").cast("string").alias("inner"),
            (F.col("id") * 2).alias("j"),
        ).alias("s"),
        (F.col("id") % 2).cast("string").alias("p"),
    )
    write_delta_native(
        spark, df, root, partition_by=["p"], column_mapping=mode,
        checkpoint_interval=0,
    )
    _, meta0, _, _, _ = snapshot_actions(spark, root)
    f0 = {
        f["name"]: f
        for f in _json.loads(meta0["schemaString"])["fields"]
    }
    max0 = int(meta0["configuration"]["delta.columnMapping.maxColumnId"])

    # replace: drop `s.j` and `p`-partitioning, keep id + s.inner,
    # add a brand-new column zz; also repartition by nothing
    new = spark.range(50, 56).select(
        "id",
        F.struct(F.col("id").cast("string").alias("inner")).alias("s"),
        (F.col("id") % 3).cast("long").alias("zz"),
    )
    write_delta_native(  # partition_by=[] drops the partitioning too
        spark, new, root, mode="overwrite", partition_by=[],
        checkpoint_interval=0,
    )

    back = read_delta_native(spark, root)
    assert back.columns == ["id", "s", "zz"]
    assert sorted(
        (r["id"], r["s"]["inner"], r["zz"]) for r in back.collect()
    ) == [(i, str(i), i % 3) for i in range(50, 56)]

    _, meta1, _, _, _ = snapshot_actions(spark, root)
    f1 = {
        f["name"]: f
        for f in _json.loads(meta1["schemaString"])["fields"]
    }
    max1 = int(meta1["configuration"]["delta.columnMapping.maxColumnId"])
    # retained columns keep their identity at every level
    for name in ("id", "s"):
        assert (
            f1[name]["metadata"]["delta.columnMapping.id"]
            == f0[name]["metadata"]["delta.columnMapping.id"]
        )
        assert (
            f1[name]["metadata"]["delta.columnMapping.physicalName"]
            == f0[name]["metadata"]["delta.columnMapping.physicalName"]
        )
    inner0 = f0["s"]["type"]["fields"][0]
    inner1 = f1["s"]["type"]["fields"][0]
    assert inner1["metadata"]["delta.columnMapping.id"] == (
        inner0["metadata"]["delta.columnMapping.id"]
    )
    # the new column's id is fresh, above the old watermark; dropped
    # columns are gone; maxColumnId advanced
    assert f1["zz"]["metadata"]["delta.columnMapping.id"] > max0
    assert "p" not in f1
    assert len(f1["s"]["type"]["fields"]) == 1
    assert max1 > max0
    assert meta1["configuration"]["delta.columnMapping.mode"] == mode

    # old version reads under its own metaData: old schema, old rows
    v0 = read_delta_native(spark, root, version=0)
    assert v0.columns == ["id", "s", "p"]
    assert sorted((r["id"], r["s"]["j"]) for r in v0.collect()) == [
        (i, i * 2) for i in range(10)
    ]

    # writes AFTER the replace keep working in the rebuilt layout
    write_delta_native(
        spark,
        spark.range(90, 92).select(
            "id",
            F.struct(F.col("id").cast("string").alias("inner")).alias("s"),
            F.lit(7).cast("long").alias("zz"),
        ),
        root, checkpoint_interval=0,
    )
    assert read_delta_native(spark, root).count() == 8


def test_row_tracking_dv_dml_preserves_ids(spark, tmp_path):
    """rowTracking x deletion vectors (r8): a DV DELETE re-adds the
    same file with its live baseRowId passed through verbatim
    (survivors never move — ids free); a DV UPDATE moves matched rows
    to new files with their ids MATERIALIZED and a fresh commit
    version, while the masked re-adds keep their range unstamped."""
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_dv,
        update_where_delta_dv,
    )

    root = str(tmp_path / "rtdv")
    write_delta_native(
        spark, _frame(spark, 0, 0), root, checkpoint_interval=0
    )
    from rtdl_spark.sources.delta_reader import snapshot_actions
    _, meta0, _, _, _ = snapshot_actions(spark, root)
    with open(
        os.path.join(root, "_delta_log", f"{1:020d}.json"), "w"
    ) as f:
        f.write(json.dumps({"commitInfo": {
            "timestamp": 2, "operation": "UPGRADE"}}) + "\n")
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors", "rowTracking",
                               "domainMetadata", "appendOnly",
                               "invariants"]}}) + "\n")
        f.write(json.dumps({"metaData": {
            **meta0,
            "configuration": {"delta.enableDeletionVectors": "true"},
        }}) + "\n")
    write_delta_native(  # ids 0..9
        spark, _frame(spark, 0, 10).coalesce(2), root,
        checkpoint_interval=0,
    )
    before = _row_ids(spark, root)

    res = delete_where_delta_dv(spark, root, "id IN (1, 6)")
    assert res["version"] is not None and res["rows_deleted"] == 2
    after_del = _row_ids(spark, root)
    # _row_ids reads raw files; subtract the DV-masked ids
    from rtdl_spark.sources.delta_reader import read_delta_native
    visible = {r["id"] for r in read_delta_native(spark, root).collect()}
    assert visible == set(range(10)) - {1, 6}
    for k in visible:
        assert after_del[k] == before[k], (
            f"row {k} identity changed on DV DELETE"
        )

    vu = update_where_delta_dv(
        spark, root, "id = 4", {"v": "v + 1000"}
    )["version"]
    # the updated row moved files but kept its id with a fresh commit
    # version; the raw scan still holds the DV-masked original, so
    # collect ALL physical (id -> identity) pairs and look for the new
    # one keyed by the updated value
    import pyarrow.parquet as _pq

    _, meta_u, active_u, _, _ = snapshot_actions(spark, root)
    conf_u = meta_u["configuration"]
    mat_id = conf_u["delta.rowTracking.materializedRowIdColumnName"]
    mat_cv = conf_u[
        "delta.rowTracking.materializedRowCommitVersionColumnName"
    ]
    got4 = []
    for rel, a in active_u.items():
        for i, r in enumerate(
            _pq.read_table(os.path.join(root, rel)).to_pylist()
        ):
            if r["id"] == 4 and r["v"] == 8 + 1000:
                rid = r.get(mat_id)
                rid = a["baseRowId"] + i if rid is None else rid
                rcv = r.get(mat_cv)
                rcv = a["defaultRowCommitVersion"] if rcv is None else rcv
                got4.append((rid, rcv))
    assert got4 == [(before[4][0], vu)], (
        "DV UPDATE must materialize the moved row's id and stamp the "
        "new commit version"
    )
    got = {r["id"]: r["v"] for r in read_delta_native(spark, root).collect()}
    assert got[4] == 8 + 1000


def test_clustered_table_accepted_and_optimize_reclusters(
    spark, tmp_path
):
    """Clustered tables (r8): the clustering writer feature is
    accepted (the duty — preserving the delta.clustering domain — is
    held by domain preservation through commits and checkpoints), and
    OPTIMIZE with no explicit zorder_by RECLUSTERS by the domain's
    clustering columns; nested clustering columns refuse by name."""
    from rtdl_spark.sources.delta_reader import (
        read_delta_native,
        snapshot_domains,
    )
    from rtdl_spark.sources.delta_writer import (
        optimize_delta_native,
        write_checkpoint_native,
    )

    root = str(tmp_path / "clus")
    write_delta_native(
        spark, _frame(spark, 0, 40).repartition(4), root,
        checkpoint_interval=0,
    )
    with open(
        os.path.join(root, "_delta_log", f"{1:020d}.json"), "w"
    ) as f:
        f.write(json.dumps({"commitInfo": {
            "timestamp": 2, "operation": "CLUSTER BY"}}) + "\n")
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["clustering", "domainMetadata",
                               "appendOnly", "invariants"]}}) + "\n")
        f.write(json.dumps({"domainMetadata": {
            "domain": "delta.clustering",
            "configuration": json.dumps(
                {"clusteringColumns": [["v"]]}
            ),
            "removed": False}}) + "\n")

    # appends accepted; the domain survives a checkpoint
    write_delta_native(
        spark, _frame(spark, 40, 44), root, checkpoint_interval=0
    )
    cv = write_checkpoint_native(spark, root)
    for old in range(0, cv + 1):
        p = os.path.join(root, "_delta_log", f"{old:020d}.json")
        if os.path.exists(p):
            os.remove(p)
    doms = snapshot_domains(spark, root)
    assert json.loads(doms["delta.clustering"]["configuration"]) == {
        "clusteringColumns": [["v"]]
    }

    # OPTIMIZE with no zorder_by reclusters by `v` from the domain
    res = optimize_delta_native(spark, root, target_file_bytes=1 << 18)
    assert res["version"] is not None
    got = read_delta_native(spark, root)
    assert got.count() == 44
    assert sorted(r["id"] for r in got.collect()) == list(range(44))

    # nested clustering columns refuse by name
    from rtdl_spark.sources.delta_reader import snapshot_actions

    _, _, _, cur, _ = snapshot_actions(spark, root)
    with open(
        os.path.join(root, "_delta_log", f"{cur + 1:020d}.json"), "w"
    ) as f:
        f.write(json.dumps({"commitInfo": {
            "timestamp": 9, "operation": "CLUSTER BY"}}) + "\n")
        f.write(json.dumps({"domainMetadata": {
            "domain": "delta.clustering",
            "configuration": json.dumps(
                {"clusteringColumns": [["s", "inner"]]}
            ),
            "removed": False}}) + "\n")
    with pytest.raises(ValueError, match="NESTED clustering"):
        optimize_delta_native(spark, root, min_files=1)


def test_vacuum_protocol_check(spark, tmp_path):
    """vacuumProtocolCheck (r8): vacuum validates the protocol BEFORE
    deleting anything — a table demanding an unknown writer feature
    refuses vacuum instead of reaping files it cannot understand."""
    from rtdl_spark.sources.delta_writer import vacuum_delta_native

    root = str(tmp_path / "vpc")
    write_delta_native(
        spark, _frame(spark, 0, 5), root, checkpoint_interval=0
    )
    with open(
        os.path.join(root, "_delta_log", f"{1:020d}.json"), "w"
    ) as f:
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["vacuumProtocolCheck", "appendOnly",
                               "invariants"]}}) + "\n")
    assert vacuum_delta_native(spark, root, retain_ms=0) == []

    with open(
        os.path.join(root, "_delta_log", f"{2:020d}.json"), "w"
    ) as f:
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["someFutureFeature"]}}) + "\n")
    with pytest.raises(ValueError, match="someFutureFeature"):
        vacuum_delta_native(spark, root, retain_ms=0)


def test_replacing_overwrite_enforces_retained_constraints(
    spark, tmp_path
):
    """A schema-REPLACING overwrite carries the old configuration —
    including delta.constraints.* — into the committed metaData, so
    retained CHECK constraints must be enforced on the replacing frame
    (delta-spark enforces CHECK on every write), and a constraint whose
    expression references a column absent from the new schema must
    REFUSE (a committed table declaring a constraint no append can even
    analyze is permanently wedged) — ADVICE r8."""
    from rtdl_spark.sources.delta_reader import snapshot_actions

    table = str(tmp_path / "repl_chk")
    write_delta_native(
        spark,
        spark.createDataFrame(
            [(i, i * 2) for i in range(1, 4)], "id long, v long"
        ),
        table,
        checkpoint_interval=0,
    )
    _, meta, _, current, _ = snapshot_actions(spark, table)
    with open(
        os.path.join(table, "_delta_log", f"{current + 1:020d}.json"), "w"
    ) as f:
        f.write(json.dumps({"commitInfo": {
            "timestamp": 2, "operation": "ADD CONSTRAINT"}}) + "\n")
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 3}}) + "\n")
        f.write(json.dumps({"metaData": {
            **meta,
            "configuration": {"delta.constraints.posv": "v > 0"}}})
            + "\n")

    # replacing overwrite (new column set, still contains v) with a
    # VIOLATING row: refused loudly, nothing committed
    bad = spark.createDataFrame(
        [(1, 0, "x")], "id long, v long, extra string"
    )
    with pytest.raises(Exception, match="CHECK constraint posv"):
        write_delta_native(
            spark, bad, table, mode="overwrite", checkpoint_interval=0
        )
    assert read_delta_native(spark, table).count() == 3

    # replacing overwrite whose new schema DROPS v: the retained
    # constraint could never be analyzed again — refuse
    dropped = spark.createDataFrame([(1, "x")], "id long, extra string")
    with pytest.raises(ValueError, match="does not analyze"):
        write_delta_native(
            spark, dropped, table, mode="overwrite", checkpoint_interval=0
        )
    assert read_delta_native(spark, table).count() == 3

    # passing replacing overwrite commits, and the constraint SURVIVES
    # into the new metaData (so the next violating append still refuses)
    good = spark.createDataFrame(
        [(10, 5, "y"), (11, 7, "z")], "id long, v long, extra string"
    )
    write_delta_native(
        spark, good, table, mode="overwrite", checkpoint_interval=0
    )
    _, meta2, _, _, _ = snapshot_actions(spark, table)
    assert (meta2.get("configuration") or {}).get(
        "delta.constraints.posv"
    ) == "v > 0"
    assert read_delta_native(spark, table).count() == 2
    with pytest.raises(Exception, match="CHECK constraint posv"):
        write_delta_native(
            spark,
            spark.createDataFrame(
                [(12, -1, "w")], "id long, v long, extra string"
            ),
            table,
            checkpoint_interval=0,
        )


def test_cluster_by_creates_clustered_table_end_to_end(spark, tmp_path):
    """cluster_by= at creation (r9): the creating commit carries the
    clustering + domainMetadata writer features and the
    delta.clustering domain; appends inherit it; OPTIMIZE with no
    zorder_by reclusters by the declared columns; the domain survives a
    checkpoint. Refusals: partition_by combo, absent/nested columns,
    complex-typed columns, and a mismatching cluster_by on an existing
    table."""
    from rtdl_spark.sources.delta_reader import (
        read_delta_native,
        snapshot_actions,
        snapshot_domains,
    )
    from rtdl_spark.sources.delta_writer import (
        optimize_delta_native,
        write_checkpoint_native,
    )

    root = str(tmp_path / "clusapi")
    v = write_delta_native(
        spark, _frame(spark, 0, 40).repartition(4), root,
        cluster_by=["v"], checkpoint_interval=0,
    )
    assert v == 0
    protocol, _, _, _, _ = snapshot_actions(spark, root)
    assert protocol["minWriterVersion"] == 7
    assert set(protocol["writerFeatures"]) == {
        "clustering", "domainMetadata"
    }
    doms = snapshot_domains(spark, root)
    assert json.loads(doms["delta.clustering"]["configuration"]) == {
        "clusteringColumns": [["v"]]
    }

    # append inherits; idempotent matching cluster_by is accepted too
    write_delta_native(
        spark, _frame(spark, 40, 44), root, checkpoint_interval=0
    )
    write_delta_native(
        spark, _frame(spark, 44, 46), root, cluster_by=["v"],
        checkpoint_interval=0,
    )
    # mismatching cluster_by on an existing table refuses
    with pytest.raises(ValueError, match="does not match"):
        write_delta_native(
            spark, _frame(spark, 46, 48), root, cluster_by=["id"],
            checkpoint_interval=0,
        )

    # the domain survives a checkpoint truncating the commit tail
    cv = write_checkpoint_native(spark, root)
    for old in range(0, cv + 1):
        p = os.path.join(root, "_delta_log", f"{old:020d}.json")
        if os.path.exists(p):
            os.remove(p)
    doms = snapshot_domains(spark, root)
    assert json.loads(doms["delta.clustering"]["configuration"]) == {
        "clusteringColumns": [["v"]]
    }

    # OPTIMIZE with no zorder_by reclusters by `v`; content unchanged
    res = optimize_delta_native(spark, root, target_file_bytes=1 << 18)
    assert res["version"] is not None
    got = read_delta_native(spark, root)
    assert sorted(r["id"] for r in got.collect()) == list(range(46))
    doms = snapshot_domains(spark, root)
    assert not doms["delta.clustering"].get("removed")

    # creation-time refusals
    with pytest.raises(ValueError, match="mutually exclusive"):
        write_delta_native(
            spark, _frame(spark, 0, 4), str(tmp_path / "x1"),
            cluster_by=["v"], partition_by=["id"],
        )
    with pytest.raises(ValueError, match="absent from frame"):
        write_delta_native(
            spark, _frame(spark, 0, 4), str(tmp_path / "x2"),
            cluster_by=["s.inner"],
        )
    nested = spark.range(3).selectExpr(
        "id", "named_struct('inner', id) AS s"
    )
    with pytest.raises(ValueError, match="atomic"):
        write_delta_native(
            spark, nested, str(tmp_path / "x3"), cluster_by=["s"]
        )

    # CM + clustering compose: reader v3 / writer v7 feature form
    cmroot = str(tmp_path / "cluscm")
    write_delta_native(
        spark, _frame(spark, 0, 10), cmroot, cluster_by=["v"],
        column_mapping="name", checkpoint_interval=0,
    )
    protocol, _, _, _, _ = snapshot_actions(spark, cmroot)
    assert protocol["minReaderVersion"] == 3
    assert "columnMapping" in protocol["readerFeatures"]
    assert set(protocol["writerFeatures"]) == {
        "columnMapping", "clustering", "domainMetadata"
    }
    assert read_delta_native(spark, cmroot).count() == 10
    res = optimize_delta_native(spark, cmroot, min_files=1)
    assert read_delta_native(spark, cmroot).count() == 10


def test_stream_upsert_to_delta_exactly_once(spark, tmp_path):
    """The foreachBatch+MERGE upsert sink (r10): per-epoch MERGE commits
    carry txn actions; duplicate keys within a batch collapse
    last-write-wins; wiping the streaming checkpoint re-delivers every
    epoch and the table's txn watermark skips them all — counts and
    values unchanged."""
    import json as _json
    import shutil

    from rtdl_spark.streaming import stream_upsert_to_delta

    src = tmp_path / "usrc"
    src.mkdir()
    ckpt = str(tmp_path / "uckpt")
    root = str(tmp_path / "utbl")
    schema = "k long, v long"
    write_delta_native(
        spark,
        spark.createDataFrame([(1, 10), (2, 20)], schema),
        root, checkpoint_interval=0,
    )

    def wave(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    # k=1 updated (twice in-batch -> last wins), k=5 inserted
    wave("w1.json", [{"k": 1, "v": 101}, {"k": 1, "v": 111},
                     {"k": 5, "v": 50}])
    q = stream_upsert_to_delta(
        spark, str(src), schema, root, ckpt, app_id="upsA", on=["k"]
    )
    q.awaitTermination(120)
    got = {r["k"]: r["v"] for r in read_delta_native(spark, root).collect()}
    assert got == {1: 111, 2: 20, 5: 50}

    wave("w2.json", [{"k": 2, "v": 222}])
    q = stream_upsert_to_delta(
        spark, str(src), schema, root, ckpt, app_id="upsA", on=["k"]
    )
    q.awaitTermination(120)
    got = {r["k"]: r["v"] for r in read_delta_native(spark, root).collect()}
    assert got == {1: 111, 2: 222, 5: 50}

    # full re-delivery: every epoch skipped by the txn watermark
    shutil.rmtree(ckpt)
    q = stream_upsert_to_delta(
        spark, str(src), schema, root, ckpt, app_id="upsA", on=["k"]
    )
    q.awaitTermination(120)
    got = {r["k"]: r["v"] for r in read_delta_native(spark, root).collect()}
    assert got == {1: 111, 2: 222, 5: 50}, (
        "re-delivered epochs must be skipped by the txn watermark"
    )


def test_convert_to_delta_native(spark, tmp_path):
    """CONVERT TO DELTA (r10): a plain Hive-partitioned parquet dir
    becomes a native Delta table IN PLACE — adds reference the files
    where they sit (zero copy), partition types come from PARTITIONED
    BY, footer stats ride in so the converted table data-skips, and the
    whole DML surface works on it afterwards."""
    from rtdl_spark.sources.delta_reader import (
        data_skipping_report,
        snapshot_actions,
    )
    from rtdl_spark.sources.delta_sql import delta_sql
    from rtdl_spark.sources.delta_writer import (
        convert_to_delta_native,
        delete_where_delta_native,
    )

    root = str(tmp_path / "plainp")
    df = spark.range(0, 400).select(
        "id",
        (F.col("id") % 4).cast("string").alias("part"),
        (F.col("id") * 2).alias("v"),
    )
    df.write.partitionBy("part").parquet(root)

    # partitioned layout without PARTITIONED BY refuses
    with pytest.raises(ValueError, match="PARTITIONED BY"):
        convert_to_delta_native(spark, root)
    res = delta_sql(
        spark,
        f"CONVERT TO DELTA parquet.`{root}` PARTITIONED BY (part string)",
    )
    assert res["version"] == 0 and res["files"] >= 4
    _, meta, active, _, _ = snapshot_actions(spark, root)
    assert meta["partitionColumns"] == ["part"]
    for a in active.values():
        st = json.loads(a["stats"])
        assert st["numRecords"] > 0
        assert "id" in st.get("minValues", {}), "footer stats must ride"
    got = read_delta_native(spark, root)
    assert got.count() == 400
    assert got.filter("part = '2'").count() == 100
    # stats prune immediately
    assert data_skipping_report(spark, root, "id = 7")["pruned"] >= 1
    # the converted table is a full citizen: DML works
    delete_where_delta_native(spark, root, "part = '3'")
    assert read_delta_native(spark, root).count() == 300
    # double convert refuses
    with pytest.raises(ValueError, match="already a Delta table"):
        convert_to_delta_native(spark, root)


def test_convert_to_delta_unpartitioned_and_escapes(spark, tmp_path):
    from rtdl_spark.sources.delta_writer import convert_to_delta_native

    root = str(tmp_path / "plain2")
    spark.range(0, 50).select("id").repartition(3).write.parquet(root)
    res = convert_to_delta_native(spark, root)
    assert res["files"] == 3
    assert read_delta_native(spark, root).count() == 50

    # Hive-escaped partition values round-trip
    root2 = str(tmp_path / "plain3")
    spark.createDataFrame(
        [(1, "a b"), (2, "p%q"), (3, "x=y")], "id long, k string"
    ).write.partitionBy("k").parquet(root2)
    convert_to_delta_native(spark, root2, partition_schema="k string")
    got = sorted(
        (r["id"], r["k"])
        for r in read_delta_native(spark, root2).collect()
    )
    assert got == [(1, "a b"), (2, "p%q"), (3, "x=y")]


def test_active_scan_pv_join_path(spark, tmp_path, monkeypatch):
    """At or above _PV_JOIN_MIN_GROUPS partition-value groups,
    _active_scan attaches partition values via the single-scan
    broadcast pv-join instead of per-group literals (r10); the results
    must be identical. Threshold lowered to 1 so the small fixture
    exercises the join path end-to-end through DELETE, UPDATE and
    MERGE; the literal-path twin is every other partitioned DML test."""
    import rtdl_spark.sources.delta_writer as dw
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
        merge_into_delta_native,
        update_where_delta_native,
    )

    monkeypatch.setattr(dw, "_PV_JOIN_MIN_GROUPS", 1)
    root = str(tmp_path / "t")
    df = spark.range(0, 300).select(
        "id",
        (F.col("id") % 10).cast("string").alias("p"),
        (F.col("id") * 2).alias("v"),
    )
    write_delta_native(
        spark, df, root, partition_by=["p"], checkpoint_interval=0
    )
    delete_where_delta_native(spark, root, "id % 7 = 0")
    update_where_delta_native(spark, root, "id % 5 = 0", {"v": "v + 1"})
    upd = spark.range(0, 320).filter("id % 3 = 0").select(
        "id",
        (F.col("id") % 10).cast("string").alias("p"),
        F.lit(-1).cast("long").alias("v"),
    )
    merge_into_delta_native(spark, root, upd, on=["id"])

    # expected state replayed in plain Spark
    exp = (
        spark.range(0, 300)
        .select(
            "id",
            (F.col("id") % 10).cast("string").alias("p"),
            (F.col("id") * 2).alias("v"),
        )
        .filter("NOT (id % 7 = 0)")
        .withColumn(
            "v", F.when(F.col("id") % 5 == 0, F.col("v") + 1).otherwise(F.col("v"))
        )
        .withColumn(
            "v", F.when(F.col("id") % 3 == 0, F.lit(-1)).otherwise(F.col("v"))
        )
    )
    ins = (
        spark.range(0, 320)
        .filter("id % 3 = 0")
        .filter("id >= 300 OR id % 7 = 0")
        .select(
            "id",
            (F.col("id") % 10).cast("string").alias("p"),
            F.lit(-1).cast("long").alias("v"),
        )
    )
    expected = sorted(
        (r["id"], r["p"], r["v"]) for r in exp.unionByName(ins).collect()
    )
    got = sorted(
        (r["id"], r["p"], r["v"])
        for r in read_delta_native(spark, root).collect()
    )
    assert got == expected


def test_active_scan_null_partition_group_order(spark, tmp_path):
    """DML over a table whose partition column mixes NULL and non-NULL
    values: the per-group-literal path must order its groups None-safely
    (a plain sorted() over the value tuples would compare None < str and
    raise) and both groups' rows must survive with their values."""
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
    )

    root = str(tmp_path / "t")
    df = spark.range(0, 40).select(
        "id",
        F.when(F.col("id") % 2 == 0, "even").alias("p"),
        (F.col("id") * 2).alias("v"),
    )
    write_delta_native(
        spark, df, root, partition_by=["p"], checkpoint_interval=0
    )
    delete_where_delta_native(spark, root, "id % 5 = 0")
    got = sorted(
        (r["id"], r["p"]) for r in read_delta_native(spark, root).collect()
    )
    expected = sorted(
        (i, "even" if i % 2 == 0 else None)
        for i in range(40)
        if i % 5 != 0
    )
    assert got == expected
