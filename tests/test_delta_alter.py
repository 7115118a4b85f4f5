"""ALTER TABLE surface (sources/delta_alter.py): SET/UNSET
TBLPROPERTIES (incl. feature-implying properties + the none->name
column-mapping upgrade), ADD/DROP CONSTRAINT with existing-row
validation, ADD COLUMNS, RENAME/DROP COLUMN on column-mapped tables —
each one metadata-only commit with the protocol upgraded in the same
commit when needed. Reference semantics: delta-spark's ALTER TABLE
(the reference delegates DDL there — deltawriter/delta_writer.py:88)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from rtdl_spark.sources.delta_alter import (
    alter_add_columns,
    alter_add_constraint,
    alter_drop_column,
    alter_drop_constraint,
    alter_rename_column,
    alter_set_tblproperties,
    alter_unset_tblproperties,
)
from rtdl_spark.sources.delta_reader import (
    read_delta_native,
    snapshot_actions,
)
from rtdl_spark.sources.delta_writer import write_delta_native


def _frame(spark, lo, hi):
    return spark.range(lo, hi).select(
        "id", (F.col("id") * 2).alias("v")
    )


def test_set_tblproperties_enables_cdf_with_protocol_upgrade(
    spark, tmp_path
):
    """Enabling delta.enableChangeDataFeed on a writer-v2 table bumps
    the protocol IN THE SAME COMMIT (a legacy writer must never append
    to a CDF table without recording changes) and the very next DELETE
    emits cdc actions the CDF reader serves."""
    from rtdl_spark.sources.delta_reader import read_table_changes_cdf
    from rtdl_spark.sources.delta_writer import delete_where_delta_native

    root = str(tmp_path / "t")
    write_delta_native(spark, _frame(spark, 0, 10), root,
                       checkpoint_interval=0)
    res = alter_set_tblproperties(
        spark, root, {"delta.enableChangeDataFeed": "true"}
    )
    assert res["version"] == 1 and res["protocol_upgraded"]
    protocol, meta, _, _, _ = snapshot_actions(spark, root)
    assert protocol["minWriterVersion"] == 4
    assert (meta["configuration"]["delta.enableChangeDataFeed"]
            == "true")

    d = delete_where_delta_native(spark, root, "id < 3")
    assert d["cdc_files"] >= 1
    ch = read_table_changes_cdf(spark, root, d["version"], d["version"])
    assert sorted(r["id"] for r in ch.collect()) == [0, 1, 2]

    # idempotent set: no new commit
    again = alter_set_tblproperties(
        spark, root, {"delta.enableChangeDataFeed": "true"}
    )
    assert again["version"] is None

    # user (non-delta) properties pass through; unknown delta.* refuses
    alter_set_tblproperties(spark, root, {"owner": "pipeline-team"})
    _, meta, _, _, _ = snapshot_actions(spark, root)
    assert meta["configuration"]["owner"] == "pipeline-team"
    with pytest.raises(ValueError, match="unknown delta"):
        alter_set_tblproperties(
            spark, root, {"delta.enableChangeDataFeeed": "true"}
        )
    with pytest.raises(ValueError, match="alter_add_constraint"):
        alter_set_tblproperties(
            spark, root, {"delta.constraints.c1": "id > 0"}
        )
    with pytest.raises(ValueError, match="backfill"):
        alter_set_tblproperties(
            spark, root, {"delta.enableRowTracking": "true"}
        )


def test_unset_tblproperties(spark, tmp_path):
    root = str(tmp_path / "t")
    write_delta_native(spark, _frame(spark, 0, 5), root,
                       checkpoint_interval=0)
    alter_set_tblproperties(
        spark, root,
        {"owner": "x", "delta.logRetentionDuration": "interval 7 days"},
    )
    res = alter_unset_tblproperties(spark, root, ["owner"])
    assert res["removed"] == ["owner"]
    _, meta, _, _, _ = snapshot_actions(spark, root)
    assert "owner" not in meta["configuration"]
    assert "delta.logRetentionDuration" in meta["configuration"]
    with pytest.raises(ValueError, match="not set"):
        alter_unset_tblproperties(spark, root, ["nope"])
    assert alter_unset_tblproperties(
        spark, root, ["nope"], if_exists=True
    )["version"] is None
    with pytest.raises(ValueError, match="cannot be unset"):
        alter_unset_tblproperties(
            spark, root, ["delta.columnMapping.mode"]
        )


def test_set_ict_records_enablement_and_stamps_commits(spark, tmp_path):
    """Enabling in-commit timestamps upgrades to the v7 feature form,
    records the enablement provenance properties, and every subsequent
    commit carries a monotone inCommitTimestamp."""
    root = str(tmp_path / "t")
    write_delta_native(spark, _frame(spark, 0, 5), root,
                       checkpoint_interval=0)
    res = alter_set_tblproperties(
        spark, root, {"delta.enableInCommitTimestamps": "true"}
    )
    assert res["protocol_upgraded"]
    protocol, meta, _, _, _ = snapshot_actions(spark, root)
    assert "inCommitTimestamp" in protocol["writerFeatures"]
    conf = meta["configuration"]
    assert conf["delta.inCommitTimestampEnablementVersion"] == "1"
    assert int(conf["delta.inCommitTimestampEnablementTimestamp"]) > 0
    v = write_delta_native(spark, _frame(spark, 5, 8), root,
                           checkpoint_interval=0)
    with open(
        os.path.join(root, "_delta_log", f"{v:020d}.json")
    ) as f:
        info = [json.loads(line) for line in f][0]["commitInfo"]
    assert "inCommitTimestamp" in info


def test_cm_upgrade_none_to_name_keeps_existing_files_readable(
    spark, tmp_path
):
    """The none->name column-mapping UPGRADE assigns every existing
    column its CURRENT NAME as physicalName (the files already on disk
    carry those names), so pre-upgrade files keep resolving; renames
    then become metadata-only."""
    root = str(tmp_path / "t")
    write_delta_native(spark, _frame(spark, 0, 10), root,
                       checkpoint_interval=0)
    res = alter_set_tblproperties(
        spark, root, {"delta.columnMapping.mode": "name"}
    )
    assert res["protocol_upgraded"]
    protocol, meta, _, _, _ = snapshot_actions(spark, root)
    assert protocol["minReaderVersion"] == 2
    assert protocol["minWriterVersion"] == 5
    conf = meta["configuration"]
    assert conf["delta.columnMapping.mode"] == "name"
    assert conf["delta.columnMapping.maxColumnId"] == "2"
    fields = json.loads(meta["schemaString"])["fields"]
    assert [
        f["metadata"]["delta.columnMapping.physicalName"] for f in fields
    ] == ["id", "v"]

    # old files read; post-upgrade appends and renames work end to end
    assert read_delta_native(spark, root).count() == 10
    write_delta_native(spark, _frame(spark, 10, 13), root,
                       checkpoint_interval=0)
    alter_rename_column(spark, root, "v", "value")
    got = read_delta_native(spark, root)
    assert got.columns == ["id", "value"]
    assert sorted(r["value"] for r in got.collect()) == [
        i * 2 for i in range(13)
    ]

    # only the none->name upgrade is supported
    with pytest.raises(ValueError, match="not supported"):
        alter_set_tblproperties(
            spark, root, {"delta.columnMapping.mode": "id"}
        )
    root2 = str(tmp_path / "t2")
    write_delta_native(spark, _frame(spark, 0, 3), root2,
                       checkpoint_interval=0)
    with pytest.raises(ValueError, match="not supported"):
        alter_set_tblproperties(
            spark, root2, {"delta.columnMapping.mode": "id"}
        )


def test_add_constraint_validates_existing_rows(spark, tmp_path):
    root = str(tmp_path / "t")
    write_delta_native(spark, _frame(spark, 1, 6), root,
                       checkpoint_interval=0)
    res = alter_add_constraint(spark, root, "posV", "v > 0")
    assert res["name"] == "posv"
    protocol, meta, _, _, _ = snapshot_actions(spark, root)
    assert protocol["minWriterVersion"] == 3
    assert meta["configuration"]["delta.constraints.posv"] == "v > 0"

    # enforced on the next write
    with pytest.raises(Exception, match="CHECK constraint posv"):
        write_delta_native(
            spark,
            spark.createDataFrame([(9, 0)], "id long, v long"),
            root, checkpoint_interval=0,
        )
    # duplicate name refuses; violated-by-existing-rows refuses
    with pytest.raises(ValueError, match="already exists"):
        alter_add_constraint(spark, root, "posv", "v > 0")
    with pytest.raises(ValueError, match="existing rows violate"):
        alter_add_constraint(spark, root, "big", "v > 100")

    # drop: the violating append now commits
    alter_drop_constraint(spark, root, "posV")
    write_delta_native(
        spark, spark.createDataFrame([(9, 0)], "id long, v long"),
        root, checkpoint_interval=0,
    )
    assert read_delta_native(spark, root).count() == 6
    with pytest.raises(ValueError, match="no CHECK constraint"):
        alter_drop_constraint(spark, root, "posv")
    assert alter_drop_constraint(
        spark, root, "posv", if_exists=True
    )["version"] is None


def test_add_columns_plain_and_cm(spark, tmp_path):
    """ADD COLUMNS appends nullable fields; existing files null-fill;
    CM tables assign fresh ids above maxColumnId (never reused)."""
    root = str(tmp_path / "plain")
    write_delta_native(spark, _frame(spark, 0, 4), root,
                       checkpoint_interval=0)
    alter_add_columns(spark, root, [("tag", "string")])
    got = read_delta_native(spark, root)
    assert got.columns == ["id", "v", "tag"]
    assert all(r["tag"] is None for r in got.collect())
    # appends at the evolved schema flow
    write_delta_native(
        spark,
        spark.createDataFrame([(9, 18, "x")],
                              "id long, v long, tag string"),
        root, checkpoint_interval=0,
    )
    assert read_delta_native(spark, root).filter(
        F.col("tag") == "x"
    ).count() == 1
    with pytest.raises(ValueError, match="already exist"):
        alter_add_columns(spark, root, [("tag", "string")])
    with pytest.raises(ValueError, match="nested"):
        alter_add_columns(spark, root, [("s.inner", "long")])

    cmroot = str(tmp_path / "cm")
    write_delta_native(spark, _frame(spark, 0, 4), cmroot,
                       column_mapping="name", checkpoint_interval=0)
    alter_add_columns(spark, cmroot, [("tag", "string")])
    _, meta, _, _, _ = snapshot_actions(spark, cmroot)
    assert meta["configuration"]["delta.columnMapping.maxColumnId"] == "3"
    f = json.loads(meta["schemaString"])["fields"][-1]
    assert f["metadata"]["delta.columnMapping.id"] == 3
    assert f["metadata"]["delta.columnMapping.physicalName"].startswith(
        "col-"
    )
    assert read_delta_native(spark, cmroot).columns == ["id", "v", "tag"]


def test_rename_column_requires_cm_and_guards_references(
    spark, tmp_path
):
    root = str(tmp_path / "t")
    df = spark.range(0, 6).select(
        "id", (F.col("id") % 2).cast("string").alias("p")
    )
    write_delta_native(spark, df, root, partition_by=["p"],
                       column_mapping="name", checkpoint_interval=0)
    # partition-column rename updates partitionColumns; data survives
    alter_rename_column(spark, root, "p", "bucket")
    _, meta, _, _, _ = snapshot_actions(spark, root)
    assert meta["partitionColumns"] == ["bucket"]
    got = read_delta_native(spark, root)
    assert got.columns == ["id", "bucket"]
    assert got.filter(F.col("bucket") == "1").count() == 3
    # appends at the renamed schema flow
    write_delta_native(
        spark,
        spark.range(6, 8).select(
            "id", (F.col("id") % 2).cast("string").alias("bucket")
        ),
        root, checkpoint_interval=0,
    )
    assert read_delta_native(spark, root).count() == 8

    with pytest.raises(ValueError, match="already exists"):
        alter_rename_column(spark, root, "id", "bucket")
    with pytest.raises(ValueError, match="no column"):
        alter_rename_column(spark, root, "nope", "x")
    alter_add_constraint(spark, root, "posid", "id >= 0")
    with pytest.raises(ValueError, match="referenced by"):
        alter_rename_column(spark, root, "id", "key")

    plain = str(tmp_path / "plain")
    write_delta_native(spark, _frame(spark, 0, 3), plain,
                       checkpoint_interval=0)
    with pytest.raises(ValueError, match="requires column mapping"):
        alter_rename_column(spark, plain, "v", "value")


def test_drop_column_cm_only_and_id_never_reused(spark, tmp_path):
    root = str(tmp_path / "t")
    write_delta_native(
        spark,
        spark.range(0, 5).select(
            "id", (F.col("id") * 2).alias("v"), F.lit("x").alias("tag")
        ),
        root, column_mapping="name", checkpoint_interval=0,
    )
    alter_drop_column(spark, root, "tag")
    got = read_delta_native(spark, root)
    assert got.columns == ["id", "v"]
    assert got.count() == 5
    # the dropped id (3) is never reused: a new column gets id 4
    alter_add_columns(spark, root, [("tag2", "string")])
    _, meta, _, _, _ = snapshot_actions(spark, root)
    f = json.loads(meta["schemaString"])["fields"][-1]
    assert f["metadata"]["delta.columnMapping.id"] == 4
    assert meta["configuration"]["delta.columnMapping.maxColumnId"] == "4"

    with pytest.raises(ValueError, match="no column"):
        alter_drop_column(spark, root, "gone")
    plain = str(tmp_path / "plain")
    write_delta_native(spark, _frame(spark, 0, 3), plain,
                       checkpoint_interval=0)
    with pytest.raises(ValueError, match="requires column mapping"):
        alter_drop_column(spark, plain, "v")

    proot = str(tmp_path / "part")
    write_delta_native(
        spark,
        spark.range(0, 4).select(
            "id", (F.col("id") % 2).cast("string").alias("p")
        ),
        proot, partition_by=["p"], column_mapping="name",
        checkpoint_interval=0,
    )
    with pytest.raises(ValueError, match="partition column"):
        alter_drop_column(spark, proot, "p")


def test_create_table_identity_generated_not_null(spark, tmp_path):
    """create_delta_table_native: the creating commit is metadata-only;
    inserts then flow through the append lane, which GENERATES omitted
    identity values on the start/step lattice, COMPUTES omitted
    generated columns, validates provided ones, and enforces NOT NULL —
    the machinery r7 built for fabricated tables now reachable from a
    real CREATE."""
    from rtdl_spark.sources.delta_alter import create_delta_table_native

    root = str(tmp_path / "t")
    res = create_delta_table_native(
        spark, root,
        "uid long, v long, bucket int, label string",
        identity={"uid": {"start": 100, "step": 10, "always": True}},
        generated={"bucket": "CAST(v % 3 AS INT)"},
        not_null=["label"],
    )
    assert res["version"] == 0
    protocol, meta, _, _, _ = snapshot_actions(spark, root)
    assert protocol["minWriterVersion"] == 6  # identity (legacy form)
    assert read_delta_native(spark, root).count() == 0  # empty create

    # insert omitting uid + bucket: both get computed
    write_delta_native(
        spark,
        spark.createDataFrame(
            [(5, "a"), (7, "b"), (9, "c")], "v long, label string"
        ),
        root, checkpoint_interval=0,
    )
    got = read_delta_native(spark, root)
    rows = {r["v"]: r for r in got.collect()}
    assert sorted(r["uid"] for r in rows.values()) == [100, 110, 120]
    assert all(r["bucket"] == r["v"] % 3 for r in rows.values())

    # GENERATED ALWAYS refuses explicit uid; NOT NULL refuses null label
    with pytest.raises(Exception, match="GENERATED ALWAYS"):
        write_delta_native(
            spark,
            spark.createDataFrame(
                [(1, 2, 2, "x")],
                "uid long, v long, bucket int, label string",
            ),
            root, checkpoint_interval=0,
        )
    with pytest.raises(Exception, match="label"):
        write_delta_native(
            spark,
            spark.createDataFrame(
                [(11, None)], "v long, label string"
            ),
            root, checkpoint_interval=0,
        )
    # a second omitted-identity insert continues past the watermark
    write_delta_native(
        spark,
        spark.createDataFrame([(13, "d")], "v long, label string"),
        root, checkpoint_interval=0,
    )
    uids = sorted(
        r["uid"] for r in read_delta_native(spark, root).collect()
    )
    assert uids == [100, 110, 120, 130]

    # refusals at creation
    with pytest.raises(ValueError, match="already a Delta table"):
        create_delta_table_native(spark, root, "id long")
    with pytest.raises(ValueError, match="must be LONG"):
        create_delta_table_native(
            spark, str(tmp_path / "x1"), "id int",
            identity={"id": {}},
        )
    with pytest.raises(ValueError, match="not in schema"):
        create_delta_table_native(
            spark, str(tmp_path / "x2"), "id long", not_null=["nope"]
        )
    with pytest.raises(ValueError, match="alter_add_constraint"):
        create_delta_table_native(
            spark, str(tmp_path / "x3"), "id long",
            table_properties={"delta.constraints.c": "id > 0"},
        )


def test_create_table_cm_clustered_with_properties(spark, tmp_path):
    """CREATE with column mapping + clustering + CDF in one commit: the
    single protocol action grants every implied capability (features
    form), the clustering domain lands, and the whole DML lane works on
    the result."""
    from rtdl_spark.sources.delta_alter import create_delta_table_native
    from rtdl_spark.sources.delta_reader import (
        read_table_changes_cdf,
        snapshot_domains,
    )
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
        optimize_delta_native,
    )

    root = str(tmp_path / "t")
    res = create_delta_table_native(
        spark, root,
        "k long, price double",
        cluster_by=["k"],
        column_mapping="name",
        table_properties={"delta.enableChangeDataFeed": "true"},
    )
    p = res["protocol"]
    # reader stays at legacy v2 (columnMapping's legacy level — no
    # reader-v3-only feature was asked for); the writer needs the v7
    # feature form because clustering only exists there
    assert p["minReaderVersion"] == 2 and p["minWriterVersion"] == 7
    assert {"columnMapping", "clustering", "domainMetadata",
            "changeDataFeed"} <= set(p["writerFeatures"])
    assert json.loads(
        snapshot_domains(spark, root)["delta.clustering"]["configuration"]
    ) == {"clusteringColumns": [["k"]]}

    df = spark.range(0, 30).select(
        F.col("id").alias("k"), (F.col("id") * 1.5).alias("price")
    )
    write_delta_native(spark, df, root, checkpoint_interval=0)
    d = delete_where_delta_native(spark, root, "k % 5 = 0")
    assert d["cdc_files"] >= 1  # CDF was live from creation
    ch = read_table_changes_cdf(spark, root, d["version"], d["version"])
    assert ch.count() == 6
    optimize_delta_native(spark, root, min_files=1)  # reclusters by k
    assert read_delta_native(spark, root).count() == 24


def test_alter_cluster_by_changes_optimize_axis(spark, tmp_path):
    """ALTER CLUSTER BY re-points the next OPTIMIZE's recluster axis
    without rewriting anything; CLUSTER BY NONE empties the domain so
    OPTIMIZE falls back to plain bin-packing; a plain table gains the
    features on first CLUSTER BY."""
    from rtdl_spark.sources.delta_alter import alter_cluster_by
    from rtdl_spark.sources.delta_reader import snapshot_domains
    from rtdl_spark.sources.delta_writer import optimize_delta_native

    root = str(tmp_path / "t")
    write_delta_native(spark, _frame(spark, 0, 40).repartition(4), root,
                       checkpoint_interval=0)
    res = alter_cluster_by(spark, root, ["v"])
    assert res["clustering"] == ["v"]
    protocol, _, _, _, _ = snapshot_actions(spark, root)
    assert "clustering" in protocol["writerFeatures"]
    assert json.loads(
        snapshot_domains(spark, root)["delta.clustering"]["configuration"]
    ) == {"clusteringColumns": [["v"]]}
    optimize_delta_native(spark, root, min_files=1)  # reclusters by v
    assert read_delta_native(spark, root).count() == 40

    alter_cluster_by(spark, root, ["id"])  # re-point the axis
    assert json.loads(
        snapshot_domains(spark, root)["delta.clustering"]["configuration"]
    ) == {"clusteringColumns": [["id"]]}
    alter_cluster_by(spark, root, None)  # CLUSTER BY NONE
    assert json.loads(
        snapshot_domains(spark, root)["delta.clustering"]["configuration"]
    ) == {"clusteringColumns": []}
    optimize_delta_native(spark, root, min_files=1)  # plain bin-pack
    assert read_delta_native(spark, root).count() == 40

    with pytest.raises(ValueError, match="no such columns"):
        alter_cluster_by(spark, root, ["nope"])
    proot = str(tmp_path / "part")
    write_delta_native(
        spark,
        spark.range(4).select(
            "id", (F.col("id") % 2).cast("string").alias("p")
        ),
        proot, partition_by=["p"], checkpoint_interval=0,
    )
    with pytest.raises(ValueError, match="mutually exclusive"):
        alter_cluster_by(spark, proot, ["id"])


def test_create_with_row_tracking_assigns_and_preserves_ids(
    spark, tmp_path
):
    """delta.enableRowTracking is allowed at CREATE (an empty table has
    no files to backfill — the reason alter_set_tblproperties refuses
    it on existing tables): appends stamp fresh baseRowId ranges and
    advance the watermark; a DELETE preserves surviving rows' ids via
    the materialized column machinery."""
    from rtdl_spark.sources.delta_alter import create_delta_table_native
    from rtdl_spark.sources.delta_reader import snapshot_domains
    from rtdl_spark.sources.delta_writer import delete_where_delta_native

    root = str(tmp_path / "t")
    res = create_delta_table_native(
        spark, root, "id long, v long",
        table_properties={"delta.enableRowTracking": "true"},
    )
    assert {"rowTracking", "domainMetadata"} <= set(
        res["protocol"]["writerFeatures"]
    )
    write_delta_native(spark, _frame(spark, 0, 10).repartition(2),
                       root, checkpoint_interval=0)
    _, _, active, _, _ = snapshot_actions(spark, root)
    bases = sorted(a["baseRowId"] for a in active.values())
    assert bases[0] == 0  # fresh table: ids start at the bottom
    doms = snapshot_domains(spark, root)
    hwm = json.loads(doms["delta.rowTracking"]["configuration"])
    assert int(hwm["rowIdHighWaterMark"]) >= 9

    # second append continues past the watermark; NON-EMPTY files get
    # disjoint id ranges (empty files legally share a zero-width base)
    write_delta_native(spark, _frame(spark, 10, 15), root,
                       checkpoint_interval=0)
    _, _, active, _, _ = snapshot_actions(spark, root)
    ranges = sorted(
        (a["baseRowId"],
         a["baseRowId"] + json.loads(a["stats"])["numRecords"])
        for a in active.values()
        if json.loads(a["stats"])["numRecords"] > 0
    )
    for (s1, e1), (s2, _e2) in zip(ranges, ranges[1:]):
        assert e1 <= s2, f"overlapping row-id ranges: {ranges}"

    # DELETE preserves surviving ids (materialized column lane)
    delete_where_delta_native(spark, root, "id % 2 = 0")
    assert read_delta_native(spark, root).count() == 7


def test_alter_on_an_interval_version_checkpoints(spark, tmp_path):
    """A metadata-only commit runs the post-commit step too: an ALTER
    SET TBLPROPERTIES landing at v10 leaves ``_last_checkpoint`` at 10,
    and the snapshot read through it equals a JSON-only replay."""
    import shutil

    root = str(tmp_path / "t")
    write_delta_native(spark, spark.range(0, 10), root)  # v0
    for i in range(1, 10):
        alter_set_tblproperties(spark, root, {"user.step": str(i)})
    log = os.path.join(root, "_delta_log")
    assert not os.path.exists(os.path.join(log, "_last_checkpoint"))
    assert alter_set_tblproperties(
        spark, root, {"user.step": "10"})["version"] == 10
    with open(os.path.join(log, "_last_checkpoint")) as f:
        assert json.load(f)["version"] == 10
    plain = str(tmp_path / "plain")
    shutil.copytree(root, plain)
    for n in os.listdir(os.path.join(plain, "_delta_log")):
        if ".checkpoint." in n or n == "_last_checkpoint":
            os.remove(os.path.join(plain, "_delta_log", n))
    got, want = snapshot_actions(spark, root), snapshot_actions(spark, plain)

    def present(action):  # a checkpoint row reads absent fields as None
        return {k: v for k, v in action.items() if v is not None}

    assert got[3] == want[3] == 10
    assert present(got[0]) == present(want[0])
    assert present(got[1]) == present(want[1])
    assert got[1]["configuration"]["user.step"] == "10"
    assert set(got[2]) == set(want[2])
