"""Native Delta log reader tests (sources/delta_reader.py): tables are
constructed per the PUBLIC Delta transaction protocol (PROTOCOL.md —
newline-JSON commits, parquet checkpoints, table-root-relative URL-encoded
paths), then read back with no delta-spark anywhere. The gated
test_gated.py delta test still exercises the real package whenever an
image ships it; this suite proves the A18 READ path works today."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from rtdl_spark.sources.delta_reader import (
    delta_history,
    read_delta_native,
    snapshot_state,
)

PROTOCOL = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}


def _meta(schema_json: str, part_cols=()):
    return {
        "metaData": {
            "id": "00000000-0000-0000-0000-000000000001",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_json,
            "partitionColumns": list(part_cols),
            "configuration": {},
            "createdTime": 1700000000000,
        }
    }


def _commit(table, version, actions):
    log = os.path.join(table, "_delta_log")
    os.makedirs(log, exist_ok=True)
    with open(os.path.join(log, f"{version:020d}.json"), "w") as f:
        f.write(
            json.dumps(
                {
                    "commitInfo": {
                        "timestamp": 1700000000000 + version,
                        "operation": "WRITE" if version == 0 else "MERGE",
                    }
                }
            )
            + "\n"
        )
        for a in actions:
            f.write(json.dumps(a) + "\n")


def _data_file(spark, df, table, name):
    """Write df as ONE parquet file at <table>/<name> (subdirs ok)."""
    stage = table + f"._stage_{name.replace('/', '_')}"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
    dst = os.path.join(table, name)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    shutil.move(os.path.join(stage, part), dst)
    shutil.rmtree(stage)
    return {
        "add": {
            "path": name,
            "partitionValues": {},
            "size": os.path.getsize(dst),
            "modificationTime": 1700000000000,
            "dataChange": True,
        }
    }


def test_delta_native_read_time_travel_and_history(spark, tmp_path):
    """Appends + a remove across three commits: the latest snapshot scans
    exactly the active file set, every prior version is reconstructable,
    and history surfaces commitInfo."""
    table = str(tmp_path / "dtab")
    os.makedirs(table)
    schema_json = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}},
                {"name": "v", "type": "string", "nullable": True,
                 "metadata": {}},
            ],
        }
    )

    def df(lo, hi):
        return spark.createDataFrame(
            [(i, f"r{i}") for i in range(lo, hi)], "id long, v string"
        )

    a0 = _data_file(spark, df(0, 5), table, "part-000-a.parquet")
    _commit(table, 0, [PROTOCOL, _meta(schema_json), a0])
    a1 = _data_file(spark, df(5, 8), table, "part-001-b.parquet")
    _commit(table, 1, [a1])
    # commit 2: compaction — remove both, add one merged file
    a2 = _data_file(spark, df(0, 8), table, "part-002-m.parquet")
    _commit(
        table,
        2,
        [
            {"remove": {"path": "part-000-a.parquet",
                        "deletionTimestamp": 1, "dataChange": False}},
            {"remove": {"path": "part-001-b.parquet",
                        "deletionTimestamp": 1, "dataChange": False}},
            a2,
        ],
    )

    got = read_delta_native(spark, table)
    assert {r["id"] for r in got.collect()} == set(range(8))
    assert got.count() == 8  # no double counting: removed files not scanned
    assert read_delta_native(spark, table, version=0).count() == 5
    assert read_delta_native(spark, table, version=1).count() == 8
    _, files, v = snapshot_state(spark, table)
    assert v == 2 and [f for f, _ in files] == ["part-002-m.parquet"]
    hist = delta_history(spark, table)
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert hist[0]["operation"] == "WRITE"


def test_delta_native_partitioned_and_url_encoded_paths(spark, tmp_path):
    """Partition columns come from the log's partitionValues (cast to the
    schema type), NOT from path layout; URL-encoded log paths resolve;
    null partition values land as NULL."""
    table = str(tmp_path / "ptab")
    os.makedirs(table)
    schema_json = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}},
                {"name": "p", "type": "integer", "nullable": True,
                 "metadata": {}},
            ],
        }
    )

    def df(lo, hi):
        return spark.createDataFrame([(i,) for i in range(lo, hi)], "id long")

    # file in a space-containing dir, URL-encoded in the log
    a0 = _data_file(spark, df(0, 4), table, "p dir/part-0.parquet")
    a0["add"]["path"] = "p%20dir/part-0.parquet"
    a0["add"]["partitionValues"] = {"p": "1"}
    a1 = _data_file(spark, df(4, 6), table, "part-1.parquet")
    a1["add"]["partitionValues"] = {"p": "2"}
    a2 = _data_file(spark, df(6, 7), table, "part-2.parquet")
    a2["add"]["partitionValues"] = {"p": None}
    _commit(table, 0, [PROTOCOL, _meta(schema_json, ["p"]), a0, a1, a2])

    got = {
        (r["id"], r["p"]) for r in read_delta_native(spark, table).collect()
    }
    want = {(i, 1) for i in range(4)} | {(4, 2), (5, 2), (6, None)}
    assert got == want
    # partition column type honored (integer, not string)
    assert dict(read_delta_native(spark, table).dtypes)["p"] == "int"


def test_delta_native_checkpoint_replay(spark, tmp_path):
    """With a classic checkpoint present, pre-checkpoint JSON commits are
    not needed at all (deleted here) — state comes from the checkpoint
    parquet plus the JSON tail, exactly the bounded-replay contract."""
    table = str(tmp_path / "ctab")
    os.makedirs(table)
    schema_json = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}},
            ],
        }
    )

    def df(lo, hi):
        return spark.createDataFrame([(i,) for i in range(lo, hi)], "id long")

    a0 = _data_file(spark, df(0, 3), table, "part-0.parquet")
    _commit(table, 0, [PROTOCOL, _meta(schema_json), a0])
    a1 = _data_file(spark, df(3, 5), table, "part-1.parquet")
    _commit(table, 1, [a1])

    # classic single-part checkpoint at version 1
    log = os.path.join(table, "_delta_log")
    ckpt_rows = [
        {"protocol": PROTOCOL["protocol"], "metaData": None, "add": None,
         "remove": None},
        {"protocol": None, "metaData": _meta(schema_json)["metaData"],
         "add": None, "remove": None},
        {"protocol": None, "metaData": None, "add": a0["add"],
         "remove": None},
        {"protocol": None, "metaData": None, "add": a1["add"],
         "remove": None},
    ]
    ckpt_schema = (
        "protocol struct<minReaderVersion:int,minWriterVersion:int>, "
        "metaData struct<id:string,format:struct<provider:string,"
        "options:map<string,string>>,schemaString:string,"
        "partitionColumns:array<string>,configuration:map<string,string>,"
        "createdTime:long>, "
        "add struct<path:string,partitionValues:map<string,string>,"
        "size:long,modificationTime:long,dataChange:boolean>, "
        "remove struct<path:string,deletionTimestamp:long,"
        "dataChange:boolean>"
    )
    stage = str(tmp_path / "ckpt_stage")
    spark.createDataFrame(ckpt_rows, ckpt_schema).coalesce(1).write.parquet(
        stage
    )
    part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
    shutil.move(
        os.path.join(stage, part),
        os.path.join(log, f"{1:020d}.checkpoint.parquet"),
    )
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        f.write(json.dumps({"version": 1, "size": 4}))
    # pre-checkpoint commits gone: replay MUST come from the checkpoint
    os.remove(os.path.join(log, f"{0:020d}.json"))
    os.remove(os.path.join(log, f"{1:020d}.json"))

    a2 = _data_file(spark, df(5, 9), table, "part-2.parquet")
    _commit(table, 2, [a2])

    assert read_delta_native(spark, table).count() == 9
    assert {
        r["id"] for r in read_delta_native(spark, table).collect()
    } == set(range(9))


def test_delta_native_rejects_unsupported_features(spark, tmp_path):
    """Protocol gating is loud: newer reader versions, unknown reader
    features, unknown column-mapping modes and multi-part checkpoints
    all raise with the feature named — never a silently wrong scan."""
    schema_json = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}},
            ],
        }
    )

    def fresh(name):
        t = str(tmp_path / name)
        os.makedirs(t)
        return t

    t = fresh("too_new")
    _commit(t, 0, [{"protocol": {"minReaderVersion": 4}},
                   _meta(schema_json)])
    with pytest.raises(ValueError, match="minReaderVersion 4"):
        read_delta_native(spark, t)

    # deletionVectors (r7), v2Checkpoint (r7) and column mapping (r6)
    # all became READ-supported; an UNKNOWN future reader feature still
    # refuses by name
    t = fresh("future_feature")
    _commit(
        t, 0,
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["someFutureFeature"]}},
            _meta(schema_json),
        ],
    )
    with pytest.raises(ValueError, match="someFutureFeature"):
        read_delta_native(spark, t)

    t = fresh("cm")
    m = _meta(schema_json)
    # name- and id-mode became READ-supported in round 6 (see the two
    # test_column_mapping_* tests); an unknown future mode stays refused
    m["metaData"]["configuration"] = {"delta.columnMapping.mode": "v99"}
    _commit(t, 0, [PROTOCOL, m])
    with pytest.raises(ValueError, match="column mapping"):
        read_delta_native(spark, t)

    t = fresh("multipart")
    _commit(t, 0, [PROTOCOL, _meta(schema_json)])
    with open(os.path.join(t, "_delta_log", "_last_checkpoint"), "w") as f:
        f.write(json.dumps({"version": 0, "size": 2, "parts": 2}))
    with pytest.raises(ValueError, match="multi-part"):
        read_delta_native(spark, t)


def test_missing_early_commit_raises_not_silently_shrinks(spark, tmp_path):
    """r5 ADVICE: a table whose early commits were cleaned up (no
    checkpoint covering them) but which still carries a later metaData
    action must RAISE on replay, naming the first missing commit — the
    old code silently produced a smaller active set (v0's files gone)."""
    import os

    import pytest
    from pyspark.sql import functions as F
    from rtdl_spark.sources.delta_writer import write_delta_native

    table = str(tmp_path / "gap")
    write_delta_native(spark, spark.range(0, 5).select("id"), table)
    # v1 carries its own metaData via schema evolution
    write_delta_native(
        spark,
        spark.range(5, 8).select("id", F.lit(1).alias("extra")),
        table,
        merge_schema=True,
    )
    os.remove(os.path.join(table, "_delta_log", f"{0:020d}.json"))
    with pytest.raises(ValueError, match="missing commit"):
        read_delta_native(spark, table)


def test_snapshot_control_and_adds_frame_match_full_replay(spark, tmp_path):
    """The three snapshot forms agree: snapshot_control returns the same
    protocol/meta/version/txns as the full replay without building the
    file dict; snapshot_adds_frame's DataFrame holds exactly the active
    add set (checkpoint rows anti-joined against the tail's net effect),
    across appends, a checkpoint, a delete rewrite and an overwrite."""
    from pyspark.sql import functions as F
    from rtdl_spark.sources.delta_reader import (
        snapshot_actions,
        snapshot_adds_frame,
        snapshot_control,
    )
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
        write_checkpoint_native,
        write_delta_native,
    )

    table = str(tmp_path / "forms")
    for lo in range(0, 40, 10):
        write_delta_native(
            spark,
            spark.range(lo, lo + 10).select(
                "id", (F.col("id") % 2).cast("string").alias("p")
            ),
            table,
            partition_by=["p"],
            txn=("appX", lo),
        )
    write_checkpoint_native(spark, table)       # checkpoint at v3
    delete_where_delta_native(spark, table, "id < 5")   # tail rewrite
    write_delta_native(
        spark,
        spark.range(100, 105).select(
            "id", F.lit("9").alias("p")
        ),
        table,
    )

    protocol, meta, active, version, txns = snapshot_actions(spark, table)
    p2, m2, v2, t2 = snapshot_control(spark, table)
    assert (p2, v2, t2) == (protocol, version, txns)
    assert m2["id"] == meta["id"] and m2["schemaString"] == meta["schemaString"]

    p3, m3, adds_df, v3, t3 = snapshot_adds_frame(spark, table)
    assert (p3, v3, t3) == (protocol, version, txns)
    got = {
        r["path"]: (r["size"], dict(r["partitionValues"] or {}))
        for r in adds_df.collect()
    }
    want = {
        p: (a.get("size"), dict(a.get("partitionValues") or {}))
        for p, a in active.items()
    }
    assert got == want, "adds frame must equal the full replay's active set"


def test_distributed_vacuum_matches_driver_vacuum(spark, tmp_path):
    """vacuum_delta_native_distributed reaps exactly the files the
    driver-side vacuum would (count parity on dry-run, then a real reap
    leaves the active set intact and the table readable)."""
    from pyspark.sql import functions as F
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
        optimize_delta_native,
        vacuum_delta_native,
        vacuum_delta_native_distributed,
        write_delta_native,
    )

    table = str(tmp_path / "dvac")
    for lo in range(0, 30, 10):
        write_delta_native(
            spark,
            spark.range(lo, lo + 10).select(
                "id", (F.col("id") % 3).cast("string").alias("p")
            ).repartition(2),
            table,
            partition_by=["p"],
        )
    delete_where_delta_native(spark, table, "id % 5 = 0")
    optimize_delta_native(spark, table)

    expected = vacuum_delta_native(spark, table, retain_ms=0, dry_run=True)
    n_dry = vacuum_delta_native_distributed(
        spark, table, retain_ms=0, dry_run=True
    )
    assert n_dry == len(expected) > 0

    n = vacuum_delta_native_distributed(
        spark, table, retain_ms=0
    )
    assert n == len(expected)
    # nothing reapable remains, table reads exactly
    assert vacuum_delta_native(spark, table, retain_ms=0, dry_run=True) == []
    got = sorted(
        r["id"] for r in read_delta_native(spark, table).collect()
    )
    assert got == [i for i in range(30) if i % 5 != 0]


def test_column_mapping_name_mode_read(spark, tmp_path):
    """Column mapping 'name' mode READ (a named refusal until round 6):
    a hand-built spec-conformant table whose parquet files carry
    physical names at both nesting levels and whose partitionValues are
    keyed by the physical partition name — the reader resolves all of it
    back to logical names. (Since r7 the writer APPENDS to CM tables —
    covered in test_delta_writer.py::test_cm_table_append_and_delete.)"""
    import json as _json
    import os

    import pytest
    from pyspark.sql import functions as F
    from rtdl_spark.sources.delta_writer import write_delta_native

    root = str(tmp_path / "cm")
    os.makedirs(os.path.join(root, "_delta_log"))

    # physical data files: top-level and nested physical names
    pdf = spark.createDataFrame(
        [(1, ("x", 10)), (2, ("y", 20))],
        "`col-aaa` bigint, `col-sss` struct<`col-inn`:string, `col-jjj`:bigint>",
    )
    pdf.coalesce(1).write.parquet(os.path.join(root, "d"))
    part = next(
        f
        for f in os.listdir(os.path.join(root, "d"))
        if f.endswith(".parquet")
    )

    schema = {
        "type": "struct",
        "fields": [
            {
                "name": "id",
                "type": "long",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 1,
                    "delta.columnMapping.physicalName": "col-aaa",
                },
            },
            {
                "name": "s",
                "type": {
                    "type": "struct",
                    "fields": [
                        {
                            "name": "inner",
                            "type": "string",
                            "nullable": True,
                            "metadata": {
                                "delta.columnMapping.id": 3,
                                "delta.columnMapping.physicalName": "col-inn",
                            },
                        },
                        {
                            "name": "j",
                            "type": "long",
                            "nullable": True,
                            "metadata": {
                                "delta.columnMapping.id": 4,
                                "delta.columnMapping.physicalName": "col-jjj",
                            },
                        },
                    ],
                },
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 2,
                    "delta.columnMapping.physicalName": "col-sss",
                },
            },
            {
                "name": "p",
                "type": "string",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 5,
                    "delta.columnMapping.physicalName": "col-ppp",
                },
            },
        ],
    }
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write(_json.dumps({"commitInfo": {"timestamp": 1, "operation": "WRITE"}}) + "\n")
        f.write(_json.dumps({"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}) + "\n")
        f.write(
            _json.dumps(
                {
                    "metaData": {
                        "id": "cm-table",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": _json.dumps(schema),
                        "partitionColumns": ["p"],
                        "configuration": {
                            "delta.columnMapping.mode": "name",
                            "delta.columnMapping.maxColumnId": "5",
                        },
                        "createdTime": 1,
                    }
                }
            )
            + "\n"
        )
        f.write(
            _json.dumps(
                {
                    "add": {
                        "path": "d/" + part,
                        "partitionValues": {"col-ppp": "east"},
                        "size": os.path.getsize(
                            os.path.join(root, "d", part)
                        ),
                        "modificationTime": 1,
                        "dataChange": True,
                    }
                }
            )
            + "\n"
        )

    got = read_delta_native(spark, root)
    assert got.columns == ["id", "s", "p"]
    rows = sorted(
        (r["id"], r["s"]["inner"], r["s"]["j"], r["p"])
        for r in got.collect()
    )
    assert rows == [(1, "x", 10, "east"), (2, "y", 20, "east")]
    # nested logical field names round-tripped
    assert got.select(F.col("s.inner")).count() == 2

    # r7 (f559ffa): SAME-SCHEMA overwrite on a CM table is supported —
    # the frame is restaged in the table's existing physical layout
    # (test_delta_writer.py::test_cm_same_schema_overwrite covers the
    # writer side; here we prove the reader round-trips it)
    write_delta_native(
        spark,
        got.select("id", "s", "p"),
        root,
        mode="overwrite",
    )
    back = read_delta_native(spark, root)
    assert back.columns == ["id", "s", "p"]
    assert sorted(
        (r["id"], r["s"]["inner"], r["s"]["j"], r["p"])
        for r in back.collect()
    ) == [(1, "x", 10, "east"), (2, "y", 20, "east")]

    # the streaming source resolves CM too (round 6): its schema is the
    # LOGICAL one
    from rtdl_spark.sources.delta_stream_source import _latest_schema

    assert [f.name for f in _latest_schema(root, 10).fields] == [
        "id", "s", "p",
    ]


def test_column_mapping_id_mode_read(spark, tmp_path):
    """Column mapping 'id' mode READ via Spark's parquet field-id
    matching: the parquet file's column NAMES are garbage physical
    UUIDs, only the field ids line up with delta.columnMapping.id —
    and the reader still resolves logical columns, nested levels and a
    physically-keyed partition value included."""
    import json as _json
    import os

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    root = str(tmp_path / "cmid")
    os.makedirs(os.path.join(root, "_delta_log"))

    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    try:
        w_schema = StructType(
            [
                StructField("col-xaa", LongType(), True, {"parquet.field.id": 1}),
                StructField(
                    "col-xss",
                    StructType(
                        [
                            StructField(
                                "col-xin",
                                StringType(),
                                True,
                                {"parquet.field.id": 3},
                            )
                        ]
                    ),
                    True,
                    {"parquet.field.id": 2},
                ),
            ]
        )
        pdf = spark.createDataFrame([(7, ("deep",)), (8, ("blue",))], w_schema)
        pdf.coalesce(1).write.parquet(os.path.join(root, "d"))
    finally:
        spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
    part = next(
        f
        for f in os.listdir(os.path.join(root, "d"))
        if f.endswith(".parquet")
    )

    schema = {
        "type": "struct",
        "fields": [
            {
                "name": "id",
                "type": "long",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 1,
                    "delta.columnMapping.physicalName": "col-xaa",
                },
            },
            {
                "name": "s",
                "type": {
                    "type": "struct",
                    "fields": [
                        {
                            "name": "inner",
                            "type": "string",
                            "nullable": True,
                            "metadata": {
                                "delta.columnMapping.id": 3,
                                "delta.columnMapping.physicalName": "col-xin",
                            },
                        }
                    ],
                },
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 2,
                    "delta.columnMapping.physicalName": "col-xss",
                },
            },
            {
                "name": "p",
                "type": "string",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 4,
                    "delta.columnMapping.physicalName": "col-xpp",
                },
            },
        ],
    }
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write(_json.dumps({"commitInfo": {"timestamp": 1, "operation": "WRITE"}}) + "\n")
        f.write(_json.dumps({"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}) + "\n")
        f.write(
            _json.dumps(
                {
                    "metaData": {
                        "id": "cmid-table",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": _json.dumps(schema),
                        "partitionColumns": ["p"],
                        "configuration": {
                            "delta.columnMapping.mode": "id",
                            "delta.columnMapping.maxColumnId": "4",
                        },
                        "createdTime": 1,
                    }
                }
            )
            + "\n"
        )
        f.write(
            _json.dumps(
                {
                    "add": {
                        "path": "d/" + part,
                        "partitionValues": {"col-xpp": "west"},
                        "size": os.path.getsize(os.path.join(root, "d", part)),
                        "modificationTime": 1,
                        "dataChange": True,
                    }
                }
            )
            + "\n"
        )

    got = read_delta_native(spark, root)
    assert got.columns == ["id", "s", "p"]
    rows = sorted(
        (r["id"], r["s"]["inner"], r["p"]) for r in got.collect()
    )
    assert rows == [(7, "deep", "west"), (8, "blue", "west")]


def test_in_commit_timestamps_drive_time_travel(spark, tmp_path):
    """ICT tables: when commitInfo carries inCommitTimestamp, history
    and timestampAsOf resolve by IT (the committed, monotonic clock) —
    not by the plain timestamp field — matching delta-spark's order of
    precedence."""
    import json as _json
    import os

    from rtdl_spark.sources.delta_reader import (
        delta_history,
        version_at_timestamp,
    )
    from rtdl_spark.sources.delta_writer import write_delta_native

    table = str(tmp_path / "ict")
    write_delta_native(spark, spark.range(0, 5).select("id"), table)
    write_delta_native(spark, spark.range(5, 9).select("id"), table)

    # rewrite both commitInfos: wall timestamps are deliberately WRONG
    # (reversed); inCommitTimestamp carries the real ordering
    for v, (wall, ict) in enumerate([(9_000_000, 1_000_000),
                                     (8_000_000, 2_000_000)]):
        path = os.path.join(table, "_delta_log", f"{v:020d}.json")
        with open(path) as f:
            actions = [_json.loads(line) for line in f if line.strip()]
        for a in actions:
            if "commitInfo" in a:
                a["commitInfo"]["timestamp"] = wall
                a["commitInfo"]["inCommitTimestamp"] = ict
        with open(path, "w") as f:
            for a in actions:
                f.write(_json.dumps(a, separators=(",", ":")) + "\n")
        # the Hadoop local FS keeps checksum sidecars; an in-place
        # rewrite outside the FS API invalidates them
        crc = os.path.join(
            os.path.dirname(path), f".{os.path.basename(path)}.crc"
        )
        if os.path.exists(crc):
            os.remove(crc)

    hist = delta_history(spark, table)
    assert [h["timestamp"] for h in hist] == [1_000_000, 2_000_000]
    assert version_at_timestamp(spark, table, 1_500_000) == 0
    assert version_at_timestamp(spark, table, 2_000_000) == 1


def test_multipart_classic_checkpoint_read(spark, tmp_path):
    """Multi-part CLASSIC checkpoints (a named refusal until r7): all
    parts are scanned as ONE frame — protocol/meta from whichever part
    holds them, the add set unioned across parts; replay is bounded to
    the JSON tail exactly as with single-part. A missing part refuses
    by name (a partial snapshot would silently shrink the table)."""
    import json as _json

    from rtdl_spark.sources.delta_writer import write_delta_native

    table = str(tmp_path / "mp")
    write_delta_native(
        spark,
        spark.range(0, 20).select("id").repartition(4),
        table,
        checkpoint_interval=0,
    )
    write_delta_native(
        spark,
        spark.range(20, 30).select("id").repartition(2),
        table,
        checkpoint_interval=0,
    )
    # hand-roll a 2-part checkpoint at version 1: split the single-part
    # content produced by the native checkpointer
    from rtdl_spark.sources.delta_writer import write_checkpoint_native

    v = write_checkpoint_native(spark, table)
    assert v == 1
    log = os.path.join(table, "_delta_log")
    single = os.path.join(log, f"{v:020d}.checkpoint.parquet")
    cdf = spark.read.parquet(single)
    rows = cdf.collect()
    half = len(rows) // 2
    schema = cdf.schema
    p1 = os.path.join(log, f"{v:020d}.checkpoint.{1:010d}.{2:010d}.parquet")
    p2 = os.path.join(log, f"{v:020d}.checkpoint.{2:010d}.{2:010d}.parquet")
    for dst, chunk in ((p1, rows[:half]), (p2, rows[half:])):
        tmp_dir = str(tmp_path / ("w" + os.path.basename(dst)[:8]))
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp_dir)
        part = next(
            f for f in os.listdir(tmp_dir) if f.endswith(".parquet")
        )
        os.replace(os.path.join(tmp_dir, part), dst)
    os.remove(single)
    # Hadoop's LocalFS keeps .crc sidecars for files IT wrote; rewriting
    # them with plain open() must drop the stale sidecar or reads fail
    for crc in ("._last_checkpoint.crc",
                f".{v:020d}.checkpoint.parquet.crc"):
        try:
            os.remove(os.path.join(log, crc))
        except FileNotFoundError:
            pass
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        f.write(_json.dumps({"version": v, "size": len(rows), "parts": 2}))
    # bound replay to the checkpoint: drop the covered JSON commits
    os.remove(os.path.join(log, f"{0:020d}.json"))
    os.remove(os.path.join(log, f"{1:020d}.json"))

    got = sorted(r["id"] for r in read_delta_native(spark, table).collect())
    assert got == list(range(30))

    # appends on top of a multi-part checkpoint replay correctly too
    write_delta_native(
        spark, spark.range(30, 33).select("id"), table,
        checkpoint_interval=0,
    )
    assert read_delta_native(spark, table).count() == 33

    # missing part: loud refusal, never a partial snapshot
    os.remove(p2)
    with pytest.raises(ValueError, match="missing 1/2 parts"):
        read_delta_native(spark, table)


def test_type_widening_reads(spark, tmp_path):
    """typeWidening reader feature: a table whose column was WIDENED
    (int -> long here) keeps its old narrow-typed files; the reader
    scans everything under the latest (wider) schema — Spark's parquet
    reader upcasts natively. Old and new files both come back as the
    wide type with exact values."""
    table = str(tmp_path / "tw")
    os.makedirs(table)
    int_schema = json.dumps(
        {"type": "struct", "fields": [
            {"name": "id", "type": "integer", "nullable": True,
             "metadata": {}}]}
    )
    long_schema = json.dumps(
        {"type": "struct", "fields": [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {}}]}
    )
    a0 = _data_file(
        spark,
        spark.createDataFrame([(1,), (2,)], "id int"),
        table, "f0.parquet",
    )
    _commit(
        table, 0,
        [{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                       "readerFeatures": ["typeWidening"],
                       "writerFeatures": ["typeWidening"]}},
         _meta(int_schema), a0],
    )
    # widening commit: new metaData with the wider type + a long file
    a1 = _data_file(
        spark,
        spark.createDataFrame([(3_000_000_000,)], "id long"),
        table, "f1.parquet",
    )
    m = _meta(long_schema)
    _commit(table, 1, [m, a1])

    got = read_delta_native(spark, table)
    assert dict(got.dtypes)["id"] == "bigint"
    assert sorted(r["id"] for r in got.collect()) == [1, 2, 3_000_000_000]
    # pre-widening snapshot still reads under its own (narrow) schema
    got0 = read_delta_native(spark, table, version=0)
    assert dict(got0.dtypes)["id"] == "int"
    assert sorted(r["id"] for r in got0.collect()) == [1, 2]


def _v2_checkpoint_fixture(spark, tmp_path, json_top=False,
                           wrong_cm_version=False):
    """Hand-built V2 (UUID-named) checkpoint per the published layout:
    top-level {v}.checkpoint.<uuid>.{parquet|json} carrying exactly one
    checkpointMetadata action + sidecar actions + protocol/metaData;
    file actions in _delta_log/_sidecars/<uuid>.parquet. Pre-checkpoint
    commits are DELETED so a successful read proves the snapshot came
    through the v2 layout."""
    import uuid as _uuid

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        IntegerType,
        LongType,
        MapType,
        StringType,
        StructField,
        StructType,
    )

    from rtdl_spark.sources.delta_reader import snapshot_actions
    from rtdl_spark.sources.delta_writer import write_delta_native

    root = str(tmp_path / "v2ck")
    write_delta_native(
        spark,
        spark.range(0, 10).select(
            "id", (F.col("id") % 2).cast("string").alias("p")
        ),
        root, partition_by=["p"], checkpoint_interval=0,
    )
    write_delta_native(
        spark,
        spark.range(10, 20).select(
            "id", (F.col("id") % 2).cast("string").alias("p")
        ),
        root, checkpoint_interval=0,
    )
    _, meta, active, current, _ = snapshot_actions(spark, root)
    log = os.path.join(root, "_delta_log")
    with open(os.path.join(log, f"{current + 1:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {
            "timestamp": 5, "operation": "UPGRADE"}}) + "\n")
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["v2Checkpoint"],
            "writerFeatures": ["v2Checkpoint", "appendOnly",
                               "invariants"]}}) + "\n")
    cv = current + 1

    os.makedirs(os.path.join(log, "_sidecars"), exist_ok=True)
    add_schema = StructType([StructField("add", StructType([
        StructField("path", StringType()),
        StructField("partitionValues", MapType(StringType(), StringType())),
        StructField("size", LongType()),
        StructField("modificationTime", LongType()),
        StructField("dataChange", BooleanType()),
        StructField("stats", StringType()),
    ]))])
    rows = [
        ((a["path"], dict(a.get("partitionValues") or {}), int(a["size"]),
          int(a.get("modificationTime") or 0), False, a.get("stats")),)
        for a in active.values()
    ]
    sc_name = f"{_uuid.uuid4()}.parquet"
    stage = str(tmp_path / "sc_stage")
    spark.createDataFrame(rows, add_schema).coalesce(1).write.parquet(stage)
    part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
    shutil.copy(os.path.join(stage, part),
                os.path.join(log, "_sidecars", sc_name))
    sc_size = os.path.getsize(os.path.join(log, "_sidecars", sc_name))

    cm_version = cv + 1 if wrong_cm_version else cv
    u = _uuid.uuid4()
    if json_top:
        top = os.path.join(log, f"{cv:020d}.checkpoint.{u}.json")
        with open(top, "w") as f:
            f.write(json.dumps({"checkpointMetadata": {
                "version": cm_version, "tags": {}}}) + "\n")
            f.write(json.dumps({"sidecar": {
                "path": sc_name, "sizeInBytes": sc_size,
                "modificationTime": 5}}) + "\n")
            f.write(json.dumps({"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["v2Checkpoint"],
                "writerFeatures": ["v2Checkpoint", "appendOnly",
                                   "invariants"]}}) + "\n")
            f.write(json.dumps({"metaData": meta}) + "\n")
    else:
        top_schema = StructType([
            StructField("checkpointMetadata", StructType([
                StructField("version", LongType()),
                StructField("tags", MapType(StringType(), StringType())),
            ])),
            StructField("sidecar", StructType([
                StructField("path", StringType()),
                StructField("sizeInBytes", LongType()),
                StructField("modificationTime", LongType()),
            ])),
            StructField("protocol", StructType([
                StructField("minReaderVersion", IntegerType()),
                StructField("minWriterVersion", IntegerType()),
                StructField("readerFeatures", ArrayType(StringType())),
                StructField("writerFeatures", ArrayType(StringType())),
            ])),
            StructField("metaData", StructType([
                StructField("id", StringType()),
                StructField("format", StructType([
                    StructField("provider", StringType()),
                    StructField("options",
                                MapType(StringType(), StringType())),
                ])),
                StructField("schemaString", StringType()),
                StructField("partitionColumns", ArrayType(StringType())),
                StructField("configuration",
                            MapType(StringType(), StringType())),
                StructField("createdTime", LongType()),
            ])),
        ])
        top_rows = [
            ((cm_version, {}), None, None, None),
            (None, (sc_name, sc_size, 5), None, None),
            (None, None,
             (3, 7, ["v2Checkpoint"],
              ["v2Checkpoint", "appendOnly", "invariants"]), None),
            (None, None, None,
             (meta["id"], ("parquet", {}), meta["schemaString"],
              list(meta.get("partitionColumns") or []), {},
              meta.get("createdTime"))),
        ]
        stage2 = str(tmp_path / "top_stage")
        spark.createDataFrame(top_rows, top_schema).coalesce(1) \
            .write.parquet(stage2)
        part = [f for f in os.listdir(stage2) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(stage2, part),
                    os.path.join(log, f"{cv:020d}.checkpoint.{u}.parquet"))
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        f.write(json.dumps({"version": cv, "size": len(active) + 3}))
    for v in range(0, cv + 1):
        p = os.path.join(log, f"{v:020d}.json")
        if os.path.exists(p):
            os.remove(p)
    return root, sc_name


def test_v2_checkpoint_read_parquet_top(spark, tmp_path):
    """V2 (UUID-named) checkpoints READ (r7, was a named refusal): the
    snapshot reconstructs through the sidecar parquet files; partition
    values inject; a missing sidecar refuses by name (partial
    snapshot). Since r8 the WRITER supports the v2Checkpoint feature
    too (test_checkpoint_v2_write.py) — an ordinary append on the
    feature-carrying table commits and replays on top of the v2
    checkpoint."""
    from rtdl_spark.sources.delta_writer import write_delta_native

    root, sc_name = _v2_checkpoint_fixture(spark, tmp_path)
    got = sorted(r["id"] for r in read_delta_native(spark, root).collect())
    assert got == list(range(20))
    assert read_delta_native(spark, root).filter("p = '1'").count() == 10

    write_delta_native(
        spark,
        spark.range(20, 22).select("id", F.lit("0").alias("p")),
        root, checkpoint_interval=0,
    )
    assert sorted(
        r["id"] for r in read_delta_native(spark, root).collect()
    ) == list(range(22))

    log = os.path.join(root, "_delta_log")
    os.rename(os.path.join(log, "_sidecars", sc_name),
              os.path.join(log, "_sidecars", "gone.parquet"))
    with pytest.raises(ValueError, match="sidecar"):
        read_delta_native(spark, root).collect()


def test_v2_checkpoint_read_json_top_and_mislabel_refusal(
    spark, tmp_path
):
    """The JSON top-level variant reads identically; a top-level file
    whose checkpointMetadata.version doesn't match its name refuses by
    name (mislabeled snapshot)."""
    root, _ = _v2_checkpoint_fixture(spark, tmp_path, json_top=True)
    got = sorted(r["id"] for r in read_delta_native(spark, root).collect())
    assert got == list(range(20))

    root2, _ = _v2_checkpoint_fixture(
        spark, tmp_path.joinpath("b"), wrong_cm_version=True
    )
    with pytest.raises(ValueError, match="checkpointMetadata"):
        read_delta_native(spark, root2).collect()


def _py4j_calls(call):
    """(call(), the py4j round trips it made)."""
    from py4j.clientserver import JavaClient
    from py4j.java_gateway import GatewayClient

    n = [0]
    saved = []
    for cls in (JavaClient, GatewayClient):
        if "send_command" in cls.__dict__:
            orig = cls.__dict__["send_command"]

            def counted(client, *a, _orig=orig, **kw):
                n[0] += 1
                return _orig(client, *a, **kw)

            saved.append((cls, orig))
            cls.send_command = counted
    try:
        out = call()
    finally:
        for cls, orig in saved:
            cls.send_command = orig
    return out, n[0]


def test_unpartitioned_read_ends_with_the_scan_projection(spark, tmp_path):
    """An unpartitioned read ends with the scan's own projection, which
    already is the table schema: the select over the schema's names that
    a partitioned read ends with would be an identity here. Dropping it
    keeps the schema, field metadata included, and the rows, and saves
    its py4j round trips."""
    from rtdl_spark.sources.delta_writer import write_delta_native

    root = str(tmp_path / "t")
    write_delta_native(
        spark,
        spark.range(0, 20).select(
            F.col("id").alias("id", metadata={"comment": "the key"}),
            (F.col("id") * 2).cast("string").alias("v"),
        ),
        root,
    )
    read_delta_native(spark, root)  # warm the snapshot and schema caches
    df, calls = _py4j_calls(lambda: read_delta_native(spark, root))
    names = [f.name for f in df.schema.fields]
    identity, calls_with = _py4j_calls(
        lambda: read_delta_native(spark, root).select(*names)
    )
    assert df.schema.json() == identity.schema.json()
    assert sorted(df.collect()) == sorted(identity.collect())
    assert sorted(r.id for r in df.collect()) == list(range(20))
    assert calls < calls_with
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("Project [") == 1, analyzed


@pytest.mark.parametrize("n_parts", [2, 40])
def test_read_keeps_user_field_metadata(spark, tmp_path, n_parts):
    """A column comment written into the log's schema reads back on a
    data column and on a partition column, through both the per-group
    partition attach (few groups) and the joined attach (many)."""
    from rtdl_spark.sources.delta_writer import write_delta_native

    root = str(tmp_path / "t")
    write_delta_native(
        spark,
        spark.range(0, 80).select(
            F.col("id").alias("id", metadata={"comment": "the key"}),
            (F.col("id") % n_parts).cast("string")
            .alias("p", metadata={"comment": "the part"}),
        ),
        root, partition_by=["p"], checkpoint_interval=0,
    )
    df = read_delta_native(spark, root)
    assert df.schema["id"].metadata == {"comment": "the key"}
    assert df.schema["p"].metadata == {"comment": "the part"}
    assert sorted(r.id for r in df.collect()) == list(range(80))


def test_cdf_read_keeps_user_field_metadata(spark, tmp_path):
    """The change feed carries the same user column metadata as a
    plain read, on data and partition columns alike."""
    from rtdl_spark.sources.delta_reader import read_table_changes_cdf
    from rtdl_spark.sources.delta_writer import write_delta_native

    root = str(tmp_path / "t")
    write_delta_native(
        spark,
        spark.range(0, 8).select(
            F.col("id").alias("id", metadata={"comment": "the key"}),
            (F.col("id") % 2).cast("string")
            .alias("p", metadata={"comment": "the part"}),
        ),
        root, partition_by=["p"], checkpoint_interval=0,
    )
    df = read_table_changes_cdf(spark, root, 0, allow_unrecorded=True)
    assert df.schema["id"].metadata == {"comment": "the key"}
    assert df.schema["p"].metadata == {"comment": "the part"}
    assert df.count() == 8


def test_column_mapped_read_schema_has_no_delta_keys(spark, tmp_path):
    """The log's ``delta.columnMapping.*`` field keys are protocol
    bookkeeping: a column-mapped table's read schema carries only the
    user's metadata, on a non-empty and on an empty read alike."""
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
        write_delta_native,
    )

    root = str(tmp_path / "cm")
    write_delta_native(
        spark,
        spark.range(0, 10).select(
            F.col("id").alias("id", metadata={"comment": "the key"}),
            (F.col("id") % 2).cast("string").alias("p"),
        ),
        root, partition_by=["p"], column_mapping="name",
        checkpoint_interval=0,
    )
    for _ in range(2):
        schema = read_delta_native(spark, root).schema
        assert schema["id"].metadata == {"comment": "the key"}
        assert schema["p"].metadata == {}
        delete_where_delta_native(spark, root, "true")
