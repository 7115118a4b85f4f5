"""Conditional / column-level MERGE clauses (r10) — delta-spark's full
WHEN MATCHED [AND cond] THEN UPDATE SET col = expr / DELETE and
WHEN NOT MATCHED [AND cond] THEN INSERT (cols) VALUES (exprs) model,
through both the native API (merge_into_delta_native) and the SQL text
front end (delta_sql). Reference behavior:
/root/reference/deltawriter/delta_writer.py:88 funnels user MERGE into
the delta-spark engine whose clause semantics these tests pin."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from rtdl_spark.sources.delta_reader import read_delta_native
from rtdl_spark.sources.delta_sql import delta_sql
from rtdl_spark.sources.delta_writer import (
    merge_into_delta_native,
    write_delta_native,
)


def _base(spark, root):
    df = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c"), (4, 40, "d")],
        "id long, v long, tag string",
    )
    write_delta_native(spark, df, root, checkpoint_interval=0)


def _src(spark):
    return spark.createDataFrame(
        [(1, 100, "A"), (2, 5, "B"), (3, 1, "x"), (5, 50, "E"),
         (6, 7, "F")],
        "id long, v long, tag string",
    )


def test_conditional_update_delete_insert(spark, tmp_path):
    """First-true-clause-wins over matched rows; unclaimed matched rows
    survive unchanged; conditional INSERT filters source rows; VALUES
    exprs compute per column."""
    root = str(tmp_path / "t")
    _base(spark, root)
    res = merge_into_delta_native(
        spark, root, _src(spark), on=["id"],
        when_matched=[
            {"action": "update", "condition": "s.v > t.v",
             "set": {"v": "s.v + t.v", "tag": "upper(t.tag)"}},
            {"action": "delete", "condition": "t.tag = 'b'"},
        ],
        when_not_matched=[
            {"action": "insert", "condition": "s.v >= 50",
             "values": {"id": "s.id", "v": "s.v * 2", "tag": "s.tag"}},
        ],
    )
    assert res["version"] == 1
    rows = sorted(
        (r["id"], r["v"], r["tag"])
        for r in read_delta_native(spark, root).collect()
    )
    # id=1: clause 0 (100>10) -> v=110, tag=upper('a'); id=2: clause 1
    # (tag='b') -> deleted; id=3: no clause (1<=30, tag!='b') ->
    # survives; id=5: inserted doubled; id=6: v<50 -> not inserted
    assert rows == [(1, 110, "A"), (3, 30, "c"), (4, 40, "d"),
                    (5, 100, "E")]


def test_clause_order_is_semantic(spark, tmp_path):
    """Swapping clause order changes which action claims a row that
    satisfies both conditions (Delta: first in order wins)."""
    root = str(tmp_path / "t")
    _base(spark, root)
    src = spark.createDataFrame([(2, 999, "z")], "id long, v long, tag string")
    merge_into_delta_native(
        spark, root, src, on=["id"],
        when_matched=[
            {"action": "delete", "condition": "t.tag = 'b'"},
            {"action": "update", "condition": "s.v > t.v", "set": None},
        ],
        when_not_matched="ignore",
    )
    ids = sorted(r["id"] for r in read_delta_native(spark, root).collect())
    assert ids == [1, 3, 4]  # delete won despite update also matching


def test_partial_set_keeps_other_target_columns(spark, tmp_path):
    """UPDATE SET v = expr leaves tag at the TARGET's value (not the
    source's) — the core column-level semantic."""
    root = str(tmp_path / "t")
    _base(spark, root)
    src = spark.createDataFrame([(3, 7, "ZZZ")], "id long, v long, tag string")
    merge_into_delta_native(
        spark, root, src, on=["id"],
        when_matched=[{"action": "update", "condition": None,
                       "set": {"v": "t.v + s.v"}}],
        when_not_matched="ignore",
    )
    r3 = read_delta_native(spark, root).filter("id = 3").collect()[0]
    assert (r3["v"], r3["tag"]) == (37, "c")


def test_insert_star_with_condition(spark, tmp_path):
    root = str(tmp_path / "t")
    _base(spark, root)
    merge_into_delta_native(
        spark, root, _src(spark), on=["id"],
        when_matched="ignore",
        when_not_matched=[
            {"action": "insert", "condition": "s.id % 2 = 1",
             "values": None},
        ],
    )
    ids = sorted(r["id"] for r in read_delta_native(spark, root).collect())
    assert ids == [1, 2, 3, 4, 5]  # id=5 inserted, id=6 filtered


def test_validation_refusals(spark, tmp_path):
    root = str(tmp_path / "t")
    _base(spark, root)
    src = _src(spark)
    with pytest.raises(ValueError, match="not last"):
        merge_into_delta_native(
            spark, root, src, on=["id"],
            when_matched=[
                {"action": "update", "condition": None, "set": None},
                {"action": "delete", "condition": "t.v > 0"},
            ],
        )
    with pytest.raises(ValueError, match="DELETE takes no SET"):
        merge_into_delta_native(
            spark, root, src, on=["id"],
            when_matched=[{"action": "delete", "condition": None,
                           "set": {"v": "1"}}],
        )
    with pytest.raises(ValueError, match="action"):
        merge_into_delta_native(
            spark, root, src, on=["id"],
            when_matched=[{"action": "upsert", "condition": None}],
        )
    with pytest.raises(ValueError, match="not in the table schema"):
        merge_into_delta_native(
            spark, root, src, on=["id"],
            when_matched=[{"action": "update", "condition": None,
                           "set": {"nope": "1"}}],
        )
    with pytest.raises(ValueError, match="aliases must differ"):
        merge_into_delta_native(
            spark, root, src, on=["id"], aliases=("x", "x")
        )


def test_cdf_rows_for_conditional_clauses(spark, tmp_path):
    """CDF derives change rows per CLAIMED row only: update pre/post
    pairs for update-clause rows, deletes for delete-clause rows,
    inserts for inserted rows — unclaimed matched rows emit nothing."""
    from rtdl_spark.sources.delta_alter import alter_set_tblproperties
    from rtdl_spark.sources.delta_reader import read_table_changes_cdf

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c"), (4, 40, "d")],
        "id long, v long, tag string",
    )
    write_delta_native(spark, df, root, checkpoint_interval=0)
    alter_set_tblproperties(
        spark, root, {"delta.enableChangeDataFeed": "true"}
    )
    merge_into_delta_native(
        spark, root, _src(spark), on=["id"],
        when_matched=[
            {"action": "update", "condition": "s.v > t.v",
             "set": {"v": "s.v"}},
            {"action": "delete", "condition": "t.tag = 'b'"},
        ],
        when_not_matched=[
            {"action": "insert", "condition": "s.v >= 50",
             "values": None},
        ],
    )
    ch = sorted(
        (r["_change_type"], r["id"], r["v"])
        for r in read_table_changes_cdf(spark, root, 2, 2).collect()
    )
    assert ch == [
        ("delete", 2, 20),
        ("insert", 5, 50),
        ("update_postimage", 1, 100),
        ("update_preimage", 1, 10),
    ]


def _row_ids(spark, root):
    """{id: (row id, commit version)} resolved the spec's way (same
    model as tests/test_delta_writer.py::_row_ids)."""
    import os

    import pyarrow.parquet as pq

    from rtdl_spark.sources.delta_reader import snapshot_actions

    _, meta, active, _, _ = snapshot_actions(spark, root)
    conf = meta.get("configuration") or {}
    mat_id = conf.get("delta.rowTracking.materializedRowIdColumnName")
    mat_cv = conf.get(
        "delta.rowTracking.materializedRowCommitVersionColumnName"
    )
    out = {}
    for rel, a in active.items():
        for i, row in enumerate(
            pq.read_table(os.path.join(root, rel)).to_pylist()
        ):
            rid = row.get(mat_id) if mat_id else None
            if rid is None:
                rid = a["baseRowId"] + i
            rcv = row.get(mat_cv) if mat_cv else None
            if rcv is None:
                rcv = a["defaultRowCommitVersion"]
            out[row["id"]] = (rid, rcv)
    return out


def test_row_tracking_preserved_on_conditional_update(spark, tmp_path):
    """Updated rows keep their target row id with a FRESH commit
    version under conditional clauses; survivors (unclaimed matched
    rows included) keep both — exactly the legacy SET * lane's
    contract."""
    import os

    root = str(tmp_path / "t")
    write_delta_native(
        spark,
        spark.createDataFrame([], "id long, v long, tag string"),
        root, checkpoint_interval=0,
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
    df = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")],
        "id long, v long, tag string",
    ).coalesce(1)
    write_delta_native(spark, df, root, checkpoint_interval=0)
    before = _row_ids(spark, root)
    vm = merge_into_delta_native(
        spark, root, _src(spark), on=["id"],
        when_matched=[{"action": "update", "condition": "s.v > t.v",
                       "set": {"v": "s.v"}}],
        when_not_matched="ignore",
    )["version"]
    after = _row_ids(spark, root)
    assert set(after) == set(before)
    # id=1 claimed by the clause (100>10): same id, NEW commit version
    assert after[1][0] == before[1][0]
    assert after[1][1] == vm
    # id=2 (5<=20) and id=3 (1<=30) unclaimed: identity fully intact
    assert after[2] == before[2]
    assert after[3] == before[3]
    # and the values actually changed only for the claimed row
    vals = {
        r["id"]: r["v"]
        for r in read_delta_native(spark, root).collect()
    }
    assert vals == {1: 100, 2: 20, 3: 30}


def test_sql_text_conditional_merge(spark, tmp_path):
    """The delta_sql MERGE grammar routes conditional clauses with the
    user's own aliases; qualified t.col on the SET left side is
    tolerated; commitInfo records the clause list."""
    root = str(tmp_path / "t")
    _base(spark, root)
    _src(spark).createOrReplaceTempView("merge_src_r10")
    delta_sql(spark, f"""
        MERGE INTO delta.`{root}` AS tgt
        USING merge_src_r10 AS src
        ON tgt.id = src.id
        WHEN MATCHED AND src.v > tgt.v THEN
            UPDATE SET tgt.v = src.v + tgt.v, tag = upper(tgt.tag)
        WHEN MATCHED AND tgt.tag = 'b' THEN DELETE
        WHEN NOT MATCHED AND src.v >= 50 THEN
            INSERT (id, v, tag) VALUES (src.id, src.v * 2, src.tag)
    """)
    rows = sorted(
        (r["id"], r["v"], r["tag"])
        for r in read_delta_native(spark, root).collect()
    )
    assert rows == [(1, 110, "A"), (3, 30, "c"), (4, 40, "d"),
                    (5, 100, "E")]
    import os

    # the commit records the full clause list for observability
    with open(os.path.join(root, "_delta_log", f"{1:020d}.json")) as f:
        info = next(
            json.loads(line)["commitInfo"]
            for line in f
            if "commitInfo" in json.loads(line)
        )
    clauses = json.loads(info["operationParameters"]["matched"])
    assert [c["action"] for c in clauses] == ["update", "delete"]
    assert clauses[0]["condition"] == "src.v > tgt.v"


def test_sql_legacy_star_forms_unchanged(spark, tmp_path):
    root = str(tmp_path / "t")
    _base(spark, root)
    delta_sql(spark, f"""
        MERGE INTO delta.`{root}` t
        USING (SELECT CAST(3 AS LONG) id, CAST(99 AS LONG) v, 'z' tag) s
        ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)
    r3 = read_delta_native(spark, root).filter("id = 3").collect()[0]
    assert (r3["v"], r3["tag"]) == (99, "z")


def test_partial_insert_null_hits_not_null_enforcement(spark, tmp_path):
    """INSERT (subset) leaves omitted columns NULL — which must still
    trip NOT NULL enforcement rather than write a corrupt row."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 10)], "id long, v long").selectExpr(
        "id", "v"
    )
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([
        StructField("id", LongType(), False),
        StructField("v", LongType(), False),
    ])
    df = spark.createDataFrame([(1, 10)], schema)
    write_delta_native(spark, df, root, checkpoint_interval=0)
    src = spark.createDataFrame([(9, 90)], schema)
    with pytest.raises(Exception, match="(?i)null|NOT NULL"):
        merge_into_delta_native(
            spark, root, src, on=["id"],
            when_matched="ignore",
            when_not_matched=[
                {"action": "insert", "condition": None,
                 "values": {"id": "s.id"}},  # v omitted -> NULL -> raise
            ],
        )


def test_not_matched_by_source_clauses(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE (delta-spark's third clause family):
    target rows with no source match are claimed first-true-wins —
    delete or column-level update (target-only expressions); unclaimed
    rows survive. The SCD-style sync shape."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c"), (4, 40, "d"),
         (5, 50, "e")],
        "id long, v long, tag string",
    )
    write_delta_native(spark, df, root, checkpoint_interval=0)
    src = spark.createDataFrame(
        [(1, 100, "A")], "id long, v long, tag string"
    )
    res = merge_into_delta_native(
        spark, root, src, on=["id"],
        when_matched="update",
        when_not_matched="insert",
        when_not_matched_by_source=[
            {"action": "delete", "condition": "t.v < 25"},
            {"action": "update", "condition": "t.v < 45",
             "set": {"tag": "concat(t.tag, '-stale')"}},
        ],
    )
    assert res["version"] == 1
    rows = sorted(
        (r["id"], r["v"], r["tag"])
        for r in read_delta_native(spark, root).collect()
    )
    assert rows == [(1, 100, "A"), (3, 30, "c-stale"),
                    (4, 40, "d-stale"), (5, 50, "e")]


def test_by_source_only_statement_and_full_scan_identify(spark, tmp_path):
    """A MERGE with ONLY by-source clauses (no matched/insert) still
    identifies and rewrites the right files — including files with NO
    key match at all (the identify must scan the full active set, so
    key-range pruning is off)."""
    import rtdl_spark.sources.delta_writer as dw

    root = str(tmp_path / "t")
    df = spark.range(0, 100).select(
        "id", (F.col("id") * 2).alias("v")
    ).repartitionByRange(10, "id")
    write_delta_native(spark, df, root, checkpoint_interval=0)
    # source covers only ids 0..9; rows 90+ live in a file with no
    # key match whatsoever and must STILL be deleted
    src = spark.range(0, 10).select("id", (F.col("id") * 2).alias("v"))
    res = merge_into_delta_native(
        spark, root, src, on=["id"],
        when_matched="ignore",
        when_not_matched="ignore",
        when_not_matched_by_source=[
            {"action": "delete", "condition": "t.id >= 90"},
        ],
    )
    assert res["files_pruned"] == 0  # range pruning disabled
    got = sorted(r["id"] for r in read_delta_native(spark, root).collect())
    assert got == list(range(0, 90))


def test_by_source_cdf_and_sql_text(spark, tmp_path):
    """SQL grammar: WHEN NOT MATCHED BY SOURCE routes; CDF emits
    pre/post for by-source updates and deletes for by-source deletes."""
    from rtdl_spark.sources.delta_alter import alter_set_tblproperties
    from rtdl_spark.sources.delta_reader import read_table_changes_cdf

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")],
        "id long, v long, tag string",
    )
    write_delta_native(spark, df, root, checkpoint_interval=0)
    alter_set_tblproperties(
        spark, root, {"delta.enableChangeDataFeed": "true"}
    )
    spark.createDataFrame(
        [(1, 99, "z")], "id long, v long, tag string"
    ).createOrReplaceTempView("bs_src_r10")
    delta_sql(spark, f"""
        MERGE INTO delta.`{root}` AS t
        USING bs_src_r10 AS s
        ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED BY SOURCE AND t.v < 25 THEN DELETE
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = t.v + 1000
    """)
    rows = sorted(
        (r["id"], r["v"])
        for r in read_delta_native(spark, root).collect()
    )
    assert rows == [(1, 99), (3, 1030)]
    ch = sorted(
        (r["_change_type"], r["id"], r["v"])
        for r in read_table_changes_cdf(spark, root, 2, 2).collect()
    )
    assert ch == [
        ("delete", 2, 20),
        ("update_postimage", 1, 99),
        ("update_postimage", 3, 1030),
        ("update_preimage", 1, 10),
        ("update_preimage", 3, 30),
    ]


def test_by_source_validation(spark, tmp_path):
    root = str(tmp_path / "t")
    _base(spark, root)
    src = _src(spark)
    with pytest.raises(ValueError, match="explicit SET"):
        merge_into_delta_native(
            spark, root, src, on=["id"],
            when_not_matched_by_source=[
                {"action": "update", "condition": None, "set": None},
            ],
        )
    with pytest.raises(ValueError, match="action"):
        merge_into_delta_native(
            spark, root, src, on=["id"],
            when_not_matched_by_source=[
                {"action": "insert", "condition": None},
            ],
        )


def test_conditional_clauses_on_column_mapped_table(spark, tmp_path):
    """The generic clause path composes with column mapping: logical
    names in conditions/SET, physical staging (the stager's existing
    duty) — incl. a by-source clause."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")],
        "id long, v long, tag string",
    )
    write_delta_native(
        spark, df, root, column_mapping="name", checkpoint_interval=0
    )
    src = spark.createDataFrame(
        [(1, 100, "A"), (9, 90, "I")], "id long, v long, tag string"
    )
    merge_into_delta_native(
        spark, root, src, on=["id"],
        when_matched=[
            {"action": "update", "condition": "s.v > t.v",
             "set": {"v": "s.v + t.v"}},
        ],
        when_not_matched=[
            {"action": "insert", "condition": "s.v < 1000",
             "values": None},
        ],
        when_not_matched_by_source=[
            {"action": "delete", "condition": "t.tag = 'b'"},
        ],
    )
    rows = sorted(
        (r["id"], r["v"], r["tag"])
        for r in read_delta_native(spark, root).collect()
    )
    assert rows == [(1, 110, "a"), (3, 30, "c"), (9, 90, "I")]
    # physical file columns actually carry mapped names
    import json as _json

    from rtdl_spark.sources.delta_reader import snapshot_actions

    _, meta, active, _, _ = snapshot_actions(spark, root)
    import os

    import pyarrow.parquet as pq

    p = next(iter(active))
    names = pq.ParquetFile(os.path.join(root, p)).schema_arrow.names
    assert all(n.startswith("col-") for n in names), names


def test_merge_schema_evolution(spark, tmp_path):
    """merge_schema=True (withSchemaEvolution): a source with a NEW
    column evolves the table schema in the MERGE commit — old rows
    null-fill it, updated rows take the source value, inserts carry it;
    a source LACKING a column leaves target values alone on SET * and
    inserts NULL; without the flag the mismatch refuses."""
    from rtdl_spark.sources.delta_reader import snapshot_actions

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "id long, v long"
    )
    write_delta_native(spark, df, root, checkpoint_interval=0)
    src = spark.createDataFrame(
        [(1, 100, "x"), (9, 90, "y")], "id long, v long, tag string"
    )
    with pytest.raises(ValueError, match="merge_schema=True"):
        merge_into_delta_native(spark, root, src, on=["id"])
    res = merge_into_delta_native(
        spark, root, src, on=["id"], merge_schema=True
    )
    assert res["version"] == 1
    _, meta, _, _, _ = snapshot_actions(spark, root)
    names = [
        f["name"]
        for f in json.loads(meta["schemaString"])["fields"]
    ]
    assert names == ["id", "v", "tag"]
    rows = sorted(
        (r["id"], r["v"], r["tag"])
        for r in read_delta_native(spark, root).collect()
    )
    assert rows == [(1, 100, "x"), (2, 20, None), (3, 30, None),
                    (9, 90, "y")]

    # now a source LACKING 'tag': SET * keeps target tags; the insert
    # gets NULL
    src2 = spark.createDataFrame([(1, 111), (7, 70)], "id long, v long")
    merge_into_delta_native(
        spark, root, src2, on=["id"], merge_schema=True
    )
    rows = {
        r["id"]: (r["v"], r["tag"])
        for r in read_delta_native(spark, root).collect()
    }
    assert rows[1] == (111, "x"), "lacked column must keep target value"
    assert rows[7] == (70, None)
    assert rows[2] == (20, None)

    # evolution composes with conditional clauses
    src3 = spark.createDataFrame(
        [(2, 222, "z", True), (8, 80, "w", False)],
        "id long, v long, tag string, flag boolean",
    )
    merge_into_delta_native(
        spark, root, src3, on=["id"], merge_schema=True,
        when_matched=[
            {"action": "update", "condition": "s.flag",
             "set": {"v": "s.v", "flag": "s.flag"}},
        ],
        when_not_matched=[
            {"action": "insert", "condition": "NOT s.flag",
             "values": None},
        ],
    )
    rows = {
        r["id"]: (r["v"], r["tag"], r["flag"])
        for r in read_delta_native(spark, root).collect()
    }
    assert rows[2] == (222, None, True)
    assert rows[8] == (80, "w", False)
    assert rows[1] == (111, "x", None)

    # type conflict refuses
    bad = spark.createDataFrame([(1, "oops")], "id long, v string")
    with pytest.raises(ValueError, match="type conflict"):
        merge_into_delta_native(
            spark, root, bad, on=["id"], merge_schema=True
        )


def test_generated_columns_computed_in_clause_paths(spark, tmp_path):
    """Generated columns omitted from clause SET/VALUES are COMPUTED
    from the final row (delta-spark's behavior) instead of going NULL
    or stale — including when an UPDATE changes a referenced column."""
    from rtdl_spark.sources.delta_alter import create_delta_table_native

    root = str(tmp_path / "t")
    create_delta_table_native(
        spark, root, "id long, v long, v2 long",
        generated={"v2": "v * 2"},
    )
    seed = spark.createDataFrame(
        [(1, 10, 20), (2, 20, 40)], "id long, v long, v2 long"
    )
    write_delta_native(spark, seed, root, checkpoint_interval=0)
    src = spark.createDataFrame(
        [(1, 100, 200), (5, 50, 100)], "id long, v long, v2 long"
    )
    merge_into_delta_native(
        spark, root, src, on=["id"],
        when_matched=[
            # v2 omitted from SET: must recompute from the NEW v
            {"action": "update", "condition": None, "set": {"v": "s.v"}},
        ],
        when_not_matched=[
            # v2 omitted from VALUES: must compute, not NULL
            {"action": "insert", "condition": None,
             "values": {"id": "s.id", "v": "s.v"}},
        ],
    )
    rows = sorted(
        (r["id"], r["v"], r["v2"])
        for r in read_delta_native(spark, root).collect()
    )
    assert rows == [(1, 100, 200), (2, 20, 40), (5, 50, 100)]


def test_matched_ignore_with_by_source_same_file(spark, tmp_path):
    """when_matched="ignore" + by-source clauses, with a source-MATCHED
    key and a by-source-CLAIMED key deliberately packed into the SAME
    file: the matched row must survive the file's rewrite unchanged.
    Regression for a layout-dependent row loss (the by-source rewrite
    re-emitted only UNMATCHED rows, so a matched row sharing a flagged
    file silently vanished — latent in r9, exposed when r10's rewrite
    sizing started coalescing staged files)."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10, "a"), (50, 500, "z"), (2, 20, "b")],
        "id long, v long, tag string",
    ).coalesce(1)  # ONE file holds matched (1), claimed (50), plain (2)
    write_delta_native(spark, df, root, checkpoint_interval=0)
    src = spark.createDataFrame([(1, 999, "S")], "id long, v long, tag string")
    merge_into_delta_native(
        spark, root, src, on=["id"],
        when_matched="ignore", when_not_matched="ignore",
        when_not_matched_by_source=[
            {"action": "delete", "condition": "t.id >= 50"},
        ],
    )
    rows = sorted(
        (r["id"], r["v"], r["tag"])
        for r in read_delta_native(spark, root).collect()
    )
    # 50 deleted by the clause; 1 (matched, ignored) and 2 (unclaimed)
    # survive with their ORIGINAL values
    assert rows == [(1, 10, "a"), (2, 20, "b")]


_SHAPES = {
    "upsert": {"when_matched": "update", "when_not_matched": "insert"},
    "delete": {"when_matched": "delete", "when_not_matched": "ignore"},
    "conditional": {
        "when_matched": [
            {"action": "update", "condition": "s.v > t.v",
             "set": {"v": "s.v"}},
            {"action": "delete", "condition": None},
        ],
        "when_not_matched": [
            {"action": "insert", "condition": "s.v > 0", "values": None},
        ],
    },
    "by_source_delete": {
        "when_matched": "ignore", "when_not_matched": "ignore",
        "when_not_matched_by_source": [
            {"action": "delete", "condition": "t.id < 10"},
        ],
    },
    "upsert_by_source_update": {
        "when_matched": "update", "when_not_matched": "insert",
        "when_not_matched_by_source": [
            {"action": "update", "condition": "t.id < 10",
             "set": {"v": "t.v + 1"}},
        ],
    },
}


@pytest.mark.parametrize("cdf", [False, True])
def test_merge_job_shape(spark, tmp_path, cdf):
    """Pins how many Spark jobs each MERGE shape runs, with CDF off and
    on: a 2-file, 100-row table and a 20-row source (10 keys matched,
    10 new). Counted through statusTracker job groups; the snapshot,
    probe, staged write, CDF write and commit all run inside the group.
    Only the fused unconditional upsert with CDF off keeps its left-join
    plan; every other shape pairs target and source rows once."""
    import time

    from rtdl_spark.sources.delta_alter import alter_set_tblproperties

    sc = spark.sparkContext
    groups = {}
    for name, kwargs in _SHAPES.items():
        root = str(tmp_path / name)
        write_delta_native(
            spark,
            spark.range(0, 100)
            .select("id", (F.col("id") * 10).alias("v"))
            .repartition(2),
            root, checkpoint_interval=0,
        )
        if cdf:
            alter_set_tblproperties(
                spark, root, {"delta.enableChangeDataFeed": "true"}
            )
        src = spark.range(90, 110).select(
            "id", (F.col("id") * 10 + 1).alias("v")
        )
        gid = f"merge-shape-{name}-{cdf}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(gid, gid)
        try:
            res = merge_into_delta_native(spark, root, src, on=["id"],
                                          **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
        assert res["version"] is not None
        groups[name] = gid
    time.sleep(0.5)  # let the listener bus deliver the last job events
    tracker = sc.statusTracker()
    got = {n: len(tracker.getJobIdsForGroup(g)) for n, g in groups.items()}
    assert got == (
        {"upsert": 3, "delete": 3, "conditional": 3,
         "by_source_delete": 3, "upsert_by_source_update": 3}
        if cdf
        else {"upsert": 2, "delete": 2, "conditional": 2,
              "by_source_delete": 2, "upsert_by_source_update": 2}
    )
