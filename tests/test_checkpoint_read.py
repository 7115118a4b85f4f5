"""Checkpoint reads on the driver (delta_reader._checkpoint_rows).

On local storage a checkpoint is decoded on the driver with pyarrow and
a snapshot runs no Spark job; on remote storage the same rows come from
one Spark read and one collect. Remote storage is emulated by marking
the session's fs.defaultFS as not local (``_remote_fs``): every fsutil
call then goes through the Hadoop FileSystem API, as it does under an
hdfs:// or s3a:// defaultFS, while the files stay on local disk. These
tests pin both job shapes and prove the two paths give the same
snapshot over every checkpoint layout the reader accepts: classic,
multi-part, V2 with a parquet top-level file and sidecars, V2 with a
JSON top-level file, and a delta-spark-written checkpoint when that
package is on the classpath (the native writer's own classic and V2
output is covered by test_properties.py::
test_delta_native_stack_matches_log_model)."""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid

import pytest
from pyspark.sql import functions as F

from rtdl_spark.sources import fsutil
from rtdl_spark.sources.delta_reader import (
    last_txn_version,
    read_delta_native,
    snapshot_actions,
    snapshot_control,
    snapshot_domains,
)


@contextlib.contextmanager
def _remote_fs(spark):
    """For the duration of the block, fsutil treats the session's
    fs.defaultFS as remote, so scheme-less paths go through the Hadoop
    FileSystem API and checkpoints take the Spark read."""
    cache = fsutil._DEFAULT_FS_IS_LOCAL
    key = id(spark.sparkContext)
    had, prev = key in cache, cache.get(key)
    cache[key] = False
    try:
        yield
    finally:
        if had:
            cache[key] = prev
        else:
            cache.pop(key, None)


def _jobs_of(spark, gid, call):
    """Spark jobs ``call()`` runs, counted through a statusTracker job
    group (as tests/test_dv.py::test_dml_job_shape does)."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(gid, gid)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    time.sleep(0.5)  # let the listener bus deliver the last job events
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def test_snapshot_job_shape(spark, tmp_path):
    """A checkpointed table (checkpoint at v2, JSON commit v3 after it)
    on local storage snapshots with ZERO Spark jobs — reads, view
    registration, append control plane, txn watermark and domain state
    alike. On remote storage each takes the Spark path: one schema
    inference plus ONE collect over all the columns it needs."""
    from rtdl_spark.catalog import register_delta_view
    from rtdl_spark.sources.delta_writer import (
        write_checkpoint_native,
        write_delta_native,
    )

    root = str(tmp_path / "t")
    for i in range(3):
        write_delta_native(
            spark,
            spark.range(i * 10, i * 10 + 10).select(
                "id", (F.col("id") % 2).cast("string").alias("p")
            ),
            root, partition_by=["p"], checkpoint_interval=0,
        )
    assert write_checkpoint_native(spark, root) == 2
    write_delta_native(
        spark, spark.range(30, 35).select(
            "id", F.lit("0").alias("p")), root, checkpoint_interval=0,
    )
    calls = {
        "read_delta_native": lambda: read_delta_native(spark, root),
        "register_delta_view": lambda: register_delta_view(
            spark, root, "ckpt_shape_v"),
        "snapshot_control": lambda: snapshot_control(spark, root),
        "last_txn_version": lambda: last_txn_version(spark, root, "app"),
        "snapshot_domains": lambda: snapshot_domains(spark, root),
    }
    for remote, want in ((False, 0), (True, 2)):
        with _remote_fs(spark) if remote else contextlib.nullcontext():
            got = {}
            for name, call in calls.items():
                call()  # warm: the second call is the one measured
                got[name] = _jobs_of(spark, f"ckpt-{name}-{remote}", call)
        assert got == dict.fromkeys(calls, want), (remote, got)
    assert sorted(
        r["id"] for r in spark.table("ckpt_shape_v").collect()
    ) == list(range(35))


# -- hand-built checkpoints: every add-action field shape ---------------

_ADD_DDL = (
    "struct<path:string,partitionValues:map<string,string>,size:bigint,"
    "modificationTime:bigint,dataChange:boolean,stats:string,"
    "tags:map<string,string>,deletionVector:struct<storageType:string,"
    "pathOrInlineDv:string,offset:int,sizeInBytes:int,cardinality:bigint>,"
    "baseRowId:bigint,defaultRowCommitVersion:bigint>"
)
_CONTROL_DDL = (
    "protocol struct<minReaderVersion:int,minWriterVersion:int,"
    "readerFeatures:array<string>,writerFeatures:array<string>>, "
    "metaData struct<id:string,name:string,description:string,"
    "format:struct<provider:string,options:map<string,string>>,"
    "schemaString:string,partitionColumns:array<string>,"
    "configuration:map<string,string>,createdTime:bigint>, "
    "txn struct<appId:string,version:bigint,lastUpdated:bigint>, "
    "domainMetadata struct<domain:string,configuration:string,"
    "removed:boolean>"
)
_V2_DDL = (
    "checkpointMetadata struct<version:bigint,tags:map<string,string>>, "
    "sidecar struct<path:string,sizeInBytes:bigint,modificationTime:bigint,"
    "tags:map<string,string>>"
)

_PROTOCOL = {
    "minReaderVersion": 3, "minWriterVersion": 7,
    "readerFeatures": ["deletionVectors", "v2Checkpoint"],
    "writerFeatures": ["deletionVectors", "v2Checkpoint", "rowTracking",
                       "domainMetadata"],
}
_META = {
    "id": "00000000-0000-0000-0000-0000000000c7",
    "name": None,
    "description": None,
    "format": {"provider": "parquet", "options": {}},
    "schemaString": json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "p", "type": "string", "nullable": True, "metadata": {}},
    ]}),
    "partitionColumns": ["p"],
    "configuration": {"delta.enableDeletionVectors": "true",
                      "delta.enableRowTracking": "true"},
    "createdTime": 5,
}
_TXNS = [
    {"appId": "app-a", "version": 7, "lastUpdated": 11},
    {"appId": "app-b", "version": 3, "lastUpdated": None},
]
_DOMAINS = [
    {"domain": "delta.rowTracking",
     "configuration": '{"rowIdHighWaterMark":59}', "removed": False},
    {"domain": "delta.clustering",
     "configuration": '{"clusteringColumns":[["id"]]}', "removed": False},
]


def _add(i, pv, dv=None, tags=None, stats=True):
    return {
        "path": f"p={pv if pv is not None else '__HIVE_DEFAULT_PARTITION__'}"
                f"/part-{i:05d}%20x.parquet",
        "partitionValues": {"p": pv},
        "size": 100 + i,
        "modificationTime": 1000 + i,
        "dataChange": False,
        "stats": json.dumps({"numRecords": 10}) if stats else None,
        "tags": tags,
        "deletionVector": dv,
        "baseRowId": i * 10,
        "defaultRowCommitVersion": i % 3,
    }


_ADDS = [
    _add(0, "0", tags={"INSERTION_TIME": "1700000000000000",
                       "ZCUBE_ID": "z"}),
    _add(1, None, dv={"storageType": "i", "pathOrInlineDv": "wi5b=000010000",
                      "offset": None, "sizeInBytes": 2, "cardinality": 1}),
    _add(2, "1", dv={"storageType": "u",
                     "pathOrInlineDv": "ab^-aqEH.-t@S}K{vb[*k^",
                     "offset": 1, "sizeInBytes": 34, "cardinality": 3},
         tags={}),
    _add(3, None, stats=False),
    _add(4, "1", tags={"k": "v"}),
    _add(5, "0"),
]


def _write_parquet(spark, rows, ddl, dst, tmp_path):
    """One Spark-written parquet file at ``dst`` (a checkpoint is Spark
    output in every writer this reader meets)."""
    stage = str(tmp_path / f"stage-{uuid.uuid4().hex[:8]}")
    spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    shutil.move(os.path.join(stage, part), dst)
    return os.path.getsize(dst)


def _hand_built(spark, tmp_path, layout):
    """A checkpoint-only log at v4 in ``layout``, plus a JSON commit v5
    that adds a file (with tags), removes one checkpoint file and
    advances a txn. Returns (root, the active adds expected at v5)."""
    root = str(tmp_path / layout)
    log = os.path.join(root, "_delta_log")
    cv = 4
    control = (
        [(_PROTOCOL, None, None, None), (None, _META, None, None)]
        + [(None, None, t, None) for t in _TXNS]
        + [(None, None, None, d) for d in _DOMAINS]
    )
    ckpt_ddl = f"{_CONTROL_DDL}, add {_ADD_DDL}"
    last = {"version": cv, "size": len(control) + len(_ADDS)}
    if layout == "classic":
        _write_parquet(
            spark, [r + (None,) for r in control]
            + [(None,) * 4 + (a,) for a in _ADDS],
            ckpt_ddl, os.path.join(log, f"{cv:020d}.checkpoint.parquet"),
            tmp_path,
        )
    elif layout == "multipart":
        rows = [r + (None,) for r in control] + [
            (None,) * 4 + (a,) for a in _ADDS]
        half = len(rows) // 2
        for i, chunk in ((1, rows[:half]), (2, rows[half:])):
            _write_parquet(
                spark, chunk, ckpt_ddl,
                os.path.join(
                    log, f"{cv:020d}.checkpoint.{i:010d}.{2:010d}.parquet"),
                tmp_path,
            )
        last["parts"] = 2
    else:  # v2_parquet / v2_json: adds in two sidecars
        sidecars = []
        for chunk in (_ADDS[:3], _ADDS[3:]):
            name = f"{uuid.uuid4()}.parquet"
            size = _write_parquet(
                spark, [(a,) for a in chunk], f"add {_ADD_DDL}",
                os.path.join(log, "_sidecars", name), tmp_path,
            )
            sidecars.append({"path": name, "sizeInBytes": size,
                             "modificationTime": 7, "tags": None})
        top = (
            [r + (None, None) for r in control]
            + [(None,) * 4 + ({"version": cv, "tags": {}}, None)]
            + [(None,) * 5 + (s,) for s in sidecars]
        )
        stem = os.path.join(log, f"{cv:020d}.checkpoint.{uuid.uuid4()}")
        if layout == "v2_parquet":
            _write_parquet(spark, top, f"{_CONTROL_DDL}, {_V2_DDL}",
                           stem + ".parquet", tmp_path)
        else:
            names = ("protocol", "metaData", "txn", "domainMetadata",
                     "checkpointMetadata", "sidecar")
            with open(stem + ".json", "w") as f:
                for row in top:
                    n, v = next(
                        (n, v) for n, v in zip(names, row) if v is not None)
                    f.write(json.dumps({n: v}) + "\n")
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        f.write(json.dumps(last))
    new = {"path": "p=0/part-00009.parquet", "partitionValues": {"p": "0"},
           "size": 9, "modificationTime": 9, "dataChange": True,
           "stats": None, "tags": {"INSERTION_TIME": "9"},
           "baseRowId": 90, "defaultRowCommitVersion": cv + 1}
    with open(os.path.join(log, f"{cv + 1:020d}.json"), "w") as f:
        for action in (
            {"commitInfo": {"timestamp": 9, "operation": "WRITE"}},
            {"remove": {"path": _ADDS[5]["path"], "dataChange": True}},
            {"add": new},
            {"txn": {"appId": "app-b", "version": 4}},
        ):
            f.write(json.dumps(action) + "\n")
    expected = {a["path"]: a for a in _ADDS[:5]}
    expected[new["path"]] = new
    return root, expected


def _snapshots(spark, root):
    return (
        snapshot_actions(spark, root),
        snapshot_control(spark, root),
        snapshot_domains(spark, root),
    )


@pytest.mark.parametrize(
    "layout", ["classic", "multipart", "v2_parquet", "v2_json"]
)
def test_driver_and_spark_checkpoint_reads_agree(spark, tmp_path, layout):
    """The driver (pyarrow) path and the Spark path give the same
    protocol, metaData, active adds, txns and domains — exactly the
    actions that were written, so every add field shape (null partition
    values, inline and on-disk DV descriptors, baseRowId,
    defaultRowCommitVersion, tags empty and absent) is covered."""
    root, expected = _hand_built(spark, tmp_path, layout)
    driver = _snapshots(spark, root)
    with _remote_fs(spark):
        via_spark = _snapshots(spark, root)
    assert driver == via_spark
    (protocol, meta, active, _v, txns), _control, domains = driver
    assert protocol == _PROTOCOL
    assert meta == _META
    assert active == expected
    assert txns == {"app-a": 7, "app-b": 4}
    assert domains == {d["domain"]: d for d in _DOMAINS}


@pytest.mark.gated
def test_driver_and_spark_agree_on_delta_spark_checkpoint(spark, tmp_path):
    """The same agreement over a checkpoint delta-spark itself wrote
    (its own column set: stats_parsed, partitionValues_parsed, remove
    tombstones, ...)."""
    from tests.test_gated import _delta_package_available

    if not _delta_package_available(spark):
        pytest.skip(
            "delta-spark absent — the driver checkpoint read is checked "
            "against the Spark path on hand-built and native-written "
            "checkpoints (test_driver_and_spark_checkpoint_reads_agree, "
            "test_properties.py::test_delta_native_stack_matches_log_model)"
        )
    path = str(tmp_path / "ds")
    spark.range(0, 10).withColumn(
        "p", (F.col("id") % 2).cast("string")
    ).write.format("delta").partitionBy("p").save(path)
    for i in range(11):  # past delta-spark's checkpoint interval
        spark.range(10 + i, 11 + i).withColumn(
            "p", F.lit(None).cast("string")
        ).write.format("delta").mode("append").save(path)
    assert os.path.exists(os.path.join(path, "_delta_log",
                                       "_last_checkpoint"))
    driver = _snapshots(spark, path)
    with _remote_fs(spark):
        assert _snapshots(spark, path) == driver
