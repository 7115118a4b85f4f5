"""Checkpoint writes (delta_writer.write_checkpoint_native) and the
post-commit checkpoint step every data commit runs.

On local storage a checkpoint is built on the driver from the snapshot
readers replay and written with pyarrow, with no Spark job; on remote
storage (emulated by ``_remote_fs``, as in test_checkpoint_read.py) the
add set stays a DataFrame and Spark writes the file. These tests prove
the two paths write the same checkpoint — the same rows and schema as
Spark reads them, and the same snapshot afterwards — for the classic
and V2 layouts, over native tables and the hand-built checkpoint
layouts of test_checkpoint_read.py (null partition values, inline and
on-disk DVs, baseRowId, defaultRowCommitVersion, tags, txns, domains);
pin both job shapes; and check that a checkpoint cannot break a commit
that has landed, nor leave readers at a half-written state."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from rtdl_spark.sources import delta_writer, fsutil
from rtdl_spark.sources.delta_reader import (
    last_txn_version,
    read_delta_native,
    snapshot_actions,
    snapshot_domains,
)
from rtdl_spark.sources.delta_writer import (
    delete_where_delta_dv,
    merge_into_delta_native,
    write_checkpoint_native,
    write_delta_native,
)
from tests.test_checkpoint_read import _hand_built, _jobs_of, _remote_fs

def _frame(spark, lo, hi):
    return spark.range(lo, hi).select(
        "id", (F.col("id") % 3).cast("string").alias("p"))


def _append(spark, root, lo, hi, **kw):
    return write_delta_native(
        spark, _frame(spark, lo, hi), root, checkpoint_interval=0, **kw)


def _commit(root, version, *actions):
    """A hand-written commit, as a foreign writer would make it."""
    path = os.path.join(root, "_delta_log", f"{version:020d}.json")
    with open(path, "w") as f:
        f.write(json.dumps({"commitInfo": {"timestamp": version,
                                           "operation": "TEST"}}) + "\n")
        for a in actions:
            f.write(json.dumps(a) + "\n")


def _native(spark, root):
    """A native table whose checkpoint must carry every action kind:
    null partition values, two apps' txns, the v2Checkpoint and
    deletionVectors features, an earlier checkpoint, DV-carrying adds
    and a domain."""
    write_delta_native(
        spark,
        spark.range(0, 30).select(
            "id",
            F.when(F.col("id") % 3 == 0, None)
            .otherwise((F.col("id") % 3).cast("string")).alias("p"),
        ).repartition(2),
        root, partition_by=["p"], checkpoint_interval=0, txn=("app-a", 1),
    )
    _commit(
        root, 1,
        {"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors", "v2Checkpoint"],
            "writerFeatures": ["deletionVectors", "v2Checkpoint",
                               "appendOnly", "invariants"]}},
        {"metaData": {**snapshot_actions(spark, root)[1], "configuration": {
            "delta.enableDeletionVectors": "true"}}},
    )
    _append(spark, root, 30, 40)
    write_checkpoint_native(spark, root, layout="classic")
    delete_where_delta_dv(spark, root, "id % 4 = 0")
    _append(spark, root, 40, 45, txn=("app-b", 9))
    _commit(root, 5, {"domainMetadata": {
        "domain": "rtdl.test", "configuration": '{"x":1}',
        "removed": False}})


_SOURCES = ["native", "classic", "multipart", "v2_parquet", "v2_json"]


@pytest.fixture(scope="module")
def sources(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("ckpt_sources")
    out = {}
    for name in _SOURCES:
        if name == "native":
            out[name] = str(base / name)
            _native(spark, out[name])
        else:
            out[name] = _hand_built(spark, base, name)[0]
    return out


def _written(spark, root):
    """What Spark reads of the checkpoint ``_last_checkpoint`` names:
    (schemas, sorted rows) of its top-level file without the sidecar
    actions (their names, sizes and times differ per write) and of the
    sidecar files those actions reference."""
    log = os.path.join(root, "_delta_log")
    with open(os.path.join(log, "_last_checkpoint")) as f:
        v = json.load(f)["version"]
    (top,) = glob.glob(os.path.join(log, f"{v:020d}.checkpoint*.parquet"))
    frames = [spark.read.parquet(top)]
    if "sidecar" in frames[0].columns:
        names = [r.sidecar.path
                 for r in frames[0].where("sidecar IS NOT NULL").collect()]
        frames = [
            frames[0].where("sidecar IS NULL"),
            spark.read.parquet(
                *[os.path.join(log, "_sidecars", n) for n in names]),
        ]
    return [
        (
            df.schema,
            sorted(json.dumps(r.asDict(recursive=True), sort_keys=True)
                   for r in df.collect()),
        )
        for df in frames
    ]


def _read_state(spark, root):
    return (
        snapshot_actions(spark, root),
        snapshot_domains(spark, root),
        {app: last_txn_version(spark, root, app)
         for app in ("app-a", "app-b", "none")},
    )


@pytest.mark.parametrize(
    "layout,parts", [("classic", None), ("v2", 1), ("v2", 4)]
)
@pytest.mark.parametrize("source", _SOURCES)
def test_local_and_remote_checkpoints_agree(
    spark, tmp_path, sources, source, layout, parts
):
    """The pyarrow (local) and Spark (remote) writers give the same
    checkpoint: equal Spark-read rows and schema, and equal snapshot,
    domains and txn watermarks read through it — the same active files
    the log replayed to before the checkpoint."""
    local, remote = str(tmp_path / "local"), str(tmp_path / "remote")
    shutil.copytree(sources[source], local)
    shutil.copytree(sources[source], remote)
    before = snapshot_actions(spark, local)
    assert write_checkpoint_native(
        spark, local, layout=layout, sidecar_parts=parts) == before[3]
    with _remote_fs(spark):
        assert write_checkpoint_native(
            spark, remote, layout=layout, sidecar_parts=parts) == before[3]
    assert _written(spark, local) == _written(spark, remote)
    got = _read_state(spark, local)
    assert got == _read_state(spark, remote)
    assert set(got[0][2]) == set(before[2])
    for root in (local, remote):
        with open(os.path.join(root, "_delta_log", "_last_checkpoint")) as f:
            assert json.load(f) == {
                "version": before[3],
                "size": 2 + len(before[4]) + len(got[1]) + len(before[2]),
            }
    if layout == "v2":
        sidecars = [r for r in spark.read.parquet(*glob.glob(os.path.join(
            local, "_delta_log", f"{before[3]:020d}.checkpoint.*.parquet"))
        ).collect() if r.sidecar is not None]
        assert len(sidecars) == min(parts, len(before[2]))


def test_checkpoint_job_shape(spark, tmp_path):
    """A local checkpoint runs no Spark job, bootstrap (no earlier
    checkpoint) or on top of an earlier one. Remotely the add set is
    written by Spark and counted by an Observation on that write, not by
    a count job of its own: 1 job at bootstrap, 5 on top of a
    checkpoint (schema inference and one collect of the earlier
    checkpoint's control rows, domains included, and the write with its
    broadcast anti-join)."""
    root = str(tmp_path / "t")
    for i in range(3):
        _append(spark, root, i * 10, i * 10 + 10, partition_by=["p"])
    twin = str(tmp_path / "twin")
    shutil.copytree(root, twin)
    for remote, path, want in ((False, root, [0, 0]), (True, twin, [1, 5])):
        got = []
        for _ in want:
            _append(spark, path, 100, 105)
            with _remote_fs(spark) if remote else contextlib.nullcontext():
                got.append(_jobs_of(
                    spark, f"ckpt-write-{remote}-{len(got)}",
                    lambda: write_checkpoint_native(spark, path),
                ))
        assert got == want, remote
    for path in (root, twin):
        assert sorted(r.id for r in read_delta_native(spark, path).collect()) \
            == list(range(30)) + [100, 100, 101, 101, 102, 102, 103, 103,
                                  104, 104]


@pytest.mark.parametrize("remote", [False, True], ids=["local", "remote"])
def test_add_tags_survive_checkpoints(spark, tmp_path, remote):
    """Add-action tags (INSERTION_TIME, ZCUBE_ID, ...) are carried into a
    checkpoint, from a JSON commit and from an earlier checkpoint, so a
    reader still sees them once the JSON commits are removed."""
    root = str(tmp_path / "t")
    _append(spark, root, 0, 10)

    def tagged(version, **tags):
        _commit(root, version, {"add": {
            "path": f"tagged-{version}.parquet", "partitionValues": {},
            "size": 1, "modificationTime": version, "dataChange": True,
            "tags": tags,
        }})

    def tags():
        return {p: a.get("tags")
                for p, a in snapshot_actions(spark, root)[2].items()}

    tagged(1, INSERTION_TIME="1700000000000000", ZCUBE_ID="z-1")
    with _remote_fs(spark) if remote else contextlib.nullcontext():
        write_checkpoint_native(spark, root)
        tagged(2, INSERTION_TIME="1700000000000001")
        want = tags()
        write_checkpoint_native(spark, root)
        for f in glob.glob(os.path.join(root, "_delta_log", "*.json")):
            os.remove(f)
        assert tags() == want
    assert want["tagged-1.parquet"] == {
        "INSERTION_TIME": "1700000000000000", "ZCUBE_ID": "z-1"}
    assert want["tagged-2.parquet"] == {"INSERTION_TIME": "1700000000000001"}
    assert tags() == want



@pytest.mark.parametrize("layout", ["classic", "v2"])
def test_failed_rename_leaves_old_checkpoint(
    spark, tmp_path, sources, monkeypatch, layout
):
    """A failure between the temp write and the rename into place leaves
    ``_last_checkpoint``, the log listing and every read at the old
    state, and no temp file behind."""
    root = str(tmp_path / "t")
    shutil.copytree(sources["native"], root)
    log = os.path.join(root, "_delta_log")
    last = open(os.path.join(log, "_last_checkpoint")).read()

    def names():
        # sidecars a failed V2 write left are unreferenced, and reaped
        # by cleanup_delta_log_native like any orphaned sidecar
        return sorted(set(os.listdir(log)) - {"_sidecars"})

    before = names()
    state = _read_state(spark, root)
    rows = sorted(read_delta_native(spark, root).collect())
    real = fsutil.rename

    def rename(spark_, src, dst):
        if ".checkpoint." in os.path.basename(dst):
            return False
        return real(spark_, src, dst)

    monkeypatch.setattr(fsutil, "rename", rename)
    with pytest.raises(IOError, match="checkpoint into place"):
        write_checkpoint_native(spark, root, layout=layout)
    monkeypatch.undo()
    assert open(os.path.join(log, "_last_checkpoint")).read() == last
    assert names() == before
    assert _read_state(spark, root) == state
    assert sorted(read_delta_native(spark, root).collect()) == rows


def _json_only(root, dst):
    """A copy of the table whose log has no checkpoint: readers replay
    every JSON commit."""
    shutil.copytree(root, dst)
    log = os.path.join(dst, "_delta_log")
    for n in os.listdir(log):
        if ".checkpoint." in n or n == "_last_checkpoint":
            os.remove(os.path.join(log, n))
    return dst


def test_merges_checkpoint_by_the_default_interval(spark, tmp_path):
    """MERGE commits run the post-commit step too: ten MERGEs after the
    creating write leave ``_last_checkpoint`` at v10, and reads through
    it equal a JSON-only replay."""
    root = str(tmp_path / "t")
    assert write_delta_native(
        spark, _frame(spark, 0, 20), root,
        partition_by=["p"]) == 0
    for i in range(10):
        merge_into_delta_native(
            spark, root,
            _frame(spark, i, i + 3),
            on=["id"],
        )
    log = os.path.join(root, "_delta_log")
    assert json.load(open(os.path.join(log, "_last_checkpoint")))[
        "version"] == 10
    plain = _json_only(root, str(tmp_path / "plain"))
    assert sorted(read_delta_native(spark, root).collect()) == sorted(
        read_delta_native(spark, plain).collect())
    assert set(snapshot_actions(spark, root)[2]) == set(
        snapshot_actions(spark, plain)[2])


def test_table_checkpoint_interval_governs_dml_and_appends(spark, tmp_path):
    """With no explicit interval, appends and DML both take
    ``delta.checkpointInterval`` from the table configuration; an
    explicit ``checkpoint_interval`` wins over it."""
    from rtdl_spark.sources.delta_alter import alter_set_tblproperties

    root = str(tmp_path / "t")
    _append(spark, root, 0, 30, partition_by=["p"])
    alter_set_tblproperties(
        spark, root, {"delta.checkpointInterval": "3"})  # v1

    def last():
        with open(os.path.join(root, "_delta_log", "_last_checkpoint")) as f:
            return json.load(f)["version"]

    write_delta_native(spark, _frame(spark, 30, 33), root)
    assert not os.path.exists(
        os.path.join(root, "_delta_log", "_last_checkpoint"))
    delta_writer.delete_where_delta_native(spark, root, "id = 1")  # v3
    assert last() == 3
    _append(spark, root, 40, 41)  # v4: explicit 0 never checkpoints
    write_delta_native(
        spark, _frame(spark, 41, 42), root,
        checkpoint_interval=5,
    )  # v5
    assert last() == 5
    delta_writer.update_where_delta_native(
        spark, root, "id = 2", {"id": "id + 100"})  # v6
    assert last() == 6
    assert sorted(r.id for r in read_delta_native(spark, root).collect()) \
        == sorted(set(range(33)) - {1, 2} | {102, 40, 41})


def test_failed_checkpoint_does_not_fail_the_commit(
    spark, tmp_path, monkeypatch
):
    """The commit has landed when the checkpoint runs: a failing
    checkpoint warns and the version is returned, so the batch lands
    once, and the next interval checkpoints."""
    root = str(tmp_path / "t")
    _append(spark, root, 0, 10)
    _append(spark, root, 10, 20)

    def boom(*_a, **_k):
        raise OSError("disk full")

    monkeypatch.setattr(delta_writer, "write_checkpoint_native", boom)
    with pytest.warns(RuntimeWarning, match="checkpoint failed"):
        assert write_delta_native(
            spark, _frame(spark, 20, 30), root,
            checkpoint_interval=2,
        ) == 2
    monkeypatch.undo()
    log = os.path.join(root, "_delta_log")
    assert not os.path.exists(os.path.join(log, "_last_checkpoint"))
    assert sorted(r.id for r in read_delta_native(spark, root).collect()) \
        == list(range(30))
    _append(spark, root, 30, 40)
    write_delta_native(
        spark, _frame(spark, 40, 50), root,
        checkpoint_interval=2,
    )
    assert json.load(open(os.path.join(log, "_last_checkpoint")))[
        "version"] == 4
    assert sorted(r.id for r in read_delta_native(spark, root).collect()) \
        == list(range(50))
