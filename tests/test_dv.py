"""Deletion-vector decoding (sources/dv.py) and the reader/writer
integration (r6 verdict item 2).

Conformance strategy in a delta-spark-less image: the inner 32-bit
roaring bitmaps are validated BYTE-EXACTLY against org.roaringbitmap
(RoaringBitmap-1.3.0.jar — shipped inside Spark itself) in both
directions; base85 is pinned by RFC 1924's own worked example (an
oracle independent of this repo); the outer DV framing is exercised
through hand-built fixtures with every strictness check (magic,
version, size, CRC, cardinality) proven to fire. tests/test_gated.py
adds the real-table interop round-trip for when delta-spark appears."""

from __future__ import annotations

import json
import os
import struct
import zlib

import pytest
from pyspark.sql import functions as F

from rtdl_spark.sources.dv import (
    _parse_rb32,
    base85_decode,
    base85_encode,
    deleted_row_indices,
    parse_rbm_array,
    read_dv_blob,
    serialize_rbm_array,
    write_dv_file,
)


def test_base85_matches_stdlib_b85(spark):
    """Independent oracle: Python's stdlib base64.b85encode uses the
    RFC 1924 ALPHABET with big-endian 4-byte chunking — exactly the
    scheme Delta's Base85Codec uses (the RFC's own worked example is
    whole-number base85 of the 128-bit value, a different scheme; the
    chunked encodings intentionally differ from it)."""
    import base64
    import random

    raw = bytes.fromhex("108000000000000000080800200C417A")
    assert base85_encode(raw) == base64.b85encode(raw).decode()
    rng = random.Random(5)
    for n in (4, 8, 16, 20, 64, 4096):
        b = bytes(rng.randrange(256) for _ in range(n))
        assert base85_encode(b) == base64.b85encode(b).decode()
        assert base85_decode(base85_encode(b)) == b
    with pytest.raises(ValueError, match="multiple of 5"):
        base85_decode("abc")
    with pytest.raises(ValueError, match="invalid base85"):
        base85_decode('"""""')


def _jvm_serialize(spark, values):
    jvm = spark.sparkContext._jvm
    bm = jvm.org.roaringbitmap.RoaringBitmap()
    for v in values:
        # RoaringBitmap.add(int) takes the UNSIGNED value as a signed
        # java int — re-bias values >= 2^31 (py4j match is by java type)
        bm.add(v - (1 << 32) if v >= (1 << 31) else v)
    bm.runOptimize()
    buf = jvm.java.nio.ByteBuffer.allocate(bm.serializedSizeInBytes())
    bm.serialize(buf)
    return bytes(buf.array())


def test_rb32_parse_conforms_to_jvm_roaringbitmap(spark):
    """Our 32-bit parser against the reference implementation across
    all three container types (array, bitmap, run) and mixtures."""
    import random

    cases = [
        [0, 1, 5, 100, 65536, 65537, 1_000_000],        # arrays
        list(range(100_000, 200_000)) + [7],            # run + array
        sorted(random.Random(7).sample(range(0, 300_000), 9_000)),  # bitmap
        [0],
        [0xFFFFFFFF - 1],
    ]
    for vals in cases:
        data = _jvm_serialize(spark, vals)
        got, consumed = _parse_rb32(data, 0)
        assert consumed == len(data)
        assert got == sorted(set(vals))


def test_rb32_serialize_accepted_by_jvm_roaringbitmap(spark):
    """The fixture writer's inner bitmaps deserialize in the reference
    implementation to the same sets (both container kinds)."""
    import random

    jvm = spark.sparkContext._jvm
    for vals in (
        [3, 4, 99, 70_000],
        sorted(random.Random(11).sample(range(0, 200_000), 8_000)),
    ):
        arr = serialize_rbm_array(vals)
        # strip the RoaringBitmapArray header: magic(4)+count(8)+key(4)
        inner = arr[16:]
        bb = jvm.java.nio.ByteBuffer.wrap(bytearray(inner))
        bm = jvm.org.roaringbitmap.RoaringBitmap()
        bm.deserialize(bb)
        got = sorted(bm.toArray())
        assert got == sorted(set(vals))


def test_rbm_array_roundtrip_and_strictness():
    vals = [0, 1, 4096, 70_000, (1 << 32) + 5, (3 << 32) + 123]
    data = serialize_rbm_array(vals)
    assert parse_rbm_array(data, cardinality=len(vals)) == sorted(vals)

    # bitmap containers (chunk cardinality > 4096) round-trip too
    dense = list(range(0, 5000)) + [(2 << 32) + 9]
    d2 = serialize_rbm_array(dense)
    assert parse_rbm_array(d2) == sorted(dense)

    with pytest.raises(ValueError, match="cardinality mismatch"):
        parse_rbm_array(data, cardinality=99)
    with pytest.raises(ValueError, match="magic"):
        parse_rbm_array(b"\x00" * 16)
    with pytest.raises(ValueError, match="trailing"):
        parse_rbm_array(data + b"\x00")


def test_dv_file_framing_and_checksum(tmp_path):
    root = str(tmp_path)
    name, info, descs = write_dv_file(root, [[1, 3], [0, 2, 5]])
    raw = open(os.path.join(root, name), "rb").read()
    assert raw[0] == 1  # format version

    d0, d1 = descs
    data0 = read_dv_blob(raw, d0["offset"], d0["sizeInBytes"])
    assert parse_rbm_array(data0, d0["cardinality"]) == [1, 3]
    data1 = read_dv_blob(raw, d1["offset"], d1["sizeInBytes"])
    assert parse_rbm_array(data1, d1["cardinality"]) == [0, 2, 5]

    # strictness: size mismatch, CRC corruption, bad version — all loud
    with pytest.raises(ValueError, match="size mismatch"):
        read_dv_blob(raw, d0["offset"], d0["sizeInBytes"] + 1)
    corrupted = bytearray(raw)
    corrupted[d0["offset"] + 6] ^= 0xFF
    with pytest.raises(ValueError, match="checksum"):
        read_dv_blob(bytes(corrupted), d0["offset"], d0["sizeInBytes"])
    with pytest.raises(ValueError, match="format version"):
        read_dv_blob(b"\x02" + raw[1:], d0["offset"], d0["sizeInBytes"])


def _dv_table(spark, tmp_path, deleted, inline=False, n=10):
    """Hand-built DV-carrying Delta table: v0 adds one file of ids
    0..n-1, v1 replaces its add with a DV marking ``deleted`` row
    indices (remove+add in ONE commit, as real writers do)."""
    root = str(tmp_path / "dvtbl")
    os.makedirs(os.path.join(root, "_delta_log"))
    spark.range(0, n).select("id").coalesce(1).write.parquet(
        os.path.join(root, "d")
    )
    part = next(
        f for f in os.listdir(os.path.join(root, "d"))
        if f.endswith(".parquet")
    )
    size = os.path.getsize(os.path.join(root, "d", part))
    if inline:
        from rtdl_spark.sources.dv import base85_encode as enc

        data = serialize_rbm_array(deleted)
        pad = (-len(data)) % 4
        desc = {
            "storageType": "i",
            "pathOrInlineDv": enc(data + b"\x00" * pad),
            "sizeInBytes": len(data),
            "cardinality": len(deleted),
        }
    else:
        _, _, (desc,) = write_dv_file(root, [deleted])
    schema = {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}}
        ],
    }
    meta = {
        "id": "dvt", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps(schema), "partitionColumns": [],
        "configuration": {}, "createdTime": 1,
    }
    add = {
        "path": "d/" + part, "partitionValues": {}, "size": size,
        "modificationTime": 1, "dataChange": True,
    }
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 1, "operation": "WRITE"}}) + "\n")
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors"]}}) + "\n")
        f.write(json.dumps({"metaData": meta}) + "\n")
        f.write(json.dumps({"add": add}) + "\n")
    with open(os.path.join(root, "_delta_log", f"{1:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 2, "operation": "DELETE"}}) + "\n")
        # remove+add of the SAME path in one commit (DV attach)
        f.write(json.dumps({"remove": {
            "path": add["path"], "deletionTimestamp": 2,
            "dataChange": True}}) + "\n")
        f.write(json.dumps({"add": {**add, "deletionVector": desc}}) + "\n")
    return root


def test_read_delta_native_applies_deletion_vectors(spark, tmp_path):
    from rtdl_spark.sources.delta_reader import read_delta_native

    deleted = [1, 3, 7]
    root = _dv_table(spark, tmp_path, deleted)
    got = sorted(r["id"] for r in read_delta_native(spark, root).collect())
    assert got == [i for i in range(10) if i not in deleted]
    # time travel to v0: before the DV, all rows visible
    got0 = sorted(
        r["id"]
        for r in read_delta_native(spark, root, version=0).collect()
    )
    assert got0 == list(range(10))


def test_read_delta_native_inline_dv(spark, tmp_path):
    from rtdl_spark.sources.delta_reader import read_delta_native

    root = _dv_table(spark, tmp_path, [0, 9], inline=True)
    got = sorted(r["id"] for r in read_delta_native(spark, root).collect())
    assert got == list(range(1, 9))


def test_dv_driver_resolution_matches_local(spark, tmp_path):
    """deleted_row_indices (driver, Hadoop FS) and the executor-side
    loader agree on the same descriptor."""
    from rtdl_spark.sources.dv import deleted_row_indices_local

    root = str(tmp_path)
    _, _, (desc,) = write_dv_file(root, [[2, 4, 6]])
    assert deleted_row_indices(spark, root, desc) == [2, 4, 6]
    assert deleted_row_indices_local(root, desc) == [2, 4, 6]


def test_dv_checkpoint_preserves_descriptors(spark, tmp_path):
    """A checkpoint written over a DV table must carry the descriptors
    — a reader planning from the checkpoint alone still drops the
    deleted rows (losing them would silently resurrect data)."""
    from rtdl_spark.sources.delta_reader import read_delta_native
    from rtdl_spark.sources.delta_writer import write_checkpoint_native

    deleted = [2, 5]
    root = _dv_table(spark, tmp_path, deleted)
    write_checkpoint_native(spark, root)
    # force checkpoint-only planning: drop the JSON tail the checkpoint
    # covers (readers then cannot see the original add actions)
    os.remove(os.path.join(root, "_delta_log", f"{0:020d}.json"))
    os.remove(os.path.join(root, "_delta_log", f"{1:020d}.json"))
    got = sorted(r["id"] for r in read_delta_native(spark, root).collect())
    assert got == [i for i in range(10) if i not in deleted]


def test_dv_writer_rewrites_and_append(spark, tmp_path):
    """r10: rewrite ops WORK on a DV-carrying table — the DV-aware scan
    drops masked rows, so rewrites materialize the mask instead of
    resurrecting deleted rows (the old by-name refusal is gone);
    appends are safe as before; the streaming source still treats DV
    attach as a change commit."""
    from rtdl_spark.sources.delta_reader import read_delta_native
    from rtdl_spark.sources.delta_stream_source import _DeltaStreamReader
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_native,
        write_delta_native,
    )

    root = _dv_table(spark, tmp_path, [1])
    # DELETE on the DV table: id=1 is ALREADY masked and must not
    # resurrect; id=3 goes now — the rewritten file carries no DV
    res = delete_where_delta_native(spark, root, "id = 3")
    assert res["files_rewritten"] == 1
    got = sorted(r["id"] for r in read_delta_native(spark, root).collect())
    assert got == [0, 2, 4, 5, 6, 7, 8, 9]
    from rtdl_spark.sources.delta_reader import snapshot_actions

    _, _, active, _, _ = snapshot_actions(spark, root)
    assert all(not a.get("deletionVector") for a in active.values()), (
        "the rewrite must materialize the mask, not carry the DV"
    )

    v = write_delta_native(spark, spark.range(100, 103).select("id"), root)
    assert v == 3
    got = sorted(r["id"] for r in read_delta_native(spark, root).collect())
    assert got == [0, 2, 4, 5, 6, 7, 8, 9, 100, 101, 102]

    # a DV-attach commit is a CHANGE commit for the stream (remove+add
    # of the same path): fails by default; under ignoreChanges the DV
    # add IS emitted with its mask applied (r7 — the old outright
    # refusal is gone; test_delta_stream_source pins the masked rows)
    r = _DeltaStreamReader(
        read_delta_native(spark, root).schema, {"path": root}
    )
    with pytest.raises(Exception, match="changes existing data"):
        r.partitions({"version": 0}, {"version": 1})
    r2 = _DeltaStreamReader(
        read_delta_native(spark, root).schema,
        {"path": root, "ignoreChanges": "true"},
    )
    parts = [p for p in r2.partitions({"version": 0}, {"version": 1})
             if p.path]
    assert len(parts) == 1 and json.loads(parts[0].dv_json) is not None


def test_dv_vacuum_keeps_referenced_dv_files(spark, tmp_path):
    """The DV .bin file referenced by an active add is LIVE: neither
    vacuum form may reap it; an unreferenced DV file is reaped."""
    from rtdl_spark.sources.delta_writer import (
        vacuum_delta_native,
        vacuum_delta_native_distributed,
    )

    root = _dv_table(spark, tmp_path, [1])
    dv_files = [f for f in os.listdir(root) if f.startswith("deletion_vector_")]
    assert len(dv_files) == 1

    assert vacuum_delta_native(spark, root, retain_ms=0, dry_run=True) == []
    assert (
        vacuum_delta_native_distributed(
            spark, root, retain_ms=0, dry_run=True
        )
        == 0
    )

    # an orphaned DV file (not referenced by any active add) IS reaped
    orphan = os.path.join(root, "deletion_vector_orphan.bin")
    with open(orphan, "wb") as f:
        f.write(b"\x01junk")
    victims = vacuum_delta_native(spark, root, retain_ms=0, dry_run=True)
    assert [os.path.basename(p) for p in victims] == [
        "deletion_vector_orphan.bin"
    ]
    n = vacuum_delta_native_distributed(spark, root, retain_ms=0)
    assert n == 1
    assert not os.path.exists(orphan)
    assert os.path.exists(os.path.join(root, dv_files[0]))


def _dv_enabled_table(spark, tmp_path, nfiles=3, n=30):
    """Native-written table upgraded to the DV feature: create via
    write_delta_native, then flip the protocol + config the way a table
    owner would (protocol action + metaData config in one commit)."""
    from rtdl_spark.sources.delta_reader import snapshot_actions
    from rtdl_spark.sources.delta_writer import write_delta_native

    root = str(tmp_path / "dvw")
    spark_df = (
        spark.range(0, n)
        .select("id", (F.col("id") % 3).cast("string").alias("p"))
        .repartition(nfiles)
    )
    write_delta_native(
        spark, spark_df, root, partition_by=["p"], checkpoint_interval=0
    )
    _, meta, _, current, _ = snapshot_actions(spark, root)
    with open(
        os.path.join(root, "_delta_log", f"{current + 1:020d}.json"), "w"
    ) as f:
        f.write(json.dumps({"commitInfo": {
            "timestamp": 2, "operation": "UPGRADE"}}) + "\n")
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors", "appendOnly",
                               "invariants"]}}) + "\n")
        f.write(json.dumps({"metaData": {
            **meta,
            "configuration": {"delta.enableDeletionVectors": "true"}}})
            + "\n")
    return root


def test_dv_delete_marks_rows_without_rewriting(spark, tmp_path):
    """DV-writing DELETE (r7): matched rows vanish from reads while the
    DATA FILES ARE UNTOUCHED (zero rewrite — the add actions keep their
    original paths and sizes); a second DV delete on the same file
    MERGES with the existing bitmap; predicates matching nothing
    commit nothing."""
    from rtdl_spark.sources.delta_reader import (
        read_delta_native,
        snapshot_actions,
    )
    from rtdl_spark.sources.delta_writer import delete_where_delta_dv

    root = _dv_enabled_table(spark, tmp_path)
    files_before = {
        f: os.path.getmtime(os.path.join(root, f))
        for f in os.listdir(root)
        for f in [f] if f.endswith(".parquet") or "=" in f
    }
    _, _, active0, _, _ = snapshot_actions(spark, root)
    sizes0 = {p: a["size"] for p, a in active0.items()}

    res = delete_where_delta_dv(spark, root, "id % 5 = 0")
    assert res["version"] is not None
    assert res["rows_deleted"] == 6  # ids 0,5,10,15,20,25
    got = sorted(r["id"] for r in read_delta_native(spark, root).collect())
    assert got == [i for i in range(30) if i % 5 != 0]

    # same paths, same sizes: no data file was rewritten
    _, _, active1, _, _ = snapshot_actions(spark, root)
    assert {p: a["size"] for p, a in active1.items()} == sizes0
    marked = [a for a in active1.values() if a.get("deletionVector")]
    assert len(marked) == res["files_marked"] >= 1
    for a in marked:
        assert a["deletionVector"]["storageType"] == "u"

    # second delete MERGES: ids 0..30 %5==0 already gone; now %2==0
    res2 = delete_where_delta_dv(spark, root, "id % 2 = 0")
    got = sorted(r["id"] for r in read_delta_native(spark, root).collect())
    assert got == [i for i in range(30) if i % 5 != 0 and i % 2 != 0]
    # newly deleted = evens that weren't already multiples of 5
    assert res2["rows_deleted"] == len(
        [i for i in range(30) if i % 2 == 0 and i % 5 != 0]
    )

    # time travel: pre-delete snapshot still shows everything
    assert read_delta_native(spark, root, version=1).count() == 30

    # no matches -> no commit
    res3 = delete_where_delta_dv(spark, root, "id = 99999")
    assert res3["version"] is None


def test_dv_delete_full_file_commits_plain_remove(spark, tmp_path):
    """A file whose EVERY physical row is deleted commits a plain
    remove (no fully-masked add lingers), detected via stats
    numRecords."""
    from rtdl_spark.sources.delta_reader import (
        read_delta_native,
        snapshot_actions,
    )
    from rtdl_spark.sources.delta_writer import delete_where_delta_dv

    root = _dv_enabled_table(spark, tmp_path)
    # partition p=0 holds ids % 3 == 0; delete ALL of them
    res = delete_where_delta_dv(spark, root, "p = '0'")
    assert res["files_removed"] >= 1 and res["files_marked"] == 0
    _, _, active, _, _ = snapshot_actions(spark, root)
    assert not any(a.get("partitionValues", {}).get("p") == "0"
                   for a in active.values())
    got = sorted(r["id"] for r in read_delta_native(spark, root).collect())
    assert got == [i for i in range(30) if i % 3 != 0]


def test_dv_delete_requires_enablement_and_protocol(spark, tmp_path):
    """Loud requirements: config off -> refuse; feature missing from the
    protocol -> refuse (no silent protocol upgrade)."""
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_dv,
        write_delta_native,
    )

    root = str(tmp_path / "plain")
    write_delta_native(spark, spark.range(5).select("id"), root)
    with pytest.raises(ValueError, match="enableDeletionVectors"):
        delete_where_delta_dv(spark, root, "id = 1")

    # config on but protocol lacks the feature
    from rtdl_spark.sources.delta_reader import snapshot_actions

    _, meta, _, current, _ = snapshot_actions(spark, root)
    with open(
        os.path.join(root, "_delta_log", f"{current + 1:020d}.json"), "w"
    ) as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 2,
                                           "operation": "SET"}}) + "\n")
        f.write(json.dumps({"metaData": {
            **meta,
            "configuration": {"delta.enableDeletionVectors": "true"}}})
            + "\n")
    with pytest.raises(ValueError, match="protocol"):
        delete_where_delta_dv(spark, root, "id = 1")


def test_dv_delete_then_vacuum_and_rewrite_guard(spark, tmp_path):
    """After a DV delete: vacuum keeps the live DV file and reaps a
    SUPERSEDED one (second delete replaces the descriptor); the plain
    rewrite ops still refuse the now-DV-carrying table by name."""
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_dv,
        delete_where_delta_native,
        vacuum_delta_native,
        vacuum_delta_native_distributed,
    )

    root = _dv_enabled_table(spark, tmp_path, nfiles=1)  # 1 file per p
    delete_where_delta_dv(spark, root, "id = 1")
    dv_files = [f for f in os.listdir(root)
                if f.startswith("deletion_vector_")]
    assert len(dv_files) == 1
    assert vacuum_delta_native(spark, root, retain_ms=0, dry_run=True) == []

    delete_where_delta_dv(spark, root, "id = 4")  # same partition file
    dv_files2 = sorted(
        f for f in os.listdir(root) if f.startswith("deletion_vector_")
    )
    # old descriptor superseded: exactly one of the two is reapable
    n = vacuum_delta_native_distributed(spark, root, retain_ms=0)
    assert n == 1
    left = [f for f in os.listdir(root)
            if f.startswith("deletion_vector_")]
    assert len(left) == 1 and left[0] in dv_files2

    from rtdl_spark.sources.delta_reader import read_delta_native

    got = sorted(r["id"] for r in read_delta_native(spark, root).collect())
    assert got == [i for i in range(30) if i not in (1, 4)]

    # r10: the rewrite path WORKS on the DV table now (the old by-name
    # refusal is gone) — masked rows stay gone, id=2 goes too
    res = delete_where_delta_native(spark, root, "id = 2")
    assert res["version"] is not None
    got = sorted(r["id"] for r in read_delta_native(spark, root).collect())
    assert got == [i for i in range(30) if i not in (1, 2, 4)]


def test_dv_update_masks_old_and_appends_new(spark, tmp_path):
    """DV-writing UPDATE (r7): matched rows' old versions are masked
    via bitmaps (original files untouched) and the new versions land as
    appended files — ONE commit; reads see exactly the updated content;
    partition-column updates migrate rows across directories."""
    from rtdl_spark.sources.delta_reader import (
        read_delta_native,
        snapshot_actions,
    )
    from rtdl_spark.sources.delta_writer import update_where_delta_dv

    root = _dv_enabled_table(spark, tmp_path, nfiles=1)
    _, _, active0, _, _ = snapshot_actions(spark, root)
    sizes0 = {p: a["size"] for p, a in active0.items()}

    res = update_where_delta_dv(
        spark, root, "id % 10 = 3", {"id": "id + 1000"}
    )
    assert res["version"] is not None
    assert res["rows_updated"] == 3  # ids 3, 13, 23
    got = sorted(r["id"] for r in read_delta_native(spark, root).collect())
    assert got == sorted(
        [i for i in range(30) if i % 10 != 3] + [1003, 1013, 1023]
    )

    # the pre-existing files were never rewritten
    _, _, active1, _, _ = snapshot_actions(spark, root)
    for p, a in active1.items():
        if p in sizes0:
            assert a["size"] == sizes0[p]
    assert any(a.get("deletionVector") for a in active1.values())

    # partition-column update migrates rows (p is the partition col)
    res2 = update_where_delta_dv(spark, root, "id = 1003", {"p": "'9'"})
    got = read_delta_native(spark, root).filter("id = 1003").collect()
    assert [r["p"] for r in got] == ["9"]

    # no matches -> no commit; NULL predicate keeps rows
    assert update_where_delta_dv(
        spark, root, "id = -1", {"id": "id"}
    )["version"] is None


def test_dv_update_not_null_and_requirements(spark, tmp_path):
    """DV UPDATE enforces NOT NULL on the appended new versions and has
    the same loud requirements as DV DELETE."""
    from rtdl_spark.sources.delta_writer import (
        update_where_delta_dv,
        write_delta_native,
    )

    root = str(tmp_path / "plainu")
    write_delta_native(spark, spark.range(5).select("id"), root)
    with pytest.raises(ValueError, match="enableDeletionVectors"):
        update_where_delta_dv(spark, root, "id = 1", {"id": "id + 1"})

    root2 = _dv_enabled_table(spark, tmp_path, nfiles=1)
    # the base table's id column is NON-nullable (spark.range)
    with pytest.raises(Exception, match="NOT NULL"):
        update_where_delta_dv(
            spark, root2, "id = 1", {"id": "CAST(NULL AS BIGINT)"}
        )
    from rtdl_spark.sources.delta_reader import read_delta_native

    got = sorted(r["id"] for r in read_delta_native(spark, root2).collect())
    assert got == list(range(30)), "failed UPDATE must commit nothing"


def test_dv_update_does_not_resurrect_masked_rows(spark, tmp_path):
    """REGRESSION (found r7): the active scan reads physical files, so
    an UPDATE whose predicate matches a previously-DV-deleted row used
    to append its 'updated' version — RESURRECTING the deleted row. The
    scan now subtracts existing DVs first."""
    from rtdl_spark.sources.delta_reader import read_delta_native
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_dv,
        update_where_delta_dv,
    )

    root = _dv_enabled_table(spark, tmp_path)
    delete_where_delta_dv(spark, root, "id = 7")
    res = update_where_delta_dv(spark, root, "id % 7 = 0", {"id": "id + 1000"})
    assert res["rows_updated"] == 4  # 0,14,21,28 — NOT the deleted 7
    got = sorted(r["id"] for r in read_delta_native(spark, root).collect())
    assert 1007 not in got and 7 not in got
    assert got == sorted(
        [i for i in range(30) if i != 7 and i % 7 != 0]
        + [1000, 1014, 1021, 1028]
    )


def test_restore_undoes_and_redoes_dv_state(spark, tmp_path):
    """RESTORE diffs on (path, DV identity): a file whose deletion
    vector changed between versions gets its add REPLACED, so restoring
    across a DV DELETE brings the masked rows back — and restoring
    forward to the deleted state masks them again."""
    from rtdl_spark.sources.delta_reader import read_delta_native
    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_dv,
        restore_delta_native,
    )

    root = _dv_enabled_table(spark, tmp_path)
    res = delete_where_delta_dv(spark, root, "id % 5 = 0")
    v_del = res["version"]
    assert read_delta_native(spark, root).count() == 24

    r = restore_delta_native(spark, root, v_del - 1)
    assert r["files_added"] >= 1 and r["files_removed"] >= 1
    assert read_delta_native(spark, root).count() == 30

    r2 = restore_delta_native(spark, root, v_del)
    assert read_delta_native(spark, root).count() == 24
    got = sorted(r["id"] for r in read_delta_native(spark, root).collect())
    assert got == [i for i in range(30) if i % 5 != 0]


def test_merge_on_dv_table_and_optimize_purge(spark, tmp_path):
    """r10 DV rewrites, end to end: MERGE on a DV-carrying table
    updates/inserts against the VISIBLE rows only (masked rows neither
    match nor resurrect), and OPTIMIZE compacts through the mask —
    PURGING the DVs (delta-spark's REORG APPLY (PURGE) shape): the new
    active set carries no descriptors and the orphaned DV file becomes
    vacuum-reclaimable."""
    from rtdl_spark.sources.delta_reader import (
        read_delta_native,
        snapshot_actions,
    )
    from rtdl_spark.sources.delta_writer import (
        merge_into_delta_native,
        optimize_delta_native,
        vacuum_delta_native,
    )

    root = _dv_table(spark, tmp_path, [1, 4])  # ids 1 and 4 masked
    src = spark.createDataFrame(
        [(1,), (2,), (50,)], "id long"
    ).select("id")
    # id=1 is DV-deleted: it matches NOTHING (the row is logically
    # gone) and with insert enabled it comes back as a fresh INSERT —
    # exactly delta-spark semantics
    res = merge_into_delta_native(
        spark, root, src, on=["id"],
        when_matched="update", when_not_matched="insert",
    )
    assert res["version"] == 2
    got = sorted(r["id"] for r in read_delta_native(spark, root).collect())
    assert got == [0, 1, 2, 3, 5, 6, 7, 8, 9, 50]

    # conditional by-source delete composes with the DV scan
    src2 = spark.createDataFrame([(0,)], "id long")
    merge_into_delta_native(
        spark, root, src2, on=["id"],
        when_matched="ignore", when_not_matched="ignore",
        when_not_matched_by_source=[
            {"action": "delete", "condition": "t.id >= 50"},
        ],
    )
    got = sorted(r["id"] for r in read_delta_native(spark, root).collect())
    assert got == [0, 1, 2, 3, 5, 6, 7, 8, 9]

    # OPTIMIZE purges any remaining DVs (none left on this table after
    # the merges rewrote the carrier — build a fresh one to prove it)
    root2 = _dv_table(spark, tmp_path / "second", [0, 2])
    dv_files = [
        f for f in os.listdir(root2)
        if f.startswith("deletion_vector_")
    ]
    assert len(dv_files) == 1
    # two files so compaction has something to bin
    from rtdl_spark.sources.delta_writer import write_delta_native

    write_delta_native(
        spark, spark.range(20, 25).select("id").coalesce(1), root2,
        checkpoint_interval=0,
    )
    res = optimize_delta_native(spark, root2, min_files=2)
    assert res["version"] is not None
    _, _, active, _, _ = snapshot_actions(spark, root2)
    assert all(not a.get("deletionVector") for a in active.values())
    got = sorted(r["id"] for r in read_delta_native(spark, root2).collect())
    assert got == [1, 3, 4, 5, 6, 7, 8, 9, 20, 21, 22, 23, 24]
    # the DV file is now unreferenced -> reclaimable
    victims = vacuum_delta_native(spark, root2, retain_ms=0, dry_run=True)
    assert any(os.path.basename(v).startswith("deletion_vector_")
               for v in victims), victims


def test_update_where_on_dv_table(spark, tmp_path):
    """UPDATE WHERE on a DV table transforms only VISIBLE matches and
    materializes the mask in the rewritten file."""
    from rtdl_spark.sources.delta_reader import read_delta_native
    from rtdl_spark.sources.delta_writer import update_where_delta_native

    root = _dv_table(spark, tmp_path, [2, 3])
    res = update_where_delta_native(
        spark, root, "id >= 2 AND id <= 5", {"id": "id + 100"}
    )
    assert res["files_rewritten"] == 1
    got = sorted(r["id"] for r in read_delta_native(spark, root).collect())
    # 2,3 were masked (gone); 4,5 updated; others intact
    assert got == [0, 1, 6, 7, 8, 9, 104, 105]


def test_reorg_purge_statement(spark, tmp_path):
    """REORG TABLE ... APPLY (PURGE): only DV carriers are rewritten
    (1:1, masks materialized); clean files keep their add entries
    byte-identical; a DV-free table is a no-op."""
    from rtdl_spark.sources.delta_reader import (
        read_delta_native,
        snapshot_actions,
    )
    from rtdl_spark.sources.delta_sql import delta_sql
    from rtdl_spark.sources.delta_writer import write_delta_native

    root = _dv_table(spark, tmp_path, [1, 3])
    write_delta_native(
        spark, spark.range(100, 105).select("id").coalesce(1), root,
        checkpoint_interval=0,
    )
    _, _, before, _, _ = snapshot_actions(spark, root)
    clean_paths = {
        p for p, a in before.items() if not a.get("deletionVector")
    }
    res = delta_sql(spark, f"REORG TABLE delta.`{root}` APPLY (PURGE)")
    assert res["version"] is not None
    assert res["files_in"] == 1  # only the DV carrier
    _, _, after, _, _ = snapshot_actions(spark, root)
    assert all(not a.get("deletionVector") for a in after.values())
    assert clean_paths <= set(after), "clean files must be untouched"
    got = sorted(r["id"] for r in read_delta_native(spark, root).collect())
    assert got == [0, 2, 4, 5, 6, 7, 8, 9, 100, 101, 102, 103, 104]
    # DV-free table: no-op
    res2 = delta_sql(spark, f"REORG TABLE delta.`{root}` APPLY (PURGE)")
    assert res2["version"] is None


@pytest.mark.parametrize("cdf", [False, True])
def test_dml_job_shape(spark, tmp_path, cdf):
    """Pins how many Spark jobs each DELETE/UPDATE entry point runs, in
    both modes, with CDF off and on, on a table that already carries a
    deletion vector (so every identify scan takes the masked-file path).
    Counted through statusTracker job groups; the snapshot, identify,
    stage, CDF and commit steps all run inside the group."""
    import time

    from rtdl_spark.sources.delta_writer import (
        delete_where_delta_dv,
        delete_where_delta_native,
        update_where_delta_dv,
        update_where_delta_native,
    )
    from tests.test_cdf import _dv_cdf_table

    calls = {
        "delete_native": lambda r: delete_where_delta_native(
            spark, r, "id % 5 = 0"),
        "update_native": lambda r: update_where_delta_native(
            spark, r, "id % 5 = 0", {"id": "id + 1000"}),
        "delete_dv": lambda r: delete_where_delta_dv(
            spark, r, "id % 5 = 0"),
        "update_dv": lambda r: update_where_delta_dv(
            spark, r, "id % 5 = 0", {"id": "id + 1000"}),
    }
    sc = spark.sparkContext
    groups = {}
    for name, call in calls.items():
        if cdf:
            root = _dv_cdf_table(spark, tmp_path, name)
        else:
            root = _dv_enabled_table(spark, tmp_path / name, nfiles=2)
        delete_where_delta_dv(spark, root, "id = 7")
        gid = f"dml-shape-{name}-{cdf}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(gid, gid)
        try:
            assert call(root)["version"] is not None
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
        groups[name] = gid
    time.sleep(0.5)  # let the listener bus deliver the last job events
    tracker = sc.statusTracker()
    got = {n: len(tracker.getJobIdsForGroup(g)) for n, g in groups.items()}
    assert got == (
        {"delete_native": 4, "update_native": 4, "delete_dv": 4,
         "update_dv": 6}
        if cdf
        else {"delete_native": 3, "update_native": 3, "delete_dv": 2,
              "update_dv": 5}
    )
