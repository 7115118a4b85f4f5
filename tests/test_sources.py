"""Scan-layer tests: every source format the engine claims (SURVEY §2B
scans row) reads correctly and keeps scan-level optimizations intact."""

from __future__ import annotations

import json
import os

import pytest

from rtdl_spark.plans import plan_report
from rtdl_spark.sources import (
    kafka_stream_reader,
    read_csv,
    read_delta_native,
    read_json_envelopes,
    read_parquet,
)


def test_read_parquet_pushdown_intact(spark, sf_dir):
    from pyspark.sql import functions as F

    df = read_parquet(spark, os.path.join(sf_dir, "orders.parquet"))
    q = df.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    rep = plan_report(q)
    assert any("o_orderpriority" in f for f in rep.pushed_filters), rep.plan
    assert q.count() > 0


def test_read_parquet_merge_schema(spark, tmp_path):
    """Drifted file schemas (the reference's normal case, ingester.go:453-520)
    reconcile to the union of fields."""
    p = str(tmp_path / "drift")
    spark.createDataFrame([(1, "a")], "id int, a string").write.parquet(p + "/f1")
    spark.createDataFrame([(2, 3.5)], "id int, b double").write.parquet(p + "/f2")
    df = read_parquet(spark, [p + "/f1", p + "/f2"], merge_schema=True)
    assert set(df.columns) == {"id", "a", "b"}
    assert df.count() == 2


def test_read_json_envelopes_drops_all_null_fields(spark, tmp_path):
    """A8 parity: fields null in every record are dropped, not materialized."""
    path = tmp_path / "ev.json"
    rows = [
        {"stream_id": "s1", "payload": {"name": "u1", "ghost": None}},
        {"stream_id": "s1", "payload": {"name": "u2", "ghost": None}},
    ]
    path.write_text("\n".join(json.dumps(r) for r in rows))
    df = read_json_envelopes(spark, str(path))
    payload_fields = [f.name for f in df.schema["payload"].dataType.fields]
    assert "ghost" not in payload_fields
    assert df.count() == 2


def test_read_csv_with_and_without_schema(spark, tmp_path):
    path = tmp_path / "t.csv"
    path.write_text("id,name,score\n1,ann,2.5\n2,bob,3.5\n")
    inferred = read_csv(spark, str(path))
    assert dict(inferred.dtypes) == {"id": "int", "name": "string", "score": "double"}
    pinned = read_csv(spark, str(path), schema="id long, name string, score double")
    assert pinned.count() == 2 and dict(pinned.dtypes)["id"] == "bigint"


def test_read_delta_native_fallback(spark, tmp_path):
    """The NATIVE log-replay reader scans a hand-written, protocol-valid
    Delta table with no package beyond Spark; a path with no log errors
    clearly."""
    import json
    import os
    import shutil

    with pytest.raises(ValueError, match="no Delta log"):
        read_delta_native(spark, str(tmp_path / "nope"))

    table = str(tmp_path / "dtab")
    os.makedirs(os.path.join(table, "_delta_log"))
    stage = str(tmp_path / "stage")
    spark.range(6).coalesce(1).write.parquet(stage)
    part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
    shutil.move(os.path.join(stage, part), os.path.join(table, "f0.parquet"))
    actions = [
        {"commitInfo": {"timestamp": 1, "operation": "WRITE"}},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": "t", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({
                "type": "struct",
                "fields": [{"name": "id", "type": "long",
                            "nullable": True, "metadata": {}}],
            }),
            "partitionColumns": [], "configuration": {}}},
        {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 1, "dataChange": True}},
    ]
    with open(
        os.path.join(table, "_delta_log", f"{0:020d}.json"), "w"
    ) as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")
    assert read_delta_native(spark, table).count() == 6
    assert read_delta_native(spark, table, version=0).count() == 6


def test_kafka_reader_builds_without_broker(spark):
    """The reader must compose (options set) without contacting a broker;
    .load() is what requires the kafka package + connectivity."""
    reader = kafka_stream_reader(spark, "broker:9092", "ingester-ingress")
    assert reader is not None


def test_parse_kafka_envelopes_without_broker(spark):
    """Envelope decoding from raw Kafka-shaped (value: binary) rows:
    projectId precedence over writeKey (ingest-service.go:179-189),
    type→message_type, full JSON kept as payload for downstream
    inference."""
    import json as _json

    from pyspark.sql import functions as F

    from rtdl_spark.sources.readers import parse_kafka_envelopes

    msgs = [
        {"stream_id": "s1", "type": "click", "v": 1},
        {"writeKey": "wk1", "projectId": "pj1", "v": 2},
        {"projectId": "pj2", "message_type": "page", "v": 3},
    ]
    df = spark.createDataFrame(
        [(None, _json.dumps(m).encode("utf-8")) for m in msgs],
        "key binary, value binary",
    )
    out = {r["v"]: r for r in (
        parse_kafka_envelopes(df, payload_schema="v long")
        .withColumn("v", F.col("payload.v"))
        .collect()
    )}
    assert out[1]["stream_id"] == "s1" and out[1]["message_type"] == "click"
    assert out[2]["stream_alt_id"] == "pj1"  # projectId wins over writeKey
    assert out[3]["stream_alt_id"] == "pj2" and out[3]["message_type"] == "page"
    assert all(_json.loads(r["payload_json"])["v"] == v for v, r in out.items())


def test_kafka_records_roundtrip_without_broker(spark):
    """to_kafka_records → parse_kafka_envelopes is the identity on the
    envelope identity fields — the broker-free proof both halves of the
    Kafka hop agree on the wire format."""
    from rtdl_spark.sources.readers import parse_kafka_envelopes, to_kafka_records

    env = spark.createDataFrame(
        [
            ("s1", None, "click", 7),
            (None, "wk-9", "view", 8),
        ],
        "stream_id string, writeKey string, type string, v long",
    )
    wire = to_kafka_records(env)
    assert wire.columns == ["key", "value"]
    back = parse_kafka_envelopes(wire).collect()
    got = {(r["stream_id"], r["stream_alt_id"], r["message_type"]) for r in back}
    assert got == {("s1", None, "click"), (None, "wk-9", "view")}


def test_envelope_datasource_batch_deterministic_and_partitioned(spark):
    """Custom Python DataSource (Spark 4 API): registered format reads N
    deterministic envelope rows across the requested partitions; two
    reads with the same seed are identical, a different seed differs."""
    from pyspark.sql import functions as F

    from rtdl_spark.sources.envelope_source import EnvelopeDataSource

    spark.dataSource.register(EnvelopeDataSource)
    df = (
        spark.read.format("rtdl_envelopes")
        .option("n_rows", 257)
        .option("n_partitions", 4)
        .option("seed", 7)
        .load()
    )
    assert df.count() == 257
    assert df.rdd.getNumPartitions() == 4
    assert df.select(F.min("seq"), F.max("seq")).collect()[0] == (0, 256)
    # envelope shape parses through the ingest contract
    payload = spark.read.json(
        df.select("payload_json").rdd.map(lambda r: r[0])
    )
    assert {"type", "name", "value", "array", "properties"} <= set(
        payload.columns
    )

    again = (
        spark.read.format("rtdl_envelopes")
        .option("n_rows", 257)
        .option("n_partitions", 4)
        .option("seed", 7)
        .load()
    )
    assert df.exceptAll(again).count() == 0
    other = (
        spark.read.format("rtdl_envelopes")
        .option("n_rows", 257)
        .option("seed", 8)
        .load()
    )
    assert df.exceptAll(other).count() > 0


def test_envelope_datasource_streaming_offsets(spark, tmp_path):
    """The stream reader's integer-offset contract: one availableNow pass
    delivers whole micro-batches with contiguous seq values and no
    duplicates."""
    from rtdl_spark.sources.envelope_source import EnvelopeDataSource

    spark.dataSource.register(EnvelopeDataSource)
    stream = (
        spark.readStream.format("rtdl_envelopes")
        .option("rows_per_batch", 50)
        .option("seed", 3)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("env_stream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT seq FROM env_stream").collect()
    seqs = sorted(r["seq"] for r in rows)
    assert len(seqs) > 0 and len(seqs) == len(set(seqs))
    assert seqs == list(range(len(seqs)))


def test_ignore_corrupt_parquet_files(spark, tmp_path):
    """Bad-file tolerance on the scan path: with
    spark.sql.files.ignoreCorruptFiles=true a truncated/garbage parquet
    file in the directory is skipped and the healthy files' rows survive —
    the lake keeps serving under partial corruption; with the default
    (false) the scan fails loudly. Both behaviors verified."""
    import pytest as _pt

    path = str(tmp_path / "mixed")
    spark.range(10).selectExpr("id", "id * 2 AS v").write.parquet(path)
    with open(f"{path}/part-corrupt.parquet", "wb") as f:
        f.write(b"PAR1 this is not a real parquet footer")

    key = "spark.sql.files.ignoreCorruptFiles"
    prev = spark.conf.get(key, "false")
    try:
        spark.conf.set(key, "false")
        with _pt.raises(Exception):
            spark.read.parquet(path).count()
        spark.conf.set(key, "true")
        assert spark.read.parquet(path).count() == 10
    finally:
        spark.conf.set(key, prev)


def test_fsutil_local_fast_path_gated_on_default_fs(spark, tmp_path):
    """The fsutil local fast path (os/shutil instead of py4j Hadoop
    calls) must only engage when fs.defaultFS is file:// — a scheme-less
    absolute path resolves AGAINST defaultFS, so on an hdfs://-default
    deployment the fast path would silently move Delta log/control I/O
    to the driver's local disk (ADVICE r8). The gate is checked once per
    SparkContext and cached."""
    from rtdl_spark.sources import fsutil

    key = id(spark.sparkContext)
    saved = fsutil._DEFAULT_FS_IS_LOCAL.pop(key, None)
    try:
        # this image runs with a file:// defaultFS — the probe detects it
        assert fsutil._is_local(spark, str(tmp_path)) is True
        assert key in fsutil._DEFAULT_FS_IS_LOCAL  # cached after one probe
        # scheme-carrying paths never take the fast path
        assert fsutil._is_local(spark, f"file://{tmp_path}") is False
        assert fsutil._is_local(spark, "s3a://bucket/k") is False
        # simulate an hdfs:// defaultFS deployment: scheme-less absolute
        # paths must now go through the JVM Hadoop FS, not os/shutil
        fsutil._DEFAULT_FS_IS_LOCAL[key] = False
        assert fsutil._is_local(spark, str(tmp_path)) is False
        # and the JVM route still works end-to-end for such paths
        p = str(tmp_path / "gate_probe.txt")
        fsutil.write_text(spark, p, "via-jvm")
        assert fsutil.read_text(spark, p) == "via-jvm"
    finally:
        fsutil._DEFAULT_FS_IS_LOCAL.pop(key, None)
        if saved is not None:
            fsutil._DEFAULT_FS_IS_LOCAL[key] = saved
