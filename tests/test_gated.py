"""Environment-gated integration tests (`pytest -m gated -rs`).

Each test probes one dependency this image has historically lacked and
SKIPS with an explicit reason when it is absent — so the per-round
environment probe is a committed, self-reporting artifact instead of an
ad-hoc script, and the real integration coverage lights up automatically
the round a package/broker appears. The code paths under test are the
exact production entry points (read_delta_native / write_delta_native
against tables the delta-spark library wrote or reads, the Kafka
reader/sink builders, transformWithStateInPandas), not probe stand-ins.
"""

from __future__ import annotations

import socket
import subprocess
import sys
import textwrap

import pytest

KAFKA_BOOTSTRAP = "localhost:9092"


def _jvm_class_available(spark, name: str) -> bool:
    # Class.forName, not a bare _jvm attribute chain — py4j resolves
    # missing classes to lazy JavaPackage objects without raising, so an
    # attribute probe reports every package present
    try:
        spark._jvm.java.lang.Class.forName(name)
        return True
    except Exception:
        return False


def _kafka_package_available(spark) -> bool:
    return _jvm_class_available(
        spark, "org.apache.spark.sql.kafka010.KafkaSourceProvider"
    )


def _delta_package_available(spark) -> bool:
    """True when the delta-spark library (the cross-check reference) is
    on the classpath."""
    return _jvm_class_available(
        spark, "org.apache.spark.sql.delta.DeltaLog"
    )


def _kafka_broker_reachable(host_port: str, timeout: float = 1.0) -> bool:
    host, port = host_port.rsplit(":", 1)
    try:
        with socket.create_connection((host, int(port)), timeout=timeout):
            return True
    except OSError:
        return False


@pytest.mark.gated
def test_delta_format_round_trip(spark, tmp_path):
    """Real Delta append + scan + time travel (A18): the native reader,
    latest and ``version=0``, against a table the delta-spark library
    wrote."""
    from rtdl_spark.sources.delta_reader import read_delta_native

    if not _delta_package_available(spark):
        pytest.skip(
            "delta-spark not on the classpath in this image "
            "(probe: spark._jvm...delta.DeltaLog) — the NATIVE protocol "
            "reader+writer (sources/delta_reader.py / delta_writer.py) "
            "cover read/append/overwrite/merge/optimize/vacuum/streaming "
            "meanwhile; this test cross-validates against the library "
            "when an image finally ships it"
        )
    path = str(tmp_path / "dtab")
    spark.range(5).write.format("delta").save(path)
    spark.range(5, 8).write.format("delta").mode("append").save(path)
    assert read_delta_native(spark, path).count() == 8
    assert read_delta_native(spark, path, version=0).count() == 5


@pytest.mark.gated
def test_delta_native_writer_library_interop(spark, tmp_path):
    """Cross-validation the moment delta-spark ships: a table written by
    the NATIVE protocol writer must be readable by the real library
    (both versions + after OPTIMIZE), and a library-written table must
    replay through the native reader — the strongest possible proof the
    emitted log is the public protocol, not a dialect."""
    if not _delta_package_available(spark):
        pytest.skip(
            "delta-spark not on the classpath — native-writer interop "
            "cross-validation activates when an image ships it"
        )
    from rtdl_spark.sources.delta_reader import read_delta_native
    from rtdl_spark.sources.delta_writer import (
        optimize_delta_native,
        write_delta_native,
    )

    ours = str(tmp_path / "ours")
    df = spark.range(0, 20).selectExpr("id", "id * 2 AS v")
    write_delta_native(spark, df, ours, checkpoint_interval=0)
    write_delta_native(
        spark, spark.range(20, 30).selectExpr("id", "id * 2 AS v"), ours,
        checkpoint_interval=0,
    )
    optimize_delta_native(spark, ours, target_file_bytes=1 << 30)
    lib = spark.read.format("delta")
    assert lib.load(ours).count() == 30
    assert lib.option("versionAsOf", "0").load(ours).count() == 20

    theirs = str(tmp_path / "theirs")
    df.write.format("delta").save(theirs)
    assert read_delta_native(spark, theirs).count() == 20


@pytest.mark.gated
def test_kafka_round_trip(spark, tmp_path):
    """Live Kafka egress + ingress through the builders in
    sources/readers.py — the reference's transport backbone
    (ingest-service.go:115-147). Needs both the Spark Kafka package and
    a reachable broker."""
    if not _kafka_package_available(spark):
        pytest.skip(
            "spark-sql-kafka package not on the classpath in this image "
            "(probe: spark._jvm...kafka010.KafkaSourceProvider) — "
            "broker-free envelope shaping is covered in test_sources.py"
        )
    if not _kafka_broker_reachable(KAFKA_BOOTSTRAP):
        pytest.skip(
            f"no Kafka broker reachable at {KAFKA_BOOTSTRAP} — "
            "package present but nothing to dial"
        )
    from rtdl_spark.sources.readers import (
        parse_kafka_envelopes,
        to_kafka_records,
    )

    topic = "rtdl-gated-roundtrip"
    env = spark.createDataFrame(
        [("s1", None, "click", 7), (None, "wk-9", "view", 8)],
        "stream_id string, writeKey string, type string, v long",
    )
    (
        to_kafka_records(env)
        .write.format("kafka")
        .option("kafka.bootstrap.servers", KAFKA_BOOTSTRAP)
        .option("topic", topic)
        .save()
    )
    back = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", KAFKA_BOOTSTRAP)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
    )
    out = parse_kafka_envelopes(back).collect()
    assert {r["message_type"] for r in out} >= {"click", "view"}


_TWS_PROBE = textwrap.dedent(
    """
    import pandas as pd
    from pyspark.sql import SparkSession
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class Counter(StatefulProcessor):
        def init(self, handle):
            self._h = handle
            self._count = handle.getValueState("count", "n long")

        def handleInputRows(self, key, rows, timerValues):
            n = sum(len(pdf) for pdf in rows)
            prev = self._count.get()[0] if self._count.exists() else 0
            self._count.update((prev + n,))
            yield pd.DataFrame({"key": [key[0]], "n": [prev + n]})

        def close(self):
            pass

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("tws_probe").config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    src = spark.readStream.format("rate").option("rowsPerSecond", "10").load()
    q = (
        src.selectExpr("CAST(value % 3 AS STRING) AS key", "value")
        .groupBy("key")
        .transformWithStateInPandas(
            Counter(), "key string, n long", "Update", "ProcessingTime"
        )
        .writeStream.format("memory").queryName("tws_probe")
        .trigger(processingTime="1 second").start()
    )
    q.processAllAvailable() if False else q.awaitTermination(15)
    q.stop()
    assert spark.sql("SELECT * FROM tws_probe").count() >= 0
    print("TWS_OK")
    """
)


@pytest.mark.gated
def test_transform_with_state_in_pandas(tmp_path):
    """transformWithStateInPandas (Spark 4's successor to
    applyInPandasWithState). Probed in a SUBPROCESS because on every
    image so far it kills its driver worker ("TransformWithStateInPySpark
    driver worker exited unexpectedly", RocksDB state-store path) — a
    crash must skip this test, not take down the suite. The round it
    survives, the assertion flips to green and the stateful operators
    can migrate off applyInPandasWithState."""
    proc = subprocess.run(
        [sys.executable, "-c", _TWS_PROBE],
        capture_output=True,
        text=True,
        timeout=180,
        cwd=str(tmp_path),
    )
    if "TWS_OK" not in proc.stdout:
        tail = (proc.stderr or proc.stdout).strip().splitlines()[-3:]
        pytest.skip(
            "transformWithStateInPandas still crashes/fails on this image "
            f"(4th consecutive round): {' | '.join(tail)[:300]}"
        )
    assert "TWS_OK" in proc.stdout


@pytest.mark.gated
def test_delta_dv_library_interop(spark, tmp_path):
    """Deletion-vector INTEROP (r7): delta-spark DELETEs rows with DVs
    enabled; our native reader must drop exactly those rows — the
    end-to-end validation of the DV framing (sources/dv.py) that the
    in-image conformance tests (JVM RoaringBitmap for the bitmaps,
    stdlib b85 for the codec, strict CRC/magic/cardinality checks for
    the framing) cannot provide without the real writer."""
    if not _delta_package_available(spark):
        pytest.skip(
            "delta-spark absent — DV framing validated in-image via "
            "org.roaringbitmap conformance + stdlib-b85 parity + strict "
            "framing checks (tests/test_dv.py); this test is the "
            "real-writer round-trip for when the package ships"
        )
    from rtdl_spark.sources.delta_reader import read_delta_native

    path = str(tmp_path / "dvtab")
    (
        spark.range(100)
        .write.format("delta")
        .option("delta.enableDeletionVectors", "true")
        .save(path)
    )
    spark.sql(
        f"ALTER TABLE delta.`{path}` SET TBLPROPERTIES "
        "('delta.enableDeletionVectors' = 'true')"
    )
    spark.sql(f"DELETE FROM delta.`{path}` WHERE id % 3 = 0")
    got = sorted(r["id"] for r in read_delta_native(spark, path).collect())
    assert got == [i for i in range(100) if i % 3 != 0]


@pytest.mark.gated
def test_v2_checkpoint_interop_with_delta_spark(spark, tmp_path):
    """Cross-validation for the v2-checkpoint READ path (r7): have
    delta-spark write a table with a V2 checkpoint
    (delta.checkpointPolicy=v2) and assert our native reader
    reconstructs the identical snapshot through the sidecars."""
    if not _delta_package_available(spark):
        pytest.skip(
            "delta-spark absent — the v2-checkpoint reader is validated "
            "in-image by hand-built conformance fixtures "
            "(tests/test_delta_reader.py::test_v2_checkpoint_*); this "
            "test reads a REAL delta-spark-written v2 checkpoint when "
            "the package ships"
        )
    from rtdl_spark.sources.delta_reader import read_delta_native

    path = str(tmp_path / "v2interop")
    spark.range(0, 100).write.format("delta").option(
        "delta.checkpointPolicy", "v2"
    ).save(path)
    spark.sql(
        f"ALTER TABLE delta.`{path}` SET TBLPROPERTIES "
        "('delta.checkpointPolicy' = 'v2')"
    )
    for i in range(12):  # past the checkpoint interval
        spark.range(100 + i, 101 + i).write.format("delta").mode(
            "append"
        ).save(path)
    got = sorted(r["id"] for r in read_delta_native(spark, path).collect())
    assert got == list(range(112))


@pytest.mark.gated
def test_identity_column_interop_with_delta_spark(spark, tmp_path):
    """Cross-validation for identity-column writes (r7): delta-spark
    creates a GENERATED ALWAYS AS IDENTITY table, our native writer
    appends (generating values + advancing the watermark), delta-spark
    reads back and can keep appending without collisions."""
    if not _delta_package_available(spark):
        pytest.skip(
            "delta-spark absent — identity generation is validated "
            "in-image against hand-built v6 tables "
            "(tests/test_identity.py); this test round-trips with the "
            "real implementation when the package ships"
        )
    from pyspark.sql import functions as F

    from rtdl_spark.sources.delta_writer import write_delta_native

    path = str(tmp_path / "idinterop")
    spark.sql(
        f"CREATE TABLE delta.`{path}` "
        "(rid BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 1 "
        "INCREMENT BY 1), k BIGINT) USING delta"
    )
    spark.sql(f"INSERT INTO delta.`{path}` (k) VALUES (10), (11)")
    write_delta_native(
        spark, spark.range(20, 23).select(F.col("id").alias("k")), path
    )
    rids = sorted(
        r["rid"]
        for r in spark.read.format("delta").load(path).collect()
    )
    assert len(rids) == len(set(rids)) == 5, "identity values collide"
    spark.sql(f"INSERT INTO delta.`{path}` (k) VALUES (30)")
    rids2 = sorted(
        r["rid"]
        for r in spark.read.format("delta").load(path).collect()
    )
    assert len(rids2) == len(set(rids2)) == 6


@pytest.mark.gated
def test_v2_checkpoint_write_interop_with_delta_spark(spark, tmp_path):
    """Cross-validation for the v2-checkpoint WRITE path (r8): a table
    whose snapshot delta-spark reconstructs must come out identical
    when the ONLY complete source of pre-tail state is OUR v2
    checkpoint (top-level + sidecars) — the strongest proof the
    emitted layout is the published one, not a dialect."""
    import glob as _glob
    import os as _os

    if not _delta_package_available(spark):
        pytest.skip(
            "delta-spark absent — the v2-checkpoint writer is validated "
            "in-image against the repo's own STRICT v2 reader "
            "(tests/test_checkpoint_v2_write.py); this test has the "
            "real library replay OUR checkpoint when the package ships"
        )
    from pyspark.sql import functions as F

    from rtdl_spark.sources.delta_writer import (
        write_checkpoint_native,
        write_delta_native,
    )

    path = str(tmp_path / "v2winterop")
    write_delta_native(
        spark,
        spark.range(0, 50).select(
            "id", (F.col("id") % 2).cast("string").alias("p")
        ),
        path, partition_by=["p"], checkpoint_interval=0,
    )
    log = _os.path.join(path, "_delta_log")
    with open(_os.path.join(log, f"{1:020d}.json"), "w") as f:
        import json as _json

        f.write(_json.dumps({"commitInfo": {
            "timestamp": 5, "operation": "UPGRADE"}}) + "\n")
        f.write(_json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["v2Checkpoint"],
            "writerFeatures": ["v2Checkpoint", "appendOnly",
                               "invariants"]}}) + "\n")
    v = write_checkpoint_native(spark, path, layout="v2")
    # drop the pre-checkpoint tail: the library must go through OUR
    # top-level + sidecars to see the data
    for p in _glob.glob(_os.path.join(log, "*.json")):
        if int(_os.path.basename(p).split(".")[0]) <= v:
            _os.remove(p)
    got = sorted(
        r["id"] for r in spark.read.format("delta").load(path).collect()
    )
    assert got == list(range(50))
