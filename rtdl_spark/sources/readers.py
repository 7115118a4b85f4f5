"""Source readers — the engine's scan layer (SURVEY.md §2B "scans/sources").

The reference ingests JSON over HTTP and Kafka (ingest/ingest-service.go:318,
ingester/module.yaml:22-34) and reads nothing else itself; its query surface
reads the Parquet/Delta datasets it wrote (via Dremio). Our scan layer covers
all of those formats natively plus CSV as a utility:

- ``read_parquet``    — columnar scan, pushdown + pruning intact; optional
                        mergeSchema for schema-drift datasets (the reference
                        writes a potentially different schema per message,
                        ingester.go:453-520 — drift is the *normal* case).
- ``read_json_envelopes`` — batch JSON with the reference's A8 inference
                        semantics (null/empty fields dropped).
- ``read_csv``        — header + inference, explicit schema preferred.
- ``kafka_stream_reader`` — builds the readStream for the reference's
                        ingress topics; gated on the spark-sql-kafka
                        package.

Delta tables are read and written by the native protocol stack
(``delta_reader.read_delta_native`` / ``delta_writer.write_delta_native``),
which needs nothing beyond Spark itself.

Scale notes: every reader returns a plain scan DataFrame — no ``.cache()``,
no ``.collect()``, no repartition — so Catalyst sees the raw scan and can
push filters/prune columns from whatever the caller composes on top.
``maxPartitionBytes`` (default 128 MiB) governs split sizing at 100 TB; we
deliberately leave it to session conf rather than per-read overrides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from rtdl_spark.session import ensure_runtime_confs


def read_parquet(
    spark: SparkSession,
    path: str | list[str],
    merge_schema: bool = False,
    schema: StructType | None = None,
) -> DataFrame:
    """Parquet scan. ``merge_schema=True`` reconciles drifted file schemas
    (union of fields, nullable) — the batch equivalent of how Dremio coped
    with the reference's per-message schemas. Prefer passing ``schema`` on
    hot paths: it skips footer sampling entirely, which matters when the
    dataset has millions of files."""
    ensure_runtime_confs(spark)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    paths = [path] if isinstance(path, str) else list(path)
    return reader.parquet(*paths)


def read_json_envelopes(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    primitives_as_string: bool = False,
) -> DataFrame:
    """Batch JSON scan with the reference's inference semantics (A8,
    ingester.go:453-520): fields that are null/empty in every record are
    dropped rather than materialized as null columns.

    Inference costs a full extra pass over the data — at scale, infer once
    on a sample, pin the schema, and pass it here (the IngestJob does
    exactly that per micro-batch)."""
    ensure_runtime_confs(spark)
    reader = spark.read.option("dropFieldIfAllNull", "true")
    if primitives_as_string:
        reader = reader.option("primitivesAsString", "true")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    """CSV scan. With an explicit schema the read is single-pass; header
    inference adds a full extra pass (same caveat as JSON)."""
    ensure_runtime_confs(spark)
    reader = (
        spark.read.option("header", str(header).lower())
        .option("sep", delimiter)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def kafka_stream_reader(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "latest",
):
    """The readStream builder for the reference's Kafka ingress
    (ingester/module.yaml:22-34 subscribes <fn>-ingress, startupPosition
    latest). Returns the un-started DataStreamReader so callers compose
    ``from_json`` envelope parsing before ``.load()``; requires the
    spark-sql-kafka package at runtime (not in this container).

    The reference produced everything to partition 0 of each topic
    (ingest-service.go:119) — a single-consumer bottleneck by design; a
    real deployment partitions by stream_id so executors consume in
    parallel, which is why this takes a plain subscribe rather than
    assign-to-partition-0."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "false")
    )


ENVELOPE_SCHEMA = (
    "stream_id string, writeKey string, projectId string, "
    "type string, message_type string"
)


def parse_kafka_envelopes(kafka_df: "DataFrame", payload_schema=None) -> "DataFrame":
    """Decode Kafka records into the reference's message envelope
    (ingest-service.go:167-206): ``value`` bytes are JSON; identity fields
    map to stream_id / stream_alt_id (projectId > writeKey precedence —
    the reference only consults writeKey when projectId is nil,
    ingest-service.go:179-189) and ``type`` to message_type; the whole
    JSON string is kept as ``payload`` for batch-level schema inference
    downstream (A8).

    Works identically on a streaming or batch Kafka frame — or any frame
    with a binary/string ``value`` column, which is how tests drive it
    without a broker. With ``payload_schema`` the payload is parsed to a
    typed struct in the same pass (the production fast path: no second
    inference scan)."""
    from pyspark.sql import functions as F

    env = F.from_json(F.col("value").cast("string"), ENVELOPE_SCHEMA)
    out = kafka_df.select(
        env.getField("stream_id").alias("stream_id"),
        F.coalesce(
            env.getField("projectId"), env.getField("writeKey")
        ).alias("stream_alt_id"),
        F.coalesce(env.getField("type"), env.getField("message_type")).alias(
            "message_type"
        ),
        F.col("value").cast("string").alias("payload_json"),
    )
    if payload_schema is not None:
        out = out.withColumn(
            "payload", F.from_json(F.col("payload_json"), payload_schema)
        )
    return out


def to_kafka_records(df: "DataFrame", key_col: str = "stream_id") -> "DataFrame":
    """Encode envelope rows to Kafka sink shape (key, value): key is the
    routing identity (so one stream's messages hit one partition in
    order), value is the full row as JSON — the inverse of
    ``parse_kafka_envelopes``, testable without a broker. The reference
    instead pinned EVERY message to partition 0 with no key
    (ingest-service.go:119, WriteKafkaMessage) — keyed partitioning is the
    scalable replacement."""
    from pyspark.sql import functions as F

    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*df.columns)).alias("value"),
    )

