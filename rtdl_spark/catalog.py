"""Table loading + catalog registration over the parquet lake.

Mirrors rtdl's catalog role (Dremio source/dataset registration,
reference ingester/ingester.go:778-992) with the Spark session catalog:
datasets become temp views / catalog tables, and all reads stay columnar
parquet scans with pushdown intact.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from rtdl_spark.session import ensure_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Parquet footer-schema cache for the fixture tables (r11).
# Schema INFERENCE costs ~90 ms of JVM work per read.parquet() call
# (measured: 112 ms inferred vs 24 ms with an explicit schema) and the
# bench re-builds each query plan on every rep, so every table reference
# re-paid it. The cache holds ONLY the inferred StructType — never rows,
# never plans: every action still lists and scans the parquet files, and
# the first read of any path still infers from the real footer (same
# session confs, so the cached schema is byte-identical to what
# inference would return). Keyed by absolute path; an entry serves only
# while the (file, size, mtime) listing under that path is the one it
# was inferred from, so a path rewritten with another schema re-infers
# instead of reading its new columns as missing. On one-file sf0.1
# tables (4-core VM) the listing costs ~0.06 ms a call on local disk,
# against ~13 ms for the cached read, and ~10 ms through the Hadoop
# FileSystem API.
_SCHEMA_CACHE: dict[str, tuple[tuple, object]] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS); Spark reads it as a
    long (nanosAsLong) and we convert to a microsecond TIMESTAMP_NTZ here,
    truncating — the same truncation DuckDB applies when casting
    TIMESTAMP_NS → TIMESTAMP, so oracle comparisons line up.
    """
    from rtdl_spark.sources import fsutil

    ensure_runtime_confs(spark)
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    files = tuple(fsutil.list_files(spark, path))
    stamp, cached = _SCHEMA_CACHE.get(path, (None, None))
    if cached is not None and stamp == files:
        df = spark.read.schema(cached).parquet(path)
    else:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = (files, df.schema)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # Integer DIV, not `/`: ns epoch values exceed double's 53-bit
        # mantissa, and float division would round where DuckDB truncates.
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz"),
        )
    return df


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Register every fixture table as a temp view for spark.sql queries."""
    for name in names:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def register_lake_table(
    spark: SparkSession,
    database: str,
    table_name: str,
    location: str,
    fmt: str = "parquet",
    schema: StructType | None = None,
    partition_cols: Sequence[str] = (),
    partitions: Iterable[Sequence[str | None]] = (),
) -> None:
    """Spark-native equivalent of rtdl's Dremio dataset promotion
    (reference ingester/ingester.go:944-988): make a written dataset
    queryable by name via the session catalog. Idempotent. Identifiers are
    sanitized (the session catalog only allows [A-Za-z0-9_], stricter than
    Dremio's source names — e.g. stream type 'test-msg' → 'test_msg').

    Without ``schema`` the table's schema is inferred from the files under
    ``location`` and every partition directory there is recovered.

    With ``schema`` the table is declared: that schema, partitioned by
    ``partition_cols``, with no inference job and no partition discovery;
    only ``partitions`` (value tuples in ``partition_cols`` order) are
    added. A location that holds several datasets' partitions (an ingest
    stream root, ``rtdl_table=*/rtdl_bucket=*``) then registers each
    dataset with its own rows only.
    """
    db = sanitize_identifier(database)
    tbl = sanitize_identifier(table_name)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS `{db}`")
    if schema is not None:
        # files carry no constraints, so every column is declared nullable
        nullable = StructType([
            StructField(f.name, f.dataType, True, f.metadata) for f in schema
        ])
        ddl = spark._jvm.org.apache.spark.sql.types.DataType.fromJson(
            nullable.json()
        ).toDDL()
        by = ", ".join(f"`{c}`" for c in partition_cols)
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS `{db}`.`{tbl}` ({ddl}) "
            f"USING {fmt} PARTITIONED BY ({by}) LOCATION '{location}'"
        )
        add_lake_partitions(spark, database, table_name, partition_cols,
                            partitions)
        return
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS `{db}`.`{tbl}` "
        f"USING {fmt} LOCATION '{location}'"
    )
    # Hive-style partition dirs under the location are invisible to the
    # catalog until recovered; every (re-)registration after an append picks
    # up new partitions. No-op for unpartitioned layouts.
    try:
        spark.sql(f"MSCK REPAIR TABLE `{db}`.`{tbl}`")
    except Exception:
        pass


def add_lake_partitions(
    spark: SparkSession,
    database: str,
    table_name: str,
    partition_cols: Sequence[str],
    partitions: Iterable[Sequence[str | None]],
) -> None:
    """Add ``partitions`` (value tuples in ``partition_cols`` order; None
    is the null partition) to a partitioned catalog table in one
    ``ALTER TABLE ... ADD IF NOT EXISTS`` statement. Each partition's
    directory is the one a ``partitionBy`` write of those values uses."""
    specs = [
        "PARTITION ("
        + ", ".join(
            f"`{c}` = {_sql_literal(v)}"
            for c, v in zip(partition_cols, values)
        )
        + ")"
        for values in partitions
    ]
    if specs:
        db = sanitize_identifier(database)
        tbl = sanitize_identifier(table_name)
        spark.sql(
            f"ALTER TABLE `{db}`.`{tbl}` ADD IF NOT EXISTS " + " ".join(specs)
        )


def _sql_literal(value: str | None) -> str:
    if value is None:
        return "NULL"
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sanitize_identifier(identifier: str) -> str:
    return re.sub(r"[^A-Za-z0-9_]", "_", identifier)


def register_delta_view(
    spark: SparkSession,
    table_dir: str,
    view_name: str,
    version: int | None = None,
    timestamp=None,
) -> None:
    """Expose a Delta table (read by the native log-replay reader) as a
    temp view for plain SQL users — optionally pinned to a version or a
    commit timestamp: ``register_delta_view(spark, path, "events_v3",
    version=3)`` then ``spark.sql("SELECT ... FROM events_v3")``. Like
    every catalog pointer, the view captures the snapshot's file list at
    registration time — re-register after new commits for a fresher
    snapshot. The underlying scan is ordinary parquet, so
    pushdown/pruning work through the view."""
    from rtdl_spark.sources.delta_reader import read_delta_native

    read_delta_native(
        spark, table_dir, version=version, timestamp=timestamp
    ).createOrReplaceTempView(view_name)


def register_masked_view(
    spark: SparkSession,
    df,
    view_name: str,
    mask_cols: list[str],
    extended: bool = False,
    drop_cols: list[str] | None = None,
) -> None:
    """Governance surface: expose ``df`` as a temp view with PII-masked
    string columns (A23's regexes — functions/pii.py) and optionally some
    columns dropped outright — so SQL users query the masked view while
    the raw table stays access-controlled. Masking is an ordinary
    projection: pushdown/pruning still work through the view, and columns
    not listed are passed through untouched.

    ``extended=True`` applies the Luhn-validated card + email + IPv4 chain
    (mask_pii_extended) instead of the reference's SSN/phone pair."""
    from rtdl_spark.functions.pii import mask_pii_col, mask_pii_extended

    from pyspark.sql import functions as F

    fn = mask_pii_extended if extended else mask_pii_col
    drop = set(drop_cols or [])
    unknown = (set(mask_cols) | drop) - set(df.columns)
    if unknown:
        # a typo here would silently expose unmasked PII through the view
        raise ValueError(
            f"mask_cols/drop_cols name columns not in the frame: "
            f"{sorted(unknown)} (have: {df.columns})"
        )
    cols = []
    for name in df.columns:
        if name in drop:
            continue
        if name in mask_cols:
            cols.append(fn(F.col(name)).alias(name))
        else:
            cols.append(F.col(name))
    df.select(*cols).createOrReplaceTempView(view_name)
