"""IngestJob — the reference's ingest→ingester dataflow as one Spark job.

Reference chain (SURVEY.md §3.1): HTTP ingest (A1) → Kafka → StateFun
ingester: config match (A5) → message-type resolution (A7) → schema
inference (A8) → time partition (A9) → per-message Parquet file (A10/A11)
→ store dispatch (A12-A17) → catalog registration (A19) → next function
(A22). Control messages rtdl_205 reload configs (A2/A24).

Spark redesign decisions (each a deliberate divergence, not an omission):
- **Micro-batch, not file-per-message** (ingester.go:551-565 writes one
  parquet file per event — the reference's biggest scale defect). A batch
  of events becomes a handful of columnar files per partition.
- **Schema inference per batch** via spark.read.json with
  dropFieldIfAllNull=True, which reproduces A8's null/empty-object/
  empty-array dropping (ingester.go:462-476,487) at batch granularity.
  Numbers: Spark infers integral JSON numbers as LONG where the reference
  collapsed everything to DOUBLE (ingester.go:433; SURVEY §1.2) — strictly
  more faithful; ``legacy_double_numbers=True`` restores reference typing.
- **Partition values become real columns** (rtdl_table / rtdl_bucket), so
  the time-folder layout (A9) is prunable by Catalyst; the reference's
  folder names are invisible to its query engine.
- **Routing precedence** is preserved exactly: stream_alt_id match wins
  over stream_id (ingest-service.go:216-243); unmatched rows are dropped
  silently (same semantics, ingester.go:1592).
- **Catalog**: Dremio source/dataset promotion (A19) becomes a Spark
  session-catalog table per (stream folder, message type), registered
  once per job and declared from the write's schema. Its partitions come
  from the write itself: an observation on the staged write collects the
  (stream, rtdl_table, rtdl_bucket) triples it landed, and only pairs the
  job has not added yet become ADD PARTITION calls. A table holds only
  its own type's rows, although all types share the stream root.
- **Micro-batch shape**: one probe job plus one write job. Each routed
  stream is one filter plus one flat projection (payload flatten, table
  and bucket columns, inline PII masks), whose Column list is built once
  per (stream configs, batch schema) and reused by later batches. All
  streams that share a store, a codec and a schema are written together:
  one union, one ``partitionBy(rtdl_stream, rtdl_table, rtdl_bucket)``
  write into an ``_``-prefixed staging directory, then each stream's
  files are renamed into its root. A failed write lands nothing in any
  root. Internal actions run under the small-plan scope of the batch's
  own session (under foreachBatch, the stream's session, never the
  caller's).
"""

from __future__ import annotations

import os
import uuid
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from rtdl_spark.catalog import add_lake_partitions, register_lake_table
from rtdl_spark.config.constants import (
    COMPRESSION_TYPES,
    CONTROL_MESSAGE_TYPE,
    DEFAULT_MESSAGE_TYPE,
    FILE_STORE_TYPES,
    PARTITION_TIMES,
    STORE_URI_PREFIX,
)
from rtdl_spark.config.registry import StreamConfig, StreamRegistry
from rtdl_spark.functions.buckets import partition_bucket
from rtdl_spark.functions.pii import mask_pii_col, mask_pii_strings
from rtdl_spark.functions.smallplan import (
    _plan_size_estimate,
    _small_plan_scope,
)
from rtdl_spark.session import ensure_runtime_confs
from rtdl_spark.sources import fsutil

TABLE_COL = "rtdl_table"
BUCKET_COL = "rtdl_bucket"
STREAM_COL = "rtdl_stream"  # staging-only partition column: stream index
CORRUPT_COL = "_corrupt_record"
_PART_COLS = (TABLE_COL, BUCKET_COL)
_STAGED_COLS = (STREAM_COL, TABLE_COL, BUCKET_COL)
_STAGING_PREFIX = "_rtdl_staging-"
_BUILTIN_FUNCTIONS = ("ingester", "pii-detection", "deltawriter")
_MAX_CACHED_PLANS = 16


def _col_or_null(df: DataFrame, name: str):
    return F.col(name) if name in df.columns else F.lit(None).cast("string")


class IngestJob:
    def __init__(
        self,
        spark: SparkSession,
        registry: StreamRegistry,
        lake_root: str,
        time_source: str = "processing",
        event_time_col: str = "ts",
        fixed_time: str | None = None,
        legacy_double_numbers: bool = False,
        register_catalog: bool = True,
        inference_sampling_ratio: float | None = None,
        corrupt_policy: str = "drop",
        extra_functions: dict | None = None,
        with_lineage: bool = False,
    ):
        """``time_source``: 'processing' (reference parity — bucket by wall
        clock at write, ingester.go:522-548) or 'event' (bucket by
        ``event_time_col`` from the payload). ``fixed_time`` pins the clock
        for deterministic tests/replays.

        ``inference_sampling_ratio``: fraction of the batch JSON schema
        inference reads (Spark ``samplingRatio``). Inference is a full
        extra pass over the raw text; at production scale either pin
        schemas in the registry (which skips inference entirely — see
        ``read_json``) or sample. Default None = full-batch inference,
        the reference-parity correctness default (A8 infers per message).

        ``corrupt_policy`` — what happens to unparseable JSON lines:
        'drop' (default, reference parity: an unmarshal error skips the
        message, ingest-service.go:172-177), 'quarantine' (write the raw
        line to <lake_root>/_quarantine/ so bad producers are debuggable
        — at scale silent drops hide upstream breakage), or 'fail'
        (FAILFAST — strict pipelines).

        ``extra_functions``: ``{name: DataFrame -> DataFrame}`` user
        transforms the A22 chain can route to by name — the reference's
        extension point (any StateFun can join a stream's ``functions``
        list, module.yaml); a config naming ``"ingester,dedup"`` runs the
        registered ``dedup`` callable between envelope-flatten and the
        partitioned write. Built-in names win; unknown names still
        raise.

        ``with_lineage``: stamp every landed row with ``_source_file``
        (the raw file it came from, via input_file_name()) and
        ``_ingested_at``. The reference gets row provenance for free from
        its one-file-per-message layout (ingester.go:551-565); micro-batch
        writes lose that unless recorded as columns — and columns are
        strictly better (queryable, prunable, survive compaction)."""
        if time_source not in ("processing", "event"):
            raise ValueError("time_source must be 'processing' or 'event'")
        if corrupt_policy not in ("drop", "quarantine", "fail"):
            raise ValueError(
                "corrupt_policy must be 'drop', 'quarantine' or 'fail'"
            )
        self.spark = ensure_runtime_confs(spark)
        self.registry = registry
        self.lake_root = lake_root
        self.time_source = time_source
        self.event_time_col = event_time_col
        self.fixed_time = fixed_time
        self.legacy_double_numbers = legacy_double_numbers
        self.register_catalog = register_catalog
        self.inference_sampling_ratio = inference_sampling_ratio
        self.corrupt_policy = corrupt_policy
        self.extra_functions = dict(extra_functions or {})
        self.with_lineage = with_lineage
        # catalog state of this job: (db, table) registered, and the
        # (db, table, bucket) partitions added (see _register_partitions)
        self._catalog_tables: set[tuple[str, str]] = set()
        self._catalog_parts: set[tuple[str, str, str | None]] = set()
        # Column lists reused across batches (see _cached)
        self._plans: dict[tuple, object] = {}

    def _cached(self, key: tuple, build):
        """Every Column operation is a py4j round trip, so the envelope,
        probe, projection and observation Column lists are built once per
        key and reused by later batches. Keys carry everything a list
        depends on: the job settings below, the batch schema, the active
        configs' field values. A registry reload or schema drift therefore
        builds a new list; the oldest entries are dropped."""
        key = (
            self.time_source, self.event_time_col, self.fixed_time,
            self.with_lineage,
        ) + key
        if key not in self._plans:
            if len(self._plans) >= _MAX_CACHED_PLANS:
                del self._plans[next(iter(self._plans))]
            self._plans[key] = build()
        return self._plans[key]

    # -- A1: envelope ------------------------------------------------------
    def read_json(self, path: str) -> DataFrame:
        """Batch stand-in for the Kafka/HTTP source: a directory of JSON
        events. dropFieldIfAllNull reproduces A8's dropped-field semantics.

        Schema strategy, fastest first: (1) if every active stream pins a
        schema in the registry, read with the pinned union — zero
        inference passes; (2) else if ``inference_sampling_ratio`` is set,
        infer from that sample of the batch; (3) else full-batch
        inference (reference-parity default)."""
        reader = self.spark.read.option("dropFieldIfAllNull", "true")
        if self.corrupt_policy == "fail":
            reader = reader.option("mode", "FAILFAST")
        elif self.corrupt_policy == "drop":
            reader = reader.option("mode", "DROPMALFORMED")
        else:  # quarantine: keep the raw line in a side column
            reader = reader.option("mode", "PERMISSIVE").option(
                "columnNameOfCorruptRecord", CORRUPT_COL
            )
        pinned = self.registry.pinned_union_schema()
        if pinned is not None:
            if self.corrupt_policy == "quarantine":
                from pyspark.sql.types import StringType, StructField

                pinned = pinned.add(StructField(CORRUPT_COL, StringType()))
            reader = reader.schema(pinned)
        elif self.inference_sampling_ratio is not None:
            reader = reader.option(
                "samplingRatio", str(self.inference_sampling_ratio)
            )
        df = reader.json(path)
        if self.legacy_double_numbers:
            for name, dtype in df.dtypes:
                if dtype in ("bigint", "int"):
                    df = df.withColumn(name, F.col(name).cast("double"))
        return df

    def envelope(self, raw: DataFrame) -> DataFrame:
        """ingest-service.go:167-206: build {stream_id, stream_alt_id,
        message_type, payload} from an arbitrary JSON record; projectId/
        writeKey map to stream_alt_id (projectId takes precedence when both
        are present — ingest-service.go:179-189 only consults writeKey when
        projectId is nil), payload keeps the whole message."""
        return raw.select(*self._cached(
            ("envelope", raw.schema.json()), lambda: self._envelope_cols(raw)
        ))

    def _envelope_cols(self, raw: DataFrame) -> list[Column]:
        cols = [
            _col_or_null(raw, "stream_id").alias("stream_id"),
            F.coalesce(
                _col_or_null(raw, "projectId"), _col_or_null(raw, "writeKey")
            ).alias("stream_alt_id"),
            _col_or_null(raw, "type").alias("message_type"),
            F.struct(*raw.columns).alias("payload"),
        ]
        if self.with_lineage:
            ingested = (
                F.lit(self.fixed_time).cast("timestamp")
                if self.fixed_time is not None
                else F.current_timestamp()
            )
            cols += [
                F.input_file_name().alias("_source_file"),
                ingested.alias("_ingested_at"),
            ]
        return cols

    # -- A5: routing -------------------------------------------------------
    def _route_conds(
        self, configs: list[StreamConfig]
    ) -> list[tuple[StreamConfig, Column]]:
        """Per config, the ownership predicate of a data row. alt-id match
        takes precedence over stream-id match across *all* configs.
        Control messages (rtdl_205) reload configs and never land in the
        lake (ingester.go:1551-1561)."""
        is_ctrl = F.col("message_type") == CONTROL_MESSAGE_TYPE
        data = ~is_ctrl | is_ctrl.isNull()
        alt_ids = [c.stream_alt_id for c in configs if c.stream_alt_id]
        conds = []
        for cfg in configs:
            by_alt = (
                (F.col("stream_alt_id") == cfg.stream_alt_id)
                if cfg.stream_alt_id
                else F.lit(False)
            )
            by_id = (F.col("stream_id") == cfg.stream_id) & (
                ~F.col("stream_alt_id").isin(alt_ids)
                | F.col("stream_alt_id").isNull()
            )
            conds.append((cfg, data & (by_alt | by_id)))
        return conds

    # -- A7 + A9 + A23: one flat projection per stream --------------------
    def _projection(
        self, cfg: StreamConfig, payload: StructType, mask: bool
    ) -> list[Column]:
        """The stream's lake columns in one select: ``payload.*``, the
        table (A7) and bucket (A9) columns, then the lineage columns. With
        ``mask``, every string column, partition columns included, goes
        through the pii-detection regexes, as ``mask_pii_strings`` does
        to the flat frame."""
        payload_type = (
            F.col("payload.type")
            if "type" in payload.fieldNames()
            else F.lit(None).cast("string")
        )
        table_col = F.coalesce(
            payload_type,
            F.col("message_type"),
            F.lit(cfg.message_type or None),
            F.lit(DEFAULT_MESSAGE_TYPE),
        )
        if self.time_source == "event":
            ts = F.col(f"payload.{self.event_time_col}").cast("timestamp")
        elif self.fixed_time is not None:
            ts = F.lit(self.fixed_time).cast("timestamp")
        else:
            ts = F.current_timestamp()
        grain = PARTITION_TIMES[cfg.partition_time_id]
        out = [
            (F.col("payload").getField(f.name), f.dataType.simpleString(),
             f.name)
            for f in payload.fields
        ]
        out += [
            (table_col, "string", TABLE_COL),
            (partition_bucket(ts, grain), "string", BUCKET_COL),
        ]
        if self.with_lineage:
            out += [
                (F.col("_source_file"), "string", "_source_file"),
                (F.col("_ingested_at"), "timestamp", "_ingested_at"),
            ]
        return [
            (mask_pii_col(c) if mask and t == "string" else c).alias(name)
            for c, t, name in out
        ]

    # -- A12-A17: store dispatch ------------------------------------------
    def store_root(self, cfg: StreamConfig) -> str:
        """The store a stream lands on: the lake root, the HDFS namenode,
        or the object-store bucket. Streams on one store can be staged
        together and renamed into their roots."""
        store = FILE_STORE_TYPES[cfg.file_store_type_id]
        prefix = STORE_URI_PREFIX[store]
        if store == "local":
            return self.lake_root
        if store == "hdfs":
            return f"{prefix}{cfg.namenode_host}:{cfg.namenode_port}"
        return f"{prefix}{cfg.bucket_name}"

    def dest_root(self, cfg: StreamConfig) -> str:
        if FILE_STORE_TYPES[cfg.file_store_type_id] == "local":
            return os.path.join(self.lake_root, cfg.folder_name)
        return f"{self.store_root(cfg)}/{cfg.folder_name}"

    # -- A11 + A19: staged write + catalog --------------------------------
    def _write_group(
        self,
        members: list[tuple[int, StreamConfig, DataFrame, StructType]],
        codec: str,
        observed: list[Column],
    ) -> tuple[dict[str, str], dict[str, int]]:
        """One partitioned columnar append for streams that share a store,
        a codec and a schema — the micro-batch replacement for
        file-per-message. The streams' frames are unioned with their index
        in ``rtdl_stream`` and written once into an ``_``-prefixed staging
        directory inside the first stream's root (hidden from readers of
        that root); then each stream's files are renamed into its root and
        its partitions registered (``_register_partitions``). The write
        carries the ``observed`` columns (``_observed_cols``): the
        (stream, table, bucket) triples it landed and, when asked for,
        per-stream row counts, so learning them costs no extra job. A
        stream with no rows has no staged files and is left out of the
        result. The staging directory is deleted in every case, and so is
        the first stream's root if this write created it and nothing
        landed there."""
        dests = {i: self.dest_root(cfg) for i, cfg, _df, _s in members}
        host = dests[members[0][0]].rstrip("/")
        name = f"{_STAGING_PREFIX}{uuid.uuid4().hex}"
        staging = f"{host}/{name}"
        host_created = not fsutil.exists(self.spark, host)
        obs = Observation()
        frame = reduce(
            lambda a, b: a.union(b), [df for _i, _cfg, df, _s in members]
        ).observe(obs, *observed)
        try:
            (
                frame.write.partitionBy(*_STAGED_COLS)
                .option("compression", codec)
                .mode("append")
                .parquet(staging)
            )
            self._land_staged(staging, name, dests)
        finally:
            fsutil.delete(self.spark, staging)
            if host_created and not fsutil.list_names(self.spark, host):
                fsutil.delete(self.spark, host)
        result = obs.get
        parts: dict[int, set] = {}
        for s, t, b in result["parts"]:
            parts.setdefault(s, set()).add((t, b))
        written: dict[str, str] = {}
        counts: dict[str, int] = {}
        for i, cfg, _df, schema in members:
            if i not in parts:
                continue
            written[cfg.stream_id] = dests[i]
            if f"n{i}" in result:
                counts[cfg.stream_id] = result[f"n{i}"]
            if self.register_catalog:
                self._register_partitions(cfg, dests[i], schema, parts[i])
        return written, counts

    def _land_staged(
        self, staging: str, name: str, dests: dict[int, str]
    ) -> None:
        """Renames every file under ``staging/rtdl_stream=<i>/`` to the
        same relative path under stream i's root; Spark has already
        escaped the partition directory names. ``fsutil.rename`` never
        overwrites, so a name clash raises instead of losing a file."""
        moves = []
        for path, _size, _mtime in fsutil.iter_files(self.spark, staging):
            rel = path.split(f"/{name}/", 1)[1]
            head, _sep, tail = rel.partition("/")
            if head.startswith(f"{STREAM_COL}="):  # not _SUCCESS
                dest = dests[int(head[len(STREAM_COL) + 1:])].rstrip("/")
                moves.append((f"{staging}/{rel}", f"{dest}/{tail}"))
        for d in sorted({dst.rsplit("/", 1)[0] for _src, dst in moves}):
            fsutil.mkdirs(self.spark, d)
        for src, dst in moves:
            if not fsutil.rename(self.spark, src, dst):
                raise FileExistsError(
                    f"staged file {src} not moved: {dst} already exists"
                )

    def _register_partitions(
        self, cfg: StreamConfig, dest: str, schema, parts
    ) -> None:
        """A19 from the write's observed (table, bucket) pairs. Each
        (db, table) is registered once per job: declared from the write's
        schema and partitioned on (rtdl_table, rtdl_bucket), with the
        buckets already under ``dest/rtdl_table=<t>/`` (earlier jobs'
        appends, one listing) plus the observed ones. After that, only
        pairs this job has not added yet become ``ALTER TABLE ... ADD
        PARTITION``, so most batches make no catalog call at all.

        Every message type's table shares the stream root, so registering
        from a discovery of the root (MSCK REPAIR) would give each table
        every other type's rows; adding only ``rtdl_table=<t>``
        partitions keeps each type its own dataset, as in rtdl where each
        message type is its own Dremio dataset."""
        db = cfg.folder_name or f"s_{cfg.stream_id}"
        new: dict[str, set[str | None]] = {}
        for t, b in parts:
            if (db, t, b) not in self._catalog_parts:
                new.setdefault(t, set()).add(b)
        for t, buckets in new.items():
            if (db, t) in self._catalog_tables:
                add_lake_partitions(
                    self.spark, db, t, _PART_COLS,
                    [(t, b) for b in sorted(buckets, key=str)],
                )
            else:
                buckets |= self._listed_buckets(dest, t)
                register_lake_table(
                    self.spark, db, t, dest, schema=schema,
                    partition_cols=_PART_COLS,
                    partitions=[(t, b) for b in sorted(buckets, key=str)],
                )
                self._catalog_tables.add((db, t))
            self._catalog_parts.update((db, t, b) for b in buckets)

    def _listed_buckets(self, dest: str, table: str) -> set[str | None]:
        """Buckets on disk for one table of a stream root. Partition
        directory names use Spark's own path escaping and null marker."""
        paths = (
            self.spark._jvm.org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils
        )
        names = fsutil.list_names(
            self.spark,
            f"{dest.rstrip('/')}/{TABLE_COL}={paths.escapePathName(table)}",
        )
        prefix = f"{BUCKET_COL}="
        null = paths.DEFAULT_PARTITION_NAME()
        return {
            None if v == null else paths.unescapePathName(v)
            for v in (n[len(prefix):] for n in names if n.startswith(prefix))
        }

    # -- A22/A23: function chain ------------------------------------------
    def _chain_steps(self, cfg: StreamConfig) -> tuple[bool, list[str]]:
        """The stream's chain split into (mask inline, DataFrame steps).
        'ingester' is the write stage handled by run_batch. pii-detection
        masks every string column with the reference's regexes; before
        any DataFrame step it is part of the stream's projection, after
        one it runs as a step, so chain order holds. deltawriter and
        ``extra_functions`` are DataFrame→DataFrame steps, run in chain
        order."""
        inline, steps = False, []
        for fn in cfg.function_chain():
            if fn not in _BUILTIN_FUNCTIONS and fn not in self.extra_functions:
                raise ValueError(f"unknown function in chain: {fn}")
            if fn == "pii-detection" and not steps:
                inline = True
            elif fn != "ingester":
                steps.append(fn)
        return inline, steps

    def apply_chain(
        self, cfg: StreamConfig, df: DataFrame, steps: list[str]
    ) -> DataFrame:
        """Runs the chain's DataFrame steps (see ``_chain_steps``)."""
        for fn in steps:
            if fn == "pii-detection":
                df = mask_pii_strings(df)
            elif fn == "deltawriter":
                df = self._delta_append(cfg, df)
            else:
                df = self.extra_functions[fn](df)
        return df

    def _delta_append(self, cfg: StreamConfig, df: DataFrame) -> DataFrame:
        """deltawriter parity (delta_writer.py:81-98): append the batch to
        <root>/<db>/<table> as a REAL Delta table. The native protocol
        writer emits the parquet files PLUS the JSON commit log
        (sources/delta_writer.py) — the directory stays readable as plain
        parquet (the log is '_'-hidden) and by any Delta client, closing
        A18's write direction."""
        from rtdl_spark.sources.delta_writer import write_delta_native

        db = cfg.folder_name or f"s_{cfg.stream_id}"
        base = os.path.join(self.lake_root, "_delta", db)
        write_delta_native(
            df.sparkSession,
            df.drop(TABLE_COL, BUCKET_COL),
            base,
            mode="append",
        )
        return df

    # -- end-to-end --------------------------------------------------------
    def _batch_plan(self, env: DataFrame, raw_schema: str, configs) -> tuple:
        """(probe columns, per-stream (cfg, route, projection, steps,
        schema)) for these configs over this batch schema, built once
        (see ``_cached``). The probe counts all rows, control rows and
        each stream's routed rows. A stream without DataFrame steps
        carries its ``rtdl_stream`` index in its projection; ``schema``
        is its lake schema, without that index."""

        def build():
            payload = env.schema["payload"].dataType
            is_ctrl = F.col("message_type") == CONTROL_MESSAGE_TYPE
            probe = [
                F.count(F.lit(1)).alias("__n"),
                F.sum(is_ctrl.cast("long")).alias("__ctrl"),
            ]
            streams = []
            for i, (cfg, route) in enumerate(self._route_conds(configs)):
                probe.append(F.sum(route.cast("long")).alias(f"__s{i}"))
                inline, steps = self._chain_steps(cfg)
                cols = self._projection(cfg, payload, inline)
                schema = env.select(*cols).schema
                if not steps:
                    cols.append(F.lit(i).alias(STREAM_COL))
                streams.append((cfg, route, cols, steps, schema))
            return probe, streams

        return self._cached((
            "plan", raw_schema, tuple(repr(c) for c in configs),
            tuple(sorted(self.extra_functions)),
        ), build)

    def run_batch(
        self, raw: DataFrame, collect_metrics: bool = False
    ) -> dict[str, str]:
        """Full pipeline for one batch; returns {stream_id: dest_root} for
        the streams that landed rows. Mirrors Ingest()
        (ingester.go:1545-1654) minus Kafka hops.

        A batch runs one probe job plus one write job (one per group of
        streams that differ in store, codec or schema; one in the common
        case):

        - The envelope frame is persisted for the batch's lifetime, so the
          probe and the write read it instead of re-running the source
          read. A micro-batch is bounded by construction, so this is the
          standard foreachBatch multi-sink pattern (and is why this
          method, not the caller, owns persist/unpersist).
        - The probe counts the control rows and each stream's routed rows
          in one aggregation. Streams with no routed rows are left out of
          the write. When control messages are present, the registry is
          reloaded and every stream of the new configs is written; one
          that turns out empty simply stages no files.
        - Each stream is one filter plus one flat projection, then its
          chain's DataFrame steps (``_chain_steps``); the streams are
          staged in one write and renamed into their roots
          (``_write_group``). A failed write raises and lands nothing.
        - The probe and the writes run under the bytes-gated small-plan
          scope (functions/smallplan.py) of the BATCH's session,
          ``raw.sparkSession``. Under foreachBatch that is the stream's
          own session with its own SQLConf, so the scope reaches the
          batch's actions and never flips AQE on the caller's session,
          where a user query may be planning.

        ``collect_metrics=True`` fills ``self.last_metrics`` with the
        batch's row accounting: n_input, n_control, n_unrouted (rows that
        did not land: unmatched routing — the reference's silent drop,
        ingest-service.go:244 — plus any rows a chain transform removed),
        and per-stream written row counts. The per-stream counts ride the
        write itself as an observation — no extra pass; the input/control
        counts come from the probe."""
        raw, cached_raw = self._quarantine_corrupt(raw)
        raw_schema = raw.schema.json()
        env = self.envelope(raw).persist()
        batch_spark = env.sparkSession
        # r11: batch-internal actions (the probe, the staged write) run
        # under the bytes-gated small-plan scope — at bench scale the
        # probe collapsed from 3 AQE stage-jobs to 1 and the write from 2
        # to 1; at real batch sizes the gate stays off and AQE keeps
        # handling the shuffles (see smallplan.py)
        batch_small_bytes = _plan_size_estimate(env)
        self.last_metrics: dict | None = None
        try:
            configs = self.registry.get_all_active()
            probe_cols, streams = self._batch_plan(env, raw_schema, configs)
            with _small_plan_scope(batch_spark, batch_small_bytes):
                probe = env.agg(*probe_cols).collect()[0]
            n_input = int(probe["__n"])
            n_control = int(probe["__ctrl"] or 0)
            if n_control > 0:
                # routed counts are the pre-reload configs'; rare by
                # construction, control messages are administrative
                self.registry.reload()
                configs = self.registry.get_all_active()
                _p, streams = self._batch_plan(env, raw_schema, configs)
                routed = range(len(streams) if n_input > n_control else 0)
            else:
                routed = [
                    i for i in range(len(streams)) if probe[f"__s{i}"]
                ]
            groups: dict[tuple, list] = {}
            for i in routed:
                cfg, route, cols, steps, schema = streams[i]
                df = env.filter(route).select(*cols)
                if steps:
                    df = self.apply_chain(cfg, df, steps)
                    schema = df.schema
                    df = df.select("*", F.lit(i).alias(STREAM_COL))
                key = (
                    self.store_root(cfg),
                    COMPRESSION_TYPES[cfg.compression_type_id],
                    schema.json(),
                )
                groups.setdefault(key, []).append((i, cfg, df, schema))
            observed = self._cached(
                ("observe", len(streams), collect_metrics),
                lambda: _observed_cols(len(streams), collect_metrics),
            )
            written: dict[str, str] = {}
            stream_counts: dict[str, int] = {}
            for (_store, codec, _schema), members in groups.items():
                with _small_plan_scope(batch_spark, batch_small_bytes):
                    w, c = self._write_group(members, codec, observed)
                written.update(w)
                stream_counts.update(c)
            if collect_metrics:
                self.last_metrics = {
                    "n_input": n_input,
                    "n_control": n_control,
                    "n_unrouted": n_input
                    - n_control
                    - sum(stream_counts.values()),
                    "streams": stream_counts,
                }
            return written
        finally:
            env.unpersist()
            if cached_raw is not None:
                cached_raw.unpersist()

    def _quarantine_corrupt(self, raw: DataFrame) -> DataFrame:
        """Under corrupt_policy='quarantine': append the raw text of
        unparseable lines to <lake_root>/_quarantine/ and remove them
        (and the side column) from the batch. The frame is persisted for
        the split — Spark refuses to filter on the corrupt-record column
        of an unmaterialized JSON scan (the scan would have to re-parse
        to know what failed). Returns (clean_frame, cached_frame_or_None)
        so run_batch can unpersist the cache when the batch ends."""
        if CORRUPT_COL not in raw.columns:
            return raw, None
        raw = raw.persist()
        bad = raw.filter(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)
        if bad.limit(1).count() > 0:
            bad.write.mode("append").text(
                os.path.join(self.lake_root, "_quarantine")
            )
        return raw.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL), raw

    def ingest_json_dir(
        self,
        path: str,
        batch_id: str | None = None,
        commit_log_dir: str | None = None,
    ) -> dict[str, str]:
        """Batch ingest, optionally idempotent: pass a stable ``batch_id``
        (the orchestrator's run key — date, file-list hash) plus a
        ``commit_log_dir`` and a re-run of an already-committed batch is a
        no-op instead of a duplicate append — the batch twin of the
        streaming epoch commit log (an Airflow retry after a lost success
        callback is the same failure as a replayed micro-batch). The
        marker lands AFTER the writes, so a crash mid-batch re-runs the
        batch (at-least-once within, exactly-once across runs — same
        contract as foreachBatch + CommitLog)."""
        if batch_id is not None and commit_log_dir is not None:
            marker = f"{commit_log_dir.rstrip('/')}/{batch_id}.committed"
            if fsutil.exists(self.spark, marker):
                return {}
            out = self.run_batch(self.read_json(path))
            fsutil.touch(self.spark, marker)
            return out
        return self.run_batch(self.read_json(path))

    def read_table(self, cfg: StreamConfig, table_name: str) -> DataFrame:
        """Read back one resolved table of a stream with schema-drift
        reconciliation: batches may have appended different payload schemas
        (the reference's normal case — every message may carry a new shape,
        ingester.go:453-520), so the scan merges file footers into the
        union schema; fields absent in older batches read as NULL.

        When the stream pins a schema (``cfg.pinned_schema``), the scan
        uses it directly — no footer merging at all, which is the 100 TB
        path: mergeSchema reads every file footer on the driver before the
        job starts, so a million-file table pays a million footer reads
        per query. The pinned read is footer-free and fields absent in
        older files still read as NULL (parquet reader semantics)."""
        dest = self.dest_root(cfg)
        reader = self.spark.read.option("basePath", dest)
        if cfg.pinned_schema:
            from pyspark.sql.types import StringType, StructField, StructType

            lake_schema = StructType(
                StructType.fromDDL(cfg.pinned_schema).fields
                + [
                    StructField(TABLE_COL, StringType()),
                    StructField(BUCKET_COL, StringType()),
                ]
            )
            reader = reader.schema(lake_schema)
        else:
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(dest)
        return df.filter(F.col(TABLE_COL) == table_name)


def schema_diff(old_schema, new_schema) -> dict:
    """Schema drift report between two batch schemas (StructTypes):
    {added, removed, changed} — changed maps name -> (old_type, new_type).

    The reference tolerates drift silently (every message re-infers its
    own schema, ingester.go:453-520); at scale you want drift *visible*
    per batch before mergeSchema absorbs it — a column flipping
    long→string is usually an upstream bug, not evolution. Driver-side
    metadata-only; zero data cost."""
    old_f = {f.name: f.dataType.simpleString() for f in old_schema.fields}
    new_f = {f.name: f.dataType.simpleString() for f in new_schema.fields}
    return {
        "added": sorted(set(new_f) - set(old_f)),
        "removed": sorted(set(old_f) - set(new_f)),
        "changed": {
            k: (old_f[k], new_f[k])
            for k in sorted(set(old_f) & set(new_f))
            if old_f[k] != new_f[k]
        },
    }


def _observed_cols(n_streams: int, counts: bool) -> list[Column]:
    """What a staged write observes: the (stream, table, bucket) triples
    it landed and, with ``counts``, the row count of each of the batch's
    ``n_streams`` stream indices."""
    cols = [F.collect_set(F.struct(*_STAGED_COLS)).alias("parts")]
    if counts:
        stream = F.col(STREAM_COL)
        cols += [
            F.sum((stream == i).cast("long")).alias(f"n{i}")
            for i in range(n_streams)
        ]
    return cols
