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
  from the write itself: an observation on each append collects the
  (rtdl_table, rtdl_bucket) pairs it landed, and only pairs the job has
  not added yet become ADD PARTITION calls. A table holds only its own
  type's rows, although all types share the stream root.
- **Micro-batch shape**: one probe job plus one write job per routed
  stream. Internal actions run under the small-plan scope of the batch's
  own session (under foreachBatch, the stream's session, never the
  caller's).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

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
from rtdl_spark.functions.pii import mask_pii_strings
from rtdl_spark.functions.smallplan import (
    _plan_size_estimate,
    _small_plan_scope,
)
from rtdl_spark.session import ensure_runtime_confs

TABLE_COL = "rtdl_table"
BUCKET_COL = "rtdl_bucket"
CORRUPT_COL = "_corrupt_record"
_PART_COLS = (TABLE_COL, BUCKET_COL)


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
        return raw.select(*cols)

    # -- A24: control messages --------------------------------------------
    def split_control(self, env: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Control messages (rtdl_205) reload configs and never land in the
        lake (ingester.go:1551-1561)."""
        is_ctrl = F.col("message_type") == CONTROL_MESSAGE_TYPE
        return env.filter(~is_ctrl | is_ctrl.isNull()), env.filter(is_ctrl)

    # -- A5: routing -------------------------------------------------------
    def _route_conds(self) -> list[tuple[StreamConfig, Column]]:
        """Per active config, the ownership predicate. alt-id match takes
        precedence over stream-id match across *all* configs."""
        configs = self.registry.get_all_active()
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
            conds.append((cfg, by_alt | by_id))
        return conds

    def route(self, env: DataFrame) -> list[tuple[StreamConfig, DataFrame]]:
        """Per active config, the rows it owns (see _route_conds)."""
        return [(cfg, env.filter(c)) for cfg, c in self._route_conds()]

    # -- A7 + A9: table + bucket columns ----------------------------------
    def resolve_columns(self, df: DataFrame, cfg: StreamConfig) -> DataFrame:
        payload_type = (
            F.col("payload.type")
            if "type" in df.schema["payload"].dataType.fieldNames()
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
        return df.withColumn(TABLE_COL, table_col).withColumn(
            BUCKET_COL, partition_bucket(ts, grain)
        )

    # -- A12-A17: store dispatch ------------------------------------------
    def dest_root(self, cfg: StreamConfig) -> str:
        store = FILE_STORE_TYPES[cfg.file_store_type_id]
        prefix = STORE_URI_PREFIX[store]
        if store == "local":
            return os.path.join(self.lake_root, cfg.folder_name)
        if store == "hdfs":
            return (
                f"{prefix}{cfg.namenode_host}:{cfg.namenode_port}"
                f"/{cfg.folder_name}"
            )
        return f"{prefix}{cfg.bucket_name}/{cfg.folder_name}"

    # -- A11 + A19: write + catalog ---------------------------------------
    def write_stream_batch(self, cfg: StreamConfig, df: DataFrame) -> str:
        """Partitioned columnar append of one stream's rows — the
        micro-batch replacement for file-per-message — then catalog
        registration of exactly the (table, bucket) partitions that write
        produced. Those pairs come from an observation on the write itself
        (the same current_timestamp() bucket the files get), so learning
        them costs no extra job; see ``_register_partitions``."""
        dest = self.dest_root(cfg)
        obs = None
        if self.register_catalog:
            obs = Observation()
            df = df.observe(
                obs, F.collect_set(F.struct(*_PART_COLS)).alias("parts")
            )
        (
            df.write.partitionBy(*_PART_COLS)
            .option("compression", COMPRESSION_TYPES[cfg.compression_type_id])
            .mode("append")
            .parquet(dest)
        )
        if obs is not None:
            self._register_partitions(cfg, dest, df.schema, obs.get["parts"])
        return dest

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
        from rtdl_spark.sources import fsutil

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
    def apply_chain(self, cfg: StreamConfig, df: DataFrame) -> DataFrame:
        """Ordered transform chain. 'ingester' is the write stage handled by
        run_batch; downstream functions are DataFrame→DataFrame transforms
        (pii-detection masks every string column with the reference's
        regexes; deltawriter appends to a Delta table when delta-spark is
        importable, else records its parquet fallback)."""
        out = df
        for fn in cfg.function_chain():
            if fn == "ingester":
                continue
            if fn == "pii-detection":
                out = mask_pii_strings(out)
            elif fn == "deltawriter":
                out = self._delta_append(cfg, out)
            elif fn in self.extra_functions:
                out = self.extra_functions[fn](out)
            else:
                raise ValueError(f"unknown function in chain: {fn}")
        return out

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
    def run_batch(
        self, raw: DataFrame, collect_metrics: bool = False
    ) -> dict[str, str]:
        """Full pipeline for one batch; returns {stream_id: dest_root}.
        Mirrors Ingest() (ingester.go:1545-1654) minus Kafka hops.

        A batch without control messages runs one probe job plus one
        write job per routed stream:

        - The envelope frame is persisted for the batch's lifetime, so the
          probe and every stream's write read it instead of re-running the
          source read. A micro-batch is bounded by construction, so this
          is the standard foreachBatch multi-sink pattern (and is why this
          method, not the caller, owns persist/unpersist).
        - The probe and the writes run under the bytes-gated small-plan
          scope (functions/smallplan.py) of the BATCH's session,
          ``raw.sparkSession``. Under foreachBatch that is the stream's
          own session with its own SQLConf, so the scope reaches the
          batch's actions and never flips AQE on the caller's session,
          where a user query may be planning.
        - Streams are written one after another (``write_stream_batch``),
          each write followed by the catalog registration of the
          partitions it observed: no extra job, and most batches make no
          catalog call. If a write fails, its error is raised at once;
          the streams written before it are already catalogued.

        ``collect_metrics=True`` fills ``self.last_metrics`` with the
        batch's row accounting: n_input, n_control, n_unrouted (rows that
        did not land: unmatched routing — the reference's silent drop,
        ingest-service.go:244 — plus any rows a chain transform removed),
        and per-stream written row counts. The
        per-stream counts ride the write action itself via df.observe —
        no extra pass; the input/control counts come from the probe."""
        raw, cached_raw = self._quarantine_corrupt(raw)
        env = self.envelope(raw).persist()
        batch_spark = env.sparkSession
        # r11: batch-internal actions (the fused probe, each stream's
        # write) run under the bytes-gated small-plan scope — at bench
        # scale the probe collapsed from 3 AQE stage-jobs to 1 and the
        # write from 2 to 1; at real batch sizes the gate stays off and
        # AQE keeps handling the shuffles (see smallplan.py)
        batch_small_bytes = _plan_size_estimate(env)
        self.last_metrics: dict | None = None
        try:
            # ONE probe job (r10; guide §1.2/§2.4 — the r9 shape spent a
            # job materializing the cache for the control check, then one
            # MORE job per stream asking "did anything route here?"): a
            # single aggregation over the just-persisted envelope yields
            # the control count AND every stream's routed count, so empty
            # streams are skipped from driver arithmetic. Routed counts
            # are computed with the PRE-reload configs, so when control
            # messages ARE present the batch falls back to the reload +
            # per-stream-probe path (rare by construction — control
            # messages are administrative).
            is_ctrl = F.col("message_type") == CONTROL_MESSAGE_TYPE
            not_ctrl = ~is_ctrl | is_ctrl.isNull()
            conds = self._route_conds()
            with _small_plan_scope(batch_spark, batch_small_bytes):
                probe = env.agg(
                    F.count(F.lit(1)).alias("__n"),
                    F.sum(is_ctrl.cast("long")).alias("__ctrl"),
                    *[
                        F.sum((not_ctrl & c).cast("long")).alias(f"__s{i}")
                        for i, (_cfg, c) in enumerate(conds)
                    ],
                ).collect()[0]
            n_input = int(probe["__n"])
            n_control = int(probe["__ctrl"] or 0)
            data, ctrl = self.split_control(env)
            routed_n: dict[str, int] | None = None
            if n_control > 0:
                self.registry.reload()
                conds = self._route_conds()  # configs may have changed
            else:
                routed_n = {
                    cfg.stream_id: int(probe[f"__s{i}"] or 0)
                    for i, (cfg, _c) in enumerate(conds)
                }
            written: dict[str, str] = {}
            stream_counts: dict[str, int] = {}
            for cfg, cond in conds:
                if routed_n is not None and routed_n[cfg.stream_id] == 0:
                    continue
                rows = data.filter(cond)
                resolved = self.resolve_columns(rows, cfg)
                # Flatten the payload before the chain so transforms (e.g.
                # PII masking) see the real data columns, and the lake
                # schema is the payload schema (A8) plus the two partition
                # columns.
                lineage = (
                    [F.col("_source_file"), F.col("_ingested_at")]
                    if self.with_lineage
                    else []
                )
                flat = resolved.select(
                    F.col("payload.*"),
                    F.col(TABLE_COL),
                    F.col(BUCKET_COL),
                    *lineage,
                )
                chained = self.apply_chain(cfg, flat)
                # only a ROW-DROPPING chain transform can empty a routed
                # stream; the probe already proved routed rows exist,
                # and the built-in stages are row-preserving by
                # construction ('ingester' is the write itself,
                # 'pii-detection' masks in place, 'deltawriter' appends
                # and passes through) — so the emptiness job survives
                # only for EXTERNAL extra_functions, whose chains can
                # filter (r11; guide §1.2)
                may_empty = routed_n is None or any(
                    fn in self.extra_functions
                    for fn in cfg.function_chain()
                )
                with _small_plan_scope(batch_spark, batch_small_bytes):
                    if may_empty and chained.limit(1).count() == 0:
                        continue
                    obs = None
                    if collect_metrics:
                        obs = Observation()
                        chained = chained.observe(
                            obs, F.count(F.lit(1)).alias("n_rows")
                        )
                    written[cfg.stream_id] = self.write_stream_batch(
                        cfg, chained
                    )
                if obs is not None:
                    stream_counts[cfg.stream_id] = obs.get["n_rows"]
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
            from rtdl_spark.sources import fsutil

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
