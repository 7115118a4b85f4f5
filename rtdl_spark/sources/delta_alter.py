"""ALTER TABLE surface for the native Delta writer (r9).

Every entry point commits ONE metadata-only Delta version (no data is
read or rewritten, except ADD CONSTRAINT's validation scan) with the
same operation names delta-spark records, the put-if-absent commit rule
and bounded conflict retry the DML paths use, and the protocol UPGRADED
in the same commit when the new state demands capabilities the table's
protocol doesn't grant yet (the spec's legacy->table-features
conversion).

Surface (delta-spark ALTER TABLE parity, minus the documented refusals):

- ``alter_set_tblproperties`` / ``alter_unset_tblproperties`` —
  including the feature-implying properties (CDF, deletion vectors,
  in-commit timestamps, append-only) and the none->name column-mapping
  UPGRADE (existing columns keep their on-disk names as physicalName,
  so every already-written file still resolves; ids are fresh).
- ``alter_add_constraint`` / ``alter_drop_constraint`` — ADD validates
  every EXISTING row first (delta-spark scans and refuses on violation;
  committing an already-violated constraint would make the table lie).
- ``alter_add_columns`` — appended, forced nullable (existing files
  lack them; readers null-fill), CM tables assign fresh ids above
  maxColumnId.
- ``alter_rename_column`` / ``alter_drop_column`` — column-mapping
  tables only (the physical identity stays; without CM the parquet
  column names ARE the schema, exactly why delta-spark refuses too).

Documented refusals (raise by name rather than commit wrong state):
delta.enableRowTracking=true on existing tables (requires a baseRowId
backfill of every active file), column-mapping 'id' upgrade (existing
parquet files carry no field ids), nested column alters.

Reference: rtdl delegates all table DDL to delta-spark
(deltawriter/delta_writer.py:88-94); semantics per the public Delta
protocol (Table Features / Column Mapping / Check Constraints sections).
"""

from __future__ import annotations

import json
import re
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from rtdl_spark.sources.delta_reader import (
    _check_protocol,
    snapshot_control,
)
from rtdl_spark.sources.delta_writer import (
    _Attempt,
    _check_writer_protocol,
    _clustering_domain,
    _cm_annotate_field,
    _cm_create,
    _cm_mode,
    _commit,
    _commit_new,
    _generated_cols,
    _identity_cols,
    _now_ms,
    _table_constraints,
)

# What each LEGACY protocol version implies (Delta spec, Table Features
# section) — needed to CONVERT a legacy protocol to the v7 feature form
# without dropping capabilities the table already relies on.
_LEGACY_WRITER_IMPLIES = {
    2: ("appendOnly", "invariants"),
    3: ("checkConstraints",),
    4: ("changeDataFeed", "generatedColumns"),
    5: ("columnMapping",),
    6: ("identityColumns",),
}
_LEGACY_READER_IMPLIES = {2: ("columnMapping",)}

# the minimum LEGACY writer version that grants a feature, where one
# exists; features absent here are table-features-only (writer v7)
_LEGACY_WRITER_FOR = {
    "appendOnly": 2,
    "invariants": 2,
    "checkConstraints": 3,
    "changeDataFeed": 4,
    "generatedColumns": 4,
    "columnMapping": 5,
    "identityColumns": 6,
}
_LEGACY_READER_FOR = {"columnMapping": 2}
# reader-side features that only exist in feature form (reader v3)
_READER_FEATURE_ONLY = {"deletionVectors", "v2Checkpoint", "timestampNtz"}


def _upgraded_protocol(
    protocol: dict,
    writer_features: list[str],
    reader_features: list[str] | None = None,
) -> dict | None:
    """The protocol action needed so the table grants ``writer_features``
    (+ ``reader_features``), or None when the current protocol already
    does. Legacy protocols are bumped when a legacy version grants the
    feature, and CONVERTED to the v7/v3 feature form when the feature
    only exists there — carrying every capability the old version
    implied (the spec's conversion rule; dropping one would break the
    table's existing duties)."""
    reader_features = reader_features or []
    rv = int(protocol.get("minReaderVersion", 1))
    wv = int(protocol.get("minWriterVersion", 1))
    wfeats = set(protocol.get("writerFeatures") or ())
    rfeats = set(protocol.get("readerFeatures") or ())

    def writer_has(f: str) -> bool:
        if wv >= 7:
            return f in wfeats
        legacy = _LEGACY_WRITER_FOR.get(f)
        return legacy is not None and wv >= legacy

    def reader_has(f: str) -> bool:
        if rv >= 3:
            return f in rfeats
        legacy = _LEGACY_READER_FOR.get(f)
        return legacy is not None and rv >= legacy

    missing_w = [f for f in writer_features if not writer_has(f)]
    missing_r = [f for f in reader_features if not reader_has(f)]
    if not missing_w and not missing_r:
        return None

    new_rv, new_wv = rv, wv
    new_wfeats, new_rfeats = set(wfeats), set(rfeats)

    need_writer_form = wv >= 7 or any(
        f not in _LEGACY_WRITER_FOR for f in missing_w
    )
    if need_writer_form:
        if wv < 7:  # convert: carry the implied legacy features
            for v, feats in _LEGACY_WRITER_IMPLIES.items():
                if wv >= v:
                    new_wfeats.update(feats)
        new_wfeats.update(missing_w)
        new_wv = 7
    else:
        new_wv = max(wv, *(_LEGACY_WRITER_FOR[f] for f in missing_w))

    need_reader_form = rv >= 3 or any(
        f in _READER_FEATURE_ONLY for f in missing_r
    )
    if missing_r:
        if need_reader_form:
            if rv < 3:
                for v, feats in _LEGACY_READER_IMPLIES.items():
                    if rv >= v:
                        new_rfeats.update(feats)
            new_rfeats.update(missing_r)
            new_rv = 3
        else:
            new_rv = max(rv, *(_LEGACY_READER_FOR[f] for f in missing_r))
    elif need_writer_form and rv >= 3:
        new_rfeats = set(rfeats)

    out: dict = {"minReaderVersion": new_rv, "minWriterVersion": new_wv}
    if new_rv >= 3:
        out["readerFeatures"] = sorted(new_rfeats)
    if new_wv >= 7:
        out["writerFeatures"] = sorted(new_wfeats)
    return out


# delta.* configuration this writer understands. Keys mapping to a
# tuple declare the (writer features, reader features) a 'true' value
# demands; None means plain configuration with no protocol implication.
_PLAIN_DELTA_PROPS = {
    "delta.logRetentionDuration",
    "delta.deletedFileRetentionDuration",
    "delta.checkpointInterval",
    "delta.dataSkippingNumIndexedCols",
    "delta.checkpoint.writeStatsAsStruct",
    "delta.checkpoint.writeStatsAsJson",
    "delta.autoOptimize.optimizeWrite",
    "delta.autoOptimize.autoCompact",
    "delta.targetFileSize",
    "delta.tuneFileSizesForRewrites",
    "delta.checkpointPolicy",
}
_FEATURE_DELTA_PROPS = {
    "delta.appendOnly": (["appendOnly"], []),
    "delta.enableChangeDataFeed": (["changeDataFeed"], []),
    "delta.enableDeletionVectors": (
        ["deletionVectors"],
        ["deletionVectors"],
    ),
    "delta.enableInCommitTimestamps": (["inCommitTimestamp"], []),
    # CREATE-only (alter_set_tblproperties refuses it on existing
    # tables — their active files would need a baseRowId backfill; an
    # EMPTY table has nothing to backfill, so create allows it)
    "delta.enableRowTracking": (
        ["rowTracking", "domainMetadata"],
        [],
    ),
}


def _ident_referenced(name: str, exprs: list[str]) -> list[str]:
    """Expressions that reference ``name`` as an identifier (word
    boundary or backtick-quoted) — conservative dependency check for
    RENAME/DROP COLUMN; a false positive refuses, never corrupts."""
    pat = re.compile(
        rf"(?<![A-Za-z0-9_`]){re.escape(name)}(?![A-Za-z0-9_])|"
        rf"`{re.escape(name)}`"
    )
    return [e for e in exprs if pat.search(e)]


def _schema_fields(meta: dict) -> list[dict]:
    return json.loads(meta["schemaString"]).get("fields") or []


def _fields_to_schema(fields: list[dict]) -> str:
    return json.dumps(
        {"type": "struct", "fields": fields}, separators=(",", ":")
    )


def _commit_alter(
    spark: SparkSession,
    root: str,
    operation: str,
    build,
    max_retries: int = 5,
) -> dict:
    """Every ALTER's commit: ``build(protocol, meta)`` returns
    (operationParameters, actions, result), or a plain result dict for
    a no-op (nothing to commit). Each attempt re-reads the tip and
    rebuilds — an ALTER must apply to the state it actually lands on."""
    done: dict = {}

    def attempt(_n: int):
        protocol, meta, current, _txns = snapshot_control(spark, root)
        _check_protocol(protocol)
        _check_writer_protocol(protocol)
        built = build(protocol, meta)
        if not isinstance(built, tuple):
            return built
        params, actions, done["result"] = built
        return _Attempt(current, meta, params, actions)

    out = _commit(spark, root, operation, attempt, max_retries=max_retries)
    return out if isinstance(out, dict) else {**done["result"], "version": out}


def alter_set_tblproperties(
    spark: SparkSession, table_dir: str, properties: dict[str, str]
) -> dict:
    """ALTER TABLE ... SET TBLPROPERTIES: merge ``properties`` into the
    table configuration in one metadata-only commit, upgrading the
    protocol IN THE SAME COMMIT when a property demands a feature the
    protocol doesn't grant (enabling CDF on a writer-v2 table must not
    leave a window where a legacy writer appends without recording
    changes). Unknown ``delta.``-prefixed keys refuse loudly — a typo'd
    delta.enableChangeDataFeeed would otherwise sit inert while the
    caller believes the feed is on. Non-delta keys pass through as user
    properties.

    Special cases handled:
    - delta.columnMapping.mode none->name UPGRADES the table: every
      existing column (at every nesting level) gets a fresh id and its
      CURRENT NAME as physicalName, so files already on disk keep
      resolving (delta-spark's upgrade rule); maxColumnId is set.
      Mode 'id' refuses (existing parquet carries no field ids), as
      does changing between non-none modes or back to none.
    - delta.enableInCommitTimestamps=true: the enabling commit is
      stamped and records the enablement provenance properties the spec
      defines (``_commit``).
    - delta.constraints.* refuses — use ``alter_add_constraint``, which
      validates existing rows.
    - delta.enableRowTracking refuses — existing files would need a
      baseRowId backfill this writer does not perform.
    """
    root = table_dir.rstrip("/")
    for k in properties:
        if k.startswith("delta.constraints."):
            raise ValueError(
                f"{k}: add CHECK constraints through "
                "alter_add_constraint (it validates existing rows; "
                "SET TBLPROPERTIES would skip validation)"
            )
        if k == "delta.enableRowTracking":
            raise ValueError(
                "delta.enableRowTracking on an existing table requires "
                "backfilling baseRowId for every active file — not "
                "implemented; create the table with row tracking instead"
            )
        if (
            k.startswith("delta.")
            and k not in _PLAIN_DELTA_PROPS
            and k not in _FEATURE_DELTA_PROPS
            and k != "delta.columnMapping.mode"
        ):
            raise ValueError(
                f"unknown delta.* property {k!r} — refusing to commit "
                "configuration this writer does not understand (a "
                "typo'd feature toggle would sit inert)"
            )

    def build(protocol, meta):
        conf = dict(meta.get("configuration") or {})
        changed = {
            k: v for k, v in properties.items()
            if conf.get(k) != str(v)
        }
        if not changed:
            return {"version": None, "properties": {}}
        new_conf = {**conf, **{k: str(v) for k, v in changed.items()}}
        want_w: list[str] = []
        want_r: list[str] = []
        for k, v in changed.items():
            spec = _FEATURE_DELTA_PROPS.get(k)
            if spec and str(v).lower() == "true":
                want_w.extend(spec[0])
                want_r.extend(spec[1])
        new_meta = {**meta, "configuration": new_conf}
        if "delta.columnMapping.mode" in changed:
            mode = changed["delta.columnMapping.mode"]
            cur = _cm_mode(meta)
            if mode == "name" and cur == "none":
                schema_string, cm_conf = _cm_create(
                    _schema_fields(meta), mode, keep_names=True
                )
                new_conf.update(cm_conf)
                new_meta = {
                    **new_meta,
                    "schemaString": schema_string,
                    "configuration": new_conf,
                }
                want_w.append("columnMapping")
                want_r.append("columnMapping")
            elif mode == cur:
                pass  # no-op mode set
            else:
                raise ValueError(
                    f"column mapping mode change {cur!r} -> {mode!r} is "
                    "not supported: only the none -> name upgrade is "
                    "(existing parquet files carry no field ids for "
                    "'id' mode, and downgrades would orphan physical "
                    "names)"
                )
        actions = []
        upgraded = _upgraded_protocol(protocol, want_w, want_r)
        if upgraded is not None:
            actions.append({"protocol": upgraded})
        actions.append({"metaData": new_meta})
        return (
            {"properties": json.dumps(changed)},
            actions,
            {"properties": changed, "protocol_upgraded": bool(upgraded)},
        )

    return _commit_alter(spark, root, "SET TBLPROPERTIES", build)


def alter_unset_tblproperties(
    spark: SparkSession,
    table_dir: str,
    keys: list[str],
    if_exists: bool = False,
) -> dict:
    """ALTER TABLE ... UNSET TBLPROPERTIES: remove configuration keys.
    Column-mapping keys refuse (the mapping is load-bearing for every
    file already written; delta-spark refuses the downgrade too).
    Absent keys are an error unless ``if_exists``."""
    root = table_dir.rstrip("/")
    for k in keys:
        if k.startswith("delta.columnMapping."):
            raise ValueError(
                f"{k}: column mapping cannot be unset — every written "
                "file resolves through it"
            )

    def build(protocol, meta):
        conf = dict(meta.get("configuration") or {})
        missing = [k for k in keys if k not in conf]
        if missing and not if_exists:
            raise ValueError(
                f"properties not set on this table: {missing} "
                "(pass if_exists=True to ignore)"
            )
        removed = [k for k in keys if k in conf]
        if not removed:
            return {"version": None, "removed": []}
        for k in removed:
            del conf[k]
        return (
            {"properties": json.dumps(sorted(removed))},
            [{"metaData": {**meta, "configuration": conf}}],
            {"removed": sorted(removed)},
        )

    return _commit_alter(spark, root, "UNSET TBLPROPERTIES", build)


def alter_add_constraint(
    spark: SparkSession, table_dir: str, name: str, expression: str
) -> dict:
    """ALTER TABLE ... ADD CONSTRAINT <name> CHECK (<expression>):
    validates that EVERY existing row satisfies the expression first
    (NULL passes, SQL CHECK semantics) — one distributed scan stopping
    at the first violation — then commits the configuration entry,
    upgrading the protocol to grant checkConstraints when needed.
    delta-spark parity: duplicate names refuse; a violated table
    refuses rather than committing a constraint it doesn't meet."""
    from rtdl_spark.sources.delta_reader import read_delta_native

    root = table_dir.rstrip("/")
    key = f"delta.constraints.{name.lower()}"

    def build(protocol, meta):
        conf = meta.get("configuration") or {}
        if key in conf:
            raise ValueError(
                f"constraint {name!r} already exists on this table "
                f"({conf[key]!r})"
            )
        # validate existing rows (scan prunes to the first violation)
        tbl = read_delta_native(spark, root)
        bad = tbl.filter(
            F.coalesce(F.expr(expression), F.lit(True)) == F.lit(False)
        ).limit(1)
        if bad.count() > 0:
            raise ValueError(
                f"cannot add CHECK constraint {name!r} "
                f"({expression}): existing rows violate it"
            )
        actions = []
        upgraded = _upgraded_protocol(protocol, ["checkConstraints"])
        if upgraded is not None:
            actions.append({"protocol": upgraded})
        actions.append(
            {
                "metaData": {
                    **meta,
                    "configuration": {**conf, key: expression},
                }
            }
        )
        return (
            {"name": name.lower(), "expr": expression},
            actions,
            {"name": name.lower()},
        )

    return _commit_alter(spark, root, "ADD CONSTRAINT", build)


def alter_drop_constraint(
    spark: SparkSession,
    table_dir: str,
    name: str,
    if_exists: bool = False,
) -> dict:
    """ALTER TABLE ... DROP CONSTRAINT <name>."""
    root = table_dir.rstrip("/")
    key = f"delta.constraints.{name.lower()}"

    def build(protocol, meta):
        conf = dict(meta.get("configuration") or {})
        if key not in conf:
            if if_exists:
                return {"version": None, "name": name.lower()}
            raise ValueError(
                f"no CHECK constraint named {name!r} on this table "
                f"(have: {sorted(_table_constraints(meta))})"
            )
        del conf[key]
        return (
            {"name": name.lower()},
            [{"metaData": {**meta, "configuration": conf}}],
            {"name": name.lower()},
        )

    return _commit_alter(spark, root, "DROP CONSTRAINT", build)


def alter_add_columns(
    spark: SparkSession,
    table_dir: str,
    columns: list[tuple[str, str]],
) -> dict:
    """ALTER TABLE ... ADD COLUMNS: append ``[(name, Delta type)]`` to
    the schema, FORCED NULLABLE (files already written lack the column;
    readers null-fill — a non-nullable add would make every existing
    row a violation). Column-mapped tables assign fresh ids above
    maxColumnId, advanced in the same metaData. Nested adds refuse."""
    root = table_dir.rstrip("/")
    if not columns:
        raise ValueError("ADD COLUMNS needs at least one column")
    for n, _t in columns:
        if "." in n:
            raise ValueError(
                f"nested column add {n!r} is not supported — add to the "
                "top level"
            )

    def build(protocol, meta):
        fields = _schema_fields(meta)
        have = {f["name"].lower() for f in fields}
        dup = [n for n, _t in columns if n.lower() in have]
        if dup:
            raise ValueError(f"columns already exist: {dup}")
        seen = set()
        for n, _t in columns:
            if n.lower() in seen:
                raise ValueError(f"duplicate new column {n!r}")
            seen.add(n.lower())
        conf = dict(meta.get("configuration") or {})
        cm = _cm_mode(meta)
        next_id = int(conf.get("delta.columnMapping.maxColumnId", 0)) + 1
        new_fields = list(fields)
        for n, t in columns:
            f = {"name": n, "type": t, "nullable": True, "metadata": {}}
            if cm != "none":
                f, next_id = _cm_annotate_field(f, next_id)
            new_fields.append(f)
        if cm != "none":
            conf["delta.columnMapping.maxColumnId"] = str(next_id - 1)
        return (
            {"columns": json.dumps([n for n, _t in columns])},
            [
                {
                    "metaData": {
                        **meta,
                        "schemaString": _fields_to_schema(new_fields),
                        "configuration": conf,
                    }
                }
            ],
            {"added": [n for n, _t in columns]},
        )

    return _commit_alter(spark, root, "ADD COLUMNS", build)


def _refuse_referenced(meta: dict, name: str, verb: str) -> None:
    """Refuse altering a column that constraints / generated columns /
    CDF-era invariants may reference — conservative identifier match
    (delta-spark resolves the expressions; a regex that over-refuses is
    safe, one that under-refuses would commit a broken expression)."""
    refs = list(_table_constraints(meta).values()) + list(
        _generated_cols(meta).values()
    )
    hits = _ident_referenced(name, refs)
    if hits:
        raise ValueError(
            f"cannot {verb} column {name!r}: referenced by constraint/"
            f"generation expression(s) {hits} — drop those first"
        )


def alter_rename_column(
    spark: SparkSession, table_dir: str, old: str, new: str
) -> dict:
    """ALTER TABLE ... RENAME COLUMN: logical rename on a COLUMN-MAPPED
    table — the field's id and physicalName stay, so no data file is
    touched and every already-written file keeps resolving; only the
    logical name changes. Tables without column mapping refuse (their
    parquet column names ARE the schema; delta-spark refuses the same).
    Partition columns rename in partitionColumns too (partitionValues
    in existing actions are keyed by PHYSICAL name, which is why this
    stays metadata-only)."""
    root = table_dir.rstrip("/")
    if "." in old or "." in new:
        raise ValueError("nested column rename is not supported")

    def build(protocol, meta):
        if _cm_mode(meta) == "none":
            raise ValueError(
                "RENAME COLUMN requires column mapping (the parquet "
                "column names are the schema without it) — upgrade via "
                "alter_set_tblproperties({'delta.columnMapping.mode': "
                "'name'}) first"
            )
        fields = _schema_fields(meta)
        idx = [i for i, f in enumerate(fields) if f["name"] == old]
        if not idx:
            raise ValueError(f"no column named {old!r}")
        if any(f["name"].lower() == new.lower() for f in fields):
            raise ValueError(f"column {new!r} already exists")
        if old in _identity_cols(meta):
            raise ValueError(
                f"cannot rename IDENTITY column {old!r}"
            )
        _refuse_referenced(meta, old, "rename")
        new_fields = list(fields)
        new_fields[idx[0]] = {**fields[idx[0]], "name": new}
        parts = [
            new if c == old else c
            for c in (meta.get("partitionColumns") or [])
        ]
        return (
            {"oldColumnPath": old, "newColumnPath": new},
            [
                {
                    "metaData": {
                        **meta,
                        "schemaString": _fields_to_schema(new_fields),
                        "partitionColumns": parts,
                    }
                }
            ],
            {"old": old, "new": new},
        )

    return _commit_alter(spark, root, "RENAME COLUMN", build)


def alter_drop_column(
    spark: SparkSession, table_dir: str, name: str
) -> dict:
    """ALTER TABLE ... DROP COLUMN on a COLUMN-MAPPED table: the field
    leaves the schema; the physical data stays in the files (readers
    simply stop projecting it) and the dropped id is NEVER reused
    (maxColumnId is monotone — the CM replace-overwrite rule). Refuses:
    non-CM tables, partition columns, identity columns, columns
    referenced by constraints/generated columns, the last column."""
    root = table_dir.rstrip("/")
    if "." in name:
        raise ValueError("nested column drop is not supported")

    def build(protocol, meta):
        if _cm_mode(meta) == "none":
            raise ValueError(
                "DROP COLUMN requires column mapping — without it the "
                "parquet files' own schema would resurrect the column"
            )
        fields = _schema_fields(meta)
        keep = [f for f in fields if f["name"] != name]
        if len(keep) == len(fields):
            raise ValueError(f"no column named {name!r}")
        if not keep:
            raise ValueError("cannot drop the last column")
        if name in (meta.get("partitionColumns") or []):
            raise ValueError(
                f"cannot drop partition column {name!r}"
            )
        if name in _identity_cols(meta):
            raise ValueError(f"cannot drop IDENTITY column {name!r}")
        _refuse_referenced(meta, name, "drop")
        return (
            {"columns": json.dumps([name])},
            [
                {
                    "metaData": {
                        **meta,
                        "schemaString": _fields_to_schema(keep),
                    }
                }
            ],
            {"dropped": name},
        )

    return _commit_alter(spark, root, "DROP COLUMNS", build)


def create_delta_table_native(
    spark: SparkSession,
    table_dir: str,
    schema,
    partition_by: list[str] | None = None,
    cluster_by: list[str] | None = None,
    column_mapping: str | None = None,
    table_properties: dict[str, str] | None = None,
    identity: dict[str, dict] | None = None,
    generated: dict[str, str] | None = None,
    not_null: list[str] | None = None,
    comment: str | None = None,
    or_replace: bool = False,
) -> dict:
    """CREATE TABLE (empty) with the full column-level DDL surface —
    the missing creation half of what r7/r8 taught the APPEND lane to
    honor (until now identity/generated/NOT NULL tables could only be
    fabricated by hand-writing log JSON):

    - ``schema``: a StructType or DDL string ("id long, v double").
    - ``identity``: {col: {"start": 1, "step": 1, "always": True}} —
      the column must be LONG; ``always=True`` is GENERATED ALWAYS
      (explicit inserts refuse), False is BY DEFAULT.
    - ``generated``: {col: SQL expression} — omitted on insert ->
      computed, provided -> validated (the append lane's existing duty).
    - ``not_null``: columns committed non-nullable (inserts enforce).
    - ``table_properties``: same validation + protocol implications as
      ``alter_set_tblproperties`` (unknown delta.* refuses; CDF/DV/ICT
      upgrade the protocol; delta.constraints.* refuses — constraints
      are added through alter_add_constraint, which validates rows).
    - ``cluster_by`` / ``column_mapping`` / ``partition_by``: as in
      write_delta_native.

    The creating commit is METADATA-ONLY (delta-spark's CREATE TABLE
    does the same; data arrives as ordinary appends, which is exactly
    where the generation/validation machinery already lives). One
    protocol action grants every implied capability at once (the
    legacy->features conversion in _upgraded_protocol).

    ``or_replace=True`` (CREATE OR REPLACE TABLE, r10): when the table
    already exists, commit a REPLACE TABLE version instead of refusing —
    new schema/partitioning/configuration, remove tombstones for every
    active file (DV descriptors preserved on the tombstones), table id
    and history PRESERVED (the replace itself is time-travelable), and
    the protocol only ever UPGRADED (never downgraded) to what the new
    properties imply.

    Returns {"version": n, "protocol": <committed protocol>}."""
    from rtdl_spark.sources.delta_reader import (
        snapshot_actions,
        snapshot_domains,
    )
    from rtdl_spark.sources.delta_writer import (
        _remove_actions,
        _table_exists,
    )

    root = table_dir.rstrip("/")
    replacing = None  # (current_version, existing protocol/meta/active)
    if _table_exists(spark, root):
        if not or_replace:
            raise ValueError(f"{root} is already a Delta table")
        replacing = snapshot_actions(spark, root)
    schema_string, conf, want_w, want_r = _declared_table(
        schema, partition_by, cluster_by, column_mapping,
        table_properties, identity, generated, not_null,
    )
    part_cols = list(partition_by or [])
    ts = _now_ms()
    # protocols only ever upgrade: a replace keeps every existing
    # capability and adds what the new properties imply
    base = (
        dict(replacing[0]) if replacing is not None
        else {"minReaderVersion": 1, "minWriterVersion": 2}
    )
    protocol = _upgraded_protocol(base, want_w, want_r) or base
    actions: list[dict] = [
        {"protocol": protocol},
        {
            "metaData": {
                # REPLACE keeps the table's identity and creation time
                # (the table persists; only its definition is replaced)
                "id": (
                    replacing[1]["id"]
                    if replacing is not None
                    else str(uuid.uuid4())
                ),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_string,
                "partitionColumns": part_cols,
                "configuration": conf,
                "createdTime": (
                    replacing[1].get("createdTime", ts)
                    if replacing is not None
                    else ts
                ),
                **({"description": comment} if comment else {}),
            }
        },
    ]
    if replacing is not None:
        active = replacing[2]
        actions.extend(
            {"remove": r}
            for r in _remove_actions([active[p] for p in sorted(active)], ts)
        )
    if cluster_by:
        actions.append(_clustering_domain(cluster_by))
    elif replacing is not None:
        # replacing a clustered table with an unclustered definition:
        # drop the stale clustering domain in the same commit
        d = snapshot_domains(spark, root).get("delta.clustering")
        if d and not d.get("removed"):
            actions.append(
                {
                    "domainMetadata": {
                        "domain": "delta.clustering",
                        "configuration": d.get("configuration") or "{}",
                        "removed": True,
                    }
                }
            )
    verb = "replace" if replacing is not None else "create"
    version = _commit_new(
        spark, root, f"{verb.upper()} TABLE",
        {
            "partitionBy": json.dumps(part_cols),
            "clusterBy": json.dumps(cluster_by or []),
            "properties": json.dumps(table_properties or {}),
        },
        actions,
        f"{root} changed concurrently — {verb} refuses to race",
        replacing=replacing and (replacing[3], replacing[1]),
    )
    return {"version": version, "protocol": protocol}


def _declared_table(
    schema,
    partition_by: list[str] | None,
    cluster_by: list[str] | None,
    column_mapping: str | None,
    table_properties: dict[str, str] | None,
    identity: dict[str, dict] | None,
    generated: dict[str, str] | None,
    not_null: list[str] | None,
) -> tuple[str, dict[str, str], list[str], list[str]]:
    """The column-level DDL of ``create_delta_table_native``, validated
    and applied: (schemaString, configuration, writer features, reader
    features the protocol must grant)."""
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    fields = json.loads(schema.json()).get("fields") or []
    by_name = {f["name"]: f for f in fields}
    part_cols = list(partition_by or [])
    identity = identity or {}
    generated = generated or {}
    not_null = list(not_null or [])
    table_properties = dict(table_properties or {})

    for group, cols in (
        ("partition_by", part_cols),
        ("identity", identity),
        ("generated", generated),
        ("not_null", not_null),
        ("cluster_by", cluster_by or []),
    ):
        missing = [c for c in cols if c not in by_name]
        if missing:
            raise ValueError(f"{group} columns not in schema: {missing}")
    overlap = set(identity) & set(generated)
    if overlap:
        raise ValueError(
            f"columns cannot be both identity and generated: "
            f"{sorted(overlap)}"
        )
    if cluster_by and part_cols:
        raise ValueError(
            "cluster_by and partition_by are mutually exclusive — "
            "delta-spark refuses clustering on partitioned tables"
        )
    for c in cluster_by or []:
        t = by_name[c]["type"]
        if isinstance(t, dict):
            raise ValueError(f"clustering columns must be atomic: {c!r}")
    for k in table_properties:
        if k.startswith("delta.constraints."):
            raise ValueError(
                f"{k}: add CHECK constraints through "
                "alter_add_constraint after creation (it validates rows)"
            )
        if k == "delta.columnMapping.mode":
            raise ValueError(
                "pass column_mapping= instead of "
                "delta.columnMapping.mode (creation assigns the ids)"
            )
        if (
            k.startswith("delta.")
            and k not in _PLAIN_DELTA_PROPS
            and k not in _FEATURE_DELTA_PROPS
        ):
            raise ValueError(
                f"unknown delta.* property {k!r} — refusing to commit "
                "configuration this writer does not understand"
            )

    # column-level metadata
    for c, spec in identity.items():
        if by_name[c]["type"] != "long":
            raise ValueError(
                f"identity column {c!r} must be LONG, got "
                f"{by_name[c]['type']!r}"
            )
        step = int(spec.get("step", 1))
        if step == 0:
            raise ValueError(f"identity column {c!r}: step must be != 0")
        md = dict(by_name[c].get("metadata") or {})
        md["delta.identity.start"] = int(spec.get("start", 1))
        md["delta.identity.step"] = step
        md["delta.identity.allowExplicitInsert"] = not bool(
            spec.get("always", True)
        )
        by_name[c]["metadata"] = md
        by_name[c]["nullable"] = False
    for c, expr in generated.items():
        md = dict(by_name[c].get("metadata") or {})
        md["delta.generationExpression"] = expr
        by_name[c]["metadata"] = md
    for c in not_null:
        by_name[c]["nullable"] = False

    conf: dict[str, str] = {
        k: str(v) for k, v in table_properties.items()
    }
    schema_string = _fields_to_schema(fields)
    if column_mapping is not None:
        schema_string, cm_conf = _cm_create(fields, column_mapping)
        conf.update(cm_conf)

    want_w: list[str] = []
    want_r: list[str] = []
    if column_mapping is not None:
        want_w.append("columnMapping")
        want_r.append("columnMapping")
    if cluster_by:
        want_w.extend(["clustering", "domainMetadata"])
    if identity:
        want_w.append("identityColumns")
    if generated:
        want_w.append("generatedColumns")
    for k, v in table_properties.items():
        spec = _FEATURE_DELTA_PROPS.get(k)
        if spec and str(v).lower() == "true":
            want_w.extend(spec[0])
            want_r.extend(spec[1])
    return schema_string, conf, want_w, want_r


def alter_cluster_by(
    spark: SparkSession,
    table_dir: str,
    columns: list[str] | None,
) -> dict:
    """ALTER TABLE ... CLUSTER BY (cols) / CLUSTER BY NONE: update (or
    remove, with ``columns=None``) the delta.clustering domain — the
    columns the next OPTIMIZE reclusters by. Existing files are NOT
    rewritten (delta-spark's ALTER CLUSTER BY is the same lazy
    contract); the protocol gains clustering+domainMetadata when the
    table didn't have them. Partitioned tables refuse (clustering and
    partitioning are mutually exclusive); columns must be existing,
    top-level, atomic."""
    root = table_dir.rstrip("/")

    def build(protocol, meta):
        if columns is not None:
            if not columns:
                raise ValueError(
                    "CLUSTER BY needs at least one column (pass "
                    "columns=None for CLUSTER BY NONE)"
                )
            if meta.get("partitionColumns"):
                raise ValueError(
                    "cannot cluster a partitioned table — clustering "
                    "and partitioning are mutually exclusive"
                )
            fields = {f["name"]: f for f in _schema_fields(meta)}
            missing = [c for c in columns if c not in fields]
            if missing:
                raise ValueError(f"no such columns: {missing}")
            complex_c = [
                c for c in columns if isinstance(fields[c]["type"], dict)
            ]
            if complex_c:
                raise ValueError(
                    f"clustering columns must be atomic: {complex_c}"
                )
        actions = []
        upgraded = _upgraded_protocol(
            protocol, ["clustering", "domainMetadata"]
        )
        if upgraded is not None:
            if columns is None:
                return {"version": None, "clustering": None}  # no-op
            actions.append({"protocol": upgraded})
        actions.append(_clustering_domain(columns or []))
        return (
            {"clusterBy": json.dumps(columns or [])},
            actions,
            {"clustering": list(columns) if columns else []},
        )

    return _commit_alter(spark, root, "CLUSTER BY", build)
