"""SHALLOW CLONE for native Delta tables (r9).

``clone_delta_native`` creates a NEW table whose version-0 commit
REFERENCES the source's active data files by absolute path — zero data
is copied (delta-spark's ``CREATE TABLE ... SHALLOW CLONE`` semantics,
per the public Delta protocol: an add action's ``path`` may be an
absolute path, which this repo's reader/DML stack resolves via
``posixpath.join`` everywhere — a join with an absolute second operand
IS the absolute path).

What the clone shares and what it owns:
- Data files are SHARED until first touch: DML on the clone
  (DELETE/UPDATE/MERGE/OPTIMIZE) is copy-on-write — the rewrite stages
  into the CLONE's directory and tombstones the absolute source path,
  so the source table never changes. Appends land in the clone's root.
- Schema, partitioning, configuration, protocol and live
  domainMetadata (clustering state, row-tracking watermark) carry
  over; the table id is FRESH (it is a different table), and an
  in-commit-timestamp table's enablement point is the clone's own
  version 0.
- Deletion vectors carry over with their descriptors rewritten to the
  absolute ``p`` storage form — the relative ``u`` form resolves
  against the table root, which is now the wrong directory.
- txn (SetTransaction) state does NOT carry: streaming writers'
  exactly-once watermarks identify an (app, TABLE) pair.

Caveats (delta-spark parity, documented not silent):
- VACUUM on the SOURCE can reap files a clone still references —
  exactly delta-spark's shallow-clone caveat. VACUUM on the CLONE is
  safe: it only lists files under the clone's own root, so shared
  absolute-path files are never candidates.
- Cloning a table whose log carries active absolute-path adds from a
  PREVIOUS clone simply passes them through (they are already
  absolute).

Reference: rtdl delegates table management to delta-spark
(deltawriter/delta_writer.py:88-94); semantics per the public Delta
protocol (add.path "relative ... or absolute path") and delta-spark's
SHALLOW CLONE documentation.
"""

from __future__ import annotations

import posixpath
import urllib.parse
import uuid

from pyspark.sql import SparkSession

from rtdl_spark.sources.delta_reader import (
    _check_protocol,
    snapshot_actions,
    snapshot_domains,
)
from rtdl_spark.sources.delta_writer import (
    _check_writer_protocol,
    _commit_new,
    _now_ms,
    _plain,
    _table_exists,
)
from rtdl_spark.sources.dv import dv_absolute_path


def clone_delta_native(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    version: int | None = None,
) -> dict:
    """CREATE TABLE <target> SHALLOW CLONE <source> [VERSION AS OF
    ``version``]: one commit at the target referencing the source
    snapshot's active files by absolute path. The target must not
    already be a Delta table (clone CREATES; replacing an existing
    table is a different, destructive operation this deliberately
    refuses). Returns {"version": 0, "source_version",
    "files_referenced"}."""
    src = source_dir.rstrip("/")
    dst = target_dir.rstrip("/")
    if _plain(src) == _plain(dst):
        raise ValueError("cannot clone a table onto itself")
    if _table_exists(spark, dst):
        raise ValueError(
            f"target {dst} is already a Delta table — shallow clone "
            "CREATES a new table (drop the target first if you mean it)"
        )
    protocol, meta, active, src_version, _txns = snapshot_actions(
        spark, src, version
    )
    _check_protocol(protocol)
    _check_writer_protocol(protocol)

    actions: list[dict] = [
        {"protocol": dict(protocol)},
        {
            "metaData": {
                **meta,
                "id": str(uuid.uuid4()),  # a clone is a DIFFERENT table
                "createdTime": _now_ms(),
            }
        },
    ]
    # live domain state carries over (clustering columns, row-tracking
    # watermark — the cloned adds keep their baseRowIds, so the
    # watermark MUST come too or fresh appends would re-issue them)
    for name, d in sorted(snapshot_domains(spark, src).items()):
        if not d.get("removed"):
            actions.append(
                {
                    "domainMetadata": {
                        "domain": name,
                        "configuration": d.get("configuration"),
                        "removed": False,
                    }
                }
            )
    for log_path in sorted(active):
        a = dict(active[log_path])
        # log paths are root-relative and URL-encoded (or already
        # absolute from a prior clone) — resolve, then re-encode
        abs_path = posixpath.join(src, urllib.parse.unquote(log_path))
        a["path"] = urllib.parse.quote(abs_path, safe="/=")
        a["dataChange"] = True  # every row is new TO THIS TABLE
        dv = a.get("deletionVector")
        if dv and dv.get("storageType") == "u":
            # the relative form resolves against the table root — wrong
            # directory from the clone; rewrite to the absolute 'p' form
            a["deletionVector"] = {
                **dv,
                "storageType": "p",
                "pathOrInlineDv": dv_absolute_path(src, dv),
            }
        actions.append({"add": a})

    _commit_new(
        spark, dst, "CLONE", {"source": src, "sourceVersion": src_version},
        actions,
        f"target {dst} gained a Delta log concurrently — clone refuses "
        "to race a table creation",
    )
    return {
        "version": 0,
        "source_version": src_version,
        "files_referenced": len(active),
    }
