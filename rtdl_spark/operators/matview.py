"""Incrementally maintained materialized aggregate views over a Delta
table — the lakehouse MV refresh loop, composed from two existing
primitives: the source's commit log says WHICH rows are new, and
``merge_aggregates`` folds their (tiny) partial aggregate into the
persisted rollup.

Refresh cost therefore tracks the DELTA, not the table: appending a batch
to a 100 TB fact table and refreshing a rollup re-reads only the files
that batch's commits added. A commit that removes data (overwrite,
DELETE, UPDATE, MERGE — any ``remove`` with ``dataChange: true``)
invalidates the increment, and so does a commit that log cleanup has
already dropped; refresh then falls back to one full recompute — the
same rule Delta/materialized-view engines apply when the source history
is rewritten. OPTIMIZE commits (``dataChange: false`` only) change no
rows and stay on the incremental path. The decision reads only the
commit JSON, never data.

The view's state is itself a Delta table: each refresh overwrites it in
one commit carrying ``txn=(app_id, source_version)``, so the absorbed
source version is the table's own SetTransaction watermark
(``last_txn_version``). A crashed refresh commits nothing and the next
one redoes it; readers of the previous state keep reading its files,
which the overwrite only tombstones. ``vacuum_delta_native`` on the view
directory reaps superseded state files.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rtdl_spark.operators.merge import merge_aggregates
from rtdl_spark.sources.delta_reader import (
    _commit_versions,
    _log_dir,
    _read_json_lines,
    last_txn_version,
    read_delta_native,
    read_table_changes_cdf,
)
from rtdl_spark.sources.delta_writer import write_delta_native


class MaterializedAggView:
    """A persisted groupBy-sum rollup of the Delta table at
    ``source_dir``, refreshed incrementally. ``sum_cols`` maps output
    column -> source expression (SQL string) summed per key; a row count
    ``n`` is always maintained, so averages derive downstream (sum/n)
    without extra state."""

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        view_dir: str,
        keys: list[str],
        sum_cols: dict[str, str],
    ) -> None:
        self.spark = spark
        self.source = source_dir.rstrip("/")
        self.root = view_dir.rstrip("/")
        self.keys = list(keys)
        self.sum_cols = dict(sum_cols)
        # keyed by source: a view re-pointed at another table never
        # mistakes its old watermark for progress on the new one
        self.app_id = f"matview:{self.source}"

    # -- state bookkeeping -------------------------------------------------
    def refreshed_version(self) -> int | None:
        """Latest source version the view has fully absorbed."""
        return last_txn_version(self.spark, self.root, self.app_id)

    def frame(self) -> DataFrame:
        """The rollup as of the last refresh (raises before the first)."""
        return read_delta_native(self.spark, self.root)

    # -- refresh -----------------------------------------------------------
    def _partial(self, rows: DataFrame) -> DataFrame:
        return rows.groupBy(*self.keys).agg(
            *[
                F.sum(F.expr(expr)).alias(out)
                for out, expr in self.sum_cols.items()
            ],
            F.count(F.lit(1)).alias("n"),
        )

    def _append_only(self, logged: list[int], done: int, target: int) -> bool:
        """True when every source commit in (done, target] is still in
        the log and removes no data."""
        have = set(logged)
        for v in range(done + 1, target + 1):
            if v not in have:
                return False
            path = posixpath.join(_log_dir(self.source), f"{v:020d}.json")
            for action in _read_json_lines(self.spark, path):
                if "remove" in action and action["remove"].get(
                    "dataChange", True
                ):
                    return False
        return True

    def refresh(self) -> int:
        """Bring the view up to the source's latest version; returns that
        version. Increment path when every new commit only adds data;
        full recompute otherwise (or on the first refresh)."""
        logged = _commit_versions(self.spark, self.source)
        if not logged:
            raise ValueError(f"source table {self.source} has no commits")
        target = logged[-1]
        done = self.refreshed_version()
        if done == target:
            return target

        if done is not None and self._append_only(logged, done, target):
            inserts = read_table_changes_cdf(
                self.spark, self.source, done + 1, target,
                allow_unrecorded=True,
            ).filter(F.col("_change_type") == "insert")
            state = merge_aggregates(
                self.frame(),
                self._partial(inserts),
                self.keys,
                list(self.sum_cols),
            )
        else:
            state = self._partial(
                read_delta_native(self.spark, self.source, version=target)
            )
        write_delta_native(
            self.spark, state, self.root, mode="overwrite",
            txn=(self.app_id, target),
        )
        return target
