"""Physical-plan introspection — the engine's scale feedback loop.

The reference has no optimizer of its own (it delegates SQL to Dremio,
reference README.md:22-23), so "is the plan good?" is a first-class concern
*here*: every operator we expose should broadcast its dimension sides, push
its predicates into the parquet scan, prune columns, and shuffle only where
the semantics require it. This module turns `df.explain("formatted")` into
data so tests can assert those properties instead of eyeballing them.

Usage:
    rep = plan_report(df)
    assert rep.broadcast_joins >= 3
    assert rep.exchanges <= 1
    assert any("l_shipdate" in f for f in rep.pushed_filters)
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan as a string (what .explain prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def simple_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "simple"
    )


def _node_count(plan: str, *names: str) -> int:
    """Count physical nodes by their detail header ``(n) NodeName`` — each
    node appears exactly once there (the tree rendering would double-count)."""
    pat = "|".join(re.escape(n) for n in names)
    return len(re.findall(rf"(?m)^\(\d+\) (?:{pat})\b", plan))


def exchange_count(plan: str) -> int:
    """Number of shuffle exchanges (``Exchange`` nodes). Broadcast exchanges
    are a separate node (``BroadcastExchange``) and AQE-reused exchanges
    (``ReusedExchange``) cost nothing extra — neither is counted."""
    return _node_count(plan, "Exchange")


def broadcast_join_count(plan: str) -> int:
    return _node_count(plan, "BroadcastHashJoin", "BroadcastNestedLoopJoin")


def sortmerge_join_count(plan: str) -> int:
    return _node_count(plan, "SortMergeJoin")


def codegen_span_count(df_or_plan) -> int:
    """Number of WholeStageCodegen spans (from the *simple* plan — the
    formatted rendering hides codegen markers). Wider spans = more operator
    fusion; zero spans on a non-trivial plan means codegen fell back."""
    plan = simple_plan(df_or_plan) if isinstance(df_or_plan, DataFrame) else df_or_plan
    return len(set(re.findall(r"\*\((\d+)\)", plan)))


def pushed_filters(plan: str) -> list[str]:
    """Every non-empty PushedFilters list across all scans."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        body = m.group(1).strip()
        if body:
            out.append(body)
    return out


def scan_read_schemas(plan: str) -> list[str]:
    """ReadSchema of every file scan — the columns actually read off disk.
    A scan whose ReadSchema lists columns the query never uses indicates
    broken column pruning."""
    return [m.group(1) for m in re.finditer(r"ReadSchema: (struct<[^\n]*)", plan)]


def python_row_udf_present(plan: str) -> bool:
    """True if a row-at-a-time Python UDF is in the plan (BatchEvalPython).
    Arrow-vectorized pandas UDFs show as ArrowEvalPython and are fine."""
    return "BatchEvalPython" in plan


@dataclass
class PlanReport:
    exchanges: int
    broadcast_joins: int
    sortmerge_joins: int
    codegen_spans: int
    pushed_filters: list[str] = field(default_factory=list)
    read_schemas: list[str] = field(default_factory=list)
    has_row_python_udf: bool = False
    plan: str = ""

    def scans_read_only(self, *allowed_cols: str) -> bool:
        """True if every scanned column is in ``allowed_cols``."""
        allowed = set(allowed_cols)
        for schema in self.read_schemas:
            for col in re.findall(r"[<,]([A-Za-z_][A-Za-z0-9_]*):", schema):
                if col not in allowed:
                    return False
        return True


def plan_report(df: DataFrame) -> PlanReport:
    plan = formatted_plan(df)
    return PlanReport(
        exchanges=exchange_count(plan),
        broadcast_joins=broadcast_join_count(plan),
        sortmerge_joins=sortmerge_join_count(plan),
        codegen_spans=codegen_span_count(df),
        pushed_filters=pushed_filters(plan),
        read_schemas=scan_read_schemas(plan),
        has_row_python_udf=python_row_udf_present(plan),
        plan=plan,
    )


def executed_plan(df: DataFrame) -> str:
    """The FINAL physical plan after execution — with AQE this differs from
    the static plan (`formatted_plan`): runtime re-planning inserts
    AQEShuffleRead (partition coalescing), ReusedExchange (identical
    subtree reuse), and skew-split reads. Materializes THIS df's plan via
    collect() — df.count() would build (and finalize) a different query —
    so use on bounded/test data only."""
    df.collect()
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def scan_output_rows(df: DataFrame) -> int | None:
    """Execute ``df`` (collect — see executed_plan's caveat) and return the
    file-scan node's ``numOutputRows`` runtime metric: the rows that
    actually left the parquet reader after row-group statistics skipping
    and pushed filters. THE observable for data-layout work (Z-order,
    sorting): plan text shows the same PushedFilters either way; only this
    metric shows whether the statistics actually skipped anything."""
    df.collect()

    def walk(node):
        if node.nodeName() == "AdaptiveSparkPlan":
            node = node.executedPlan()
        yield node
        for i in range(node.children().size()):
            yield from walk(node.children().apply(i))

    for n in walk(df._jdf.queryExecution().executedPlan()):
        if "Scan" in n.nodeName():
            it = n.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "numOutputRows":
                    return kv._2().value()
    return None


def profile_execution(df: DataFrame):
    """EXPLAIN ANALYZE for a DataFrame: execute it and return the executed
    plan's per-node runtime metrics as a (small, driver-side) DataFrame —
    node_id (pre-order position), node, metric, value. The queryable form
    of the Spark UI's SQL tab: rows out of every operator, shuffle bytes
    written/read, spill sizes, broadcast sizes — the numbers that decide
    whether a plan SCALES (metrics accumulate across all tasks, so the
    frame stays node-count-sized at any data size).

    Collapses AdaptiveSparkPlan/QueryStage wrappers to the plans that
    actually ran, and skips reused-exchange bodies (their metrics belong
    to the original).
    """
    df.collect()

    rows: list[tuple[int, str, str, int]] = []
    seen: set[int] = set()

    def walk(node):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan())
            return
        if "QueryStage" in name and hasattr(node, "plan"):
            walk(node.plan())
            return
        nid = node.id()
        first_visit = nid not in seen
        seen.add(nid)
        if first_visit:
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                rows.append((nid, name, kv._1(), kv._2().value()))
        if "ReusedExchange" in name:
            return
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    spark = df.sparkSession
    if not rows:
        return spark.createDataFrame(
            [], "node_id long, node string, metric string, value long"
        )
    return spark.createDataFrame(
        [(int(a), b, c, int(d)) for a, b, c, d in rows],
        "node_id long, node string, metric string, value long",
    )
