"""lake_query — one client in a closed loop over the lake's read surface.

Set-up turns TPC-H-shaped ``lineitem`` and ``orders`` into native Delta
tables (several commits, with a checkpoint and a commit after it) and
lands order events as a partitioned parquet lake table through
``IngestJob``. The timed loop cycles through SQL operations: re-register
the views the text reads at the latest snapshot (``register_delta_view`` /
``register_lake_table``), run the fixed SQL text with ``spark.sql`` and
collect (TPC-H q1/q3/q5/q6/q9/q18, a selective key range, a
partition-pruned filter).

A traced run also makes one curation pass after the loop: it builds and
collects each registry entry (MinHash LSH, span dedup, quality scores,
sequence packing, IVF-PQ, kNN graph) on generated ``documents`` and
``embeddings`` tables, after one untraced warm-up pass. An untraced run
leaves the pass out: with its warm-up it would take longer than the loop.

Every result is compared with DuckDB's answer on the source data,
computed once before timing: the SQL text itself for the SQL operations,
the entry's registered oracle SQL for the curation entries.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np

from perfbench import gen
from perfbench.common import pct, say
from perfbench.oracle import same_rows

N_LINEITEM = 40_000
N_EVENTS = 3_000
LI_COMMITS = 4
CHECKPOINT_INTERVAL = 2
N_DOCS = 500
N_EMB = 300
LAKE_DB = "lake"
LAKE_TABLE = "orders_events"

QUERIES = {
    "q1": ("lineitem",), "q3": ("lineitem", "orders"), "q5": ("lineitem", "orders"),
    "q6": ("lineitem",), "q9": ("lineitem", "orders"), "q18": ("lineitem", "orders"),
    "key_range": ("lineitem",), "partition": (),
}

# registry entry → operators-layer metric stem
ENTRIES = {
    "dedup_minhash_lsh": "minhash_lsh",
    "dedup_span_exact": "span_dedup",
    "text_quality_scores": "quality",
    "text_sequence_packing": "packing",
    "sim_ivf_pq_topk": "ivf_pq",
    "x_knn_graph_full": "knn_graph",
}

SQL = {
    "q1": """
SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
       SUM(l_extendedprice) AS sum_base_price,
       SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
       SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
       AVG(l_quantity) AS avg_qty, AVG(l_extendedprice) AS avg_price,
       AVG(l_discount) AS avg_disc, COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q3": """
SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS revenue, o_orderdate
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""",
    "q5": """
SELECT n_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "q6": """
SELECT SUM(l_extendedprice * l_discount) AS revenue FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
    "q9": """
SELECT n_name AS nation, YEAR(o_orderdate) AS o_year,
       SUM(l_extendedprice * (1 - l_discount)) AS sum_profit
FROM part, supplier, lineitem, orders, nation
WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey AND o_orderkey = l_orderkey
  AND s_nationkey = n_nationkey AND p_name LIKE '%green%'
GROUP BY n_name, YEAR(o_orderdate) ORDER BY nation, o_year DESC""",
    "q18": """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, SUM(l_quantity) AS qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
                     HAVING SUM(l_quantity) > 250)
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100""",
    "key_range": """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
WHERE l_orderkey BETWEEN {lo} AND {hi}""",
    "partition": """
SELECT rtdl_table, COUNT(*) AS n, SUM(amount) AS amount FROM {lake}
WHERE rtdl_bucket = '{bucket}' GROUP BY rtdl_table""",
}
N_RANGES = 8
N_BUCKETS = 6


class LakeQuery:
    name = "lake_query"

    def __init__(self, work: str, seed: int, seconds: float):
        """Renders every input and its DuckDB answers before a session exists."""
        import duckdb

        from rtdl_spark.queries import all_oracles, all_queries

        self.work = work
        self.seconds = float(seconds)
        tables = gen.tpch_tables(seed, N_LINEITEM)
        self.lineitem = tables["lineitem"]
        self.orders = tables["orders"]
        self.src = os.path.join(work, "src")
        os.makedirs(self.src)
        for name, df in tables.items():
            df.to_parquet(os.path.join(self.src, f"{name}.parquet"), index=False)
        self.fixture = os.path.join(work, "fixture")
        os.makedirs(self.fixture)
        gen.documents(seed, N_DOCS).to_parquet(
            os.path.join(self.fixture, "documents.parquet"), index=False)
        gen.embeddings(seed, N_EMB).to_parquet(
            os.path.join(self.fixture, "embeddings.parquet"), index=False)
        events = gen.order_events(seed, N_EVENTS)
        self.events_dir = os.path.join(work, "events")
        os.makedirs(self.events_dir)
        with open(os.path.join(self.events_dir, "events.json"), "w") as fh:
            fh.write("".join(json.dumps(e) + "\n" for e in events))

        rng = np.random.default_rng(seed + 5)
        n_orders = int(self.orders["o_orderkey"].max()) + 1
        los = rng.integers(0, max(1, n_orders - 40), N_RANGES)
        days = sorted({e["ts"][:10] for e in events})
        buckets = [days[int(i)] for i in rng.integers(0, len(days), N_BUCKETS)]
        self.ops: list[tuple[str, str]] = []  # (kind, SQL text) in loop order
        for i in range(max(N_RANGES, N_BUCKETS)):
            for kind in QUERIES:
                if kind == "key_range":
                    lo = int(los[i % N_RANGES])
                    self.ops.append((kind, SQL[kind].format(lo=lo, hi=lo + 30)))
                elif kind == "partition":
                    self.ops.append((kind, SQL[kind].format(
                        lake=f"{LAKE_DB}.{LAKE_TABLE}", bucket=buckets[i % N_BUCKETS])))
                else:
                    self.ops.append((kind, SQL[kind]))
        self.registry = all_queries()

        con = duckdb.connect()
        for name in tables:
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.src, name + '.parquet')}')")
        for name in ("documents", "embeddings"):
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet("
                    f"'{os.path.join(self.fixture, name + '.parquet')}')")
        con.sql(
            f"CREATE SCHEMA {LAKE_DB}; CREATE VIEW {LAKE_DB}.{LAKE_TABLE} AS "
            "SELECT type AS rtdl_table, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') "
            f"AS rtdl_bucket, amount FROM read_json_auto('{self.events_dir}/*.json')"
        )
        oracles = all_oracles()
        self.expected = {}
        for kind, text in self.ops + [("curation", entry) for entry in ENTRIES]:
            if text not in self.expected:
                res = con.sql(oracles[text] if kind == "curation" else text)
                self.expected[text] = ([d[0] for d in res.description], res.fetchall())
        con.close()

    def attach(self, spark) -> None:
        self.spark = spark

    # -- set-up -----------------------------------------------------------
    def setup(self, rep: int) -> None:
        """Delta tables (lineitem: several appends with a checkpoint and a
        commit after it; orders: an append and a MERGE), the lake table
        through IngestJob, dimension views and a fresh copy of the curation
        tables (so no cached schema applies)."""
        from rtdl_spark import catalog
        from rtdl_spark.config import StreamConfig, StreamRegistry
        from rtdl_spark.ingest import IngestJob
        from rtdl_spark.sources import delta_writer

        base = os.path.join(self.work, f"rep{rep}")
        self.delta = {"lineitem": os.path.join(base, "lineitem"),
                      "orders": os.path.join(base, "orders")}
        li = self.lineitem
        bounds = np.linspace(0, len(li), LI_COMMITS + 1).astype(int)
        for a, b in zip(bounds[:-1], bounds[1:]):
            delta_writer.write_delta_native(
                self.spark, self.spark.createDataFrame(li.iloc[a:b]), self.delta["lineitem"],
                checkpoint_interval=CHECKPOINT_INTERVAL,
            )
        # orders land with a stale total price on one order in ten (q18
        # reads it), and a MERGE brings those rows to their final values
        stale = self.orders.copy()
        fix = stale["o_orderkey"] % 10 == 0
        stale.loc[fix, "o_totalprice"] = 0.0
        delta_writer.write_delta_native(
            self.spark, self.spark.createDataFrame(stale), self.delta["orders"],
            checkpoint_interval=CHECKPOINT_INTERVAL,
        )
        delta_writer.merge_into_delta_native(
            self.spark, self.delta["orders"], self.spark.createDataFrame(self.orders[fix]),
            on=["o_orderkey"],
        )
        self.spark.sql(f"DROP DATABASE IF EXISTS `{LAKE_DB}` CASCADE")
        registry = StreamRegistry(os.path.join(base, "configs"))
        registry.create(StreamConfig(
            stream_id=gen.CANON_ID, message_type="orders", folder_name=LAKE_DB,
            partition_time_id=2,
        ))
        self.lake_root = os.path.join(base, "lake")
        job = IngestJob(self.spark, registry, self.lake_root, time_source="event",
                        register_catalog=False)
        job.ingest_json_dir(self.events_dir)
        for name in ("customer", "supplier", "nation", "region", "part"):
            catalog.table(self.spark, self.src, name).createOrReplaceTempView(name)
        self.sf_dir = os.path.join(base, "fixture")
        shutil.copytree(self.fixture, self.sf_dir)

    def warmup(self, tracer) -> None:
        """One untimed run of every curation entry, before a traced run
        measures. Their first runs start Python workers and take twice as
        long as later ones. The SQL operations need none: after the set-up
        has read and written the same tables they run as fast the first
        time as later."""
        for entry in ENTRIES:
            self._op("curation", entry, tracer)

    # -- measurement ------------------------------------------------------
    def _op(self, kind: str, text: str, tracer):
        from rtdl_spark import catalog

        if kind == "curation":
            with tracer.span("queries.build", "queries", jobs=True):
                df = self.registry[text](self.spark, self.sf_dir)
        else:
            with tracer.span("catalog.views", "catalog", jobs=True):
                for view in QUERIES[kind]:
                    catalog.register_delta_view(self.spark, self.delta[view], view)
                if kind == "partition":
                    catalog.register_lake_table(
                        self.spark, LAKE_DB, LAKE_TABLE, os.path.join(self.lake_root, LAKE_DB)
                    )
            with tracer.span("queries.build", "queries", jobs=True):
                df = self.spark.sql(text)
        with tracer.span("queries.exec", "queries", jobs=True):
            rows = df.collect()
        return df, rows

    def measure(self, tracer) -> dict:
        lat: list[float] = []
        results = []
        t_start = time.time()
        t_end = t_start + self.seconds
        cycle = len(QUERIES)
        i = 0
        while True:
            # whole cycles only; another starts if it would end within the
            # window
            if i and i % cycle == 0:
                per_cycle = (time.time() - t_start) / (i // cycle)
                if time.time() + per_cycle > t_end:
                    break
            kind, text = self.ops[i % len(self.ops)]
            with tracer.op(f"query.{kind}", "queries") as sp:
                t0 = time.time()
                df, rows = self._op(kind, text, tracer)
                ms = (time.time() - t0) * 1000.0
            if sp is not None:
                sp.extra.update(files_scan_ratio(self.spark, df, QUERIES[kind]))
            lat.append(ms)
            results.append((kind, text, df.columns, [tuple(r) for r in rows]))
            i += 1
        elapsed = time.time() - t_start
        named = {
            "query_p50_ms": (pct(lat, 0.5), "ms"),
            "query_p90_ms": (pct(lat, 0.9), "ms"),
        }
        if tracer.enabled:
            t0 = time.time()
            for entry in ENTRIES:
                with tracer.op(f"operators.{ENTRIES[entry]}", "operators"):
                    df, rows = self._op("curation", entry, tracer)
                results.append(("curation", entry, df.columns, [tuple(r) for r in rows]))
            named["pass_s"] = (time.time() - t0, "s")
        self.results = results
        say(f"lake_query: {len(lat)} SQL queries, {len(results) - len(lat)} curation entries")
        return {
            "latency": lat,
            "throughput": len(lat) / elapsed,
            "attempted": len(results),
            "named": named,
        }

    def verify(self) -> tuple[int, list[str]]:
        failed, notes = 0, []
        for kind, text, cols, rows in self.results:
            want_cols, want = self.expected[text]
            why = same_rows(cols, rows, want_cols, want)
            if why:
                failed += 1
                notes.append(f"{text if kind == 'curation' else kind}: {why}")
        return failed, notes


def files_scan_ratio(spark, df, views: tuple[str, ...]) -> dict:
    """Files the executed plan read from the Delta views over the files in
    their snapshots, summed over every scan of them (a view scanned twice
    counts its snapshot twice). A file scan belongs to a view by its
    column prefix (``l_`` lineitem, ``o_`` orders)."""
    if not views:
        return {}
    snapshot = {v[0] + "_": len(spark.table(v).inputFiles()) for v in views}
    read = total = 0

    def walk(node):
        nonlocal read, total
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan())
            return
        if "QueryStage" in name and hasattr(node, "plan"):
            walk(node.plan())
            return
        if "Scan" in name and node.output().size() > 0:
            prefix = node.output().apply(0).name()[:2]
            if prefix in snapshot:
                total += snapshot[prefix]
                it = node.metrics().iterator()
                while it.hasNext():
                    kv = it.next()
                    if kv._1() == "numFiles":
                        read += kv._2().value()
        for j in range(node.children().size()):
            walk(node.children().apply(j))

    walk(df._jdf.queryExecution().executedPlan())
    return {"files_read": read, "files_total": total}
