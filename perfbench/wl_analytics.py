"""analytics_mix: the batch registry as a closed loop of one client.

One op builds a registry query's DataFrame and materializes it with a noop
write. The mix holds a query for every operator family that a registry
query reaches (``operators/layout`` has no registry query), the cheapest
one where a family has several, plus the build-heavy queries whose Python
build and eager jobs outweigh their execution. The seed draws the tables;
every pass runs the queries in the fixed order of ``MIX``.
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

import duckdb

import gen

# query -> operator family it stands for
MIX = {
    "doc_fingerprints": "text",
    "profile_orders": "profiling",       # exact multi-column distinct profile
    "event_attribution": "analytics",    # three credit models over events
    "knn_l2": "vector",                  # brute-force top-k
    "events_asof_click": "joins",
    "order_lines_nested": "aggregates",
    "top_orders_per_customer": "topk",
    "exact_dedup_groups": "dedup",
    "doc_hash_split": "sampling",
    "events_scd2": "timeseries",
    "recent_orders": "scans",
    "kmv_distinct_users": "sketch",
    "classifier_scored_docs": "classifier",
    "salted_flag_totals": "skew",
}
# operator families with no query in the mix, and why
LEFT_OUT = {
    "graph": "supplier_pagerank / _triangles / _clustering cost 4-15 s cold, 2-3 s warm",
    "multimodal": "media_features costs ~4 s cold, ~1.5 s warm",
    "layout": "no registry query reaches operators.layout",
}
SF = 0.01
# passes per 10 s of --seconds; one pass times ~9 s of ops on 4 cores
PASSES_PER_10S = 1


class Workload:
    def __init__(self, spark, work: str, seed: int):
        from mcp_hubspot_spark.workload import ORACLES, QUERIES

        self.spark = spark
        self.seed = seed
        self.data = os.path.join(work, "tables")
        self.queries = QUERIES
        self.oracles = ORACLES
        self.query_times: dict[str, list[float]] = {q: [] for q in MIX}
        self.cold_times: dict[str, float] = {}
        self.setup_failures: list[str] = []
        self.setup_checks = 0
        self.setup_phases: dict[str, float] = {}

    # ------------------------------------------------------------ set-up
    def setup(self, _run_op) -> None:
        t0 = time.perf_counter()
        gen.batch_tables(self.data, self.seed, SF)
        self.setup_phases["generate"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        con = duckdb.connect()
        for f in sorted(os.listdir(self.data)):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(self.data, f)}'"
            )
        # the cold pass doubles as the output check: every query is
        # collected once and compared with its DuckDB oracle. It is the only
        # warm-up, so the timed pass is each query's 2nd run (README); one
        # more untimed pass would add ~12 s to every run of a budget that
        # has no room for it.
        for q in MIX:
            self.setup_checks += 1
            t1 = time.perf_counter()
            try:
                df = self.queries[q](self.spark, self.data)
                got = [tuple(r) for r in df.collect()]
                res = con.execute(self.oracles[q])
                want_cols = [d[0] for d in res.description]
                ok = _same(got, list(df.columns), res.fetchall(), want_cols)
            except Exception:  # noqa: BLE001 -- a failing query is a result
                traceback.print_exc(file=sys.stderr)
                ok = False
            self.cold_times[q] = time.perf_counter() - t1
            if not ok:
                self.setup_failures.append(q)
        con.close()
        self.setup_phases["check_pass"] = time.perf_counter() - t0

    # --------------------------------------------------------------- ops
    def ops(self, passes: int) -> list["Op"]:
        names = [q for _ in range(passes) for q in MIX]
        return [Op(i, q, self) for i, q in enumerate(names)]

    def extra(self) -> dict:
        return {"query_times_s": self.query_times, "cold_times_s": self.cold_times,
                "oracle_failures": self.setup_failures,
                "setup_phases_s": self.setup_phases}


class Op:
    kind = "read"
    rows = 0

    def __init__(self, op_id: int, query: str, wl: Workload):
        self.op_id = op_id
        self.query = query
        self.name = f"workload.{query}"
        self.wl = wl

    def run(self, tracer):
        wl = self.wl
        with tracer.span("build", self.op_id):
            df = wl.queries[self.query](wl.spark, wl.data)
        with tracer.span("plan", self.op_id):
            tracer.plan(df)
        with tracer.span("exec", self.op_id):
            df.write.format("noop").mode("overwrite").save()
        return None

    def check(self, _result, latency_s: float) -> bool:
        # correctness was settled against the oracle in set-up; the timed
        # noop write returns no rows
        self.wl.query_times[self.query].append(latency_s)
        return True


def _norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def nv(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else round(v, 6)
        return v

    return sorted(tuple(nv(r[i]) for i in order) for r in rows)


def _same(got, got_cols, want, want_cols) -> bool:
    """Row count, column names and order-insensitive values (floats to 6
    places), the registry's oracle-gate comparison."""
    return (
        sorted(got_cols) == sorted(want_cols)
        and len(got) == len(want)
        and _norm(got, got_cols) == _norm(want, want_cols)
    )
