"""serving: one MCP agent session against the serving tier.

A round calls every op once, in a fixed order, as the agent calls its
tools in turn: three ``Engine`` tools with a ``VectorStore`` attached
(``get_tickets`` appends its answer to the store, a write;
``search_data`` reads it back) and reads of a persisted ``IvfIndex``, a
``TextIndex`` and ``hybrid_rrf_serve`` over a clustered, generated
corpus. Set-up builds both indexes from the corpus, so it runs the
stores' lock, build-sentinel and manifest-commit code.

Every answer is checked against ground truth computed in Python and numpy
from the generated rows; ``create_contact`` must report exactly the
planted duplicates.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

import gen

N_DOCS = 6_000
N_CELLS = 16
NPROBE = 4
CRM_N = 60
# op -> name of the call it times. Warm-up and every round call each once
# in this order, so the store holds as many rows at every search_data call
# whatever the seed, and holds rows before the first one.
OP_NAMES = {
    "get_tickets": "api.get_tickets",
    "create_contact": "api.create_contact",
    "search_data": "api.search_data",
    "ivf_search": "vector_store.ivf_search",
    "text_search": "text_index.search",
    "hybrid_rrf": "serving.hybrid_rrf",
}
# passes (rounds) per 10 s of --seconds; one round times ~6 s of ops on
# 4 cores (README)
PASSES_PER_10S = 2
# tools that append their answer to the vector store
INDEXED_TOOLS = {"get_tickets"}


class Workload:
    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.corpus = gen.Corpus(seed, N_DOCS)
        self.recalls: dict[str, list[float]] = {k: [] for k in ("ivf", "hybrid")}
        self.check_failures: list[str] = []
        self.setup_checks = 0  # every check here runs on a timed op
        self.setup_failures: list[str] = []
        self.setup_phases: dict[str, float] = {}

    # ------------------------------------------------------------ set-up
    def setup(self, run_op) -> None:
        from pyspark.sql import functions as F

        from mcp_hubspot_spark.api import Engine
        from mcp_hubspot_spark.schemas import CRM_SCHEMAS
        from mcp_hubspot_spark.text_index import TextIndex
        from mcp_hubspot_spark.vector_store import IvfIndex, VectorStore

        spark = self.spark
        t0 = time.perf_counter()
        self.crm, batch = gen.crm_tables(self.seed, CRM_N)
        tables = {t: spark.createDataFrame(r, CRM_SCHEMAS[t]) for t, r in self.crm.items()}
        self.contact_batch = spark.createDataFrame(batch, CRM_SCHEMAS["contacts"])
        self.planted = {r[0] for r in batch if r[0].startswith("n")}
        self.store_path = os.path.join(self.work, "store")
        self.engine = Engine(tables, VectorStore(spark, self.store_path))

        self.setup_phases["crm_tables"] = time.perf_counter() - t0
        corpus_file = os.path.join(self.work, "corpus.parquet")
        gen.write_parquet(self.corpus.frame(), corpus_file)
        corpus = spark.read.parquet(corpus_file)
        t0 = time.perf_counter()
        self.ivf = IvfIndex(spark, os.path.join(self.work, "ivf"))
        self.ivf.build(corpus.select(
            F.col("doc_id").alias("vec_id"),
            F.col("embedding").cast("array<double>").alias("embedding"),
        ), n_cells=N_CELLS)
        self.ivf.export_manifest()
        self.setup_phases["ivf_build"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.text = TextIndex(spark, os.path.join(self.work, "text"))
        self.text.build(corpus, num_buckets=16)
        self.setup_phases["text_build"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        # warm-up: each op once, untimed and unchecked
        rng = np.random.default_rng([self.seed, 22])
        for i, kind in enumerate(OP_NAMES):
            run_op(Op(i, kind, self, rng), timed=False)
        self.setup_phases["warm_round"] = time.perf_counter() - t0

    # --------------------------------------------------------------- ops
    def _round(self, round_no: int, first_id: int) -> list["Op"]:
        rng = np.random.default_rng([self.seed, 21, round_no + 100])
        return [Op(first_id + i, k, self, rng) for i, k in enumerate(OP_NAMES)]

    def ops(self, passes: int) -> list["Op"]:
        out: list[Op] = []
        for r in range(passes):
            out += self._round(r, len(out))
        return out

    def store_files(self) -> int:
        return sum(
            f.endswith(".parquet") for _, _, fs in os.walk(self.store_path) for f in fs
        )

    def extra(self) -> dict:
        return {
            "recall_at_10": {k: float(np.mean(v)) for k, v in self.recalls.items() if v},
            "vector_store.store_files": self.store_files(),
            "check_failures": self.check_failures,
            "setup_phases_s": self.setup_phases,
        }


class Op:
    def __init__(self, op_id: int, kind: str, wl: Workload, rng: np.random.Generator):
        self.op_id = op_id
        self.key = kind
        self.name = OP_NAMES[kind]
        self.kind = "write" if kind in INDEXED_TOOLS else "read"
        self.wl = wl
        self.rows = 0
        # arguments are drawn from the round's generator when the op is
        # built, so the op list is a pure function of the seed
        c = wl.corpus
        if kind in ("ivf_search", "hybrid_rrf"):
            self.qvec = c.query_vec(rng)
        if kind == "search_data":
            self.qvec = _unit(rng.standard_normal(gen.DIM))
        if kind in ("text_search", "hybrid_rrf"):
            self.terms = c.query_terms(rng)
        self.limit = int(rng.integers(5, 16))

    # ------------------------------------------------------------- calls
    def run(self, tracer):
        with tracer.span("build", self.op_id):
            df = self._call()
        with tracer.span("plan", self.op_id):
            tracer.plan(df)
        with tracer.span("exec", self.op_id):
            rows = df.collect()
        self.rows = len(rows) if self.key in INDEXED_TOOLS else 0
        return rows

    def _call(self):
        wl, k, e = self.wl, self.key, self.wl.engine
        if k == "ivf_search":
            return wl.ivf.search(self.qvec.tolist(), k=10, nprobe=NPROBE)
        if k == "text_search":
            return wl.text.search(self.terms, k=10)
        if k == "hybrid_rrf":
            from mcp_hubspot_spark.serving import hybrid_rrf_serve

            return hybrid_rrf_serve(wl.text, wl.ivf, self.terms, self.qvec.tolist(),
                                    k=10, nprobe=NPROBE)
        if k == "search_data":
            return e.search_data(self.qvec.tolist(), k=10)
        if k == "get_tickets":
            groups = [[{"propertyName": "hs_ticket_status", "operator": "EQ", "value": "OPEN"}]]
            return e.get_tickets(filter_groups=groups, limit=self.limit)
        return e.create_contact(wl.contact_batch)[1]

    # ------------------------------------------------------------ checks
    def check(self, result, _latency_s: float) -> bool:
        wl = self.wl
        ok = self._check(result)
        if not ok:
            wl.check_failures.append(f"{self.op_id}:{self.name}")
        return ok

    def _check(self, res) -> bool:
        wl, k = self.wl, self.key
        if k in ("ivf_search", "search_data", "text_search", "hybrid_rrf"):
            return self._check_search(res)
        if k == "create_contact":
            return {r.id for r in res} == wl.planted
        # get_tickets: open only, newest modification first, id breaks ties
        open_ = [r for r in wl.crm["tickets"] if r[5] == "OPEN"]
        return [r.id for r in res] == _newest(open_, lambda r: (r[10], r[0]), self.limit)

    def _check_search(self, res) -> bool:
        wl, k, c = self.wl, self.key, self.wl.corpus
        if k == "ivf_search":
            ids = np.array([r.vec_id for r in res])
            true_ids, _ = gen.knn_ids(c.vecs, self.qvec, 10)
            wl.recalls["ivf"].append(len(set(ids) & set(true_ids)) / 10)
            return _distances_ok(c.vecs, self.qvec, ids, [r.distance for r in res])
        if k == "search_data":
            store = pq.read_table(wl.store_path, columns=["vec_id", "embedding"])
            vecs = np.array(store.column("embedding").to_pylist(), dtype=np.float64)
            _, want = gen.knn_ids(vecs, self.qvec, 10)
            got = np.array([r.distance for r in res])
            return len(got) == len(want) and np.allclose(got, want, rtol=1e-6, atol=1e-9)
        if k == "text_search":
            scores = gen.bm25(c.texts, self.terms)
            return _topk_ok(scores, [(r.doc_id, r.score) for r in res], 10)
        # hybrid_rrf
        lex = _ranked(gen.bm25(c.texts, self.terms), 20)
        vec_ids, _ = gen.knn_ids(c.vecs, self.qvec, 20)
        fused: dict[int, float] = {}
        for rank, d in enumerate(lex, 1):
            fused[d] = fused.get(d, 0.0) + 1.0 / (60 + rank)
        for rank, d in enumerate(vec_ids.tolist(), 1):
            fused[d] = fused.get(d, 0.0) + 1.0 / (60 + rank)
        want = set(_ranked(fused, 10))
        wl.recalls["hybrid"].append(len(want & {r.doc_id for r in res}) / 10)
        # scores are rounded to 6 places; allow one unit of rounding
        return len(res) == 10 and all(
            abs(r.rrf_score - (1.0 / (60 + r.lex_rank) if r.lex_rank else 0.0)
                - (1.0 / (60 + r.vec_rank) if r.vec_rank else 0.0)) <= 1e-6
            for r in res)


def _newest(rows, key, limit: int) -> list[str]:
    """Ids of the ``limit`` rows with the largest ``key``: the order of a
    descending sort with a unique tiebreak."""
    return [r[0] for r in sorted(rows, key=key, reverse=True)[:limit]]


def _unit(v: np.ndarray) -> np.ndarray:
    return (v / np.linalg.norm(v)).astype(np.float32)


def _ranked(scores: dict[int, float], k: int) -> list[int]:
    return [d for d, _ in sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]]


def _distances_ok(vecs, q, ids, dists) -> bool:
    """Every returned id is live with its true distance, in order."""
    if len(ids) != 10 or np.any(ids >= len(vecs)):
        return False
    true = ((vecs[ids].astype(np.float64) - q.astype(np.float64)) ** 2).sum(axis=1)
    return bool(np.allclose(dists, true, rtol=1e-6, atol=1e-9) and np.all(np.diff(dists) >= -1e-12))


def _topk_ok(scores: dict[int, float], got: list[tuple[int, float]], k: int) -> bool:
    """Top-k equal to the reference up to ties: the same score sequence,
    and every returned doc carries its true score."""
    want = sorted(scores.values(), reverse=True)[:k]
    return len(got) == len(want) and all(
        abs(scores.get(d, -1.0) - s) < 1e-9 * max(1.0, abs(s)) for d, s in got
    ) and np.allclose([s for _, s in got], want, rtol=1e-9)
