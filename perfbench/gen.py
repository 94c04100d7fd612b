"""Seeded inputs for the benchmark and the numpy ground truth its checks
use.

Everything here is a pure function of its arguments: the same seed gives
the same tables, corpus and CRM rows, so a run's counts (jobs, stages,
tasks, rows, files) repeat for a fixed seed. Nothing here imports Spark;
the workloads hand the written files to the program.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# batch tables: the shapes of the registry's TPC-H-ish test tables, sized
# by a scale factor (sf=1 ~ 6M lineitem rows)

DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
SEGMENTS = np.array(["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
PART_COLORS = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PART_NOUNS = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def write_parquet(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def batch_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten batch tables under ``out_dir``; returns row counts."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 20)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 200)
    n_ev = max(int(1_000_000 * sf), 1_000)
    n_doc = max(int(50_000 * sf), 100)
    n_emb = max(int(20_000 * sf), 100)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731

    tables = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
        }),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{PART_COLORS[a]} {PART_NOUNS[b]}"
                for a, b in rng.integers(0, 8, (n_part, 2))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 20_000) / 10, 2),
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(np.array(["P", "O", "F"]), n_ord),
            "o_totalprice": money(900.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }),
    }

    n_line = int(n_ord * 4)
    l_order = np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64)
    starts = np.r_[0, np.flatnonzero(np.diff(l_order)) + 1]
    run_id = np.repeat(np.arange(len(starts)), np.diff(np.r_[starts, n_line]))
    line_no = (np.arange(n_line) - starts[run_id] + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pd.DataFrame({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": line_no,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2_900.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_line),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    })

    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86_400 * 1_000_000
    tables["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": t0 + np.sort(rng.integers(0, month_us, n_ev)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(int(15_000 * sf), 20), n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })

    texts: list[str] = []
    for _ in range(n_doc):
        if texts and rng.random() < 0.05:  # planted near-duplicate
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            words = rng.choice(DOC_WORDS, int(rng.integers(8, 96)))
            texts.append(" ".join(words))
    tables["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    labels = rng.integers(0, 10, n_emb)
    centers = rng.standard_normal((10, 64))
    vecs = centers[labels] + 1.5 * rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32),
    })

    for name, df in tables.items():
        write_parquet(df, os.path.join(out_dir, f"{name}.parquet"))
    return {name: len(df) for name, df in tables.items()}


# --------------------------------------------------------------------------
# serving corpus: clustered vectors + per-cluster vocabulary text

DIM = 64
N_CLUSTERS = 16
VOCAB = [f"t{i:03d}" for i in range(400)]


class Corpus:
    """The serving tier's document table as numpy state: the ground truth
    every index read is checked against. Documents of one cluster share a
    vector neighbourhood and a band of the vocabulary."""

    def __init__(self, seed: int, n_docs: int):
        rng = np.random.default_rng([seed, 2])
        self.centers = 4.0 * rng.standard_normal((N_CLUSTERS, DIM)) / np.sqrt(DIM)
        lab = rng.integers(0, N_CLUSTERS, n_docs)
        self.vecs = (self.centers[lab] + 0.3 * rng.standard_normal((n_docs, DIM))
                     ).astype(np.float32)
        self.texts = []
        for c in lab:
            own = rng.integers(0, 50, 6) + 25 * int(c)
            shared = rng.integers(0, len(VOCAB), 4)
            self.texts.append(" ".join(VOCAB[i % len(VOCAB)] for i in np.r_[own, shared]))

    def frame(self) -> pd.DataFrame:
        return pd.DataFrame({
            "doc_id": np.arange(len(self.texts), dtype=np.int64),
            "text": self.texts,
            "embedding": list(self.vecs),
        })

    def query_vec(self, rng: np.random.Generator) -> np.ndarray:
        c = int(rng.integers(0, N_CLUSTERS))
        return (self.centers[c] + 0.3 * rng.standard_normal(DIM)).astype(np.float32)

    def query_terms(self, rng: np.random.Generator) -> list[str]:
        c = int(rng.integers(0, N_CLUSTERS))
        own = rng.integers(0, 50, 2) + 25 * c
        return [VOCAB[i % len(VOCAB)] for i in own]


def knn_ids(vecs: np.ndarray, q: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k by squared L2 (the program's ``distance``): (ids,
    distances) with id tiebreak."""
    d = ((vecs.astype(np.float64) - q.astype(np.float64)) ** 2).sum(axis=1)
    order = np.lexsort((np.arange(len(d)), d))[:k]
    return order, d[order]


def bm25(texts: list[str], terms: list[str], k1: float = 1.2, b: float = 0.75) -> dict[int, float]:
    """Lucene-idf BM25 over whitespace tokens, as the TextIndex scores."""
    toks = [t.lower().split() for t in texts]
    n = len(toks)
    avgdl = sum(len(t) for t in toks) / n
    terms = sorted({t.lower() for t in terms})
    dfreq = {t: sum(1 for d in toks if t in d) for t in terms}
    scores: dict[int, float] = {}
    for i, d in enumerate(toks):
        s, hit = 0.0, False
        for t in terms:
            tf = d.count(t)
            if tf:
                hit = True
                idf = np.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
                s += idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * len(d) / avgdl))
        if hit:
            scores[i] = s
    return scores


# --------------------------------------------------------------------------
# CRM tables for the agent session

FIRST = ["Ada", "Alan", "Grace", "Edsger", "Barbara", "Donald", "Frances", "John"]
LAST = ["Lovelace", "Turing", "Hopper", "Dijkstra", "Liskov", "Knuth", "Allen", "Backus"]


def crm_tables(seed: int, n: int) -> tuple[dict[str, list[tuple]], list[tuple]]:
    """Rows (in ``CRM_SCHEMAS`` column order) of the CRM tables the session's
    tools read -- ``contacts`` and ``tickets`` -- plus a ``create_contact``
    batch whose ids starting with ``n`` are planted duplicates of existing
    contacts. Timestamps are distinct within a table, so every sorted tool
    answer has one right order. Returns (tables, batch)."""
    rng = np.random.default_rng([seed, 3])
    t0 = datetime(2024, 6, 1)

    def stamps(k):  # k distinct instants within 90 days before t0
        return [t0 - timedelta(seconds=int(s))
                for s in rng.choice(90 * 86_400, k, replace=False)]

    def contact(i, company, ts):
        return (f"p{i}", FIRST[int(rng.integers(0, 8))], f"{LAST[int(rng.integers(0, 8))]}{i}",
                f"user{i}@ex.com", None, company, ts, ts, False)

    ts = stamps(4 * n)
    contacts = [contact(i, f"Company {int(rng.integers(0, n))}", ts[i]) for i in range(4 * n)]
    ts = stamps(2 * n)
    tickets = [
        (f"t{i}", f"subject {i}", f"content {i}", "p0", str(int(rng.integers(1, 5))),
         ["OPEN", "CLOSED"][i % 2], ["open", "closed"][i % 2],
         ["LOW", "MEDIUM", "HIGH"][i % 3], ts[i], None if i % 2 == 0 else ts[i], ts[i])
        for i in range(2 * n)
    ]
    # planted duplicates: half of the batch copies an existing key
    dups = [contacts[int(i)] for i in rng.choice(len(contacts), 4, replace=False)]
    batch = [(f"n{r[0]}",) + r[1:] for r in dups]
    batch += [contact(10_000 + i, "Fresh Co", t0) for i in range(4)]
    return {"contacts": contacts, "tickets": tickets}, batch
