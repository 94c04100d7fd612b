"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default: ``sources.catalog.DEFAULT_SF_DIR``, the sf0.1 test data) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line: {"metric": ...,
"value": total_sec, "unit": "sec", "queries": {name: sec}, "sf": ...}.

Each query is timed by ``mcp_hubspot_spark.measure``: one cold rep, then
steady reps, each fully materialized through the noop sink, after a
session warm-up. "queries"/"value" report the best steady rep,
"cold_queries"/"cold_total" the cold rep with its one-time codegen. The
full payload, with spreads and per-query job and compile counts, goes to a
file.
"""

from __future__ import annotations

import json
import os
import sys
import time
from functools import partial
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from mcp_hubspot_spark.measure import measure, warm_up  # noqa: E402
from mcp_hubspot_spark.session import get_spark  # noqa: E402
from mcp_hubspot_spark.sources.catalog import DEFAULT_SF_DIR  # noqa: E402
from mcp_hubspot_spark.workload import QUERIES  # noqa: E402

HEADLINE = [
    "pricing_summary",          # partial-agg scan (TPC-H Q1 shape)
    "customer_order_activity",  # 3-way association join + rollup
    "recent_orders",            # top-k by recency (TakeOrderedAndProject)
    "filtered_scan_or_groups",  # OR-of-groups predicate pushdown
    "order_lines_nested",       # nested assembly (collect_list/sort_array)
    "top_orders_per_customer",  # window rank
    "knn_l2",                   # brute-force vector top-k
    "knn_cosine",               # cosine top-k
    "minhash_signatures",       # dedup signature build
    "minhash_lsh_pairs",        # LSH banding near-dup join
    "simhash_fingerprints",     # simhash build
    "ngram_jaccard_pairs",      # inverted-index similarity join
    "embedding_neardup_cosine", # exact cosine near-dup pairs (bounded baseline)
    "embedding_neardup_lsh",    # hyperplane-LSH near-dup — the scale path
    "ivf_search",               # cell-pruned ANN
    "knn_batch",                # multi-query kNN
    "doc_quality",              # text quality features
    "events_hourly",            # tumbling windows
    "events_sessions",          # session windows
    "events_sliding",           # sliding windows
    "media_features",           # mapInPandas multimodal decode
    "shipping_priority",        # TPC-H Q3 shape: selective 3-way join
    "revenue_by_nation",        # TPC-H Q5 shape: full dim chain
    "events_asof_click",        # as-of join (union + window, 1 shuffle)
    "events_near_pairs",        # banded temporal range join
    "events_user_gaps",         # lead/lag window analytics
    "orders_rollup",            # ROLLUP grouping sets
    "salted_flag_totals",       # skew-safe two-phase aggregation
    "knn_batch_matmul",         # Arrow/numpy block-matmul batched kNN
    "corpus_clean_stats",       # composite quality->dedup->stats pipeline
    "dedup_clusters",           # LSH pairs -> connected components
    "contaminated_docs",        # benchmark n-gram decontamination
    "events_funnel",            # conditional-min funnel progression
    "bloom_decontaminated_docs",  # bitset-prefiltered decontamination
    "kmv_distinct_users",       # mergeable bottom-k distinct sketch
    "dedup_lines_docs",         # keep-first global line dedup
    "bm25_search",              # lexical ranked retrieval
    "incremental_dedup_docs",   # new-vs-corpus LSH delta dedup
    "sampled_quantiles_lineitem",  # bottom-m hash-sample quantile sketch
    "profile_orders",           # single-pass per-column table profile
    "events_resampled_locf",    # fixed-grid LOCF gap filling
    "weighted_sample_docs",     # A-ES weighted top-k sampling
    "cms_heavy_hitters",        # count-min-sketch frequency estimates
    "temperature_mixture_docs", # count-derived tempered resampling
    "semantic_dedup_docs",      # SemDeDup cell-bucketed embedding dedup
    "big_order_customers",      # TPC-H Q18 shape: fact pre-agg + join
    "nation_trade_volume",      # TPC-H Q7 shape: 6-table join matrix
    "orders_cube",              # CUBE grouping sets (Expand, one pass)
    "domain_capped_docs",       # two-phase bottom-k per-domain cap
    "semantic_contaminated_docs",  # embedding-space decontamination
    "vocab_coverage",           # top-V vocab build + coverage join
    "events_scd2",              # SCD2 validity-interval assembly
    "greedy_packed_docs",       # no-split next-fit packing (applyInPandas)
    "orders_unpivot",           # wide->long melt (UNPIVOT)
    "rolling_7d_active_users",  # sliding-window DISTINCT via bounded fan-out
    "events_value_outliers_mad",  # grouped exact-median MAD outlier flags
    "user_value_trend",         # decimal-exact grouped least-squares trend
    "dq_violations",            # two-phase DQ rule gate w/ bounded samples
    "order_value_bootstrap_ci", # single-scan Poisson bootstrap CI (64 reps)
    "hard_negatives",           # boundary-mining kNN with label exclusion
    "mixture_plan",             # integer-exact token-budget allocation
    "event_type_lift",          # session co-occurrence association lift
    "orders_monthly_growth",    # MoM/YoY growth over aggregated series
    "bpe_merges",               # iterative BPE vocab training (k rounds)
    "bpe_compression",          # apply learned merges, per-lang ratio
    "orders_value_drift",       # two-window histogram drift (L1)
    "event_funnel",             # first-touch ordered conversion funnel
    "event_transitions",        # Markov next-event transition matrix
    "customer_value_quartiles", # NTILE(4) value segmentation
    "customer_name_linkage",    # deletion-neighborhood edit-distance linkage
    "supplier_triangles",       # degree-oriented triangle counting
    "event_funnel_windowed",    # conversion-deadline funnel
    "supplier_clustering",      # per-node local clustering coefficients
    "hybrid_search_rrf",        # BM25 + kNN reciprocal-rank fusion
    "dsir_selected_docs",       # hashed-bigram importance-resampling selection
    "event_attribution",        # first/last/linear multi-touch credit models
    "ivf_cosine_search",        # cosine-metric cell-pruned ANN
    "substring_dedup_docs",     # exact token-span dedup + keep-first scrub
    "span_decontaminated_docs", # span-level benchmark decontamination
    "ivf_pq_search",            # IVFPQ: cell pruning + asymmetric distance
    "search_mmr_rerank",        # MMR diversity re-rank on fused RRF top-k
    "ivf_pq_residual_search",   # residual IVFPQ: per-probed-cell ADC tables
    "pq_rotated_residual_search",  # rotation+IVF+residual PQ composition
    "hamming_search",           # binary sign quantization, XOR+popcount
    "hamming_rerank_search",    # sign shortlist -> exact rerank serving
    "classifier_scored_docs",   # hashed-feature linear classifier serving
    "blocklist_hit_docs",       # multi-phrase blocklist shingle join
    "corpus_zipf_fit",          # term power-law OLS fit (TakeOrdered top-k)
    "corpus_heaps_fit",         # vocab-growth fit (first-seen min-agg)
    "phrase_occurrences_docs",  # inline positional phrase-match report
    "bm25_batch_search",        # one-scan multi-query BM25 (knn_batch analog)
    "media_resized",            # multimodal resize plumbing (mapInPandas)
    "classifier_auc",           # distinct-score Mann-Whitney ROC AUC
]


# The stdout line must fit a 2000-char tail capture, so it prints a name set
# that only grows (the r13 line's names, core-scaling sentinels), then the slowest.
_R13_PRINTED = [
    "substring_dedup_docs", "profile_orders", "search_mmr_rerank",
    "dedup_clusters", "customer_order_activity", "semantic_dedup_docs",
    "ngram_jaccard_pairs", "order_lines_nested", "bpe_merges",
    "order_value_bootstrap_ci", "dsir_selected_docs",
    "bloom_decontaminated_docs", "pricing_summary", "blocklist_hit_docs",
    "event_type_lift", "bpe_compression", "supplier_clustering",
    "embedding_neardup_lsh", "supplier_triangles", "bm25_batch_search",
    "hybrid_search_rrf", "user_value_trend", "span_decontaminated_docs",
    "events_sessions", "ivf_cosine_search", "nation_trade_volume",
    "revenue_by_nation", "events_scd2", "contaminated_docs",
    "pq_rotated_residual_search", "minhash_signatures",
    "sampled_quantiles_lineitem", "ivf_search", "ivf_pq_residual_search",
    "big_order_customers", "event_attribution", "media_features",
    "events_value_outliers_mad", "embedding_neardup_cosine",
    "corpus_heaps_fit",
]
_SCALING_SENTINELS = [
    "hamming_search", "knn_batch", "ivf_pq_search", "knn_cosine",
    "knn_l2", "knn_batch_matmul", "hamming_rerank_search",
    "classifier_auc", "hard_negatives", "incremental_dedup_docs",
    "phrase_occurrences_docs",
]
LINE_MAX = 1900


def stdout_line(payload: dict, full: str) -> str:
    """The compact stdout line for a bench payload, shorter than LINE_MAX.
    It shrinks instead of failing: trailing fill names go first, then the
    first error's name is cut to 80 chars."""
    timings = payload["queries"]
    pinned = [n for n in _R13_PRINTED + _SCALING_SENTINELS if n in timings]
    fill = sorted((n for n in timings if n not in pinned), key=lambda n: -timings[n])
    line = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": payload["unit"],
        "queries": {k: round(timings[k], 2) for k in dict.fromkeys(pinned + fill)},
        "calib_sec": payload["calib_sec"],
        "calib_shuffle_sec": payload["calib_shuffle_sec"],
        "calib_series_median": payload["calib_series_median"],
        "n_queries": len(timings),
        "full": full,
        "sf": payload["sf"],
    }
    if payload.get("errors"):
        line["n_errors"] = len(payload["errors"])
        line["first_error"] = next(iter(payload["errors"]))

    def encode() -> str:
        return json.dumps(line, separators=(",", ":"))

    while len(encode()) >= LINE_MAX and len(line["queries"]) > 1:
        line["queries"].pop(next(reversed(line["queries"])))
    if len(encode()) >= LINE_MAX and "first_error" in line:
        line["first_error"] = line["first_error"][:80]
    return encode()


def _median_time(job, n: int = 3) -> float:
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        job()
        times.append(time.perf_counter() - t0)
    return round(sorted(times)[n // 2], 4)


def main() -> None:
    # SPARK_GRAFT_BENCH_ALL=1 benches every registered query (the
    # BENCH_LOCAL_r*.json artifacts) instead of the headline set
    bench_all = os.environ.get("SPARK_GRAFT_BENCH_ALL") == "1"
    names = list(QUERIES) if bench_all else HEADLINE
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark)

    # Fixed CPU-bound and shuffle-bound jobs let bench_compare.py adjust totals
    # for host drift across sessions; the two axes drift independently.
    def cpu_calib() -> None:
        spark.range(50_000_000).selectExpr(  # the modulo keeps the sum in a long
            "sum(xxhash64(id) % 100000)", "avg(id * 2.5)"
        ).collect()

    def shuffle_calib() -> None:
        spark.range(10_000_000).selectExpr(
            "id % 100000 AS k", "id AS v"
        ).repartition(64, "k").groupBy("k").agg(
            {"v": "sum"}
        ).selectExpr("sum(`sum(v)`)").collect()

    calib = _median_time(cpu_calib)
    calib_shuffle = _median_time(shuffle_calib)

    # One CPU-calib rep every CALIB_EVERY queries samples the load the
    # queries saw; bench_compare.py trusts the series median.
    CALIB_EVERY = 25
    calib_series: list[float] = []
    records: dict[str, dict] = {}
    for i, name in enumerate(names):
        if i and i % CALIB_EVERY == 0:
            calib_series.append(_median_time(cpu_calib, n=1))
        records.update(measure(spark, {name: partial(QUERIES[name], spark, DEFAULT_SF_DIR)}))

    ok = {n: r for n, r in records.items() if "error" not in r}
    timings = {n: r["best_s"] for n, r in ok.items()}
    # "value" sums only the surviving queries: any "errors" key
    # invalidates cross-run comparison of the total
    errors = {n: r["error"] for n, r in records.items() if "error" in r}
    total = round(sum(timings.values()), 3)
    try:
        sf = float(DEFAULT_SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = None
    payload = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread_queries": {n: r["spread_s"] for n, r in ok.items()},
        "cold_queries": {n: r["cold_s"] for n, r in ok.items()},
        "cold_total": round(sum(r["cold_s"] for r in ok.values()), 3),
        "jobs_queries": {n: r["jobs"] for n, r in ok.items()},
        "compiles_queries": {n: r["compiles"] for n, r in ok.items()},
        "calib_sec": calib,
        "calib_shuffle_sec": calib_shuffle,
        "calib_series": calib_series,
        "calib_series_median": (
            round(sorted(calib_series)[len(calib_series) // 2], 4)
            if calib_series
            else None
        ),
        "sf": sf,
    }
    if errors:
        payload["errors"] = errors
    # A full-registry run has its own artifact, so a headline run cannot
    # overwrite the only full-coverage record.
    default_name = "BENCH_LOCAL_FULL.json" if bench_all else "BENCH_LOCAL.json"
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        str(Path(__file__).resolve().parent / default_name),
    )
    Path(out_path).write_text(json.dumps(payload, indent=1) + "\n")
    spark.stop()
    # printed after spark.stop() so the JSON is the last stdout line, past
    # any shutdown log noise
    print(stdout_line(payload, Path(out_path).name), flush=True)


if __name__ == "__main__":
    main()
