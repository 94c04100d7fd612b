"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is fully materialized via a noop write (forces every operator,
no driver-collect cost for large results). The session is warmed with a
trivial job first so JVM startup isn't attributed to the first query.
Each query runs twice; "queries"/"value" report the steady-state (second)
run, "cold_queries"/"cold_total" the first run including one-time codegen.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from mcp_hubspot_spark.session import get_spark  # noqa: E402
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


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # SPARK_GRAFT_BENCH_ALL=1 benches EVERY registered query instead of
    # the headline set — the mode that produces the committed
    # BENCH_LOCAL_r*.json artifacts with full per-query coverage
    names = (
        list(QUERIES)
        if os.environ.get("SPARK_GRAFT_BENCH_ALL") == "1"
        else HEADLINE
    )
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    # warm up the JVM / codegen paths
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # warm up the Python-UDF worker pool (Arrow + pandas/numpy import in
    # every worker) so pandas-UDF queries measure steady-state throughput,
    # not one-time interpreter startup — the same treatment the JVM gets
    def _noop(batches):
        import numpy  # noqa: F401

        yield from batches

    spark.range(10_000).repartition(64).mapInPandas(
        _noop, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    # Host-speed calibration: time a fixed CPU-bound reference job
    # (hash + aggregate over a deterministic range, no IO, no Python) so
    # cross-SESSION bench comparisons can be drift-adjusted — observed
    # microVM throughput swings of 5-25% between sessions with identical
    # code make raw totals misleading (r7/r8 both hit this).
    # bench_compare.py divides totals by the calibration ratio when both
    # artifacts carry one. Median of 3 runs, post-warmup.
    calib_runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        # modulo keeps the ANSI long sum within range (raw xxhash64
        # values are full-range longs; 50M of them overflow a long sum)
        spark.range(50_000_000).selectExpr(
            "sum(xxhash64(id) % 100000)", "avg(id * 2.5)"
        ).collect()
        calib_runs.append(time.perf_counter() - t0)
    calib = round(sorted(calib_runs)[1], 4)

    # Shuffle-bound calibration companion (round 9): the r8 verdict
    # measured untouched shuffle-heavy queries drifting 30-50% while the
    # CPU calib above moved only ~11% — shuffle/IO throughput drifts on
    # a different axis than raw CPU on this microVM. A fixed
    # repartition+groupBy job (two full shuffles of 10M rows, trivial
    # arithmetic) isolates that axis; bench_compare.py reports totals
    # adjusted by each calibration and by their blend. Median of 3.
    calib_shuffle_runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(10_000_000).selectExpr(
            "id % 100000 AS k", "id AS v"
        ).repartition(64, "k").groupBy("k").agg(
            {"v": "sum"}
        ).selectExpr("sum(`sum(v)`)").collect()
        calib_shuffle_runs.append(time.perf_counter() - t0)
    calib_shuffle = round(sorted(calib_shuffle_runs)[1], 4)

    # Steady-state methodology: run each query three times; the headline
    # is the MIN of runs 2-3. The first run pays one-time expression
    # codegen (janino compiles a new class per distinct expression tree —
    # measured 6.3 s first / 1.5 s steady on minhash_signatures), which is
    # amortized noise on a long-lived cluster, exactly what the 100 TB
    # target is — and run 2 alone is still noisy (codegen of the second
    # plan variant + GC can inflate it up to 3x; observed on orders_cube).
    # First-run timings are kept in "cold_queries" so codegen cost stays
    # visible instead of hidden.
    #
    # Noise bars (round 11): queries under ~3 s get a THIRD steady rep —
    # the r10 verdict caught same-code same-day spreads like 2.74↔6.30 s
    # (dedup_clusters) and 0.59↔2.96 s (knn_cosine) that the min-of-2
    # couldn't bound — and every query records its steady SPREAD
    # (max − min of its reps) in "spread_queries", so bench_compare.py
    # can suppress movers whose delta sits inside the measured noise
    # instead of leaving that to cross-artifact forensics.
    # Interleaved calibration series (round 11): the r10 measurements
    # showed the one-shot calibration sampling a single instant while
    # the suite spans ~25 minutes of fluctuating neighbor load (three
    # same-code runs read CPU calib +46%/+57%/+116% within 4 hours). A
    # short CPU-calib rep every CALIB_EVERY queries samples the load
    # the queries themselves saw; the MEDIAN of the series is what
    # bench_compare should trust, and the min/max bound the drift.
    CALIB_EVERY = 25
    calib_series: list[float] = []

    def _calib_rep() -> None:
        t0 = time.perf_counter()
        spark.range(50_000_000).selectExpr(
            "sum(xxhash64(id) % 100000)", "avg(id * 2.5)"
        ).collect()
        calib_series.append(round(time.perf_counter() - t0, 4))

    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    cold: dict[str, float] = {}
    errors: dict[str, str] = {}
    for i, name in enumerate(names):
        if i and i % CALIB_EVERY == 0:
            _calib_rep()
        fn = QUERIES[name]
        try:
            t0 = time.perf_counter()
            materialize(fn(spark, sf_dir))
            cold[name] = round(time.perf_counter() - t0, 3)
            steady = []
            for _ in range(2):
                t1 = time.perf_counter()
                materialize(fn(spark, sf_dir))
                steady.append(time.perf_counter() - t1)
            if min(steady) < 3.0:  # cheap query: a third rep is cheap too
                t1 = time.perf_counter()
                materialize(fn(spark, sf_dir))
                steady.append(time.perf_counter() - t1)
            timings[name] = round(min(steady), 3)
            spreads[name] = round(max(steady) - min(steady), 3)
        except Exception as exc:  # one broken query must not kill the run
            # NOTE: "value" then sums only the surviving queries — any
            # non-empty "errors" key invalidates cross-run comparison of
            # the total
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]

    total = round(sum(timings.values()), 3)
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = None
    payload = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread_queries": spreads,
        "cold_queries": cold,
        "cold_total": round(sum(cold.values()), 3),
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
    # the FULL payload (cold runs included) goes to a file so per-query
    # regression tracking is machine-readable even when the caller only
    # captures a tail of stdout; the stdout line keeps the required
    # {metric, value, unit, queries, sf} contract but drops the
    # cold-run dict so the line stays short enough to survive tail capture
    # Full-registry runs (SPARK_GRAFT_BENCH_ALL=1) default to their OWN
    # artifact name: in round 12 the driver's 93-query headline run
    # clobbered BENCH_LOCAL.json and the round lost its only
    # full-coverage record (r12 verdict wrong-item #1). A headline run
    # can no longer overwrite a full run's artifact by default; the
    # committed BENCH_LOCAL_r{N}.json snapshots copy from the _FULL
    # path.
    default_name = (
        "BENCH_LOCAL_FULL.json"
        if os.environ.get("SPARK_GRAFT_BENCH_ALL") == "1"
        else "BENCH_LOCAL.json"
    )
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        str(Path(__file__).resolve().parent / default_name),
    )
    Path(out_path).write_text(json.dumps(payload, indent=1) + "\n")
    # The stdout line must survive a BOUNDED tail capture (the driver
    # keeps EXACTLY the last 2000 chars of stdout and json-parses the
    # final JSON line; r1-r6 artifacts all came back "parsed": null
    # because the full per-query dict overflows that window and
    # truncates its own opening brace). All 93 headline names cost
    # ~2.5 KB even compactly encoded, so the full map CANNOT fit; the
    # r13 top-40-slowest window instead manufactured 7 phantom
    # "queries_dropped" (queries that got FAST fell out of the window)
    # and a phantom suspect_cpus_ignored (only overhead-bound sub-2 s
    # queries were visible to the low-core scaling probe). Round-14
    # measurement fix (documented in OPTIMIZATION_r14.md): the printed
    # set is now PINNED ∪ fill —
    #   * every name the r13 driver line carried (so round-over-round
    #     set membership is monotone: nothing previously printed can
    #     ever register as "dropped" again), plus
    #   * the CPU-parallel scaling sentinels (hamming/knn/ivf family)
    #     whose low-core ratios actually measure core scaling, plus
    #   * the currently-slowest remaining queries, filling the budget.
    # "spreads"/"calib_series" move to the file artifact (which keeps
    # every query at full precision) and the line is compact-encoded.
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
    pinned = [
        n for n in _R13_PRINTED + _SCALING_SENTINELS if n in timings
    ]
    fill = sorted(
        (n for n in timings if n not in pinned),
        key=lambda n: -timings[n],
    )
    printed = dict.fromkeys(pinned + fill)
    stdout_payload = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": payload["unit"],
        "queries": {k: round(timings[k], 2) for k in printed},
        "calib_sec": calib,
        "calib_shuffle_sec": calib_shuffle,
        "calib_series_median": payload["calib_series_median"],
        "n_queries": len(timings),
        "full": Path(out_path).name,
        "sf": payload["sf"],
    }
    if errors:
        # surface failures without unbounding the line
        stdout_payload["n_errors"] = len(errors)
        stdout_payload["first_error"] = next(iter(errors))
    spark.stop()
    # printed after spark.stop() so the JSON is the LAST stdout line,
    # past any shutdown log noise
    # shrink adaptively instead of asserting: a formatting overflow must
    # never turn a finished bench run into a non-zero exit. Drop trailing
    # FILL entries first (the pinned set only shrinks as a last resort),
    # then truncate first_error, until the line fits the 2000-char tail.
    def _encode() -> str:
        return json.dumps(stdout_payload, separators=(",", ":"))

    line = _encode()
    while len(line) >= 1900 and len(stdout_payload["queries"]) > 1:
        stdout_payload["queries"].pop(next(reversed(stdout_payload["queries"])))
        line = _encode()
    if len(line) >= 1900 and "first_error" in stdout_payload:
        stdout_payload["first_error"] = stdout_payload["first_error"][:80]
        line = _encode()
    print(line, flush=True)


if __name__ == "__main__":
    main()
