"""Scale benchmark: the LLM-pipeline operators at 40× the sf0.1 corpus
(200k documents / 80k embeddings), emitted as a JSON artifact so scale
claims are reproducible instead of builder-reported prose.

Corpus construction is deterministic: each source document is replicated
``copies`` times with a per-copy suffix mutation, so the dedup operators
see realistic NEAR-duplicates (high-Jaccard, non-identical), not exact
copies; embeddings get a per-copy deterministic perturbation on one
dimension. Everything is materialized to parquet first so the measured
time is the OPERATOR, not the corpus synthesis.

Methodology matches bench.py: noop-write materialization, warmed JVM and
Python worker pool, two runs per operator with the steady-state (second)
run as the headline and the cold run preserved alongside.

Usage: python scale_bench.py [--copies 40] → prints one JSON line and
writes SCALE_r{N}.json when --out is given.
"""

from __future__ import annotations

import argparse
import json
import shutil
import tempfile
import time
from pathlib import Path

from pyspark.sql import functions as F

from mcp_hubspot_spark.operators.dedup import (
    connected_components,
    embedding_neardup_pairs,
    minhash_lsh_pairs,
    semantic_contamination_matmul,
    simhash_fingerprints,
)
from mcp_hubspot_spark.operators.sampling import (
    hash_stratified_sample,
    per_group_cap,
    temperature_mixture,
    weighted_sample,
)
from mcp_hubspot_spark.operators.sketch import (
    bloom_prefiltered_contamination,
    cms_build,
    cms_estimate,
    hash_sample_quantiles,
    kmv_distinct,
)
from mcp_hubspot_spark.operators.text import (
    bm25_scores,
    bpe_learn_merges,
    dedup_lines_keep_first,
    greedy_pack_docs,
    pack_sequences,
    quality_features,
    remove_boilerplate_lines,
    repetition_features,
)
from mcp_hubspot_spark.operators.classifier import (
    classifier_score,
    classifier_score_expr,
    hashed_weight_table,
)
from mcp_hubspot_spark.operators.profiling import zipf_fit
from mcp_hubspot_spark.operators.text import (
    blocklist_flag_expr,
    blocklist_hits,
    bm25_topk_batch,
)
from mcp_hubspot_spark.operators.vector import knn, knn_batch_matmul
from mcp_hubspot_spark.session import get_spark
from mcp_hubspot_spark.sources.catalog import load_table

SF_DIR = "/root/testdata/sf0.1"


GROUP_SIZE = 40  # near-dup group size is FIXED as the corpus grows


def _synth_noise(j: int):
    """Deterministic xxhash-uniform noise in [-1.5, 1.5) — no RNG
    state, reruns are bit-stable."""
    return (
        F.pmod(F.xxhash64(F.col("vec_id"), F.lit(j)), F.lit(30000)).cast(
            "double"
        )
        / F.lit(10000.0)
        - F.lit(1.5)
    )


def _synth_clustered(
    spark, path: str, n: int, d: int, n_cent: int, center_dims: int
) -> str:
    """Deterministic clustered corpus: n vectors of dim d around n_cent
    well-separated centers spread over the first center_dims dims, plus
    xxhash noise — the distribution residual-PQ's recall advantage
    exists for (the pq_residual section)."""
    cl = (F.col("vec_id") % n_cent).cast("double")
    cols = []
    for j in range(d):
        center = (
            F.lit(10.0)
            * F.sin(cl * F.lit(float(center_dims)) + F.lit(float(j)))
            if j < center_dims
            else F.lit(0.0)
        )
        cols.append(center + _synth_noise(j))
    spark.range(n).select(
        F.col("id").alias("vec_id"), F.array(*cols).alias("embedding")
    ).write.mode("overwrite").parquet(path)
    return path


def build_corpus(spark, work: Path, copies: int) -> tuple[str, str, str]:
    """Materialize the replicated corpus; returns (docs, embs, events)
    paths.

    Duplication structure: copies are arranged into near-dup GROUPS of at
    most ``GROUP_SIZE`` — within a group only a short per-member suffix
    differs (high-jaccard near-dups); across groups every third word
    carries a group tag, pushing cross-group shingle jaccard to ~0.2 so
    LSH banding does not pair them. Growing ``copies`` therefore grows
    the NUMBER of dup groups, not their size — matching real crawl
    duplication (bounded dup-group cardinality) and keeping the true
    pair count LINEAR in corpus size. The earlier single-group design
    made pairs grow as copies² (108M pairs / JVM OOM at copies=200)
    purely as a property of the synthetic corpus, not of any operator.
    """
    docs = load_table(spark, SF_DIR, "documents")
    copy = F.explode(F.sequence(F.lit(0), F.lit(copies - 1))).alias("copy")
    grp = (F.col("copy") / F.lit(GROUP_SIZE)).cast("int")
    member = F.pmod(F.col("copy"), F.lit(GROUP_SIZE))
    # tag by word VALUE, not position: a position tag makes repeated
    # phrases distinct per occurrence, inflating the distinct-shingle
    # sets array_distinct otherwise collapses (measured 6x minhash cost);
    # a value tag rewrites 1/3 of the VOCABULARY per group — repetition
    # structure preserved, cross-group jaccard still ~0.2
    tagged = F.array_join(
        F.transform(
            F.split(F.col("text"), " "),
            lambda w: F.when(
                F.pmod(F.abs(F.xxhash64(w)), F.lit(3)) == F.lit(0),
                F.concat(w, F.lit("g"), grp.cast("string")),
            ).otherwise(w),
        ),
        " ",
    )
    big_docs = (
        docs.select("*", copy)
        .select(
            (F.col("doc_id") * copies + F.col("copy")).alias("doc_id"),
            # near-dup within the group, far across groups
            F.concat(
                tagged, F.lit(" variant "), member.cast("string")
            ).alias("text"),
            "lang",
            "source",
            (F.col("n_chars") + 9).alias("n_chars"),
        )
        .repartition(32)
    )
    embs = load_table(spark, SF_DIR, "embeddings")
    dim_idx = F.pmod(member, F.lit(16)).cast("int")
    grp_dim = F.pmod(grp, F.lit(16)).cast("int")
    big_embs = (
        embs.select("*", copy)
        .select(
            (F.col("vec_id") * copies + F.col("copy")).alias("vec_id"),
            # tiny per-member perturbation (group members stay mutual
            # near-neighbors) + a LARGE per-group offset on one dim
            # (groups point elsewhere): near-dup sets stay GROUP_SIZE-
            # bounded as copies grows, same rationale as the doc side
            F.transform(
                "embedding",
                lambda x, i: x
                + F.when(i == dim_idx, member * 1e-4).otherwise(0.0)
                + F.when(i == grp_dim, grp * 0.5).otherwise(0.0),
            ).cast("array<float>").alias("embedding"),
            "label",
        )
        .repartition(32)
    )
    events = load_table(spark, SF_DIR, "events")
    big_events = (
        events.select("*", copy)
        .select(
            (F.col("event_id") * copies + F.col("copy")).alias("event_id"),
            "ts",
            # each copy is an independent user population (offset ids):
            # behavioral operators see copies-times more users with the
            # same per-user event volume — the realistic growth axis
            (F.col("user_id") + F.col("copy") * 10_000_000).alias("user_id"),
            "event_type",
            "value",
        )
        .repartition(32)
    )
    dp, ep = str(work / "documents"), str(work / "embeddings")
    evp = str(work / "events")
    big_docs.write.mode("overwrite").parquet(dp)
    big_embs.write.mode("overwrite").parquet(ep)
    big_events.write.mode("overwrite").parquet(evp)
    return dp, ep, evp


def _cms_roundtrip(docs):
    """Build the CMS over the full token stream, then estimate every
    distinct term's frequency against it (the worst-case probe load)."""
    from mcp_hubspot_spark.operators.text import tokens

    toks = docs.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("term")
    ).filter(F.col("term") != "")
    tc = toks.groupBy("term").agg(F.count("*").alias("cnt"))
    sketch = cms_build(tc, depth=4, width=1024)
    return cms_estimate(sketch, tc.select("term"), depth=4, width=1024)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=40)
    ap.add_argument("--out", type=str, default=None)
    ap.add_argument(
        "--only",
        type=str,
        default=None,
        help="comma-separated substrings; run only matching cases "
        "(e.g. --only minhash,dedup_clusters,semantic_dedup,bloom for "
        "the 1M-doc dedup-chain run)",
    )
    args = ap.parse_args()
    only = [s for s in (args.only or "").split(",") if s]

    def wanted(name: str) -> bool:
        return not only or any(s in name for s in only)

    spark = get_spark(app_name="scale_bench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def _noop(batches):
        import numpy  # noqa: F401

        yield from batches

    spark.range(10_000).repartition(64).mapInPandas(
        _noop, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    work = Path(tempfile.mkdtemp(prefix="scale_bench_"))
    try:
        dp, ep, evp = build_corpus(spark, work, args.copies)
        docs = spark.read.parquet(dp)
        embs = spark.read.parquet(ep)
        evs = spark.read.parquet(evp)
        n_docs, n_embs, n_evs = docs.count(), embs.count(), evs.count()
        dk, ek = f"{n_docs // 1000}k", f"{n_embs // 1000}k"
        evk = f"{n_evs // 1000}k"
        probe = [
            float(x)
            for x in embs.filter(F.col("vec_id") == 0).first().embedding
        ]
        queries = [
            (int(r.vec_id), [float(x) for x in r.embedding])
            for r in embs.filter(F.col("vec_id") < 32).collect()
        ]

        def lsh_pairs():
            return minhash_lsh_pairs(docs, num_perm=16, bands=4)

        def _funnel(e):
            from mcp_hubspot_spark.operators.analytics import ordered_funnel

            return ordered_funnel(e, ["view", "click", "purchase"])

        def _transitions(e):
            from mcp_hubspot_spark.operators.analytics import (
                transition_matrix,
            )

            return transition_matrix(e)

        def semdedup():
            # cluster-then-dedup (SemDeDup): cell count scales with the
            # corpus so per-cell candidate squares stay bounded as copies
            # grows — the property the 1M-doc run is meant to demonstrate.
            # BLAS backend (per-cell blocked matmul, agreement-pinned to
            # the oracle-gated expression twin; ~20x at this size)
            from mcp_hubspot_spark.operators.dedup import semantic_dedup_matmul
            from mcp_hubspot_spark.operators.vector import train_centroids

            n_cells = max(16, n_embs // 2500)
            cents = train_centroids(
                embs.select(
                    "vec_id",
                    F.col("embedding").cast("array<double>").alias("embedding"),
                ),
                n_cells,
                sample_fraction=min(1.0, 20_000 / max(1, n_embs)),
            )
            cent_rows = [
                (int(r.cell_id), [float(x) for x in r.centroid])
                for r in cents.collect()
            ]
            return semantic_dedup_matmul(
                embs.select(
                    "vec_id",
                    F.col("embedding").cast("array<double>").alias("embedding"),
                ),
                cent_rows,
                min_cosine=0.999,
            )

        cases = {
            f"minhash_lsh_pairs_{dk}": lsh_pairs,
            f"dedup_clusters_{dk}": lambda: connected_components(
                lsh_pairs().select("id_a", "id_b")
            ),
            f"simhash_fingerprints_{dk}": lambda: simhash_fingerprints(docs),
            # dim inferred from the data — a hardcoded wrong dim NULLs the
            # plane dots and collapses everything into one n² bucket
            f"embedding_neardup_lsh_{ek}": lambda: embedding_neardup_pairs(
                embs, n_planes=12
            ),
            f"semantic_dedup_{ek}": semdedup,
            # behavioral analytics at copies-times the user population:
            # funnel = chained per-user min-agg joins, transitions = one
            # lead window + pair groupBy — both shuffle on user_id only
            f"event_funnel_{evk}": lambda: _funnel(evs),
            f"event_transitions_{evk}": lambda: _transitions(evs),
            # round-7 additions at corpus scale — basket self-join keyed
            # on user_id (bounded item set), full-vocab KL (token-keyed
            # reductions), and expression-fold PSI binning: all shapes
            # whose cost must track corpus size linearly
            f"copurchase_lift_{evk}": lambda: _copurchase(evs),
            f"token_kl_{dk}": lambda: _token_kl(docs),
            f"psi_drift_{evk}": lambda: _psi(evs),
            f"ks_drift_{evk}": lambda: _ks(evs),
            f"ks_drift_approx_{evk}": lambda: _ks(evs, approx=True),
            # the corpus replicates values 200x, so the exact path's
            # distinct-value grid stays small; these two jitter the
            # value into ~20M DISTINCT doubles (the continuous-column
            # case the approx path exists for) to show the crossover
            f"ks_cont_exact_{evk}": lambda: _ks_cont(evs, approx=False),
            f"ks_cont_approx_{evk}": lambda: _ks_cont(evs, approx=True),
            f"type_drift_{evk}": lambda: _chi(evs),
            f"path_trigrams_{evk}": lambda: _trigrams(evs),
            f"seasonal_anomalies_{evk}": lambda: _anomalies(evs),
            f"kmv_overlap_{evk}": lambda: _kmv_overlap(evs),
            f"funnel_latency_{evk}": lambda: _funnel_latency(evs),
            f"repetition_features_{dk}": lambda: repetition_features(docs),
            f"quality_features_{dk}": lambda: quality_features(docs),
            f"pack_sequences_{dk}": lambda: pack_sequences(docs),
            f"remove_boilerplate_{dk}": lambda: remove_boilerplate_lines(docs),
            f"knn_l2_{ek}": lambda: knn(embs, probe, k=10),
            f"knn_matmul_32q_{ek}": lambda: knn_batch_matmul(
                embs, queries, k=10
            ),
            # benchmark = base docs sampled 1/1000 (~8k 7-grams at 200k)
            f"bloom_decontaminate_{dk}": lambda: bloom_prefiltered_contamination(
                docs,
                docs.filter(F.col("doc_id") % 1000 == 0).select("doc_id", "text"),
                n=7,
                num_bits=1 << 18,
            ),
            f"kmv_distinct_{dk}": lambda: kmv_distinct(
                docs, ["lang"], "doc_id", k=256
            ),
            f"dedup_lines_keep_first_{dk}": lambda: dedup_lines_keep_first(docs),
            f"bm25_search_{dk}": lambda: bm25_scores(
                docs, ["spark", "window", "hash"]
            ),
            # TakeOrderedAndProject: 1000 winners by A-ES key
            f"weighted_sample_{dk}": lambda: weighted_sample(
                docs, "n_chars", k=1000
            ),
            f"temperature_mixture_{dk}": lambda: temperature_mixture(
                docs, "lang", alpha=0.5
            ),
            f"hash_sample_quantiles_{dk}": lambda: hash_sample_quantiles(
                docs, F.col("doc_id"), "n_chars", qs=[0.5, 0.9, 0.99], m=4000
            ),
            # wordcount shuffle + 1024-cell sketch + broadcast probe of
            # the full vocabulary back against it
            f"cms_build_estimate_{dk}": lambda: _cms_roundtrip(docs),
            # two-phase bottom-k head-domain cap: 20 sources x all docs
            f"per_group_cap_{dk}": lambda: per_group_cap(
                docs, "source", "doc_id", k=100
            ),
            # eval set = 1/40 of vecs broadcast against the corpus; the
            # BLAS backend (one matmul per Arrow batch) — the expression
            # variant is the oracle twin and ~50x slower at this |bench|
            f"semantic_contamination_{ek}": lambda: semantic_contamination_matmul(
                embs.filter(F.col("vec_id") % 40 != 0),
                embs.filter(F.col("vec_id") % 40 == 0),
                min_cosine=0.99,
            ),
            # applyInPandas next-fit walk over 32 shards
            f"greedy_pack_{dk}": lambda: greedy_pack_docs(
                docs, "n_chars", capacity=4096, n_shards=32
            ),
            # round-8: exact token-span dedup at corpus scale — the
            # 100 TB configuration (xxhash64 shingle keys so the
            # inverted-index join shuffles 8-byte keys, stop-shingle cap
            # at ~1.5x the dup-group size so boilerplate can't square).
            # k=16: the dup groups share ~full-doc spans, so the span
            # recovery is the same and the matched-shingle intermediate
            # shrinks with k.
            f"substring_spans_{dk}": lambda: _substring_spans(docs),
            f"substring_scrub_{dk}": lambda: _substring_scrub(docs),
            # round-10 text tier: hashed-feature classifier serving at a
            # production-ish width (2^18 buckets, ~2 MB broadcast) plus
            # its zero-shuffle expression twin; the blocklist
            # literal-vs-join boundary (16 vs 1024 phrases, realistic
            # ~8-real-hit selectivity) — the text tier INVERTS the ADC
            # outcome (overlap tests in place; the bare join must
            # materialize the gram explosion), so the report path runs
            # the flag-gated hybrid and the bare join is kept as the
            # measured negative via a DataFrame blocklist. zipf_fit:
            # one wordcount agg + TakeOrdered.
            f"classifier_join_{dk}": lambda: classifier_score(
                docs, clf_w, num_buckets=1 << 18
            ),
            f"classifier_expr_{dk}": lambda: classifier_score_expr(
                docs, num_buckets=1 << 18
            ),
            f"blocklist_expr_16_{dk}": lambda: blocklist_flag_expr(
                docs, _blk_phrases(16)
            ),
            f"blocklist_report_16_{dk}": lambda: blocklist_hits(
                docs, _blk_phrases(16)
            ),
            f"blocklist_expr_1024_{dk}": lambda: blocklist_flag_expr(
                docs, _blk_phrases(1024)
            ),
            f"blocklist_report_1024_{dk}": lambda: blocklist_hits(
                docs, _blk_phrases(1024)
            ),
            f"blocklist_barejoin_16_{dk}": lambda: blocklist_hits(
                docs,
                spark.createDataFrame(
                    [(p,) for p in _blk_phrases(16)], "phrase string"
                ),
                lengths=[2, 3],
            ),
            f"blocklist_barejoin_1024_{dk}": lambda: blocklist_hits(
                docs,
                spark.createDataFrame(
                    [(p,) for p in _blk_phrases(1024)], "phrase string"
                ),
                lengths=[2, 3],
            ),
            f"zipf_fit_{dk}": lambda: zipf_fit(docs),
            # round-11: locate the blocklist literal wall (the r10
            # verdict's worklist #2) — literal flag vs bare join at
            # widening phrase counts. The DataFrame form bypasses the
            # BLOCKLIST_LITERAL_MAX_PHRASES auto-switch so the join is
            # measured at every width; the list form measures the
            # literal until it loses.
            f"blocklist_expr_4096_{dk}": lambda: blocklist_flag_expr(
                docs, _blk_phrases(4096)
            ),
            f"blocklist_expr_10240_{dk}": lambda: blocklist_flag_expr(
                docs, _blk_phrases(10240)
            ),
            f"blocklist_barejoin_4096_{dk}": lambda: blocklist_hits(
                docs,
                spark.createDataFrame(
                    [(p,) for p in _blk_phrases(4096)], "phrase string"
                ),
                lengths=[2, 3],
            ),
            f"blocklist_barejoin_10240_{dk}": lambda: blocklist_hits(
                docs,
                spark.createDataFrame(
                    [(p,) for p in _blk_phrases(10240)], "phrase string"
                ),
                lengths=[2, 3],
            ),
            f"blocklist_barejoin_51200_{dk}": lambda: blocklist_hits(
                docs,
                spark.createDataFrame(
                    [(p,) for p in _blk_phrases(51200)], "phrase string"
                ),
                lengths=[2, 3],
            ),
            # round-11: one-scan batched BM25 (8 queries) vs 8x the
            # single-query scan (bm25_search_{dk} is the unit cost)
            f"bm25_batch8_{dk}": lambda: bm25_topk_batch(
                docs, _bm25_batch_queries(), k=10
            ),
        }

        clf_w = hashed_weight_table(spark, 1 << 18)

        def _blk_phrases(n: int) -> list[str]:
            real = [
                "table table", "fast fast", "scan slow fast",
                "value table part", "the line sort", "key agg row",
                "batch window spark", "order data column",
            ]
            fake = [f"zzq{i} qqz{i}" for i in range(max(0, n - len(real)))]
            return real[:n] + fake

        def _bm25_batch_queries() -> dict[str, list[str]]:
            pool = [
                "spark", "window", "hash", "table", "scan", "fast",
                "sort", "merge", "join", "order", "line", "value",
            ]
            return {
                f"q{i}": [pool[i % 12], pool[(i + 3) % 12], pool[(i + 7) % 12]]
                for i in range(8)
            }

        timings: dict[str, float] = {}
        cold: dict[str, float] = {}
        rows: dict[str, int] = {}
        errors: dict[str, str] = {}
        extras: dict[str, float] = {}

        def _substring_spans(d):
            from mcp_hubspot_spark.operators.dedup import repeated_spans

            return repeated_spans(
                d, k=16, hash_shingles=True, max_df=64
            )

        def _substring_scrub(d):
            from mcp_hubspot_spark.operators.dedup import (
                scrub_repeated_spans,
            )

            return scrub_repeated_spans(
                d, k=16, hash_shingles=True, max_df=64
            )

        def _copurchase(e):
            from mcp_hubspot_spark.operators.analytics import copurchase_lift

            return copurchase_lift(
                e.select("user_id", "event_type"),
                basket_col="user_id",
                item_col="event_type",
                min_pair_count=2,
            )

        def _token_kl(d):
            from mcp_hubspot_spark.operators.text import token_kl_divergence

            return token_kl_divergence(d, slice_col="source")

        def _psi(e):
            from mcp_hubspot_spark.operators.profiling import psi_drift

            split = F.lit("2024-01-16").cast("timestamp")
            return psi_drift(
                e.filter(F.col("ts") < split).select("value"),
                e.filter(F.col("ts") >= split).select("value"),
                value_col="value",
                n_bins=10,
            )

        def _ks(e, approx=False):
            from mcp_hubspot_spark.operators.profiling import ks_drift

            split = F.lit("2024-01-16").cast("timestamp")
            return ks_drift(
                e.filter(F.col("ts") < split).select("value"),
                e.filter(F.col("ts") >= split).select("value"),
                value_col="value",
                approx=approx,
            )

        def _ks_cont(e, approx):
            jittered = e.withColumn(
                "value",
                F.col("value")
                + (F.xxhash64("event_id", "user_id") % 1_000_000)
                / 1e12,
            )
            return _ks(jittered, approx=approx)

        def _chi(e):
            from mcp_hubspot_spark.operators.profiling import (
                categorical_drift,
            )

            split = F.lit("2024-01-16").cast("timestamp")
            return categorical_drift(
                e.filter(F.col("ts") < split).select("event_type"),
                e.filter(F.col("ts") >= split).select("event_type"),
                cat_col="event_type",
            )

        def _kmv_overlap(e):
            from mcp_hubspot_spark.operators.sketch import kmv_join_overlap

            return kmv_join_overlap(
                e.filter(F.col("event_type") == "click"),
                e.filter(F.col("event_type") == "purchase"),
                key_a="user_id",
                k=64,
            )

        def _funnel_latency(e):
            from mcp_hubspot_spark.operators.analytics import funnel_latency

            # approx=True: the GK-sketch percentile, the documented
            # >10^9-user path this scale row exists to exercise
            return funnel_latency(
                e,
                start_type="view",
                end_type="purchase",
                quantiles=(0.5,),
                approx=True,
            )

        def _trigrams(e):
            from mcp_hubspot_spark.operators.analytics import (
                session_path_ngrams,
            )

            return session_path_ngrams(e, n=3, gap_s=1800, k=20)

        def _anomalies(e):
            from mcp_hubspot_spark.operators.timeseries import (
                seasonal_anomalies,
            )

            return seasonal_anomalies(e, k=20)

        def run_special(name, fn, n_out):
            """Time a driver-loop case (returns plain rows / python values
            — nothing to noop-write) with the same cold+steady protocol."""
            if not wanted(name):
                return
            try:
                t0 = time.perf_counter()
                out = fn()
                cold[name] = round(time.perf_counter() - t0, 3)
                t1 = time.perf_counter()
                out = fn()
                timings[name] = round(time.perf_counter() - t1, 3)
                rows[name] = n_out(out)
            except Exception as exc:
                errors[name] = f"{type(exc).__name__}: {exc}"[:200]

        # BPE trains on a hash-sample (counts converge; the documented
        # scale contract) — a ~2.5% deterministic sample of the corpus,
        # via its driver-loop API. Two budgets: k=4 (the oracle-gated
        # shape) and k=64 (demonstrates the per-round localCheckpoint
        # keeps the loop linear-per-round — without it k=64 is quadratic)
        bpe_sample = hash_stratified_sample(
            docs, "lang", {}, id_col="doc_id", default_rate=0.025
        )
        n_sample = bpe_sample.count()
        sk = f"{max(1, n_sample // 1000)}k_sample"
        run_special(
            f"bpe_merges_{sk}", lambda: bpe_learn_merges(bpe_sample, k=4), len
        )
        run_special(
            f"bpe_merges_k64_{sk}",
            lambda: bpe_learn_merges(bpe_sample, k=64),
            len,
        )

        # IVF online-serving latency: build+export once (amortized, not
        # timed), then a single k=10 / nprobe=7 search — the reference's
        # serving contract is <=7 per-day indexes probed at k=10
        # (faiss_manager.py:270-291); here 7 probed cells out of many,
        # pruned at planning time via the manifest (zero extra jobs)
        if wanted("ivf_serving") or wanted("ivf_maintenance"):
            from mcp_hubspot_spark.vector_store import IvfIndex

            ivf = IvfIndex(spark, str(work / "ivf"))
            ivf.build(
                embs.select(
                    "vec_id",
                    F.col("embedding").cast("array<double>").alias("embedding"),
                ),
                n_cells=max(16, n_embs // 2500),
            )
            ivf.export_manifest()
            run_special(
                f"ivf_serving_latency_{ek}",
                lambda: ivf.search(probe, k=10, nprobe=7).collect(),
                len,
            )
            # recall@10 at the serving nprobe, measured against exact kNN
            # over the same 8 query vectors — the quality side of the
            # latency row (IVF trades recall for pruned IO)
            try:
                hit = 0
                for _, qv in queries[:8]:
                    exact_ids = {
                        r.vec_id for r in knn(
                            embs.select(
                                "vec_id",
                                F.col("embedding").cast("array<double>")
                                .alias("embedding"),
                            ),
                            qv, k=10,
                        ).collect()
                    }
                    approx_ids = {
                        r.vec_id
                        for r in ivf.search(qv, k=10, nprobe=7).collect()
                    }
                    hit += len(exact_ids & approx_ids)
                extras["ivf_recall_at10_nprobe7"] = round(hit / 80.0, 4)
            except Exception as exc:
                errors["ivf_recall"] = f"{type(exc).__name__}: {exc}"[:200]

            # -------- index maintenance at corpus scale: the claim to
            # prove is that delete()/compact() cost is bounded by the
            # AFFECTED cells, not the corpus — so alongside each timing
            # the artifact records how many of the index's cells were
            # rewritten. Delete removes 1% of vectors (every 100th id —
            # spread across cells, the worst case for cell-bounded
            # rewrites), then a fragmenting re-add + compact, with a
            # serving-latency row after each mutation.
            if wanted("ivf_maintenance"):
                try:
                    n_cells_total = len(ivf.read_manifest()["cells"])
                    victims = embs.filter(
                        F.col("vec_id") % 100 == 0
                    ).select("vec_id")
                    n_victims = victims.count()
                    t0 = time.perf_counter()
                    n_del = ivf.delete(victims)
                    timings[f"ivf_delete_1pct_{ek}"] = round(
                        time.perf_counter() - t0, 3
                    )
                    rows[f"ivf_delete_1pct_{ek}"] = n_del
                    extras["ivf_delete_n_cells_total"] = n_cells_total
                    run_special(
                        f"ivf_maintenance_search_post_delete_{ek}",
                        lambda: ivf.search(probe, k=10, nprobe=7).collect(),
                        len,
                    )
                    # re-add the deleted 1% in two batches -> multi-file
                    # cells, then compact them back to one file each
                    readd = embs.filter(F.col("vec_id") % 100 == 0).select(
                        "vec_id",
                        F.col("embedding").cast("array<double>").alias(
                            "embedding"
                        ),
                    )
                    ivf.add(readd.filter(F.col("vec_id") % 200 == 0))
                    ivf.add(readd.filter(F.col("vec_id") % 200 != 0))
                    t0 = time.perf_counter()
                    compacted = ivf.compact()
                    timings[f"ivf_compact_{ek}"] = round(
                        time.perf_counter() - t0, 3
                    )
                    rows[f"ivf_compact_{ek}"] = len(compacted)
                    extras["ivf_compact_cells_rewritten"] = len(compacted)
                    run_special(
                        f"ivf_maintenance_search_post_compact_{ek}",
                        lambda: ivf.search(probe, k=10, nprobe=7).collect(),
                        len,
                    )
                    # cost-boundedness control: delete EVERY vector of a
                    # single cell (the uniform 1% above touches all
                    # cells by construction — this is the other extreme:
                    # one affected cell out of n, so its timing vs the
                    # 1% row shows the rewrite scales with affected
                    # cells, not corpus size)
                    cells_df = spark.read.option(
                        "basePath", str(work / "ivf" / "cells")
                    ).parquet(str(work / "ivf" / "cells"))
                    one_cell = int(
                        cells_df.select("cell_id").first().cell_id
                    )
                    cell_ids = cells_df.filter(
                        F.col("cell_id") == one_cell
                    ).select("vec_id")
                    n_in_cell = cell_ids.count()
                    t0 = time.perf_counter()
                    n_del_one = ivf.delete(cell_ids)
                    timings[f"ivf_delete_one_cell_{ek}"] = round(
                        time.perf_counter() - t0, 3
                    )
                    rows[f"ivf_delete_one_cell_{ek}"] = n_del_one
                    extras["ivf_delete_one_cell_rows"] = n_in_cell
                    extras["ivf_delete_one_cell_affected_cells"] = 1
                except Exception as exc:
                    errors["ivf_maintenance"] = (
                        f"{type(exc).__name__}: {exc}"[:200]
                    )

        # -------- round-8: PQ at corpus scale — train m=8 x 256-code
        # codebooks on a sample, encode the full table ONCE
        # (expression-side, the amortized build cost, timed separately),
        # then the serving pattern: ADC-shortlist -> exact rerank in one
        # plan. Beside the latency rows the artifact records recall@10
        # of the reranked search vs exact kNN over 8 queries — the PQ
        # twin of ivf_recall_at10_nprobe7.
        if wanted("pq_search"):
            from mcp_hubspot_spark.operators.vector import (
                pq_encode_matmul,
                pq_search_rerank,
                pq_train_codebooks,
            )

            embs_d = embs.select(
                "vec_id",
                F.col("embedding").cast("array<double>").alias("embedding"),
            )
            try:
                t0 = time.perf_counter()
                cbs = pq_train_codebooks(
                    embs_d,
                    m=8,
                    k=256,
                    max_iter=5,
                    sample_fraction=min(1.0, 50_000 / max(1, n_embs)),
                )
                timings[f"pq_train_codebooks_{ek}"] = round(
                    time.perf_counter() - t0, 3
                )
                rows[f"pq_train_codebooks_{ek}"] = 8 * 256
                t0 = time.perf_counter()
                # BLAS encode path: the expression twin is interpreted
                # (not codegen'd) at k=256 and ~100x slower
                pq_encode_matmul(embs_d, cbs).select(
                    "vec_id", "pq_code"
                ).write.mode("overwrite").parquet(str(work / "pq"))
                timings[f"pq_encode_{ek}"] = round(
                    time.perf_counter() - t0, 3
                )
                stored = spark.read.parquet(str(work / "pq")).join(
                    embs_d, "vec_id"
                )
                run_special(
                    f"pq_search_rerank_{ek}",
                    lambda: pq_search_rerank(
                        stored, cbs, probe, k=10, shortlist=200
                    ).collect(),
                    len,
                )
                hit = 0
                for _, qv in queries[:8]:
                    exact_ids = {
                        r.vec_id for r in knn(embs_d, qv, k=10).collect()
                    }
                    approx_ids = {
                        r.vec_id
                        for r in pq_search_rerank(
                            stored, cbs, qv, k=10, shortlist=200
                        ).collect()
                    }
                    hit += len(exact_ids & approx_ids)
                extras["pq_recall_at10_rerank200"] = round(hit / 80.0, 4)
            except Exception as exc:
                errors["pq_search"] = f"{type(exc).__name__}: {exc}"[:200]

        # -------- round-9: residual-PQ and OPQ recall on a CLUSTERED
        # corpus. The replicated test embeddings are near-random — PQ's
        # worst case AND the one distribution where residual encoding
        # cannot help (residual ≈ vector when centroids are all near the
        # origin), so the r8 artifact could not show the gap the
        # construction exists for. This section builds two deterministic
        # synthetic corpora (200k x 64d, xxhash-uniform noise, no RNG
        # state — reruns are bit-stable):
        #   (a) 64 well-separated centers spread over all dims →
        #       IvfIndex raw vs residual codes at equal (m=8, 32
        #       codes), ADC-only recall@10 at nprobe=8;
        #   (b) a DECAYING per-dim variance spectrum (scale 10·0.88^j,
        #       natural dim order → the first subquantizer carries most
        #       of the variance) → flat PQ raw vs OPQ-rotated at equal
        #       budget, ADC recall@10 — the variance-balancing case
        #       parametric OPQ is for. (A clustered low-rank corpus is
        #       the WRONG demo: there, within-cluster recall@10 rewards
        #       noise fidelity, which eigen-allocation trades away —
        #       measured OPQ 0.14 vs raw 0.21 on that shape before this
        #       spectrum corpus replaced it, raw 0.13 vs OPQ 0.65
        #       after.)
        if wanted("pq_residual"):
            try:
                import numpy as np

                # NB: knn comes from the module-level import — a local
                # `from ... import knn` here would shadow it for ALL of
                # main() and break the earlier pq_search section with
                # UnboundLocalError
                from mcp_hubspot_spark.operators.vector import (
                    pq_adc_topk,
                    pq_encode_matmul,
                    pq_train_codebooks,
                    pq_train_opq_rotation,
                    rotate_expr,
                )
                from mcp_hubspot_spark.vector_store import IvfIndex

                n_cl, d, n_cent = 200_000, 64, 64
                qids = [i * (n_cl // 8) + i for i in range(8)]

                # ---- (a) IvfIndex raw vs residual ----
                c1 = spark.read.parquet(
                    _synth_clustered(
                        spark, str(work / "clustered_full"), n_cl, d,
                        n_cent, d,
                    )
                )
                qvecs = {
                    int(r.vec_id): [float(x) for x in r.embedding]
                    for r in c1.filter(F.col("vec_id").isin(qids)).collect()
                }
                exact10 = {}
                for qid in qids:
                    exact10[qid] = {
                        r.vec_id
                        for r in knn(c1, qvecs[qid], k=10).collect()
                    }
                for tag, residual in (("raw", False), ("residual", True)):
                    ivf = IvfIndex(spark, str(work / f"pqres_{tag}"))
                    t0 = time.perf_counter()
                    # pq_opq=False: this section isolates residual-vs-
                    # raw ENCODING at equal config (the r13 flat
                    # default would rotate the raw side); the flatpq_*
                    # section below carries the raw-vs-OPQ comparison
                    ivf.build(
                        c1,
                        n_cells=n_cent,
                        pq_m=8,
                        pq_codes=32,
                        pq_residual=residual,
                        pq_opq=False,
                        sample_fraction=0.25,
                    )
                    timings[f"ivfpq_{tag}_build_200k"] = round(
                        time.perf_counter() - t0, 3
                    )
                    rows[f"ivfpq_{tag}_build_200k"] = n_cl
                    hit = 0
                    t0 = time.perf_counter()
                    for qid in qids:
                        # rerank=0: the DIAGNOSTIC ADC-only floor —
                        # this row exists to measure codebook quality,
                        # not the serving default (which now derives a
                        # nonzero rerank; see the default-config rows)
                        got = {
                            r.vec_id
                            for r in ivf.search_pq(
                                qvecs[qid], k=10, nprobe=8, rerank=0
                            ).collect()
                        }
                        hit += len(exact10[qid] & got)
                    timings[f"ivfpq_{tag}_adc_search8_200k"] = round(
                        time.perf_counter() - t0, 3
                    )
                    rows[f"ivfpq_{tag}_adc_search8_200k"] = 80
                    extras[f"ivfpq_{tag}_recall_at10_nprobe8"] = round(
                        hit / 80.0, 4
                    )
                    # round-10: the END-TO-END serving recipe — ADC
                    # shortlist -> exact rerank — for BOTH encodings,
                    # so the artifact states what a user would actually
                    # serve (the r9 row stopped at ADC-only and only
                    # proved the shortlist-quality gap)
                    for rr in (50, 200):
                        hit = 0
                        t0 = time.perf_counter()
                        for qid in qids:
                            got = {
                                r.vec_id
                                for r in ivf.search_pq(
                                    qvecs[qid], k=10, nprobe=8, rerank=rr
                                ).collect()
                            }
                            hit += len(exact10[qid] & got)
                        timings[
                            f"ivfpq_{tag}_rerank{rr}_search8_200k"
                        ] = round(time.perf_counter() - t0, 3)
                        rows[f"ivfpq_{tag}_rerank{rr}_search8_200k"] = 80
                        extras[
                            f"ivfpq_{tag}_recall_at10_nprobe8_rerank{rr}"
                        ] = round(hit / 80.0, 4)

                # ---- (b) flat PQ raw vs OPQ on a decaying spectrum ----
                spark.range(n_cl).select(
                    F.col("id").alias("vec_id"),
                    F.array(
                        *[
                            _synth_noise(j) * F.lit(10.0 * (0.88 ** j))
                            for j in range(d)
                        ]
                    ).alias("embedding"),
                ).write.mode("overwrite").parquet(
                    str(work / "spectrum_corpus")
                )
                c2 = spark.read.parquet(str(work / "spectrum_corpus"))
                q2 = {
                    int(r.vec_id): [float(x) for x in r.embedding]
                    for r in c2.filter(F.col("vec_id").isin(qids)).collect()
                }
                exact2 = {
                    qid: {r.vec_id for r in knn(c2, q2[qid], k=10).collect()}
                    for qid in qids
                }
                t0 = time.perf_counter()
                R = pq_train_opq_rotation(c2, m=8, sample_n=20_000)
                timings["opq_train_rotation_200k"] = round(
                    time.perf_counter() - t0, 3
                )
                rows["opq_train_rotation_200k"] = d * d
                Rm = np.asarray(R)
                variants = {
                    "flatpq_raw": (None, None),
                    "flatpq_opq": (R, Rm),
                }
                for tag, (rot, rm) in variants.items():
                    train_src = (
                        c2
                        if rot is None
                        else c2.withColumn(
                            "embedding", rotate_expr("embedding", rot)
                        )
                    )
                    cbs2 = pq_train_codebooks(
                        train_src,
                        m=8,
                        k=32,
                        sample_fraction=0.1,
                        max_iter=5,
                    )
                    t0 = time.perf_counter()
                    pq_encode_matmul(
                        c2, cbs2, rotation=rot
                    ).select("vec_id", "pq_code").write.mode(
                        "overwrite"
                    ).parquet(str(work / f"{tag}_codes"))
                    timings[f"{tag}_encode_200k"] = round(
                        time.perf_counter() - t0, 3
                    )
                    rows[f"{tag}_encode_200k"] = n_cl
                    codes2 = spark.read.parquet(str(work / f"{tag}_codes"))
                    hit = 0
                    for qid in qids:
                        qv = (
                            q2[qid]
                            if rm is None
                            else [
                                float(x)
                                for x in rm @ np.asarray(q2[qid])
                            ]
                        )
                        got = {
                            r.vec_id
                            for r in pq_adc_topk(
                                codes2, cbs2, qv, k=10
                            ).collect()
                        }
                        hit += len(exact2[qid] & got)
                    extras[f"{tag}_recall_at10"] = round(hit / 80.0, 4)
            except Exception as exc:
                errors["pq_residual"] = f"{type(exc).__name__}: {exc}"[:200]

        # -------- round-9: binary sign quantization at corpus scale —
        # pack the full replicated embedding table to 2 longs/row (32x
        # over float32), then compare the XOR+popcount top-10 scan
        # against brute-force exact kNN on the same corpus: the latency
        # ratio is the integer-scan win, the recall row the honest
        # price of 1 bit/dim on near-random vectors (sign quantization
        # is the candidate-generator tier — rerank the shortlist
        # exactly when precision matters).
        if wanted("hamming"):
            try:
                from mcp_hubspot_spark.operators.vector import (
                    hamming_topk,
                    sign_pack,
                )

                embs_d = embs.select(
                    "vec_id",
                    F.col("embedding").cast("array<double>").alias(
                        "embedding"
                    ),
                )
                t0 = time.perf_counter()
                embs_d.select(
                    "vec_id", sign_pack("embedding", dim=64).alias(
                        "sign_code"
                    )
                ).write.mode("overwrite").parquet(str(work / "signs"))
                timings[f"sign_pack_{ek}"] = round(
                    time.perf_counter() - t0, 3
                )
                rows[f"sign_pack_{ek}"] = n_embs
                signs = spark.read.parquet(str(work / "signs"))

                def _ham():
                    return [
                        r.vec_id
                        for r in hamming_topk(signs, probe, k=10).collect()
                    ]

                run_special(f"hamming_top10_{ek}", _ham, len)
                hit = 0
                for _, qv in queries[:8]:
                    exact_ids = {
                        r.vec_id for r in knn(embs_d, qv, k=10).collect()
                    }
                    got = {
                        r.vec_id
                        for r in hamming_topk(signs, qv, k=10).collect()
                    }
                    hit += len(exact_ids & got)
                extras["hamming_recall_at10"] = round(hit / 80.0, 4)

                # round-10: the serving composition — sign shortlist ->
                # exact rerank (hamming_topk_rerank), recall@10 vs
                # shortlist width. The packed table alone cannot serve
                # the rerank (it needs the embedding back), so this
                # scans the joined projection — at scale keep the
                # embedding column in the same files as the codes (as
                # IvfIndex does for PQ) so the shortlist stage still
                # prunes IO via TakeOrderedAndProject before the exact
                # fold touches any vector.
                from mcp_hubspot_spark.operators.vector import (
                    hamming_topk_rerank,
                )

                packed_v = embs_d.join(signs, "vec_id").select(
                    "vec_id", "embedding", "sign_code"
                )
                packed_v.write.mode("overwrite").parquet(
                    str(work / "signs_v")
                )
                packed_v = spark.read.parquet(str(work / "signs_v"))
                exact8 = {
                    qid: {r.vec_id for r in knn(embs_d, qv, k=10).collect()}
                    for qid, qv in queries[:8]
                }
                for sl in (20, 100, 400):
                    hit = 0
                    t0 = time.perf_counter()
                    for qid, qv in queries[:8]:
                        got = {
                            r.vec_id
                            for r in hamming_topk_rerank(
                                packed_v, qv, k=10, shortlist=sl
                            ).collect()
                        }
                        hit += len(exact8[qid] & got)
                    timings[f"hamming_rerank{sl}_{ek}"] = round(
                        time.perf_counter() - t0, 3
                    )
                    rows[f"hamming_rerank{sl}_{ek}"] = 80
                    extras[
                        f"hamming_rerank{sl}_recall_at10"
                    ] = round(hit / 80.0, 4)
            except Exception as exc:
                errors["hamming"] = f"{type(exc).__name__}: {exc}"[:200]

        # -------- zone-map file skipping at corpus scale: fresh sidecar
        # prunes the scan to the files intersecting the range; a stale
        # sidecar (file appended after build) falls back to the full
        # scan — correct results, no skipping — and the artifact records
        # files_read/files_total for both paths.
        if wanted("zonemap"):
            from mcp_hubspot_spark.sources.zonemap import (
                build_zonemap,
                read_pruned,
                write_zordered,
            )

            try:
                zdir = str(work / "docs_zordered")
                write_zordered(
                    docs.select("doc_id", "n_chars", "text"),
                    zdir,
                    "doc_id",
                    "n_chars",
                    n_files=64,
                )
                build_zonemap(spark, zdir, ["doc_id", "n_chars"])
                lo, hi = 0, max(1, n_docs // 100)  # ~1% of the id range

                def _fresh():
                    df, n_read, n_total = read_pruned(
                        spark, zdir, "doc_id", lo, hi
                    )
                    extras["zonemap_fresh_files_read"] = n_read
                    extras["zonemap_files_total"] = n_total
                    return df.count()

                run_special(f"zonemap_pruned_read_{dk}", _fresh, int)

                # stale path: append one file the sidecar doesn't know
                docs.limit(1).select("doc_id", "n_chars", "text").coalesce(
                    1
                ).write.mode("append").parquet(zdir)

                def _stale():
                    df, n_read, n_total = read_pruned(
                        spark, zdir, "doc_id", lo, hi
                    )
                    extras["zonemap_stale_files_read"] = n_read
                    extras["zonemap_stale_files_total"] = n_total
                    return df.count()

                run_special(f"zonemap_stale_fallback_{dk}", _stale, int)
            except Exception as exc:
                errors["zonemap"] = f"{type(exc).__name__}: {exc}"[:200]

        # round-10: persisted inverted index — the lexical serving twin.
        # build once (one tokenize pass + (doc,term) agg + partitioned
        # write), then BM25 and phrase queries read ONLY the buckets
        # their terms hash to; compare bm25_search_{dk} (the one-shot
        # corpus rescan) for the build-once/query-many payoff.
        if wanted("text_index"):
            from mcp_hubspot_spark.text_index import TextIndex

            tix = TextIndex(spark, str(work / "tix"))
            run_special(
                f"text_index_build_{dk}",
                lambda: tix.build(docs),
                lambda _: n_docs,
            )
            run_special(
                f"text_index_bm25_{dk}",
                lambda: tix.search(["spark", "window", "hash"], k=10).collect(),
                len,
            )
            run_special(
                f"text_index_phrase_{dk}",
                lambda: tix.phrase_hits("table table").collect(),
                len,
            )
            # round-11: one pruned read serving 8 BM25 queries — compare
            # 8x text_index_bm25_{dk} for the batching payoff
            run_special(
                f"text_index_bm25_batch8_{dk}",
                lambda: tix.search_batch(
                    _bm25_batch_queries(), k=10
                ).collect(),
                len,
            )
            # round-11: index-served multi-phrase blocklist — compare
            # blocklist_report_16_{dk} (the corpus-rescan hybrid)
            run_special(
                f"text_index_blocklist16_{dk}",
                lambda: tix.blocklist_hits(_blk_phrases(16)).count(),
                int,
            )

        # round-12 (r11 verdict #5): pruned-read latency vs epoch count.
        # Streaming ingest lands one epoch partition set per micro-batch;
        # the read-side listing + newest-generation aggregate grow with
        # epoch count. Build the SAME ~100k-doc index as 1 / 16 / 128
        # epochs, measure search at each, then compact the 128-epoch one
        # (the maybe_compact policy path) and re-measure — the fold must
        # restore the single-epoch latency and identical scores.
        if wanted("text_index_epochs"):
            try:
                from mcp_hubspot_spark.text_index import TextIndex

                from mcp_hubspot_spark.operators.text import (
                    tokens as _toks,
                )

                esub = docs.filter(
                    F.pmod(F.xxhash64("doc_id", F.lit(3)),
                           F.lit(max(1, n_docs // 50_000))) == 0
                ).select("doc_id", "text").cache()
                n_esub = esub.count()
                eterms = ["spark", "window", "hash"]
                ref_scores = None
                for n_ep in (1, 16, 128):
                    exi = TextIndex(spark, str(work / f"tixep{n_ep}"))
                    slice_col = F.pmod(
                        F.xxhash64("doc_id", F.lit(7)), F.lit(n_ep)
                    )
                    # per-slice corpus stats in ONE aggregate so each
                    # add() skips its own count job — the measured
                    # ingest cost is the write path itself
                    sstats = {
                        int(r._s): (int(r.n), int(r.sdl or 0))
                        for r in esub.groupBy(slice_col.alias("_s"))
                        .agg(
                            F.count(F.lit(1)).alias("n"),
                            F.sum(
                                F.size(_toks(F.lower(F.col("text"))))
                            ).alias("sdl"),
                        )
                        .collect()
                    }
                    t0 = time.perf_counter()
                    slices = [
                        esub.filter(
                            F.pmod(F.xxhash64("doc_id", F.lit(7)),
                                   F.lit(n_ep)) == i
                        )
                        for i in range(n_ep)
                    ]
                    exi.build(slices[0])
                    for i in range(1, n_ep):
                        exi.add(
                            slices[i], epoch=i, stats_delta=sstats[i]
                        )
                    extras[f"tix_epochs_ingest_sec_e{n_ep}"] = round(
                        time.perf_counter() - t0, 3
                    )
                    exi.search(eterms, k=10).collect()  # codegen warm
                    reps = []
                    for _ in range(3):
                        t0 = time.perf_counter()
                        got = exi.search(eterms, k=10).collect()
                        reps.append(time.perf_counter() - t0)
                    extras[f"tix_epochs_search_sec_e{n_ep}"] = round(
                        min(reps), 3
                    )
                    extras[f"tix_epochs_search_spread_e{n_ep}"] = round(
                        max(reps) - min(reps), 3
                    )
                    scores = [(r.doc_id, round(r.score, 9)) for r in got]
                    if ref_scores is None:
                        ref_scores = scores
                    elif scores != ref_scores:
                        errors[f"tix_epochs_e{n_ep}"] = "score drift vs e1"
                    if n_ep == 128:
                        t0 = time.perf_counter()
                        assert exi.maybe_compact(max_epochs=64)
                        extras["tix_epochs_compact_sec"] = round(
                            time.perf_counter() - t0, 3
                        )
                        reps = []
                        for _ in range(3):
                            t0 = time.perf_counter()
                            got = exi.search(eterms, k=10).collect()
                            reps.append(time.perf_counter() - t0)
                        extras["tix_epochs_search_sec_e128_folded"] = round(
                            min(reps), 3
                        )
                        scores = [
                            (r.doc_id, round(r.score, 9)) for r in got
                        ]
                        if scores != ref_scores:
                            errors["tix_epochs_folded"] = "score drift"
                esub.unpersist()
            except Exception as exc:
                errors["text_index_epochs"] = (
                    f"{type(exc).__name__}: {exc}"[:200]
                )

        # round-11: index-backed hybrid retrieval (r10 verdict worklist
        # #3) — TextIndex BM25 shortlist + IvfIndex ANN shortlist -> RRF
        # fuse, vs the brute twin that rescans the corpus on both legs.
        # The pinning test runs at full probe; here the serving config
        # (nprobe=4) measures the deployed shape.
        if wanted("hybrid"):
            try:
                from mcp_hubspot_spark.serving import hybrid_rrf_serve
                from mcp_hubspot_spark.text_index import TextIndex
                from mcp_hubspot_spark.vector_store import IvfIndex
                # NOTE: knn comes from the MODULE-level import. A
                # function-local `from ... import knn` here makes `knn`
                # local to all of main() at compile time, so every
                # earlier section referencing it (ivf_recall, pq_*,
                # hamming) dies with UnboundLocalError — r11 added the
                # local import and no full run exposed it until r12.
                from pyspark.sql.window import Window as _W

                htix = TextIndex(spark, str(work / "htix"))
                htix.build(docs)
                hvix = IvfIndex(spark, str(work / "hvix"))
                # pq_m so the PQ dense leg is measurable on this index
                hvix.build(
                    embs, n_cells=max(16, n_embs // 25_000),
                    pq_m=8, pq_codes=256,
                )
                hterms = ["spark", "window", "hash"]

                def _hybrid_served():
                    return hybrid_rrf_serve(
                        htix, hvix, hterms, probe, k=10,
                        shortlist=20, nprobe=4,
                    ).collect()

                def _hybrid_brute():
                    lex = (
                        bm25_scores(docs, hterms)
                        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
                        .limit(20)
                        .withColumn(
                            "lex_rank",
                            F.row_number().over(
                                _W.orderBy(
                                    F.col("score").desc(),
                                    F.col("doc_id").asc(),
                                )
                            ),
                        )
                        .select("doc_id", "lex_rank")
                    )
                    vec = knn(
                        embs.select(
                            "vec_id",
                            F.col("embedding")
                            .cast("array<double>")
                            .alias("embedding"),
                        ),
                        probe,
                        k=20,
                    ).select(
                        F.col("vec_id").alias("doc_id"),
                        F.col("rank").alias("vec_rank"),
                    )
                    rrf = F.coalesce(
                        1.0 / (60 + F.col("lex_rank")), F.lit(0.0)
                    ) + F.coalesce(
                        1.0 / (60 + F.col("vec_rank")), F.lit(0.0)
                    )
                    return (
                        lex.join(vec, "doc_id", "full_outer")
                        .select(
                            "doc_id",
                            F.round(rrf, 6).alias("rrf_score"),
                        )
                        .orderBy(
                            F.col("rrf_score").desc(), F.col("doc_id").asc()
                        )
                        .limit(10)
                        .collect()
                    )

                run_special(f"hybrid_rrf_served_{dk}", _hybrid_served, len)
                run_special(f"hybrid_rrf_brute_{dk}", _hybrid_brute, len)

                # PQ dense leg: the scan reads 8-byte-ish codes instead
                # of the embedding column, exact-reranks the ADC top-80
                def _hybrid_served_pq():
                    return hybrid_rrf_serve(
                        htix, hvix, hterms, probe, k=10,
                        shortlist=20, nprobe=4, dense="pq", pq_rerank=80,
                    ).collect()

                run_special(
                    f"hybrid_rrf_served_pq_{dk}", _hybrid_served_pq, len
                )
                # recall@10 of each serving config vs the brute fusion
                try:
                    brute_ids = {r.doc_id for r in _hybrid_brute()}
                    for label, fn_ in (
                        ("hybrid_recall_exact_nprobe2", lambda: hybrid_rrf_serve(
                            htix, hvix, hterms, probe, k=10,
                            shortlist=20, nprobe=2).collect()),
                        ("hybrid_recall_exact_nprobe4", _hybrid_served),
                        ("hybrid_recall_pq_nprobe4", _hybrid_served_pq),
                    ):
                        got = {r.doc_id for r in fn_()}
                        extras[label] = round(
                            len(got & brute_ids) / max(1, len(brute_ids)), 4
                        )
                except Exception as exc:
                    errors["hybrid_recall"] = (
                        f"{type(exc).__name__}: {exc}"[:200]
                    )

                # round-12 (r11 verdict #6): a recall-vs-nprobe curve
                # where recall < 1. The r11 rows were all 1.0 because
                # each probe was a corpus vector whose planted group
                # fills the probed cells. BOUNDARY probes — midpoints
                # of two distinct corpus vectors — have true neighbors
                # straddling cells, so low nprobe must miss; recall is
                # averaged over 4 such probes against a brute exact-kNN
                # ground truth (ONE knn_batch scan), for the exact and
                # PQ dense legs at nprobe 1/2/4/8.
                try:
                    from mcp_hubspot_spark.operators.vector import (
                        knn_batch as _knn_batch,
                    )

                    # pair DISTINCT base vectors (vec_id = base*copies):
                    # queries[] are all copies of base 0 — midpoints of
                    # near-identical vectors are degenerate (the exact
                    # trap that saturated the r11 recall rows). Base
                    # vectors land in different synthetic clusters
                    # (vec_id % n_cent), so their midpoints straddle
                    # cell boundaries by construction.
                    base_vecs = {
                        int(r.vec_id): [float(x) for x in r.embedding]
                        for r in embs.filter(
                            (F.col("vec_id") % args.copies == 0)
                            & (F.col("vec_id") < 8 * args.copies)
                        ).collect()
                    }
                    bl = [base_vecs[b * args.copies] for b in range(8)]
                    mids = [
                        (
                            i,
                            [
                                (a + b) / 2.0
                                for a, b in zip(bl[2 * i], bl[2 * i + 1])
                            ],
                        )
                        for i in range(4)
                    ]
                    qdf = spark.createDataFrame(
                        mids, "query_id int, query_vec array<double>"
                    )
                    truth = {
                        qid: set()
                        for qid in range(4)
                    }
                    for r in _knn_batch(
                        embs.select(
                            "vec_id",
                            F.col("embedding")
                            .cast("array<double>")
                            .alias("embedding"),
                        ),
                        qdf,
                        k=10,
                    ).collect():
                        truth[int(r.query_id)].add(int(r.vec_id))
                    for np_ in (1, 2, 4, 8):
                        got = hvix.search_batch(mids, k=10, nprobe=np_)
                        by_q: dict[int, set] = {qid: set() for qid in range(4)}
                        for r in got.collect():
                            by_q[int(r.query_id)].add(int(r.vec_id))
                        rec = sum(
                            len(by_q[q] & truth[q]) / 10.0 for q in range(4)
                        ) / 4.0
                        extras[f"ivf_mid_recall_exact_np{np_}"] = round(rec, 4)
                        # two ADC rerank budgets: with boundary probes
                        # the coarse-PQ shortlist is the binding
                        # constraint — more probed cells mean more
                        # candidates competing for the shortlist slots,
                        # so recall vs nprobe is NON-monotone at a
                        # fixed small budget and the budget axis is the
                        # real knob (the measured trade, not a defect)
                        # rr=None is the r13 DERIVED DEFAULT
                        # (max(20k, 4k*nprobe)) — the row that pins
                        # "the shipped default serves the exact leg's
                        # curve", the r12 verdict's top item
                        for rr in (40, 200, None):
                            pq_rec = 0.0
                            for qid, qv in mids:
                                ids = {
                                    int(r.vec_id)
                                    for r in hvix.search_pq(
                                        qv, k=10, nprobe=np_, rerank=rr
                                    ).collect()
                                }
                                pq_rec += len(ids & truth[qid]) / 10.0
                            key = (
                                f"ivf_mid_recall_pq_np{np_}"
                                if rr == 40
                                else f"ivf_mid_recall_pq_rr200_np{np_}"
                                if rr == 200
                                else f"ivf_mid_recall_pq_default_np{np_}"
                            )
                            extras[key] = round(pq_rec / 4.0, 4)
                except Exception as exc:
                    errors["ivf_mid_recall"] = (
                        f"{type(exc).__name__}: {exc}"[:200]
                    )

                # batched serving twins: 8 queries against ONE pruned
                # posting read / cell scan each — compare 8x the
                # single-query rows above for the batching payoff
                def _ivf_batch():
                    return hvix.search_batch(
                        queries[:8], k=10, nprobe=4
                    ).collect()

                def _hybrid_batch():
                    from mcp_hubspot_spark.serving import (
                        hybrid_rrf_serve_batch,
                    )

                    tpool = [
                        "spark", "window", "hash", "table", "scan",
                        "fast", "sort", "merge", "join", "order",
                        "line", "value",
                    ]
                    hq = {
                        f"q{i}": (
                            [tpool[i % 12], tpool[(i + 3) % 12],
                             tpool[(i + 7) % 12]],
                            queries[i][1],
                        )
                        for i in range(8)
                    }
                    return hybrid_rrf_serve_batch(
                        htix, hvix, hq, k=10, shortlist=20, nprobe=4
                    ).collect()

                run_special(f"hybrid_ivf_batch8_{ek}", _ivf_batch, len)
                run_special(
                    f"hybrid_rrf_served_batch8_{dk}", _hybrid_batch, len
                )
                run_special(
                    f"hybrid_ivf_single_{ek}",
                    lambda: hvix.search(probe, k=10, nprobe=4).collect(),
                    len,
                )
            except Exception as exc:
                errors["hybrid"] = f"{type(exc).__name__}: {exc}"[:200]

        # round-11: trained-weights loop (r10 verdict worklist #5) —
        # parameter-averaged SGD over hashed features on a planted
        # label (docs containing 'spark' are positives), scored through
        # the serving join, ranked by the distinct-score AUC operator.
        if wanted("classifier_train"):
            try:
                from mcp_hubspot_spark.operators.classifier import (
                    binary_auc,
                    classifier_train,
                )

                lab = docs.withColumn(
                    "label",
                    F.array_contains(
                        F.split(F.lower("text"), r"\s+"), "spark"
                    ).cast("int"),
                )
                tr = lab.filter(F.col("doc_id") % 2 == 0)
                te = lab.filter(F.col("doc_id") % 2 == 1)
                trained = {}

                def _train():
                    w = classifier_train(
                        tr, num_buckets=1 << 18, epochs=1, lr=0.5
                    )
                    trained["w"] = w.cache()
                    return trained["w"].count()

                run_special(f"classifier_train_{dk}", _train, int)
                if "w" in trained:

                    def _auc():
                        scored = classifier_score(
                            te, trained["w"], num_buckets=1 << 18
                        ).join(te.select("doc_id", "label"), "doc_id")
                        return binary_auc(scored).first()

                    run_special(
                        f"classifier_train_auc_{dk}", _auc, lambda r: 1
                    )
                    row = _auc()
                    extras["classifier_train_auc"] = round(
                        float(row.auc), 4
                    )
                    trained["w"].unpersist()

                # round-12 calibration grid (r11 verdict #4): the r11
                # noisy probe saturated in one pass (single dominant
                # feature) AND its "shuffle" row was secretly
                # sequential SGD — AQE had coalesced the
                # unparameterized range shuffle to ONE partition
                # (classifier_train now pins the count). The
                # discriminating task is calibration_task's
                # shadow-confounder corpus, where one-pass
                # class-frequency scoring is poisoned by label-
                # correlated shadow tokens and unlearning them needs
                # repeated interleaved passes: AVERAGING GRANULARITY
                # (partition count) governs convergence, epochs help
                # in proportion to per-partition sequential work, and
                # within-partition order moves AUC at noise level
                # (numpy-replicated; pytest-pinned at 4k docs).
                from mcp_hubspot_spark.operators.classifier import (
                    calibration_task,
                )

                # hash-subsample to ~100k docs: the modulus must be
                # independent of the doc_id%2 train/test split below
                # (a plain doc_id%k subsample with even k left the test
                # half EMPTY)
                sub = docs.filter(
                    F.pmod(
                        F.xxhash64("doc_id"),
                        F.lit(max(1, n_docs // 100_000)),
                    )
                    == 0
                ).select("doc_id", "text")
                cal = calibration_task(sub)
                ctr = cal.filter(F.col("doc_id") % 2 == 0)
                cte = cal.filter(F.col("doc_id") % 2 == 1).cache()
                cte.count()
                for tag, ep, parts, sh in (
                    ("p4_e1", 1, 4, False),
                    ("p4_e2", 2, 4, False),
                    ("p256_e1", 1, 256, False),
                    ("p256_e2", 2, 256, False),
                    ("p256_e2_shuf", 2, 256, True),
                ):
                    try:
                        t0 = time.perf_counter()
                        wn = classifier_train(
                            ctr, num_buckets=1 << 18, epochs=ep,
                            lr=0.25, shuffle=sh, num_parts=parts,
                        ).cache()
                        wn.count()
                        extras[f"classifier_cal_train_sec_{tag}"] = round(
                            time.perf_counter() - t0, 3
                        )
                        sc = classifier_score(
                            cte, wn, num_buckets=1 << 18
                        ).join(cte.select("doc_id", "label"), "doc_id")
                        extras[f"classifier_cal_auc_{tag}"] = round(
                            float(binary_auc(sc).first().auc), 4
                        )
                        wn.unpersist()
                    except Exception as exc:
                        errors[f"classifier_cal_{tag}"] = (
                            f"{type(exc).__name__}: {exc}"[:200]
                        )
                cte.unpersist()
            except Exception as exc:
                errors["classifier_train"] = (
                    f"{type(exc).__name__}: {exc}"[:200]
                )

        # the sections above leave localCheckpoint/cache blocks whose
        # JVM-side cleanup waits on Python releasing py4j references —
        # after ~3500 stages of index builds the accumulated blocks blew
        # the 8g driver heap mid-cases-loop (r12 full run, OOM inside a
        # localCheckpoint sort). Drop Python refs + clear the cache so
        # ContextCleaner reclaims the heap before the query loop.
        import gc

        spark.catalog.clearCache()
        gc.collect()
        for name, fn in cases.items():
            if not wanted(name):
                continue
            try:
                t0 = time.perf_counter()
                fn().write.format("noop").mode("overwrite").save()
                cold[name] = round(time.perf_counter() - t0, 3)
                t1 = time.perf_counter()
                fn().write.format("noop").mode("overwrite").save()
                timings[name] = round(time.perf_counter() - t1, 3)
                rows[name] = fn().count()
            except Exception as exc:
                errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            gc.collect()  # release py4j refs so checkpoint blocks free

        payload = {
            "metric": "scale_operators_steady_total",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "n_docs": n_docs,
            "n_embeddings": n_embs,
            "copies": args.copies,
            "queries": timings,
            "cold_queries": cold,
            "cold_total": round(sum(cold.values()), 3),
            "rows": rows,
        }
        if extras:
            payload["extras"] = extras
        if errors:
            payload["errors"] = errors
        line = json.dumps(payload)
        print(line)
        if args.out:
            Path(args.out).write_text(line + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
