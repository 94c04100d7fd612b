"""Scale benchmark: one case per shipped operator or serving path, run over
the sf test corpus replicated ``copies`` times (40 copies of sf0.1 is
200k documents / 80k embeddings / 4M events), printed as one JSON line.

The corpus is deterministic: each copy of a document differs from its
near-duplicate group only by a short suffix, and each copy of an
embedding by a small per-member perturbation (:func:`build_corpus`). It
is written to parquet first, so a case times the operator, not the
corpus synthesis.

Every case is timed by ``mcp_hubspot_spark.measure``, as ``bench.py``
is: a cold rep, then steady reps, noop-sink materialization, a job count.
Cases over an index or a written table share that input: a ``*_build``
case rebuilds it on every rep; a case that reads it without its build
case selected makes it inside its own cold rep.

Usage:
    python scale_bench.py [--copies 40] [--out FILE] [--only SUB,SUB,...]

``--only`` keeps the cases whose name contains one of the substrings.
Env: SPARK_GRAFT_SF_DIR (the source scale factor, sf0.1 by default),
SPARK_GRAFT_CPUS, SPARK_GRAFT_DRIVER_MEM.
"""

from __future__ import annotations

import argparse
import gc
import json
import shutil
import tempfile
from pathlib import Path
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mcp_hubspot_spark.measure import measure, warm_up
from mcp_hubspot_spark.operators import analytics, profiling
from mcp_hubspot_spark.operators.classifier import (
    binary_auc,
    classifier_score,
    classifier_train,
    hashed_weight_table,
)
from mcp_hubspot_spark.operators.dedup import (
    connected_components,
    embedding_neardup_pairs,
    minhash_lsh_pairs,
    repeated_spans,
    scrub_repeated_spans,
    semantic_contamination_matmul,
    semantic_dedup_matmul,
    simhash_fingerprints,
)
from mcp_hubspot_spark.operators.layout import write_zordered
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
    kmv_join_overlap,
)
from mcp_hubspot_spark.operators.text import (
    blocklist_hits,
    bm25_scores,
    bm25_topk_batch,
    bpe_learn_merges,
    dedup_lines_keep_first,
    greedy_pack_docs,
    pack_sequences,
    quality_features,
    remove_boilerplate_lines,
    repetition_features,
    token_kl_divergence,
    tokens,
)
from mcp_hubspot_spark.operators.timeseries import seasonal_anomalies
from mcp_hubspot_spark.operators.vector import (
    hamming_topk,
    hamming_topk_rerank,
    knn,
    knn_batch_matmul,
    pq_encode_matmul,
    pq_search_rerank,
    pq_train_codebooks,
    sign_pack,
    train_centroids,
)
from mcp_hubspot_spark.serving import hybrid_rrf_serve, hybrid_rrf_serve_batch
from mcp_hubspot_spark.session import get_spark
from mcp_hubspot_spark.sources.catalog import DEFAULT_SF_DIR, load_table
from mcp_hubspot_spark.sources.zonemap import build_zonemap, read_pruned
from mcp_hubspot_spark.text_index import TextIndex
from mcp_hubspot_spark.vector_store import IvfIndex

GROUP_SIZE = 40  # near-dup group size is FIXED as the corpus grows

TERMS = ["spark", "window", "hash"]
TERM_POOL = [
    "spark", "window", "hash", "table", "scan", "fast",
    "sort", "merge", "join", "order", "line", "value",
]
BATCH_TERMS = {
    f"q{i}": [TERM_POOL[i % 12], TERM_POOL[(i + 3) % 12], TERM_POOL[(i + 7) % 12]]
    for i in range(8)
}


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
    pair count LINEAR in corpus size, so pair counts measure the
    operator rather than a synthetic copies² blow-up.
    """
    docs = load_table(spark, DEFAULT_SF_DIR, "documents")
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
    embs = load_table(spark, DEFAULT_SF_DIR, "embeddings")
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
    events = load_table(spark, DEFAULT_SF_DIR, "events")
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


def _k(n: int) -> str:
    return f"{n // 1000}k" if n >= 1000 else str(n)


def _cms_roundtrip(docs: DataFrame) -> DataFrame:
    """Build the CMS over the full token stream, then estimate every
    distinct term's frequency against it (the worst-case probe load)."""
    toks = docs.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("term")
    ).filter(F.col("term") != "")
    tc = toks.groupBy("term").agg(F.count("*").alias("cnt"))
    sketch = cms_build(tc, depth=4, width=1024)
    return cms_estimate(sketch, tc.select("term"), depth=4, width=1024)


def _blocklist(n: int) -> list[str]:
    """``n`` phrases: 8 that occur in the corpus, the rest that never do."""
    real = [
        "table table", "fast fast", "scan slow fast",
        "value table part", "the line sort", "key agg row",
        "batch window spark", "order data column",
    ]
    return real[:n] + [f"zzq{i} qqz{i}" for i in range(max(0, n - len(real)))]


def _drift_split(evs: DataFrame, col: str) -> tuple[DataFrame, DataFrame]:
    split = F.lit("2024-01-16").cast("timestamp")
    return (
        evs.filter(F.col("ts") < split).select(col),
        evs.filter(F.col("ts") >= split).select(col),
    )


def cases(spark, work: Path, docs, embs, evs) -> dict[str, Callable[[], Any]]:
    """The case table: name -> build, in run order. Names carry the row
    count of the input they read (docs, embeddings or events)."""
    n_docs, n_embs, n_evs = docs.count(), embs.count(), evs.count()
    dk, ek, evk = _k(n_docs), _k(n_embs), _k(n_evs)
    embs_d = embs.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in embs_d.orderBy("vec_id").limit(32).collect()
    ]
    probe = queries[0][1]
    n_cells = max(16, n_embs // 2500)
    labeled = docs.withColumn(
        "label",
        F.array_contains(F.split(F.lower("text"), r"\s+"), "spark").cast("int"),
    )
    clf_w = hashed_weight_table(spark, 1 << 18)

    def ivf_index():
        ix = IvfIndex(spark, str(work / "ivf"))
        ix.build(embs_d, n_cells=n_cells, pq_m=8, pq_codes=256)
        ix.export_manifest()
        return ix

    def text_index():
        tix = TextIndex(spark, str(work / "tix"))
        tix.build(docs)
        return tix

    def pq_codebooks():
        sample = embs_d.sample(fraction=min(1.0, 50_000 / max(1, n_embs)), seed=42)
        return pq_train_codebooks(sample, m=8, k=256, max_iter=5)

    def pq_stored():
        path = str(work / "pq")
        pq_encode_matmul(embs_d, shared("cbs")).select("vec_id", "pq_code").write.mode(
            "overwrite"
        ).parquet(path)
        return spark.read.parquet(path).join(embs_d, "vec_id")

    def signs():
        path = str(work / "signs")
        embs_d.select(
            "vec_id", "embedding", sign_pack("embedding", dim=64).alias("sign_code")
        ).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def zonemap():
        path = str(work / "docs_zordered")
        write_zordered(
            docs.select("doc_id", "n_chars", "text"), path, "doc_id", "n_chars", n_files=64
        )
        build_zonemap(spark, path, ["doc_id", "n_chars"])
        return path

    makers = {
        "ivf": ivf_index, "tix": text_index, "cbs": pq_codebooks,
        "pq": pq_stored, "signs": signs, "zonemap": zonemap,
    }
    made: dict[str, Any] = {}

    def make(key: str):
        made[key] = makers[key]()
        return made[key]

    def shared(key: str):
        return made[key] if key in made else make(key)

    def semdedup():
        # cell count grows with the corpus, so per-cell candidate squares
        # stay bounded as copies grows
        cents = train_centroids(embs_d, n_cells)
        cent_rows = [
            (int(r.cell_id), [float(x) for x in r.centroid]) for r in cents.collect()
        ]
        return semantic_dedup_matmul(embs_d, cent_rows, min_cosine=0.999)

    def ivf_maintenance():
        # delete every 100th vector (spread over all cells), re-add them in
        # two batches (multi-file cells), compact: the index ends as it began
        ix = shared("ivf")
        victims = embs_d.filter(F.col("vec_id") % 100 == 0)
        ix.delete(victims.select("vec_id"))
        ix.add(victims.filter(F.col("vec_id") % 200 == 0))
        ix.add(victims.filter(F.col("vec_id") % 200 != 0))
        return ix.compact()

    def hybrid_batch():
        hq = {q: (t, queries[i][1]) for i, (q, t) in enumerate(BATCH_TERMS.items())}
        return hybrid_rrf_serve_batch(
            shared("tix"), shared("ivf"), hq, k=10, shortlist=20, nprobe=4
        ).collect()

    lsh_pairs = lambda: minhash_lsh_pairs(docs, num_perm=16, bands=4)  # noqa: E731
    zone_hi = max(1, n_docs // 100)  # ~1% of the id range
    return {
        f"minhash_lsh_pairs_{dk}": lsh_pairs,
        f"dedup_clusters_{dk}": lambda: connected_components(
            lsh_pairs().select("id_a", "id_b")
        ),
        f"simhash_fingerprints_{dk}": lambda: simhash_fingerprints(docs),
        # dim inferred from the data: a wrong dim nulls the plane dots
        f"embedding_neardup_lsh_{ek}": lambda: embedding_neardup_pairs(embs, n_planes=12),
        f"semantic_dedup_{ek}": semdedup,
        # behavioral analytics over copies-times the user population
        f"event_funnel_{evk}": lambda: analytics.ordered_funnel(
            evs, ["view", "click", "purchase"]
        ),
        f"event_transitions_{evk}": lambda: analytics.transition_matrix(evs),
        f"copurchase_lift_{evk}": lambda: analytics.copurchase_lift(
            evs.select("user_id", "event_type"),
            basket_col="user_id", item_col="event_type", min_pair_count=2,
        ),
        f"token_kl_{dk}": lambda: token_kl_divergence(docs, slice_col="source"),
        f"psi_drift_{evk}": lambda: profiling.psi_drift(
            *_drift_split(evs, "value"), value_col="value", n_bins=10
        ),
        f"ks_drift_{evk}": lambda: profiling.ks_drift(
            *_drift_split(evs, "value"), value_col="value"
        ),
        f"ks_drift_approx_{evk}": lambda: profiling.ks_drift(
            *_drift_split(evs, "value"), value_col="value", approx=True
        ),
        f"type_drift_{evk}": lambda: profiling.categorical_drift(
            *_drift_split(evs, "event_type"), cat_col="event_type"
        ),
        f"path_trigrams_{evk}": lambda: analytics.session_path_ngrams(
            evs, n=3, gap_s=1800, k=20
        ),
        f"seasonal_anomalies_{evk}": lambda: seasonal_anomalies(evs, k=20),
        f"kmv_overlap_{evk}": lambda: kmv_join_overlap(
            evs.filter(F.col("event_type") == "click"),
            evs.filter(F.col("event_type") == "purchase"),
            key_a="user_id", k=64,
        ),
        # approx=True: the GK-sketch percentile, the path for huge user counts
        f"funnel_latency_{evk}": lambda: analytics.funnel_latency(
            evs, start_type="view", end_type="purchase", quantiles=(0.5,), approx=True
        ),
        f"repetition_features_{dk}": lambda: repetition_features(docs),
        f"quality_features_{dk}": lambda: quality_features(docs),
        f"pack_sequences_{dk}": lambda: pack_sequences(docs),
        f"remove_boilerplate_{dk}": lambda: remove_boilerplate_lines(docs),
        f"knn_l2_{ek}": lambda: knn(embs, probe, k=10),
        f"knn_matmul_32q_{ek}": lambda: knn_batch_matmul(embs, queries, k=10),
        # benchmark = base docs sampled 1/1000
        f"bloom_decontaminate_{dk}": lambda: bloom_prefiltered_contamination(
            docs,
            docs.filter(F.col("doc_id") % 1000 == 0).select("doc_id", "text"),
            n=7,
            num_bits=1 << 18,
        ),
        f"kmv_distinct_{dk}": lambda: kmv_distinct(docs, ["lang"], "doc_id", k=256),
        f"dedup_lines_keep_first_{dk}": lambda: dedup_lines_keep_first(docs),
        f"bm25_search_{dk}": lambda: bm25_scores(docs, TERMS),
        f"bm25_batch8_{dk}": lambda: bm25_topk_batch(docs, BATCH_TERMS, k=10),
        f"weighted_sample_{dk}": lambda: weighted_sample(docs, "n_chars", k=1000),
        f"temperature_mixture_{dk}": lambda: temperature_mixture(docs, "lang", alpha=0.5),
        f"hash_sample_quantiles_{dk}": lambda: hash_sample_quantiles(
            docs, F.col("doc_id"), "n_chars", qs=[0.5, 0.9, 0.99], m=4000
        ),
        f"cms_build_estimate_{dk}": lambda: _cms_roundtrip(docs),
        f"per_group_cap_{dk}": lambda: per_group_cap(docs, "source", "doc_id", k=100),
        # eval set = 1/40 of the vectors, broadcast against the rest
        f"semantic_contamination_{ek}": lambda: semantic_contamination_matmul(
            embs.filter(F.col("vec_id") % 40 != 0),
            embs.filter(F.col("vec_id") % 40 == 0),
            min_cosine=0.99,
        ),
        f"greedy_pack_{dk}": lambda: greedy_pack_docs(
            docs, "n_chars", capacity=4096, n_shards=32
        ),
        # xxhash64 shingle keys and a stop-shingle cap (~1.5x the dup-group
        # size) so the inverted-index join shuffles 8-byte keys and never squares
        f"substring_spans_{dk}": lambda: repeated_spans(
            docs, k=16, hash_shingles=True, max_df=64
        ),
        f"substring_scrub_{dk}": lambda: scrub_repeated_spans(
            docs, k=16, hash_shingles=True, max_df=64
        ),
        f"classifier_join_{dk}": lambda: classifier_score(docs, clf_w, num_buckets=1 << 18),
        f"classifier_train_{dk}": lambda: classifier_train(
            labeled.filter(F.col("doc_id") % 2 == 0), num_buckets=1 << 18, epochs=1, lr=0.5
        ),
        f"classifier_auc_{dk}": lambda: binary_auc(
            classifier_score(docs, clf_w, num_buckets=1 << 18).join(
                labeled.select("doc_id", "label"), "doc_id"
            )
        ),
        # a list blocklist compiles to an in-scan literal filter; a table
        # blocklist takes the shingle join
        f"blocklist_report_16_{dk}": lambda: blocklist_hits(docs, _blocklist(16)),
        f"blocklist_barejoin_1024_{dk}": lambda: blocklist_hits(
            docs,
            spark.createDataFrame([(p,) for p in _blocklist(1024)], "phrase string"),
            lengths=[2, 3],
        ),
        f"zipf_fit_{dk}": lambda: profiling.zipf_fit(docs),
        # BPE trains on a ~2.5% hash sample (its scale contract: pair
        # counts converge); a driver loop returning the merges
        f"bpe_merges_{dk}": lambda: bpe_learn_merges(
            hash_stratified_sample(docs, "lang", {}, id_col="doc_id", default_rate=0.025),
            k=4,
        ),
        f"zonemap_pruned_read_{dk}": lambda: read_pruned(
            spark, shared("zonemap"), "doc_id", 0, zone_hi
        )[0],
        f"ivf_build_{ek}": lambda: make("ivf"),
        # the serving shape: k=10 over 7 probed cells
        f"ivf_serving_latency_{ek}": lambda: shared("ivf").search(
            probe, k=10, nprobe=7
        ).collect(),
        f"ivf_search_pq_{ek}": lambda: shared("ivf").search_pq(
            probe, k=10, nprobe=7
        ).collect(),
        f"hybrid_ivf_batch8_{ek}": lambda: shared("ivf").search_batch(
            queries[:8], k=10, nprobe=4
        ).collect(),
        f"ivf_maintenance_1pct_{ek}": ivf_maintenance,
        f"pq_train_codebooks_{ek}": lambda: make("cbs"),
        f"pq_encode_{ek}": lambda: pq_encode_matmul(embs_d, shared("cbs")),
        f"pq_search_rerank_{ek}": lambda: pq_search_rerank(
            shared("pq"), shared("cbs"), probe, k=10, shortlist=200
        ).collect(),
        f"sign_pack_{ek}": lambda: embs_d.select(
            "vec_id", sign_pack("embedding", dim=64).alias("sign_code")
        ),
        f"hamming_top10_{ek}": lambda: hamming_topk(
            shared("signs").select("vec_id", "sign_code"), probe, k=10
        ).collect(),
        f"hamming_rerank100_{ek}": lambda: hamming_topk_rerank(
            shared("signs"), probe, k=10, shortlist=100
        ).collect(),
        f"text_index_build_{dk}": lambda: make("tix"),
        f"text_index_bm25_{dk}": lambda: shared("tix").search(TERMS, k=10).collect(),
        f"text_index_phrase_{dk}": lambda: shared("tix").phrase_hits("table table").collect(),
        f"text_index_bm25_batch8_{dk}": lambda: shared("tix").search_batch(
            BATCH_TERMS, k=10
        ).collect(),
        f"text_index_blocklist16_{dk}": lambda: shared("tix").blocklist_hits(_blocklist(16)),
        f"hybrid_rrf_served_{dk}": lambda: hybrid_rrf_serve(
            shared("tix"), shared("ivf"), TERMS, probe, k=10, shortlist=20, nprobe=4
        ).collect(),
        f"hybrid_rrf_served_batch8_{dk}": hybrid_batch,
    }


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
    spark = get_spark(app_name="scale_bench")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark)
    work = Path(tempfile.mkdtemp(prefix="scale_bench_"))
    try:
        docs, embs, evs = (
            spark.read.parquet(p) for p in build_corpus(spark, work, args.copies)
        )
        table = cases(spark, work, docs, embs, evs)
        records: dict[str, dict] = {}
        for name, build in table.items():
            if only and not any(s in name for s in only):
                continue
            records.update(measure(spark, {name: build}))
            # release py4j references, so the JVM can free checkpoint and
            # cache blocks between cases instead of running out of heap
            gc.collect()
        timed = {n: r for n, r in records.items() if "error" not in r}
        payload = {
            "metric": "scale_operators_steady_total",
            "value": round(sum(r["best_s"] for r in timed.values()), 3),
            "unit": "sec",
            "copies": args.copies,
            "cases": timed,
        }
        errors = {n: r["error"] for n, r in records.items() if "error" in r}
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
