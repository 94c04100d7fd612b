"""Sketch-based operators: Bloom-filter membership pre-filtering and
KMV (k-minimum-values) distinct-count estimation.

Why sketches at 100 TB: the exact decontamination join
(``dedup.ngram_contamination``) broadcasts the benchmark n-gram SET — fine
for millions of n-grams, but a 10^9-n-gram blocklist is tens of GB as
strings and stops being broadcastable long before the doc side stops being
huge. A Bloom filter compresses membership to ~10 bits/element with a
tunable false-positive rate, so the same blocklist is ~1 GB of longs —
shippable to every executor — and the doc side stays a single linear scan
with a map-side bitset probe; only the tiny surviving fraction reaches an
exact confirming join (which removes the false positives, so the operator
output stays EXACT).

Parity anchor: the reference filters records client-side against in-memory
id sets (e.g. dedup existence checks, `clients/contact_client.py:79-87`);
the Bloom pre-filter is that membership test re-expressed as a
constant-space, cluster-shippable bitset.

Everything here is pure Spark expressions (codegen'd, JVM-side); the only
driver-side data is the bitset itself (bounded by construction) and it is
embedded as a literal array so every task probes process-local memory.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.scalars import const_long_array

__all__ = [
    "bloom_build",
    "bloom_might_contain",
    "bloom_prefiltered_contamination",
    "cms_build",
    "cms_estimate",
    "hash_sample_quantiles",
    "kmv_distinct",
]


def _positions(value: Column, num_bits: int, num_hashes: int) -> list[Column]:
    """k bit positions for a value via Kirsch-Mitzenmacher double hashing:
    pos_i = (h1 + i*h2) mod m with h1=xxhash64, h2=murmur3. Both hashes are
    reduced mod m BEFORE combining so the arithmetic never overflows a
    long under ANSI semantics (m <= 2^30 in practice)."""
    h1 = F.pmod(F.xxhash64(value), F.lit(num_bits))
    h2 = F.pmod(F.hash(value).cast("long"), F.lit(num_bits))
    return [
        F.pmod(h1 + F.lit(i) * h2, F.lit(num_bits)) for i in range(num_hashes)
    ]


def bloom_build(
    values: DataFrame,
    col: str,
    num_bits: int = 1 << 16,
    num_hashes: int = 5,
) -> list[int]:
    """Build a Bloom bitset over ``values[col]`` distributively and return
    it as ``num_bits/64`` longs.

    Plan shape: each value expands to its k (word_index, bit_mask) pairs,
    then ONE groupBy(word_index).bit_or(mask) — map-side partial OR means
    each partition sends at most ``num_bits/64`` rows to the shuffle
    regardless of input size; the collect is bounded by the bitset size
    (8 KiB per 2^16 bits), never by the data. ``values`` need NOT be
    distinct: ``bit_or`` is idempotent, so duplicates change nothing and
    are absorbed by the map-side partial aggregation — never pre-distinct
    the input, that is a full extra shuffle for zero effect on the bitset.
    Size ``num_bits`` ~10x the expected distinct count for ~1% false
    positives with k=5.
    """
    assert num_bits % 64 == 0
    pos = _positions(F.col(col), num_bits, num_hashes)
    pairs = values.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        (p / 64).cast("int").alias("w"),
                        F.call_function(
                            "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
                        ).alias("m"),
                    )
                    for p in pos
                ]
            )
        ).alias("pm")
    )
    rows = (
        pairs.select(F.col("pm.w").alias("w"), F.col("pm.m").alias("m"))
        .groupBy("w")
        .agg(F.bit_or("m").alias("mask"))
        .collect()
    )
    words = [0] * (num_bits // 64)
    for r in rows:
        words[r["w"]] = r["mask"]
    return words


def bloom_might_contain(
    value: Column, words: list[int], num_hashes: int = 5
) -> Column:
    """Membership probe against a built bitset: true iff all k bits are
    set. The bitset rides along as ONE literal array column — a single
    broadcast-like constant in the codegen'd plan, probed with
    element_at + shift, no join, no shuffle."""
    num_bits = len(words) * 64
    # SQL-text literal: an F.lit(list) form converts at
    # ~0.4 ms/element driver-side (~0.5 s per build at the default
    # 2^16 bits = 1024 words); parsing the array(...) text is ~free and
    # integer literals are trivially exact
    lit_words = const_long_array(words)
    pos = _positions(value, num_bits, num_hashes)
    checks = [
        F.call_function(
            "shiftrightunsigned",
            F.element_at(lit_words, (p / 64).cast("int") + 1),
            (p % 64).cast("int"),
        ).bitwiseAND(F.lit(1))
        == 1
        for p in pos
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out


def bloom_prefiltered_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    doc_id: str = "doc_id",
    bench_id: str = "doc_id",
    text_col: str = "text",
    num_bits: int = 1 << 16,
    num_hashes: int = 5,
) -> DataFrame:
    """Benchmark decontamination with a Bloom pre-filter: EXACT output
    (same contract as ``dedup.ngram_contamination`` — per-doc count of
    n-grams shared with the benchmark corpus), but the doc side is first
    thinned by a constant-space bitset probe so the confirming join only
    sees candidate n-grams.

    Two-phase exactness argument: Bloom filters have no false negatives,
    so every truly-contaminated n-gram survives the probe; the exact
    broadcast join then discards the (tunably rare) false positives.
    At 100 TB this is the difference between joining every doc n-gram
    (shuffle-free but CPU-bound on a giant broadcast hash map) and
    probing a bitset that fits in L2/L3 with only ~FPR + true-hit
    fraction of n-grams ever touching the hash join.

    No dedup exchanges anywhere: ``word_shingles`` is per-doc distinct
    by construction, so (bench_id, ng) rows are already unique for the
    broadcast build; the bitset build needs no distinct at all because
    ``bit_or`` is idempotent (a duplicate n-gram ORs the same bits); and
    the final aggregates are countDistinct, which join multiplicity
    cannot change. The previous shape paid two full dedup shuffles of
    the benchmark n-gram set before the 1024-row bitset aggregate.
    """
    from .dedup import word_shingles

    bench_ngrams = benchmark.select(
        F.col(bench_id).alias("bench_id"),
        F.explode(word_shingles(text_col, n)).alias("_ng"),
    )
    words = bloom_build(
        bench_ngrams.select("_ng"), "_ng", num_bits, num_hashes
    )
    doc_ngrams = docs.select(
        F.col(doc_id), F.explode(word_shingles(text_col, n)).alias("_ng")
    )
    candidates = doc_ngrams.filter(
        bloom_might_contain(F.col("_ng"), words, num_hashes)
    )
    hits = candidates.join(F.broadcast(bench_ngrams), on="_ng")
    return hits.groupBy(doc_id).agg(
        F.countDistinct("_ng").alias("n_contaminated_ngrams"),
        F.countDistinct("bench_id").alias("n_benchmarks_hit"),
    )


# 2^60 as a double (exact): the KMV hash domain size.
_KMV_DOMAIN = float(1 << 60)


def kmv_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Deterministic KMV (k-minimum-values / bottom-k) distinct-count
    estimate per group: hash each value to a uniform 60-bit integer
    (md5-derived, so ENGINE-PORTABLE — DuckDB computes the identical
    sketch, which is what makes this estimator exactly oracle-checkable,
    unlike HLL whose register layout is engine-private), keep the k
    smallest DISTINCT hashes, and estimate
    ``distinct ≈ (k-1) / (h_k / 2^60)``. Groups with fewer than k
    distinct values report their exact distinct count.

    Plan shape — two-phase and mergeable, the defining sketch property:
    phase 1 reduces each (group, input-partition) to its k smallest
    distinct hashes (sorted-array slice, bounded k longs); phase 2 merges
    those k-lists per group (bounded k * n_partitions longs) and takes the
    global bottom-k. No full per-group value list is ever materialized on
    the reduce side, so a group with 10^9 distinct users costs the same
    shuffle bytes as one with 10^3. Returns group_cols + (n_sketch,
    est_distinct).
    """
    h = F.conv(F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    partial = (
        df.select(*group_cols, h.alias("_h"))
        .withColumn("_p", F.spark_partition_id())
        .groupBy(*group_cols, "_p")
        .agg(F.slice(F.array_sort(F.collect_set("_h")), 1, k).alias("_mins"))
    )
    merged = partial.groupBy(*group_cols).agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("_mins")))),
            1,
            k,
        ).alias("_mins")
    )
    n_sketch = F.size("_mins")
    kth = F.element_at("_mins", k)
    return merged.select(
        *group_cols,
        n_sketch.cast("long").alias("n_sketch"),
        F.when(n_sketch < k, n_sketch.cast("double"))
        .otherwise(
            F.lit(float(k - 1)) * F.lit(_KMV_DOMAIN) / kth.cast("double")
        )
        .alias("est_distinct"),
    )


def hash_sample_quantiles(
    df: DataFrame,
    id_col: "Column | str",
    value_col: "Column | str",
    qs: list[float],
    m: int = 2000,
) -> DataFrame:
    """Quantile estimation over a deterministic bottom-m hash sample: hash
    each row's unique id to a uniform 60-bit integer, keep the m rows with
    the smallest hashes (a fixed uniform sample, independent of physical
    layout), and return the DISCRETE sample quantiles (element at
    ceil(q*n) — no interpolation, so no cross-engine float-formula drift).

    This is the KMV trick applied to quantiles: the md5 hash makes the
    sample — and therefore the estimate — exactly reproducible in any
    engine, which is what lets an approximate quantile be ORACLE-CHECKED
    bit-for-bit (percentile_approx/GK sketches are engine-private; that
    path is ``doc_length_quantiles_approx`` with a tolerance test).

    Plan shape: ``orderBy(hash).limit(m)`` compiles to
    ``TakeOrderedAndProject`` — Spark's native mergeable bottom-m: each
    scan partition keeps a size-m JVM priority queue (O(rows · log m),
    no per-partition materialized arrays) and only m-bounded heaps cross
    the wire to the single merge. No global sort, no full-column
    shuffle. (An earlier version built the same shape by hand with
    collect_list + array_sort per partition — 2.5× slower at sf0.1
    because every row was materialized into an interpreted array before
    slicing.) Sample error is the standard ~1/sqrt(m) quantile
    deviation.
    """
    idc = F.col(id_col) if isinstance(id_col, str) else id_col
    vc = F.col(value_col) if isinstance(value_col, str) else value_col
    h = F.conv(F.substring(F.md5(idc.cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    base = df.select(h.alias("_h"), vc.cast("double").alias("_v"))
    # tie-break on _v to pin which value survives a (negligible-rate)
    # 60-bit hash collision at the m boundary — same order the previous
    # struct-sort used and the oracle's ORDER BY h, v reproduces
    sample = base.orderBy("_h", "_v").limit(m)
    merged = sample.agg(F.collect_list("_v").alias("_s"))
    vals = F.array_sort(F.col("_s"))
    n = F.size("_s")
    per_q = F.array(
        *[
            F.struct(
                F.lit(float(q)).alias("q"),
                F.element_at(vals, F.ceil(F.lit(float(q)) * n).cast("int")).alias(
                    "value"
                ),
            )
            for q in qs
        ]
    )
    return merged.select(F.explode(per_q).alias("_r")).select(
        F.col("_r.q").alias("q"), F.col("_r.value").alias("value")
    )


# ------------------------------------------------------- count-min sketch

def _cms_bucket(term: Column, j: int, width: int, seed: str) -> Column:
    """Row-j bucket for a term: 60-bit md5 of (seed, row, term) mod width
    — the same engine-reproducible hash family as the KMV/minhash ops."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}:{j}:"), term)), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return (h % width).cast("int")


def cms_build(
    term_counts: DataFrame,
    term_col: str = "term",
    count_col: str = "cnt",
    depth: int = 4,
    width: int = 256,
    seed: str = "cms",
) -> DataFrame:
    """Build a count-min sketch (Cormode & Muthukrishnan 2005) over a
    (term, count) frequency table: ``depth`` independent hash rows, each
    ``width`` buckets, cell = sum of counts of all terms hashing there.

    Why at 100 TB: the full term-frequency table of a web corpus has
    billions of rows; the sketch is a FIXED ``depth*width`` cells (a few
    KB) that still answers any point frequency query with one-sided error
    (estimate >= truth, overshoot <= eps*N with prob 1-delta, eps=e/width,
    delta=exp(-depth)). The cells aggregate with plain addition, so
    per-partition sketches merge by cell-wise sum — the same two-phase
    partial-agg shape Spark already gives groupBy(sum).

    Input is the already-aggregated (term, cnt) table (one wordcount
    shuffle with map-side combine); the sketch build itself shuffles only
    ``depth*width`` cells. Returns (row_idx, bucket, cell_count).
    """
    t = F.col(term_col)
    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("row_idx"),
                _cms_bucket(t, j, width, seed).alias("bucket"),
            )
            for j in range(depth)
        ]
    )
    return (
        term_counts.select(
            F.col(count_col).alias("_c"), F.explode(cells).alias("_cell")
        )
        .groupBy(
            F.col("_cell.row_idx").alias("row_idx"),
            F.col("_cell.bucket").alias("bucket"),
        )
        .agg(F.sum("_c").alias("cell_count"))
    )


def cms_estimate(
    sketch: DataFrame,
    terms: DataFrame,
    term_col: str = "term",
    depth: int = 4,
    width: int = 256,
    seed: str = "cms",
) -> DataFrame:
    """Point-frequency estimates from a count-min sketch: for each term,
    min over the ``depth`` cells it hashes to. The sketch (bounded at
    depth*width cells) is broadcast, so the probe side never shuffles —
    estimating frequencies for a billion-term stream is a map-only join.
    Terms whose cells were never touched estimate 0 via the coalesce.
    """
    t = F.col(term_col)
    probes = terms.select(
        term_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row_idx"),
                        _cms_bucket(t, j, width, seed).alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("_cell"),
    ).select(term_col, "_cell.row_idx", "_cell.bucket")
    return (
        probes.join(F.broadcast(sketch), ["row_idx", "bucket"], "left")
        .groupBy(term_col)
        .agg(
            F.min(F.coalesce(F.col("cell_count"), F.lit(0))).alias(
                "cms_estimate"
            )
        )
    )


def kmv_join_overlap(
    df_a: DataFrame,
    df_b: DataFrame,
    key_a: str,
    key_b: str | None = None,
    k: int = 64,
) -> DataFrame:
    """Join-cardinality planning from two KMV sketches (Beyer et al.,
    SIGMOD'07): estimate the DISTINCT-key overlap and Jaccard between
    two tables' join columns without ever joining them — the planner
    question "how many customers appear on both sides?" answered from
    two bottom-k sketches. Returns ONE row:
    (n_a_sketch, n_b_sketch, est_distinct_a, est_distinct_b,
    jaccard, est_overlap), estimates rounded to 4 dp.

    Method: bottom-k distinct 60-bit md5 hashes per side (the same
    engine-portable hash as :func:`kmv_distinct`, so the whole
    estimator is exactly oracle-checkable in DuckDB); the merged
    bottom-k ``M`` of the union is an unbiased sample of the union's
    hash space, so ``jaccard ≈ |{h ∈ M: h ∈ K_a ∧ h ∈ K_b}| / |M|``
    and ``overlap ≈ jaccard · est_distinct(union)``. Sides with fewer
    than k distinct keys are exact by construction.

    Scale shape: each side pays one distinct + TakeOrderedAndProject
    bottom-k (k longs out of any cardinality); everything after is
    ≤2k-row frames (unions, semi-join membership flags, a 1-row agg).
    The two sides never join on the raw keys at all.
    """
    kb = key_b or key_a

    def _hashes(df: DataFrame, col: str) -> DataFrame:
        h = F.conv(
            F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10
        ).cast("long")
        return df.select(h.alias("_h")).distinct().orderBy("_h").limit(k)

    ka = _hashes(df_a, key_a)
    kbt = _hashes(df_b, kb)
    merged = (
        ka.unionByName(kbt).distinct().orderBy("_h").limit(k)
    )
    # membership via left-semi joins on the tiny (<=k) frames
    in_a = merged.join(ka, "_h", "left_semi").select(
        "_h", F.lit(1).alias("_a")
    )
    in_b = merged.join(kbt, "_h", "left_semi").select(
        "_h", F.lit(1).alias("_b")
    )
    m = (
        merged.join(in_a, "_h", "left")
        .join(in_b, "_h", "left")
        .select(
            "_h",
            F.coalesce("_a", F.lit(0)).alias("_a"),
            F.coalesce("_b", F.lit(0)).alias("_b"),
        )
    )

    def _est(frame: DataFrame, alias: str) -> DataFrame:
        return frame.agg(
            F.count(F.lit(1)).alias(f"_n_{alias}"),
            F.max("_h").alias(f"_max_{alias}"),
        )

    def est_from(n, mx):
        return F.when(n < k, n.cast("double")).otherwise(
            F.lit(float(k - 1)) * F.lit(_KMV_DOMAIN) / mx.cast("double")
        )
    stats = (
        m.agg(
            F.count(F.lit(1)).alias("_n_m"),
            F.max("_h").alias("_max_m"),
            F.sum(
                ((F.col("_a") == 1) & (F.col("_b") == 1)).cast("int")
            ).alias("_both"),
        )
        .crossJoin(F.broadcast(_est(ka, "a")))
        .crossJoin(F.broadcast(_est(kbt, "b")))
    )
    jac = F.col("_both") / F.col("_n_m")
    union_est = est_from(F.col("_n_m"), F.col("_max_m"))
    return stats.select(
        F.col("_n_a").cast("long").alias("n_a_sketch"),
        F.col("_n_b").cast("long").alias("n_b_sketch"),
        F.round(est_from(F.col("_n_a"), F.col("_max_a")), 4).alias(
            "est_distinct_a"
        ),
        F.round(est_from(F.col("_n_b"), F.col("_max_b")), 4).alias(
            "est_distinct_b"
        ),
        F.round(jac, 4).alias("jaccard"),
        F.round(jac * union_est, 4).alias("est_overlap"),
    )
