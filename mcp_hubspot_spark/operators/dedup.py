"""Deduplication operators (north-star extension: training-data pipeline).

Five dedup families, each built so the expensive part is a key-partitioned
shuffle (never an n² cross join):

  * exact            — hash-groupBy on a content digest
  * minhash + LSH    — shingles → minhash signature → band buckets →
                       candidate pairs via bucket equi-join → verify jaccard
  * simhash          — 64-bit signed-bit fingerprint, hamming-ball buckets
  * n-gram jaccard   — token-shingle inverted-index join (bounded)
  * embedding cosine — LSH (random hyperplane) buckets, verify cosine

Everything is built-in functions except nothing: no Python UDFs here at
all — md5-based hashing keeps results deterministic across engines (the
DuckDB oracle can reproduce them string-for-string).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import const_long_array, memo_expr

from .text import positional_ngrams, tokens
from .vector import dot, l2_norm


# ------------------------------------------------------------------ exact

def exact_dedup(
    df: DataFrame,
    key_expr: Column,
    id_col: str = "doc_id",
    keep: str = "min",
) -> DataFrame:
    """Exact dedup: one representative row id per content digest.

    Map-side partial agg → one shuffle on the digest. At 100 TB the digest
    (16 bytes) shuffles, never the documents themselves.
    """
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    return (
        df.select(key_expr.alias("dedup_key"), F.col(id_col))
        .groupBy("dedup_key")
        .agg(agg.alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


# ---------------------------------------------------------------- shingles

def word_shingles(text_col: Column | str, n: int = 3) -> Column:
    """n-word shingles as an array<string> (distinct).

    Built with the linear shifted-array zip (``text.positional_ngrams``,
    5× the per-position slice construction at 200k docs); a doc shorter
    than ``n`` contributes its whole text as one shingle (the historical
    slice-past-end behavior, preserved)."""
    toks = tokens(F.lower(text_col if isinstance(text_col, Column) else F.col(text_col)))
    sh = F.when(F.size(toks) >= n, positional_ngrams(toks, n)).otherwise(
        F.array(F.array_join(toks, " "))
    )
    return F.array_distinct(sh)


# ----------------------------------------------------------------- minhash

MINHASH_PRIME = 1_000_000_007


def minhash_perm_constants(num_perm: int, seed: int = 42) -> tuple[list[int], list[int]]:
    """Deterministic affine-permutation constants (a, b) per hash, a != 0."""
    import random

    rng = random.Random(seed)
    a = [rng.randrange(1, MINHASH_PRIME) for _ in range(num_perm)]
    b = [rng.randrange(0, MINHASH_PRIME) for _ in range(num_perm)]
    return a, b


def minhash_signature(
    text_col: Column | str,
    num_perm: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
) -> Column:
    """MinHash signature as array<long> of length num_perm.

    Each shingle is hashed ONCE (first 60 bits of md5 — deterministic and
    reproducible in DuckDB via hex cast), then each "permutation" is the
    classic affine rehash min((a_p * h + b_p) mod P). The single-md5 +
    affine structure keeps cost O(shingles) instead of O(shingles *
    num_perm) hash invocations, and the whole signature is ONE expression
    over the hashed-shingle array so Catalyst never duplicates the md5.
    Jaccard(A,B) ≈ fraction of matching signature positions.

    Construction (a ~120 ms py4j chain) is memoized on the column NAME +
    every parameter — see ``memo_expr``. Only string inputs are
    memoized: a caller-supplied Column may be plan-bound (``df["x"]``),
    which renders identically to ``F.col("x")`` but resolves against one
    specific DataFrame, so sharing it across plans would mis-resolve.
    """
    if not isinstance(text_col, str):
        return _build_minhash_signature(text_col, num_perm, shingle_n, seed)
    return memo_expr(
        ("minhash_signature", text_col, num_perm, shingle_n, seed),
        lambda: _build_minhash_signature(
            F.col(text_col), num_perm, shingle_n, seed
        ),
    )


def _build_minhash_signature(
    text_col: Column, num_perm: int, shingle_n: int, seed: int
) -> Column:
    a, b = minhash_perm_constants(num_perm, seed)
    sh = word_shingles(text_col, n=shingle_n)
    hashes = F.transform(
        sh,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
        % MINHASH_PRIME,
    )
    # ONE aggregate pass accumulating all num_perm minima at once: HOF
    # lambdas have no common-subexpression elimination, so any structure
    # that references `hashes` per-permutation re-tokenizes and re-hashes
    # the document num_perm times (measured 100x slowdown).
    # two SQL-text literal arrays zipped into the (a, b) struct array
    # (arrays_zip names struct fields from the aliases) instead of one
    # Literal node per constant
    ab = F.arrays_zip(
        const_long_array(a).alias("a"),
        const_long_array(b).alias("b"),
    )
    init = const_long_array([MINHASH_PRIME] * num_perm)
    return F.aggregate(
        hashes,
        init,
        lambda acc, h: F.zip_with(
            acc,
            ab,
            lambda m, c: F.least(
                m, (c.getField("a") * h + c.getField("b")) % MINHASH_PRIME
            ),
        ),
    )


def minhash_bands(sig_col: Column, bands: int, rows_per_band: int) -> Column:
    """Band keys: array of ``band_idx:md5(concat(sig slice))`` strings. Two
    docs sharing ANY band key are candidates (classic LSH banding)."""
    return F.array(
        *[
            F.concat(
                F.lit(f"{b}:"),
                F.md5(
                    F.array_join(
                        F.transform(
                            F.slice(sig_col, b * rows_per_band + 1, rows_per_band),
                            lambda x: x.cast("string"),
                        ),
                        "|",
                    )
                ),
            )
            for b in range(bands)
        ]
    )


def _sig_match_fraction(col_a: str, col_b: str, num_perm: int) -> Column:
    """Fraction of matching signature positions as an UNROLLED codegen'd
    comparison sum — value-identical to the former
    ``size(filter(zip_with(a, b, =), m -> m)) / size(a)`` (signatures are
    fixed-length non-null long arrays by construction, so matches/num_perm
    is the same quotient), but whole-stage-codegen'd instead of an
    interpreted HOF chain. This matters because the LSH join evaluates
    the score once per BAND COLLISION (a pair colliding in c bands folds
    it c times, c <= bands): interpreted folds made the narrow shape
    ~20% slower at 200k docs; unrolled, it keeps its shuffle-byte win.
    Memoized on (cols, num_perm) — fixed SQL text."""
    terms = " + ".join(
        f"(case when `{col_a}`[{i}] = `{col_b}`[{i}] then 1 else 0 end)"
        for i in range(num_perm)
    )
    return memo_expr(
        ("sig_match_fraction", col_a, col_b, num_perm),
        lambda: F.expr(f"({terms}) / {float(num_perm)!r}D"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_jaccard: float | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash banding.

    Pipeline: signature (scan) → explode band keys → self-equi-join on band
    key (shuffle on band key only — this is what avoids n²) → jaccard
    verify → distinct pairs. Returns (id_a, id_b, sig_jaccard) with
    id_a < id_b.

    The jaccard is computed and ``min_jaccard`` applied BEFORE the pair
    ``distinct()``: sig_jaccard is a pure function of the pair, so
    dedup-then-filter and filter-then-dedup give identical rows, but the
    pre-filtered dedup exchange carries (long, long, double) instead of
    two num_perm-long signature arrays (~20x narrower at num_perm=16)
    and only the pairs that survive the threshold — at 100 TB the
    below-threshold band collisions never reach the shuffle at all.
    """
    if bands < 1 or num_perm % bands != 0:
        # bands > num_perm would make every band key md5("") — a full n²
        # self-join; non-divisible bands silently drops trailing signature
        # positions and loses recall
        raise ValueError(
            f"bands ({bands}) must divide num_perm ({num_perm}) evenly"
        )
    rows_per_band = num_perm // bands
    sigs = df.select(
        F.col(id_col),
        minhash_signature(text_col, num_perm, shingle_n).alias("sig"),
    )
    banded = sigs.select(
        id_col, "sig", F.explode(minhash_bands(F.col("sig"), bands, rows_per_band)).alias("band")
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"), "band"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"), "band"
    )
    jac = _sig_match_fraction("sig_a", "sig_b", num_perm)
    scored = (
        a.join(b, on="band")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(jac, 6).alias("sig_jaccard"))
    )
    if min_jaccard is not None:
        scored = scored.filter(F.col("sig_jaccard") >= min_jaccard)
    return scored.distinct()


# ----------------------------------------------------------------- simhash

SIMHASH_BITS = 60  # 15 hex digits of md5 → fits a signed 64-bit long


def simhash(text_col: Column | str, shingle_n: int = 2) -> Column:
    """60-bit SimHash over word shingles.

    Per shingle: hash = first 15 hex digits of md5 as a long (60 bits).
    Per bit: vote = sum over shingles of (+1 if set else -1); fingerprint
    bit = 1 iff vote > 0. Deterministic and engine-portable (md5), no UDF —
    one scan, no shuffle.

    Construction (a ~140 ms py4j chain) is memoized on the column NAME +
    shingle_n — see ``memo_expr``. Only string inputs are memoized
    (plan-bound Columns render like ``F.col`` but resolve against one
    DataFrame — see minhash_signature).
    """
    if not isinstance(text_col, str):
        return _build_simhash(text_col, shingle_n)
    return memo_expr(
        ("simhash", text_col, shingle_n),
        lambda: _build_simhash(F.col(text_col), shingle_n),
    )


def _build_simhash(text_col: Column, shingle_n: int) -> Column:
    sh = word_shingles(text_col, n=shingle_n)
    words = F.transform(
        sh, lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    )
    # one aggregate pass accumulating all 60 bit votes (see minhash note:
    # per-bit aggregates would re-hash the document 60 times — HOF lambdas
    # have no common-subexpression elimination)
    masks = const_long_array(1 << b for b in range(SIMHASH_BITS))
    votes = F.aggregate(
        words,
        # SQL-text int-array seed (F.lit(list-of-int) infers array<int>;
        # keep that exact type so the vote arithmetic is unchanged)
        F.expr("array(" + ", ".join(["0"] * SIMHASH_BITS) + ")"),
        lambda acc, w: F.zip_with(
            acc,
            masks,
            lambda v, m: v + F.when(w.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def hamming_distance(a: Column, b: Column) -> Column:
    """Hamming distance between two long fingerprints via bit_count(xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    shingle_n: int = 2,
) -> DataFrame:
    return df.select(F.col(id_col), simhash(text_col, shingle_n).alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    max_hamming: int = 3,
    n_blocks: int = 4,
    allow_partial_recall: bool = False,
) -> DataFrame:
    """SimHash near-dup pairs via block-permutation candidate generation:
    split the fingerprint into n_blocks bit-blocks; pairs within hamming
    distance d <= n_blocks-1 must agree on ≥1 whole block (pigeonhole), so
    a self-equi-join per block finds all candidates without n² — then the
    exact hamming verify filters."""
    if max_hamming > n_blocks - 1 and not allow_partial_recall:
        # pigeonhole only guarantees a shared block for d <= n_blocks-1;
        # beyond that the candidate set is incomplete — callers must opt
        # into the lossy mode explicitly
        raise ValueError(
            f"max_hamming ({max_hamming}) requires n_blocks >= "
            f"{max_hamming + 1} (pigeonhole), got {n_blocks}; pass "
            "allow_partial_recall=True to accept incomplete candidates"
        )
    fps = simhash_fingerprints(df, text_col, id_col, shingle_n)
    block_bits = SIMHASH_BITS // n_blocks
    block_keys = F.array(
        *[
            F.concat(
                F.lit(f"{i}:"),
                F.shiftrightunsigned(F.col("simhash"), i * block_bits)
                .bitwiseAND(F.lit((1 << block_bits) - 1))
                .cast("string"),
            )
            for i in range(n_blocks)
        ]
    )
    banded = fps.select(id_col, "simhash", F.explode(block_keys).alias("block"))
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("fp_a"), "block"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("fp_b"), "block"
    )
    return (
        a.join(b, on="block")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming_distance(F.col("fp_a"), F.col("fp_b")).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------- n-gram jaccard

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_jaccard: float = 0.1,
) -> DataFrame:
    """Exact Jaccard over n-gram shingle sets via inverted-index join.

    explode(shingles) → self-join on shingle (shuffle on shingle hash) →
    per-pair intersection count → jaccard = |∩| / (|A|+|B|-|∩|). Only pairs
    sharing ≥1 shingle are ever materialized; at scale add a band/LSH
    pre-filter (minhash_lsh_pairs) before the exact verify.
    """
    sized = df.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("sh")
    ).select(id_col, "sh", F.size("sh").alias("n_sh"))
    inv = sized.select(id_col, "n_sh", F.explode("sh").alias("shingle"))
    a = inv.select(
        F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"), "shingle"
    )
    b = inv.select(
        F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"), "shingle"
    )
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        inter.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_overlap: float = 0.8,
) -> DataFrame:
    """Containment dedup via the OVERLAP COEFFICIENT |A∩B| / min(|A|,|B|)
    — catches a short document embedded inside a long one (quote farms,
    wrapper pages, doc+boilerplate concatenations), where Jaccard divides
    by the UNION and scores arbitrarily low however complete the
    containment. RefinedWeb-style substring dedup, set-approximated at
    shingle granularity.

    Same inverted-index join shape (and scale caveat — LSH pre-filter
    first at 100 TB) as ``ngram_jaccard_pairs``; only the denominator
    differs, which is exactly why it is a separate named operator: the
    two scores answer different dedup questions.
    """
    sized = df.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("sh")
    ).select(id_col, "sh", F.size("sh").alias("n_sh"))
    inv = sized.select(id_col, "n_sh", F.explode("sh").alias("shingle"))
    a = inv.select(
        F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"), "shingle"
    )
    b = inv.select(
        F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"), "shingle"
    )
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    overlap = F.col("n_common").cast("double") / F.least("na", "nb")
    return (
        inter.select("id_a", "id_b", F.round(overlap, 6).alias("overlap"))
        .filter(F.col("overlap") >= min_overlap)
    )


# ------------------------------------------------- embedding near-duplicate

def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).astype("float64").tolist()


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    min_cosine: float = 0.9,
    n_planes: int | None = 8,
    dim: int | None = None,
    seed: int = 42,
    n_tables: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    With ``n_planes`` set: random-hyperplane LSH buckets first, exact cosine
    verify within buckets only (misses some cross-bucket pairs — recall
    trades for the n² → n·bucket_size reduction; raise recall by running
    multiple plane sets). With ``n_planes=None``: exact all-pairs (the
    correctness baseline; only for bounded inputs). ``dim`` defaults to
    the actual vector length — a mismatched dim would NULL every plane
    dot product and silently collapse all rows into one bucket (n²).
    """
    base = df.select(F.col(id_col), F.col(vec_col))
    if n_planes is not None and n_planes <= 0:
        raise ValueError(f"n_planes must be positive or None, got {n_planes}")
    if n_planes:
        if dim is None:
            first = base.select(F.size(vec_col).alias("d")).first()
            dim = int(first.d) if first is not None else 1  # empty in → empty out
        # n_tables independent plane sets: a pair is a candidate if it
        # collides in ANY table (explode → join on (table, bucket) →
        # distinct). Recall ≈ 1-(1-p^n_planes)^n_tables per pair, the
        # standard OR-of-ANDs LSH amplification; cost stays n·bucket_size.
        # sign bits for ALL tables' planes via ONE transform lambda over a
        # planes-array literal: the dot/sign body is code-generated once
        # and looped, instead of planes x tables inlined copies (the
        # inlined form's janino compile took 4-9 s and dominated the
        # query; same fold order and sign test, so buckets are identical)
        all_planes = [
            p
            for t in range(n_tables)
            for p in random_hyperplanes(dim, n_planes, seed + t)
        ]
        # NESTED constant tables stay SQL text: parsing the literal costs
        # ~5 ms, F.lit on nested lists ~1.2 s of per-element conversion
        planes_sql = "array(" + ", ".join(
            "array(" + ", ".join(f"{x!r}D" for x in p) + ")" for p in all_planes
        ) + ")"
        bits = F.expr(
            f"transform({planes_sql}, p -> CASE WHEN "
            f"aggregate(zip_with(`{vec_col}`, p, (x, y) -> x * y), 0.0D, "
            f"(acc, x) -> acc + x) > 0 THEN CAST(1 AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
        weights = ", ".join(f"CAST({1 << i} AS BIGINT)" for i in range(n_planes))
        structs = ", ".join(
            f"named_struct('t', {t}, 'b', "
            f"aggregate(zip_with(slice(_bits, {t * n_planes + 1}, {n_planes}), "
            f"array({weights}), (b, w) -> b * w), CAST(0 AS BIGINT), "
            f"(acc, x) -> acc + x))"
            for t in range(n_tables)
        )
        # L2 norm computed ONCE per row before the pair join: the cosine
        # verify then pays one interpreted fold (the dot) per candidate
        # pair instead of three — same floats (norm arithmetic is
        # identical either side of the join), 2/3 less HOF work on the
        # n·bucket_size verify stage
        base = base.withColumn("_bits", bits).withColumn(
            "_n", l2_norm(F.col(vec_col))
        )
        buckets = F.expr(f"array({structs})")
        banded = base.select(
            id_col, vec_col, "_n", F.explode(buckets).alias("_bucket")
        )
        a = banded.select(
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("va"),
            F.col("_n").alias("na"),
            "_bucket",
        )
        b = banded.select(
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("vb"),
            F.col("_n").alias("nb"),
            "_bucket",
        )
        # orient, score and threshold BEFORE the pair dedup: cosine is a
        # pure function of the id pair (each id carries one fixed vector),
        # so filter-then-distinct == distinct-then-filter row-for-row, and
        # the dedup exchange ships (long, long, double) instead of two
        # 64-double vectors + norms per BOTH orientations (~80x narrower).
        # Cost: a pair colliding in c tables pays the dot fold c times
        # (c <= n_tables) instead of once — the same trade
        # minhash_lsh_pairs makes, and it only touches candidate rows.
        cos_pre = dot(F.col("va"), F.col("vb")) / (
            F.col("na") * F.col("nb")
        )
        return (
            a.join(b, on=["_bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", cos_pre.alias("cosine"))
            .filter(F.col("cosine") >= min_cosine)
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        # a bounded corpus usually arrives as ONE parquet split, and a
        # cartesian product of 1x1 partitions runs on one core; spreading
        # the left side makes the (intentionally bounded) exact twin use
        # the whole machine while the right side broadcasts
        n_par = base.sparkSession.sparkContext.defaultParallelism
        normed = base.withColumn("_n", l2_norm(F.col(vec_col)))
        a = normed.repartition(n_par).select(
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("va"),
            F.col("_n").alias("na"),
        )
        b = normed.select(
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("vb"),
            F.col("_n").alias("nb"),
        )
        pairs = a.crossJoin(F.broadcast(b))
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        pairs.filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= min_cosine)
    )


# -------------------------------------------------- connected components

def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    src: str = "id_a",
    dst: str = "id_b",
    node_col: str = "node",
    label_col: str = "cluster_id",
    max_iter: int = 25,
    edges_distinct: bool = False,
    nodes_exhaustive: bool = False,
) -> DataFrame:
    """Transitive dedup clusters from a pair list: every node labeled with
    the MIN node id of its connected component (the canonical-document
    convention — keep the row whose id == its cluster_id, drop the rest).

    This is the step after LSH/simhash pair-finding that a real pipeline
    needs: near-dup relations are not transitive, so A~B and B~C must
    collapse into ONE {A,B,C} cluster before survivor selection.

    Algorithm: iterative min-label propagation over the symmetrized edge
    list. Each round rides a SELF-EDGE per node through the one
    (edges x labels) equi-join, so one aggregate yields
    ``min(own, min over neighbors)`` AND the node's previous label (the
    self-edge row) for the convergence test — one join + one
    min-aggregate per round, no second left-join back to the labels.
    The round's ``localCheckpoint`` is LAZY and the convergence count is
    the action that materializes it, so each round is exactly ONE job
    (the eager-checkpoint + separate isEmpty form was two); the
    checkpoint still truncates lineage so plan depth stays constant
    across iterations. Rounds needed = component diameter; dedup graphs
    are near-cliques (diameter 1-3), so this converges in 2-4 rounds.
    For adversarial high-diameter graphs (long chains) the published fix
    is alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce"), which this function's
    interface can host unchanged.

    ``nodes``: optional one-column frame of ALL node ids; isolated nodes
    (no edges) then surface as singleton clusters of themselves — a dedup
    report usually wants every document listed, matched or not.

    ``edges_distinct``: promise that ``edges`` is already duplicate-free
    with a strict orientation (src < dst per row — what
    ``minhash_lsh_pairs``/``simhash`` emit), which makes the symmetrized
    union duplicate-free by construction and skips its dedup exchange.
    Duplicate edges would not change any label (min over a multiset), so
    a wrong promise costs redundant join rows per round, never
    correctness.

    ``nodes_exhaustive``: promise that ``nodes`` is given, duplicate-free,
    and contains EVERY edge endpoint (the usual dedup case: edges are
    pairs over the very corpus whose ids are ``nodes``) — the initial
    label table is then ``nodes`` itself and the union+distinct exchange
    that would otherwise merge edge endpoints into it is skipped. Unlike
    the other promise this one is load-bearing: an endpoint missing from
    ``nodes`` would drop its edges from every round (the label join is
    inner on the destination), so only pass it when the superset
    relation holds by construction.
    """
    sym = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d")
    ).unionByName(
        edges.select(F.col(dst).alias("_s"), F.col(src).alias("_d"))
    )
    if not edges_distinct:
        sym = sym.distinct()
    # materialize ONCE: the edge list joins into every round, and an
    # upstream pipeline (e.g. the whole LSH candidate generation)
    # would otherwise re-execute per iteration
    sym = sym.localCheckpoint(eager=True)
    if nodes_exhaustive:
        if nodes is None:
            raise ValueError("nodes_exhaustive=True requires nodes")
        # nodes is promised unique and ⊇ edge endpoints: it IS the
        # initial label table — no union, no distinct exchange
        labels = nodes.select(
            F.col(nodes.columns[0]).alias(node_col)
        ).select(node_col, F.col(node_col).alias("_label"))
    else:
        labels = sym.select(F.col("_s").alias(node_col))
        if nodes is not None:
            labels = labels.unionByName(
                nodes.select(F.col(nodes.columns[0]).alias(node_col))
            )
        # one distinct over the union (not one per source); the first
        # iteration folds it into its own job off the sym checkpoint
        labels = labels.distinct().select(
            node_col, F.col(node_col).alias("_label")
        )
    for _ in range(max_iter):
        # self-edges (v, v) ride the join so every node (isolated ones
        # included) appears in the aggregate carrying its own label:
        # min over the group = min(own, neighbors), and the self-edge
        # row (_d == _s) is the previous label for the convergence test
        with_self = sym.unionByName(
            labels.select(
                F.col(node_col).alias("_s"), F.col(node_col).alias("_d")
            )
        )
        updated = (
            with_self.join(
                labels.select(F.col(node_col).alias("_n"), "_label"),
                F.col("_d") == F.col("_n"),
            )
            .groupBy("_s")
            .agg(
                F.min("_label").alias("_new"),
                F.min(
                    F.when(F.col("_d") == F.col("_s"), F.col("_label"))
                ).alias("_old"),
            )
            .select(
                F.col("_s").alias(node_col),
                F.col("_new").alias("_label"),
                "_old",
            )
        )
        # lazy checkpoint + count() = ONE action materializes the round
        # AND returns the number of changed labels; the iteration count
        # is the algorithm, not a driver-side data loop — each round's
        # data flow is fully distributed
        updated = updated.localCheckpoint(eager=False)
        n_changed = updated.filter(F.col("_label") < F.col("_old")).count()
        labels = updated.select(node_col, "_label")
        if n_changed == 0:
            break
    return labels.select(node_col, F.col("_label").alias(label_col))


# ----------------------------------------------------- decontamination

def ngram_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    doc_id: str = "doc_id",
    bench_id: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: which training docs contain any token
    n-gram that also appears in an evaluation/benchmark corpus (the
    standard 13-gram overlap test used to scrub eval sets out of
    pretraining data).

    Plan shape: the benchmark side is exploded to its distinct n-grams and
    BROADCAST — benchmark corpora are tiny (millions of n-grams) next to
    100 TB of training text, so the doc side is a single linear scan with
    a map-side hash probe, no shuffle of document data at all; only the
    (doc_id, hits) pairs that survive reach the one small aggregate
    shuffle. At larger benchmark sizes, hash each n-gram to 8 bytes
    (xxhash64) before the broadcast to cut the build side ~10x.

    The broadcast side is NOT re-distinct-ed: ``word_shingles`` is
    per-doc distinct by construction so (bench_id, ng) rows are already
    unique, and both output aggregates are countDistinct — join
    multiplicity cannot change them even for a caller that passes
    duplicated benchmark rows. The previous ``.distinct()`` was a full
    dedup exchange of the benchmark n-gram set for zero result effect.
    """
    bench_ngrams = benchmark.select(
        F.col(bench_id).alias("bench_id"),
        F.explode(word_shingles(text_col, n)).alias("_ng"),
    )
    doc_ngrams = docs.select(
        F.col(doc_id), F.explode(word_shingles(text_col, n)).alias("_ng")
    )
    hits = doc_ngrams.join(F.broadcast(bench_ngrams), on="_ng")
    return hits.groupBy(doc_id).agg(
        F.countDistinct("_ng").alias("n_contaminated_ngrams"),
        F.countDistinct("bench_id").alias("n_benchmarks_hit"),
    )


# --------------------------------------------- incremental (new-vs-corpus)

def incremental_lsh_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_jaccard: float = 0.25,
) -> DataFrame:
    """Incremental near-dup check: which NEW documents duplicate the
    EXISTING corpus — the production corpus-refresh case (a daily crawl
    lands; only new-vs-old needs checking, the old-vs-old quadrant was
    settled in previous runs; the reference's check-then-insert dedup,
    `clients/contact_client.py:79-87`, is this same contract at row
    granularity).

    Plan shape: both sides get banded MinHash signatures, then ONE
    equi-join on band key restricted to new×old — with |new| << |corpus|
    the per-band bucket join is bounded by the small side, and at scale
    the corpus side's banded signatures are a PERSISTED index (build once,
    append daily) so each increment only scans the delta. No old×old or
    new×new candidate ever forms.

    Returns one row per matched new doc: (id, n_matches, best_jaccard,
    best_match_id) with ties on jaccard broken by smallest corpus id.
    """
    if bands < 1 or num_perm % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_perm ({num_perm}) evenly"
        )
    rows_per_band = num_perm // bands

    def banded(df: DataFrame, suffix: str) -> DataFrame:
        sigs = df.select(
            F.col(id_col).alias(f"id_{suffix}"),
            minhash_signature(text_col, num_perm, shingle_n).alias(
                f"sig_{suffix}"
            ),
        )
        return sigs.select(
            f"id_{suffix}",
            f"sig_{suffix}",
            F.explode(
                minhash_bands(F.col(f"sig_{suffix}"), bands, rows_per_band)
            ).alias("band"),
        )

    jac = _sig_match_fraction("sig_new", "sig_old", num_perm)
    # score + threshold BEFORE the pair distinct (jac is a pure function
    # of the pair — each id carries one fixed signature — so
    # filter-then-distinct == distinct-then-filter row-for-row): the
    # dedup exchange ships (long, long, double) instead of two
    # num_perm-long signature arrays, and only above-threshold pairs.
    # A pair colliding in c bands scores c times (c <= bands) — cheap
    # now that the score is the unrolled codegen'd comparison sum, see
    # _sig_match_fraction.
    matches = (
        banded(new_docs, "new")
        .join(banded(corpus, "old"), "band")
        .select("id_new", "id_old", F.round(jac, 6).alias("jac"))
        .filter(F.col("jac") >= min_jaccard)
        .distinct()
    )
    # one aggregate resolves best-match-with-ties: max on (jac, -id_old)
    # is (max jac, then min id_old) — the former Window max + conditional
    # min pass computed the same thing with an extra per-partition sort.
    return matches.groupBy(F.col("id_new").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.max("jac").alias("best_jaccard"),
        (-F.max(F.struct(F.col("jac"), (-F.col("id_old")).alias("_nid")))[
            "_nid"
        ]).alias("best_match_id"),
    )


def semantic_dedup(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    min_cosine: float = 0.99,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster the
    embedding space, then deduplicate ONLY within clusters — a row is
    dropped when a lower-id row in the same cell is cosine-similar above
    the threshold. The cluster pass is what makes semantic dedup feasible
    at corpus scale: candidate pairs shrink from n² to sum of per-cell
    squares, and cross-cell pairs (by construction dissimilar) are never
    scored.

    Plan shape: centroid assignment is the literal-argmin expression
    (``vector.assign_cells_literal`` — ZERO shuffle, scan-stage); the
    within-cell self-join shuffles on cell_id only; L2 norms are
    precomputed per row so each candidate pair pays a single interpreted
    fold (the dot). Keep rule is greedy keep-min — deterministic, no
    iteration: a row survives iff NO smaller-id same-cell row is similar,
    which needs one anti-join, not a connected-components loop (the
    transitive-cluster variant is ``dedup_clusters`` on these pairs).

    Returns (id_col, cell_id, is_kept). At 100 TB write the assignment
    ``partitionBy(cell_id)`` first and the self-join becomes co-located.
    """
    from .vector import assign_cells_literal

    assigned = assign_cells_literal(
        df.select(id_col, vec_col), centroids, vec_col=vec_col
    ).withColumn("_n", l2_norm(F.col(vec_col)))
    a = assigned.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.col("_n").alias("na"),
        "cell_id",
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.col("_n").alias("nb"),
        "cell_id",
    )
    # zero-norm guard: 0/0 would be NaN, and NaN >= threshold is TRUE
    # under Spark's NaN ordering — silently dropping rows. Treat any
    # pair with a zero-norm side as non-similar (cos = 0), which is
    # exactly what the matmul backend's norm clamp produces, keeping
    # the two backends bit-for-bit on is_kept for zero vectors too.
    cos = F.when(
        (F.col("na") == 0) | (F.col("nb") == 0), F.lit(0.0)
    ).otherwise(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
    dropped = (
        a.join(b, on="cell_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cos >= min_cosine)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return (
        assigned.join(
            dropped.withColumn("_dropped", F.lit(True)), id_col, "left"
        )
        .select(
            id_col,
            "cell_id",
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("is_kept"),
        )
    )


def semantic_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    min_cosine: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Semantic (embedding-space) benchmark decontamination: flag corpus
    rows whose embedding is cosine-similar to ANY benchmark/eval row —
    the paraphrase-robust complement of n-gram decontamination
    (``ngram_contamination`` catches verbatim overlap; this catches
    reworded contamination that shares no 7-gram).

    Plan shape mirrors the n-gram variant: the benchmark side is the eval
    set — small by construction — so it broadcasts and the corpus NEVER
    shuffles; each corpus row pays |benchmark| interpreted dot-folds with
    both L2 norms precomputed (scan-stage projections). Best match per
    corpus row is resolved by a (cosine desc, benchmark id asc) struct
    max — no window, the pair stream collapses in the same aggregate that
    dedups it. Returns (id_col, bench_id, cosine) for flagged rows only.
    At 100 TB: cost is corpus_rows x |bench| x dim multiply-adds in one
    scan stage; if the benchmark outgrows broadcast, pre-bucket both
    sides with the hyperplane LSH (``embedding_neardup_pairs``) first.

    The expression fold is exact and oracle-checkable but interpreted —
    for eval sets beyond a few hundred rows use
    ``semantic_contamination_matmul``, which does the identical math as
    one BLAS matmul per Arrow batch (measured ~50x at 2k bench x 80k
    corpus) at the cost of float-sum order differing in the last bits.
    """
    c = corpus.select(
        F.col(id_col).alias("_cid"),
        F.col(vec_col).alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_cn"),
    )
    b = benchmark.select(
        F.col(id_col).alias("_bid"),
        F.col(vec_col).alias("_bv"),
        l2_norm(F.col(vec_col)).alias("_bn"),
    )
    cos = dot(F.col("_cv"), F.col("_bv")) / (F.col("_cn") * F.col("_bn"))
    return (
        c.crossJoin(F.broadcast(b))
        .withColumn("_cos", cos)
        .filter(F.col("_cos") >= min_cosine)
        .groupBy(F.col("_cid").alias(id_col))
        .agg(F.max(F.struct(F.col("_cos"), (-F.col("_bid")).alias("_nb"))).alias("_m"))
        .select(
            id_col,
            (-F.col("_m._nb")).alias("bench_id"),
            F.col("_m._cos").alias("cosine"),
        )
    )


def semantic_contamination_matmul(
    corpus: DataFrame,
    benchmark: DataFrame,
    min_cosine: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The throughput backend for ``semantic_contamination``: same
    contract — flag corpus rows cosine-similar to any benchmark row with
    their best match — but the |bench| dot products per corpus row run
    as ONE numpy/BLAS matmul per Arrow batch inside ``mapInPandas``,
    instead of |bench| interpreted expression folds (measured ~50x at
    2k x 80k x 64d). The benchmark matrix is collected once (bounded:
    it is the eval set), L2-normalized driver-side, and closed over by
    the worker function — broadcast-by-closure, so the corpus still
    never shuffles. Ties on equal cosine resolve to the smallest
    benchmark id (rows sorted by id, argmax returns the first maximum),
    matching the expression variant; only float-last-bit totals can
    differ (BLAS sum order), which is why the EXPRESSION variant remains
    the oracle-gated one.
    """
    rows = (
        benchmark.select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    )
    if not rows:
        raise ValueError(
            "semantic_contamination_matmul: benchmark is empty — nothing "
            "to screen against (an empty eval set almost certainly means "
            "a broken upstream filter, not 'no contamination')"
        )
    import numpy as np

    bench_ids = np.array([r[0] for r in rows], dtype=np.int64)
    bmat = np.array([r[1] for r in rows], dtype=np.float64)
    bnorms = np.linalg.norm(bmat, axis=1, keepdims=True)
    bnorms[bnorms == 0] = 1.0  # zero-vector bench rows: cos=0, never NaN
    bmat = bmat / bnorms

    def flag(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cmat = np.array(list(pdf[vec_col]), dtype=np.float64)
            norms = np.linalg.norm(cmat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            cos = (cmat / norms) @ bmat.T
            best = np.argmax(cos, axis=1)
            best_cos = cos[np.arange(len(pdf)), best]
            keep = best_cos >= min_cosine
            if not keep.any():
                continue
            out = pdf.loc[keep, [id_col]].copy()
            out["bench_id"] = bench_ids[best[keep]]
            out["cosine"] = best_cos[keep]
            yield out

    return corpus.select(id_col, vec_col).mapInPandas(
        flag, schema=f"{id_col} long, bench_id long, cosine double"
    )


def deletion_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """Record linkage by edit distance with DELETION-NEIGHBORHOOD
    blocking (the FastSS scheme): two strings within Levenshtein
    distance 1 necessarily share a signature in {s} ∪ {s with one char
    deleted} — equal strings share s itself, a substitution pair shares
    the deletion at the differing position, an insert/delete pair shares
    the shorter string. So an explode → equi-join on the signature finds
    ALL distance-≤1 candidates with an inverted index (L+1 signatures
    per row), never an n² cross join — the same blocking economics as
    the n-gram/LSH dedup family, exact instead of probabilistic. The
    final ``levenshtein`` filter discards the false candidates the
    blocking admits.

    ``max_dist`` must be 1: the single-deletion neighborhood is complete
    only for distance ≤ 1 (greater radii need recursive deletions —
    signature count grows as L^d, a different cost class worth opting
    into explicitly).

    Returns (key_a, key_b, name_a, name_b, edit_dist), key_a < key_b.
    At 100 TB: signature fan-out is |name|+1 small strings per row; the
    join shuffles signatures (grouped by equal prefixes, well-spread);
    per-signature buckets are tiny for natural name data.
    """
    if max_dist != 1:
        raise ValueError(
            "deletion_neighborhood_pairs supports max_dist=1 only "
            "(single-deletion signatures are complete just for d<=1)"
        )
    name = F.col(name_col)
    deletions = F.transform(
        F.sequence(F.lit(1), F.length(name)),
        lambda i: F.concat(
            F.substring(name, F.lit(1), i - 1),
            F.substring(name, i + 1, F.length(name)),
        ),
    )
    sigs = df.select(
        F.col(id_col).alias("_key"),
        name.alias("_name"),
        F.explode(
            F.array_union(F.array(name), deletions)
        ).alias("_sig"),
    )
    a = sigs.select(
        F.col("_key").alias("key_a"),
        F.col("_name").alias("name_a"),
        "_sig",
    )
    b = sigs.select(
        F.col("_key").alias("key_b"),
        F.col("_name").alias("name_b"),
        "_sig",
    )
    cand = (
        a.join(b, "_sig")
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", "name_a", "name_b")
        .distinct()
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return cand.filter(dist <= max_dist).select(
        "key_a",
        "key_b",
        "name_a",
        "name_b",
        dist.cast("int").alias("edit_dist"),
    )


def semantic_dedup_matmul(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    min_cosine: float = 0.99,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The throughput backend for ``semantic_dedup``: identical contract
    (keep-min within cells — a row is dropped iff a lower-id row in the
    same cell is cosine-similar above the threshold) but each cell's
    pairwise cosines run as blocked numpy/BLAS matmuls inside
    ``applyInPandas``, instead of per-pair interpreted expression folds
    (measured ~20x at 80k x 64d / 32 cells). Centroid assignment is the
    same zero-shuffle literal argmin; the ONLY wide op is the groupBy on
    cell_id that the expression variant also pays. Row blocks bound
    worker memory at O(block x cell) regardless of cell size. Ties and
    keep rule are order-free (dropped iff ANY smaller id matches), so
    the two backends agree bit-for-bit on is_kept; the expression
    variant remains the oracle-gated twin.
    """
    from .vector import assign_cells_literal

    assigned = assign_cells_literal(
        df.select(id_col, vec_col), centroids, vec_col=vec_col
    )

    def dedup_cell(pdf):
        import numpy as np

        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        m = np.array(list(pdf[vec_col]), dtype=np.float64)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        mn = m / norms
        n = len(pdf)
        dropped = np.zeros(n, dtype=bool)
        block = 1024
        for lo in range(0, n, block):
            hi = min(lo + block, n)
            cos = mn[lo:hi] @ mn.T  # (hi-lo) x n
            hit = cos >= min_cosine
            # only columns j < row index i count (keep-min rule)
            for r in range(hi - lo):
                i = lo + r
                dropped[i] = bool(hit[r, :i].any())
        return pdf.assign(is_kept=~dropped)[[id_col, "cell_id", "is_kept"]]

    return assigned.groupBy("cell_id").applyInPandas(
        dedup_cell, schema=f"{id_col} long, cell_id int, is_kept boolean"
    )


# ----------------------------------------- exact substring (token-span) ----
# The missing member of the dedup spectrum (exact → line → n-gram →
# minhash → semantic): EXACT repeated token spans of >= k tokens shared
# across documents — the Lee et al. 2022 "Deduplicating Training Data
# Makes Language Models Better" capability. Their single-node tool is a
# suffix array; a suffix array is not shuffle-friendly, so the Spark-first
# shape is a k-token positional-shingle inverted index (the same bucketed
# equi-join discipline as minhash_lsh_pairs above) followed by a
# diagonal-runs merge: two matched shingles at (pos_a, pos_b) and
# (pos_a+1, pos_b+1) lie on one diagonal (pos_a − pos_b) and chain into a
# maximal span, recovering every repeat of length L as one span row
# (L − k + 1 matched shingles collapse to one island).


def token_shingle_index(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_shingles: bool = False,
) -> DataFrame:
    """Positional k-token shingle inverted index: one row per shingle
    POSITION — (id, pos, shingle) with ``pos`` 0-based and multiplicity
    kept (unlike MinHash's distinct shingle sets, span recovery needs
    every position). Tokens are raw whitespace splits (NOT lowercased:
    exact substring dedup matches bytes, not normalized text).

    Scale shape: ``size(toks) − k + 1`` rows per doc built by the linear
    shifted-array zip (text.positional_ngrams), no per-position slice.
    ``hash_shingles=True`` replaces the k-token string with its xxhash64
    — the 100 TB path: the downstream self-join then shuffles 8-byte
    keys instead of k-token strings (a 64-bit collision over a corpus's
    shingle count is possible; callers needing certainty re-verify
    matched spans with one equality join on the text, or accept the
    ~n²/2⁶⁴ false-pair rate the way MinHash accepts banding error).
    """
    from .text import ngram_list, tokens

    sh = ngram_list(tokens(F.col(text_col)), k)
    out = df.select(
        F.col(id_col), F.posexplode(sh).alias("pos", "shingle")
    )
    if hash_shingles:
        out = out.withColumn("shingle", F.xxhash64("shingle"))
    return out


def _merge_diagonal_runs(
    matched: DataFrame, k: int, keys: list[str], min_tokens: int | None
) -> DataFrame:
    """Collapse matched k-shingle positions into maximal spans: within
    one (pair, diagonal) group, consecutive ``pos_a`` values chain into
    an island (lag + running sum — the standard gaps-and-islands window),
    and each island is one maximal span of ``max(pos_a) − min(pos_a) + k``
    tokens. One shuffle keys the window partition (pair, diag); the
    island groupBy re-aggregates the same partition with the island id
    appended (AQE-local, the window already clustered the rows)."""
    # Fixed SQL text (keyed by the partition keys / k), memoized: one
    # parse per session instead of ~130 ms of py4j calls per query build.
    part = ", ".join([f"`{c}`" for c in keys] + ["diag"])
    kt = tuple(keys)
    new_island = memo_expr(
        ("mdr_new", kt),
        lambda: F.expr(
            f"case when lag(pos_a) over (partition by {part} "
            "order by pos_a) = pos_a - 1 then 0 else 1 end"
        ),
    )
    island = memo_expr(
        ("mdr_island", kt),
        lambda: F.expr(
            f"sum(_new) over (partition by {part} order by pos_a "
            "rows between unbounded preceding and current row)"
        ),
    )
    run = matched.withColumn("_new", new_island).withColumn("island", island)
    spans = (
        run.groupBy(*keys, "diag", "island")
        .agg(
            memo_expr(
                ("mdr_astart",),
                lambda: F.expr("cast(min(pos_a) as bigint)"),
            ).alias("a_start"),
            memo_expr(
                ("mdr_aend", k),
                lambda: F.expr(f"cast(max(pos_a) + {k - 1} as bigint)"),
            ).alias("a_end"),
        )
        .select(
            *keys,
            "a_start",
            "a_end",
            memo_expr(
                ("mdr_bstart",),
                lambda: F.expr("cast(a_start - diag as bigint)"),
            ).alias("b_start"),
            memo_expr(
                ("mdr_bend",),
                lambda: F.expr("cast(a_end - diag as bigint)"),
            ).alias("b_end"),
            memo_expr(
                ("mdr_ntok",),
                lambda: F.expr("cast(a_end - a_start + 1 as bigint)"),
            ).alias("n_tokens"),
        )
    )
    if min_tokens is not None and min_tokens > k:
        spans = spans.filter(F.col("n_tokens") >= min_tokens)
    return spans


def repeated_spans(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int | None = None,
    max_df: int | None = None,
    hash_shingles: bool = False,
) -> DataFrame:
    """Cross-document maximal repeated token spans (exact, >= k tokens):
    (doc_a, doc_b, a_start, a_end, b_start, b_end, n_tokens) with
    doc_a < doc_b, positions 0-based token offsets, ends inclusive. Every
    exact repeat of length L >= k appears as exactly ONE row per
    (doc pair, occurrence pair) — the L − k + 1 matched shingles collapse
    on their diagonal.

    Scale shape: the only candidate generator is the shingle equi-join —
    hash-partitioned on the shingle key, never an all-pairs product
    (the minhash_lsh_pairs discipline). ``max_df`` drops shingles seen at
    more than that many positions corpus-wide BEFORE the join — the
    stop-shingle cap that bounds a boilerplate shingle's quadratic
    blowup (an uncapped shingle with f occurrences emits C(f,2) pairs;
    at web scale cap ~50-100 and scrub boilerplate separately — the same
    safety valve LSH band buckets get). ``hash_shingles=True`` shuffles
    8-byte xxhash64 keys instead of k-token strings (see
    token_shingle_index). The diagonal merge adds one (pair, diag)-keyed
    window shuffle; pair fan-out is bounded by the true duplicate mass,
    not corpus size.
    """
    idx = token_shingle_index(df, k, id_col, text_col, hash_shingles)
    if max_df is not None:
        counts = idx.groupBy("shingle").agg(
            F.count(F.lit(1)).alias("_df")
        )
        idx = (
            idx.join(counts.filter(F.col("_df") <= max_df), "shingle")
            .drop("_df")
        )
    return index_repeated_spans(idx, k, min_tokens=min_tokens, id_col=id_col)


def index_repeated_spans(
    idx: DataFrame,
    k: int = 8,
    min_tokens: int | None = None,
    id_col: str | None = None,
) -> DataFrame:
    """The self-join back half of :func:`repeated_spans`, taking a
    PREBUILT positional shingle index (token_shingle_index output) —
    so a caller that already persisted the index (the streaming
    incremental path) doesn't re-tokenize the corpus to find its
    within-set spans. Same output contract as repeated_spans.
    ``id_col`` defaults to the first column — pass it explicitly when
    upstream ops may have reordered columns (a join puts its key
    first). The index must not contain duplicate (id, pos) rows:
    duplicated matched positions fragment the gaps-and-islands
    diagonal merge into truncated spans."""
    if id_col is None:
        id_col = idx.columns[0]
    # selectExpr/where-string forms: one parse round-trip each instead of
    # F.col/alias chains (~3 ms of py4j calls per Column); same plan.
    a = idx.selectExpr(
        f"`{id_col}` as doc_a", "pos as pos_a", "shingle"
    )
    b = idx.selectExpr(
        f"`{id_col}` as doc_b", "pos as pos_b", "shingle"
    )
    matched = (
        a.join(b, "shingle")
        .where("doc_a < doc_b")
        .selectExpr(
            "doc_a", "doc_b", "pos_a", "pos_b", "pos_a - pos_b as diag"
        )
    )
    return _merge_diagonal_runs(matched, k, ["doc_a", "doc_b"], min_tokens)


def cross_index_spans(
    idx_old: DataFrame,
    idx_new: DataFrame,
    k: int = 8,
    min_tokens: int | None = None,
) -> DataFrame:
    """Maximal repeated spans between two DISJOINT positional shingle
    indexes (both shaped like :func:`token_shingle_index` output:
    (doc_id, pos, shingle)) — the new-vs-corpus quadrant of the
    substring-dedup family: ``idx_old`` is the standing (persisted)
    corpus index, ``idx_new`` a fresh increment's index. Output matches
    :func:`repeated_spans` exactly — (doc_a, doc_b, a_start, a_end,
    b_start, b_end, n_tokens) with doc_a < doc_b — so an incremental
    run's union over increments equals one batch run (the equality the
    streaming e2e test pins). Doc-id sets MUST be disjoint (a doc in
    both indexes would double-emit its pairs) and neither index may
    contain duplicate (id, pos) rows — duplicated matched positions
    fragment the gaps-and-islands diagonal merge into truncated spans
    (the streaming writer guarantees both by writing each batch's
    index to its own overwrite-mode partition).

    Scale shape: one equi-join on the shingle key (the increment side
    is small → AQE broadcasts it; the standing index never shuffles),
    then the shared diagonal merge windows only matched rows. The
    orientation (which side is doc_a) is decided per-pair by id, not by
    side, so batch/stream agreement is exact."""
    j = (
        idx_old.select(
            F.col(idx_old.columns[0]).alias("_oid"),
            F.col("pos").alias("_opos"),
            "shingle",
        )
        .join(
            idx_new.select(
                F.col(idx_new.columns[0]).alias("_nid"),
                F.col("pos").alias("_npos"),
                "shingle",
            ),
            "shingle",
        )
        .filter(F.col("_oid") != F.col("_nid"))
    )
    lower_old = F.col("_oid") < F.col("_nid")
    matched = j.select(
        F.when(lower_old, F.col("_oid")).otherwise(F.col("_nid")).alias(
            "doc_a"
        ),
        F.when(lower_old, F.col("_nid")).otherwise(F.col("_oid")).alias(
            "doc_b"
        ),
        F.when(lower_old, F.col("_opos")).otherwise(F.col("_npos")).alias(
            "pos_a"
        ),
        F.when(lower_old, F.col("_npos")).otherwise(F.col("_opos")).alias(
            "pos_b"
        ),
    ).withColumn("diag", F.col("pos_a") - F.col("pos_b"))
    return _merge_diagonal_runs(matched, k, ["doc_a", "doc_b"], min_tokens)


def self_repeated_spans(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int | None = None,
) -> DataFrame:
    """WITHIN-document repeated token spans (the within-doc variant of
    :func:`repeated_spans`): a span of >= k tokens occurring twice in one
    document — boilerplate navigation, templated headers, copy-paste
    loops inside a single page. Output (id, a_start, a_end, b_start,
    b_end, n_tokens) with a_start < b_start (each unordered occurrence
    pair once). Same shingle-join + diagonal-merge shape; the join adds
    the id to the equi-key so only same-doc positions pair."""
    idx = token_shingle_index(df, k, id_col, text_col)
    a = idx.selectExpr(f"`{id_col}`", "pos as pos_a", "shingle")
    b = idx.selectExpr(f"`{id_col}`", "pos as pos_b", "shingle")
    matched = (
        a.join(b, [id_col, "shingle"])
        .where("pos_a < pos_b")
        .selectExpr(
            f"`{id_col}`", "pos_a", "pos_b", "pos_a - pos_b as diag"
        )
    )
    return _merge_diagonal_runs(matched, k, [id_col], min_tokens)


def scrub_repeated_spans(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int | None = None,
    max_df: int | None = None,
    hash_shingles: bool = False,
    byte_faithful: bool = False,
) -> DataFrame:
    """Survivor text with cross-document repeated spans REMOVED — the
    Lee et al. scrub step. Keep-first policy: every repeated span keeps
    the copy in the smaller doc_id and is cut from the larger (doc_b)
    side, so one canonical occurrence always survives and the rule is
    deterministic under any layout. Returns (id, clean_text,
    n_tokens, n_tokens_removed) for EVERY input document (untouched docs
    pass through with 0 removed).

    Text contract: ``clean_text`` is the KEPT TOKENS joined by single
    spaces — whitespace-normalized, not byte-faithful. The span family
    matches at token granularity (tokens() is the unit the shingle
    index sees), so the scrub output is normalized the same way; a doc
    with 0 removed tokens gets its newlines/tabs/space-runs collapsed
    too. Lee et al. cut byte ranges from raw text instead — pass
    ``byte_faithful=True`` for exactly that: each merged token
    interval's character range is sliced out of the ORIGINAL text and
    untouched docs pass through byte-identical (Arrow-batched
    mapInPandas cut stage — the opt-in slower path; the default
    expression path stays zero-Python).

    Scale shape: span detection is :func:`repeated_spans` (see its
    shuffle budget); the scrub itself merges each doc's removal
    intervals with one (id)-keyed window (gaps-and-islands on the
    running max end — overlapping intervals from different partners
    collapse), collects the merged intervals per doc (bounded: disjoint
    intervals over the doc's own token count), and cuts tokens with a
    single expression-side filter over (token, index) pairs — no
    explode, no range join, no Python. The interval join back to the
    corpus broadcasts when the duplicate-bearing doc set is small (AQE
    decides).
    """
    spans = repeated_spans(
        df,
        k,
        id_col,
        text_col,
        min_tokens=min_tokens,
        max_df=max_df,
        hash_shingles=hash_shingles,
    )
    rem = spans.selectExpr(
        f"doc_b as `{id_col}`", "b_start as s", "b_end as e"
    )
    return _cut_spans(df, rem, id_col, text_col, byte_faithful)


def _cut_spans(
    df: DataFrame,
    rem: DataFrame,
    id_col: str,
    text_col: str,
    byte_faithful: bool = False,
) -> DataFrame:
    """Shared scrub back half: merge each doc's removal intervals
    (one gaps-and-islands window on the running max end — overlapping
    intervals from different partners collapse), collect the merged
    disjoint intervals per doc (bounded by the doc's own token count),
    and cut covered tokens with ONE expression-side filter over
    (token, index) pairs — no explode, no range join, no Python. Every
    input doc comes back; untouched docs pass through with 0 removed.
    ``clean_text`` is kept tokens joined by single spaces (whitespace-
    normalized for ALL docs, including untouched ones) — see
    scrub_repeated_spans for the full text contract.

    ``byte_faithful=True`` switches the cut stage to the Lee-et-al
    form: each merged token interval's exact CHARACTER range (start of
    its first token to end of its last) is sliced out of the ORIGINAL
    text, and untouched docs pass through byte-identical — original
    newlines/tabs/space runs preserved everywhere outside the cuts
    (whitespace BETWEEN two cut ranges survives; document-level
    cleanup of doubled separators is the caller's choice). This stage
    is an Arrow-batched mapInPandas (Python ``\\S+`` offsets — the
    same maximal non-whitespace runs tokens() splits on), so it is the
    opt-in slower path; the interval-merge front half is shared and
    stays expression-side either way."""
    from .text import tokens

    # Fixed-shape Columns are SQL-text parses memoized per session (keyed
    # by id_col): one parse instead of ~240 ms of py4j calls per build.
    qid = f"`{id_col}`"
    prev_max = memo_expr(
        ("cut_pm", id_col),
        lambda: F.expr(
            f"max(e) over (partition by {qid} order by s, e "
            "rows between unbounded preceding and 1 preceding)"
        ),
    )
    grp = memo_expr(
        ("cut_g", id_col),
        lambda: F.expr(
            "sum(case when _pm is null or s > _pm then 1 else 0 end) "
            f"over (partition by {qid} order by s, e "
            "rows between unbounded preceding and current row)"
        ),
    )
    flagged = rem.withColumn("_pm", prev_max).withColumn("_g", grp)
    merged = flagged.groupBy(id_col, "_g").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )
    iv = merged.groupBy(id_col).agg(
        memo_expr(
            ("cut_iv",),
            lambda: F.expr("sort_array(collect_list(struct(s, e)))"),
        ).alias("_iv")
    )
    if byte_faithful:
        return _cut_spans_bytes(df, iv, id_col, text_col)
    toks_df = df.select(
        F.col(id_col),
        # NULL text has no tokens: coalesce to an empty array so the
        # accounting columns read an honest (0, 0) instead of size(NULL)
        F.coalesce(
            tokens(F.col(text_col)), F.array().cast("array<string>")
        ).alias("_toks"),
    )
    kept = memo_expr(
        ("cut_kept",),
        lambda: F.expr(
            "filter(transform(_toks, (t, i) -> struct(t, i)), "
            "s -> NOT exists(coalesce(_iv, "
            "cast(array() as array<struct<s:bigint,e:bigint>>)), "
            "span -> s.i >= span.s AND s.i <= span.e))"
        ),
    )
    return (
        toks_df.join(iv, id_col, "left")
        .withColumn("_kept", kept)
        .select(
            F.col(id_col),
            memo_expr(
                ("cut_clean",),
                lambda: F.expr("concat_ws(' ', transform(_kept, s -> s.t))"),
            ).alias("clean_text"),
            memo_expr(
                ("cut_ntok",),
                lambda: F.expr("cast(size(_toks) as bigint)"),
            ).alias("n_tokens"),
            memo_expr(
                ("cut_nrem",),
                lambda: F.expr("cast(size(_toks) - size(_kept) as bigint)"),
            ).alias("n_tokens_removed"),
        )
    )


def _cut_spans_bytes(
    df: DataFrame, iv: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Byte-faithful cut stage (see _cut_spans byte_faithful): slice
    each merged token interval's exact character range out of the
    original text. One mapInPandas pass over (id, text, intervals) —
    no shuffle beyond the interval join the expression path also
    pays."""
    joined = df.select(F.col(id_col), F.col(text_col)).join(
        iv, id_col, "left"
    )
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, clean_text string, "
        "n_tokens long, n_tokens_removed long"
    )

    def cut(batches):
        import re

        import pandas as pd

        # Java's \s (what Spark's split compiles) is ASCII-only;
        # Python's \s is Unicode — pin the exact Java set so Unicode
        # whitespace (NBSP etc.) in the text cannot desync token
        # indices between the paths
        _JWS = " \t\n\x0b\f\r"
        nonws = re.compile(rf"[^{_JWS}]+")

        def tok_offsets(text: str) -> list[tuple[int, int]]:
            # EXACT replica of tokens() = split(trim(text), r"\s+")
            # with -1 limit semantics, as character offsets into the
            # ORIGINAL text: Spark trim strips ASCII SPACES only, and
            # split keeps a zero-width leading/trailing token when the
            # trimmed text starts/ends with OTHER whitespace (\t, \n).
            # Getting this exactly right is what keeps span token
            # indices (built on the expression tokenizer) aligned with
            # the byte cuts.
            lo = 0
            while lo < len(text) and text[lo] == " ":
                lo += 1
            hi = len(text)
            while hi > lo and text[hi - 1] == " ":
                hi -= 1
            trimmed = text[lo:hi]
            if trimmed == "":
                return [(lo, lo)]  # [""] — the one empty token
            offs = [
                (lo + m.start(), lo + m.end())
                for m in nonws.finditer(trimmed)
            ]
            if trimmed[0] in _JWS:
                offs.insert(0, (lo, lo))  # zero-width leading token
            if trimmed[-1] in _JWS:
                offs.append((hi, hi))  # zero-width trailing token
            return offs

        for pdf in batches:
            out = []
            for _id, text, ivs in zip(
                pdf[id_col], pdf[text_col], pdf["_iv"]
            ):
                if text is None:
                    # byte-faithful reading of NULL: NULL in, NULL out
                    # (the expression path returns "" here — the one
                    # documented divergence between the two paths)
                    out.append((_id, None, 0, 0))
                    continue
                toks = tok_offsets(text)
                n = len(toks)
                if ivs is None or len(ivs) == 0:
                    out.append((_id, text, n, 0))  # byte-identical
                    continue
                removed = 0
                cut_ranges = []
                for span in ivs:
                    s, e = int(span["s"]), min(int(span["e"]), n - 1)
                    if s >= n or e < s:
                        continue
                    removed += e - s + 1
                    cut_ranges.append((toks[s][0], toks[e][1]))
                kept, prev = [], 0
                for cs, ce in cut_ranges:  # sorted: intervals were
                    kept.append(text[prev:cs])
                    prev = ce
                kept.append(text[prev:])
                out.append((_id, "".join(kept), n, removed))
            yield pd.DataFrame(
                out,
                columns=[
                    id_col, "clean_text", "n_tokens", "n_tokens_removed"
                ],
            )

    return joined.mapInPandas(cut, schema=out_schema)


def scrub_self_repeats(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int | None = None,
    byte_faithful: bool = False,
) -> DataFrame:
    """Within-document scrub: every LATER occurrence of a >= k-token
    self-repeated span is removed, the first stays — the in-page twin of
    :func:`scrub_repeated_spans` (templated headers, navigation blocks,
    copy-paste loops inside one page). Same shuffle budget as
    self_repeated_spans plus the shared per-doc interval-merge window."""
    spans = self_repeated_spans(
        df, k, id_col, text_col, min_tokens=min_tokens
    )
    rem = spans.selectExpr(
        f"`{id_col}`", "b_start as s", "b_end as e"
    )
    return _cut_spans(df, rem, id_col, text_col, byte_faithful)


def cross_corpus_spans(
    docs: DataFrame,
    bench: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    min_tokens: int | None = None,
    max_df: int | None = None,
    hash_shingles: bool = False,
) -> DataFrame:
    """Exact shared token spans between a training corpus and a
    BENCHMARK set — span-level decontamination evidence (the exact-
    substring member of the decontamination family beside the n-gram
    broadcast, Bloom-prefiltered, and semantic variants): one row per
    (doc, bench, occurrence pair) maximal span of >= k tokens,
    (doc_id, bench_id, d_start, d_end, b_start, b_end, n_tokens).

    Scale shape: each side builds its own positional shingle index; the
    join is corpus-index x bench-index on the shingle key — the bench
    side is tiny (eval sets), so the join broadcasts and the CORPUS
    SIDE NEVER SHUFFLES for it; the diagonal merge then windows only
    the matched rows (bounded by true contamination mass). ``max_df``
    caps boilerplate shingles on the CORPUS side before the join."""
    d_idx = token_shingle_index(docs, k, id_col, text_col, hash_shingles)
    if max_df is not None:
        counts = d_idx.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        d_idx = d_idx.join(
            counts.filter(F.col("_df") <= max_df), "shingle"
        ).drop("_df")
    b_idx = token_shingle_index(
        bench, k, bench_id_col, text_col, hash_shingles
    )
    matched = (
        d_idx.selectExpr(
            f"`{id_col}` as doc_a", "pos as pos_a", "shingle"
        )
        .join(
            F.broadcast(
                b_idx.selectExpr(
                    f"`{bench_id_col}` as doc_b", "pos as pos_b", "shingle"
                )
            ),
            "shingle",
        )
        .selectExpr(
            "doc_a", "doc_b", "pos_a", "pos_b", "pos_a - pos_b as diag"
        )
    )
    spans = _merge_diagonal_runs(matched, k, ["doc_a", "doc_b"], min_tokens)
    return spans.selectExpr(
        f"doc_a as `{id_col}`",
        f"doc_b as `{bench_id_col}`",
        "a_start as d_start",
        "a_end as d_end",
        "b_start",
        "b_end",
        "n_tokens",
    )


def scrub_contaminated_spans(
    docs: DataFrame,
    bench: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    min_tokens: int | None = None,
    max_df: int | None = None,
    hash_shingles: bool = False,
    byte_faithful: bool = False,
) -> DataFrame:
    """Span-level decontamination: remove EVERY corpus token covered by
    a span shared with the benchmark (no keep-first — contamination has
    no canonical copy to keep). Returns every input doc as
    (id, clean_text, n_tokens, n_tokens_removed)."""
    spans = cross_corpus_spans(
        docs,
        bench,
        k,
        id_col,
        text_col,
        bench_id_col,
        min_tokens=min_tokens,
        max_df=max_df,
        hash_shingles=hash_shingles,
    )
    rem = spans.selectExpr(
        f"`{id_col}`", "d_start as s", "d_end as e"
    )
    return _cut_spans(docs, rem, id_col, text_col, byte_faithful)
