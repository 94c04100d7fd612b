"""Deterministic sampling / dataset splitting (training-data pipeline op).

``df.sample``/``sampleBy`` are seed-stable only per partitioning — a
repartition or a different file layout reshuffles which rows are sampled.
Training pipelines need splits that are a pure function of the ROW, not of
the physical plan: hash the stable id, bucket it, assign by cumulative
fraction. Same row → same split, on any cluster, forever; membership is
checkable in any engine (md5 is everywhere — the DuckDB oracle reproduces
the split bit-for-bit).

At 100 TB this is a zero-shuffle projection: the split column is computed
in the scan stage, and writing ``partitionBy("split")`` gives
partition-pruned reads of each split downstream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import const_long_array

_BUCKETS = 1_000_000


def split_bucket(id_col: Column | str, seed: str = "42") -> Column:
    """Stable bucket in [0, 1e6): first 15 hex digits of md5(seed || id)
    (60 bits — fits a long exactly, same trick as the minhash/simhash
    hashing, and byte-reproducible in DuckDB)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.md5(F.concat(F.lit(seed + ":"), c.cast("string")))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % _BUCKETS


def hash_split(
    df: DataFrame,
    id_col: str,
    fractions: dict[str, float],
    seed: str = "42",
    alias: str = "split",
) -> DataFrame:
    """Assign each row to a named split by cumulative fraction over the
    hash bucket. Fractions must sum to 1 (±1e-9). Order of dict entries
    defines the threshold order, so iteration order is part of the seed —
    pass the same dict shape to reproduce."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    b = split_bucket(id_col, seed)
    expr = None
    acc = 0.0
    names = list(fractions)
    for name in names[:-1]:
        acc += fractions[name]
        cond = b < int(round(acc * _BUCKETS))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(alias, expr)


def hash_stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    id_col: str,
    default_rate: float = 0.0,
    seed: str = "42",
) -> DataFrame:
    """Deterministic stratified sampling: keep each row with its stratum's
    rate, decided by the row's hash bucket — the reproducible counterpart
    of ``df.sampleBy`` (whose membership shifts with partitioning).
    Training-data mixing in practice: up-/down-weight sources or languages
    with an exact, re-runnable keep set.

    Zero shuffle: the bucket and the keep-filter are scan-stage
    projections; at 100 TB the filter prunes rows before anything moves.
    """
    b = split_bucket(id_col, seed)
    thresh = F.lit(int(round(default_rate * _BUCKETS)))
    expr = None
    for stratum, rate in rates.items():
        cond = F.col(strata_col) == stratum
        t = F.lit(int(round(rate * _BUCKETS)))
        expr = F.when(cond, t) if expr is None else expr.when(cond, t)
    thresh = thresh if expr is None else expr.otherwise(thresh)
    return df.filter(b < thresh)


def exact_k_holdout(
    df: DataFrame,
    strata_col: str,
    k: int,
    id_col: str,
    seed: str = "eval",
) -> DataFrame:
    """EXACTLY k rows per stratum (eval/holdout sets need exact counts,
    not rate-based expectation): rank rows within each stratum by their
    hash bucket (id as tiebreaker — total order, fully deterministic) and
    keep the first k. A group smaller than k keeps all its rows.

    Scale shape: one shuffle on the stratum key for the window. The
    window input can be pre-shrunk when k << group size by a cheap
    rate-filter on the same bucket (keep rate ~ 4k/n_g) before ranking —
    noted, not applied, since it needs a count pass; at eval-set sizes
    the plain window is fine.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(strata_col).orderBy(
        split_bucket(id_col, seed).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def upsample_repeat(
    df: DataFrame,
    group_col: str,
    factor_pct: dict[str, int],
    id_col: str,
    seed: str = "up",
) -> DataFrame:
    """Up-weight groups by REPETITION (hash sampling can only drop rows;
    hitting a mixture target for an under-represented group means
    repeating its rows): factor 250 (percent) emits every row 2 times
    plus a 3rd copy for the hash-chosen 50% of rows. Output carries
    ``copy_idx`` (0-based) so downstream shuffling/packing can interleave
    copies instead of clustering them. Groups absent from ``factor_pct``
    pass through with factor 100.

    Deterministic and integer-exact: the fractional copy is decided by
    ``bucket * 100 < (factor % 100) * BUCKETS`` — same bucket math as the
    down-sampler, reproducible in any engine. Zero shuffle: explode of a
    per-row sequence in the scan stage; output size = sum(factor_g *
    n_g), the fan-out is the point.
    """
    fac = None
    for g, p in factor_pct.items():
        cond = F.col(group_col) == g
        fac = F.when(cond, p) if fac is None else fac.when(cond, p)
    fac = F.coalesce(fac, F.lit(100))
    whole = (fac / 100).cast("long")
    extra = (
        split_bucket(id_col, seed) * 100 < (fac % 100) * F.lit(_BUCKETS)
    ).cast("long")
    n_copies = whole + extra
    return (
        df.withColumn("_n_copies", n_copies)
        .filter(F.col("_n_copies") > 0)
        .select(
            *df.columns,
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("_n_copies") - 1)
            ).alias("copy_idx"),
        )
    )


def mixture_resample(
    df: DataFrame,
    group_col: str,
    target_pct: dict[str, int],
    id_col: str,
    seed: str = "42",
) -> DataFrame:
    """Resample toward a TARGET MIXTURE (pre-training data mixing: "40% en,
    20% de, ..."): per-group keep-rate = min(1, target_share * N / n_g),
    computed FROM the data, applied via the deterministic hash bucket.
    Groups absent from ``target_pct`` are dropped. A group below its target
    keeps everything (rate caps at 1 — hash sampling can only down-weight;
    up-weighting needs repetition, a separate op).

    Exactness: the keep test is ``bucket * 100 * n_g < pct * N * BUCKETS``
    in DECIMAL(38,0) — pure integer arithmetic, no float rate whose
    engine-specific rounding could flip a boundary row (DuckDB checks the
    same inequality in HUGEINT). At 100 TB the products reach ~1e20, past
    int64 — hence decimal, which Tungsten still evaluates JVM-side.

    Scale shape: the per-group counts are a groupBy whose output is
    group-cardinality-sized (tiny), broadcast back; the corpus total is
    the SUM of those group counts (groupBy counts every row, null group
    included, so the sum equals count(*) exactly) — derived from the
    tiny counts relation instead of a second full pass over ``df``,
    which matters when ``df`` is the tail of an expensive pipeline (the
    training_corpus_pipeline feeds the quality->dedup chain in here; a
    separate df.count() branch re-executed all of it). The row-side
    test is a scan-stage projection + filter. One small shuffle,
    nothing row-sized moves.
    """
    counts = df.groupBy(group_col).agg(F.count("*").alias("_n_g"))
    total = counts.agg(F.sum("_n_g").alias("_n"))
    pct = None
    for g, p in target_pct.items():
        cond = F.col(group_col) == g
        pct = F.when(cond, p) if pct is None else pct.when(cond, p)
    pct = F.coalesce(pct, F.lit(0))
    dec = "decimal(38,0)"
    keep = (
        split_bucket(id_col, seed).cast(dec) * F.lit(100).cast(dec)
        * F.col("_n_g").cast(dec)
    ) < (
        pct.cast(dec) * F.col("_n").cast(dec) * F.lit(_BUCKETS).cast(dec)
    )
    return (
        df.join(F.broadcast(counts), group_col)
        .crossJoin(F.broadcast(total))
        .filter(keep)
        .drop("_n_g", "_n")
    )


def global_shuffle(
    df: DataFrame,
    id_col: str,
    seed: str = "42",
    n_shards: int = 32,
) -> DataFrame:
    """Deterministic global corpus shuffle (pretraining data-order step).

    Training runs need the corpus in a pseudo-random order that is a pure
    function of (seed, row id) — reproducible across reruns, clusters and
    engines — never ``ORDER BY rand()`` (plan-dependent) and never one
    global sort (a single total order serializes the write at 100 TB).

    Shape: shard = md5-bucket of the id (uniform, seeded), position =
    rank of the md5 key WITHIN the shard. Each shard sorts independently
    and in parallel — one hash shuffle + per-shard sort, no global
    coordination; readers stream shards in index order for a fully
    deterministic epoch. Same row → same (shard, pos) on any engine
    (md5 everywhere; the DuckDB oracle reproduces it bit-for-bit).
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    c = F.col(id_col)
    key = F.md5(F.concat(F.lit(seed + ":"), c.cast("string")))
    shard = (
        F.conv(F.substring(key, 1, 15), 16, 10).cast("long") % n_shards
    ).cast("int")
    w = (
        Window.partitionBy("shard")
        # md5 collisions are ~2^-60; the id tie-break still pins total
        # determinism without a second sort pass
        .orderBy(F.col("_key").asc(), c.asc())
    )
    return (
        df.withColumn("_key", key)
        .withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .drop("_key")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: Column | str,
    k: int,
    id_col: str = "doc_id",
    seed: str = "ws",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirtes 2006, algorithm A-ES): each row draws a uniform u from its
    stable id, gets key = ln(u) / w, and the k largest keys are the
    sample. Inclusion probability is proportional to weight, exactly the
    weighted-reservoir semantics — but expressed as a dataless top-k so
    it runs distributed instead of as a sequential reservoir.

    The uniform is md5-derived (u = 60-bit hash / 2^60, nudged off zero),
    so the chosen set is a pure function of (seed, id, weight): same rows
    win on any cluster, any partitioning, any engine — the DuckDB oracle
    reproduces the selection bit-for-bit. ln(u)/w is the monotone-
    equivalent of the paper's u^(1/w) without pow's extra rounding.

    Plan shape: scan-stage key projection + ``orderBy().limit(k)`` =
    TakeOrderedAndProject (per-partition size-k heaps, m-bounded merge).
    No shuffle of the data itself; at 100 TB only k rows cross the wire.
    Rows with weight <= 0 are excluded (zero mass), matching A-ES.
    """
    wc = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    idc = F.col(id_col)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed + ":"), idc.cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    # (h + 1) / 2^60: strictly in (0, 1], ln defined everywhere
    u = (h + F.lit(1).cast("long")).cast("double") / F.lit(
        float(1 << 60)
    )
    key = F.log(u) / wc.cast("double")
    return (
        df.filter(wc > 0)
        .withColumn("sample_key", key)
        .orderBy(F.col("sample_key").desc(), idc.asc())
        .limit(k)
    )


def temperature_mixture(
    df: DataFrame,
    group_col: str,
    alpha: float = 0.7,
    id_col: str = "doc_id",
    seed: str = "temp",
) -> DataFrame:
    """Temperature-based mixture resampling (the multilingual-pretraining
    standard, e.g. XLM-R: sample language l with p_l ∝ (c_l/N)^alpha,
    alpha < 1 flattening the distribution toward small groups). Unlike
    ``mixture_resample`` the rates are DERIVED from the corpus counts,
    not supplied: per-row keep-rate r_l = (c_l / c_min)^(alpha-1) — the
    smallest group keeps everything (r=1), larger groups are downsampled
    with exponent alpha-1 < 0, which realizes exactly the p_l ∝ c_l^alpha
    sampled mixture.

    Cross-engine exactness: the float pow is rounded to 6 decimals and
    converted to an integer bucket threshold (rate * 1e6 vs the 60-bit
    md5 bucket), so membership is an integer compare both engines agree
    on. Scale shape identical to mixture_resample: one tiny group-count
    shuffle broadcast back, keep-test in the scan stage.
    """
    counts = df.groupBy(group_col).agg(F.count("*").alias("_n_g"))
    cmin = counts.agg(F.min("_n_g").alias("_n_min"))
    rate = F.round(
        F.pow(
            F.col("_n_g").cast("double") / F.col("_n_min").cast("double"),
            F.lit(alpha - 1.0),
        ),
        6,
    )
    thresh = F.round(rate * _BUCKETS).cast("long")
    return (
        df.join(F.broadcast(counts), group_col)
        .crossJoin(F.broadcast(cmin))
        .withColumn("keep_rate", rate)
        .filter(split_bucket(id_col, seed) < thresh)
        .drop("_n_g", "_n_min")
    )


def per_group_cap(
    df: DataFrame,
    group_col: str,
    id_col: str,
    k: int,
    seed: str = "42",
) -> DataFrame:
    """Cap rows per group at k (the per-domain document cap: head domains
    would otherwise dominate a crawl-derived corpus), keeping a
    deterministic hash-chosen subset — membership is a pure function of
    (seed, id), independent of physical layout, and reproducible in any
    engine with md5.

    Plan shape — two-phase bottom-k, NOT a global per-group window sort:
    phase 1 reduces each (group, input-partition) to its k smallest
    (bucket, id) pairs, phase 2 merges those k-lists per group and
    slices the global bottom-k. Honest shuffle accounting: the phase-1
    exchange carries the FULL per-(group, partition) ``collect_list``
    buffers (``slice``/``array_sort`` are result expressions, evaluated
    after the aggregate completes), so its volume is O(rows) of small
    (bucket, id) pairs — bounded per task and spillable, not k-bounded;
    only the phase-2 merge shuffle is k x n_partitions pairs per group.
    What the shape buys is that NO single task ever sorts a whole head
    domain — a row_number() window would pull a 10^9-page domain into
    one task's sort, while here every task handles at most one input
    partition's slice of it. Returns (group_col, id_col, bucket, rank)
    for survivors, rank 1..k in hash order.
    """
    key = F.struct(
        split_bucket(id_col, seed).alias("b"), F.col(id_col).alias("i")
    )
    partial = (
        df.select(group_col, key.alias("_s"))
        .withColumn("_p", F.spark_partition_id())
        .groupBy(group_col, "_p")
        .agg(F.slice(F.array_sort(F.collect_list("_s")), 1, k).alias("_m"))
    )
    merged = partial.groupBy(group_col).agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("_m"))), 1, k).alias("_m")
    )
    exploded = merged.select(group_col, F.posexplode("_m"))
    return exploded.select(
        group_col,
        F.col("col.i").alias(id_col),
        F.col("col.b").alias("bucket"),
        (F.col("pos") + 1).cast("int").alias("rank"),
    )


# Poisson(1) CDF thresholds (k = 0..8): a uniform u maps to the count of
# thresholds it clears — the inverse-CDF draw, as comparisons against
# shared literals so every engine derives the identical replica weights.
POISSON1_CDF = [
    0.3678794412, 0.7357588823, 0.9196986029, 0.9810118431,
    0.9963401532, 0.9994058152, 0.9999167589, 0.9999897508, 0.9999988748,
]

_BOOT_PRIME = 1_000_000_007


def bootstrap_constants(n_replicas: int, seed: int = 42) -> tuple[list[int], list[int]]:
    """Affine rehash constants per replica (same scheme as the minhash
    permutations: one expensive hash per ROW, cheap integer mixes per
    replica)."""
    from .dedup import minhash_perm_constants

    return minhash_perm_constants(n_replicas, seed)


def row_hash32(id_col: Column | str, seed: str) -> Column:
    """32-bit row hash (md5 prefix) — computed ONCE per row, in the
    projection BEFORE any replica fan-out."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(seed + ":"), c.cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")


def affine_uniform(h: Column, replica: Column, n_replicas: int) -> Column:
    """Deterministic uniform in [0,1) per (row, replica), engine-portable
    AND one-md5-per-row: each replica affinely rehashes the shared row
    hash mod a prime — B replicas cost B integer mults, not B md5s (the
    md5 MUST be projected before the explode; inlined after it, Spark
    re-evaluates it per fanned row). The same hash-once/affine-permute
    economics as the minhash signature, for the same reason."""
    a, b = bootstrap_constants(n_replicas)
    av = F.element_at(const_long_array(a), replica + 1)
    bv = F.element_at(const_long_array(b), replica + 1)
    return ((av * h + bv) % F.lit(_BOOT_PRIME)).cast("double") / F.lit(
        float(_BOOT_PRIME)
    )


def poisson_bootstrap_ci(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    n_replicas: int = 64,
    seed: str = "boot",
    lo: float = 0.025,
    hi: float = 0.975,
) -> DataFrame:
    """Bootstrap confidence interval for the per-group mean via POISSON
    bootstrap (Poisson(1) replica weights) — the distributed bootstrap:
    classical resampling needs n draws WITH replacement per replica
    (global coordination), Poisson weights are independent per row, so
    all B replicas materialize in ONE scan as a bounded xB fan-out,
    weights decided row-locally from the md5 uniform. The replica-mean
    distribution then collapses per group (B tiny values) and the CI is
    its [lo, hi] quantile — exact interpolation both engines share.

    Exactness: values quantize to integer CENTS via one exact decimal
    cast in the scan stage, so every replica sum is a pure LONG
    (order-free); the only float math is the final division + quantile
    interpolation over B values, identical sequences on both engines.
    Groups where a replica draws total weight 0 (possible only for tiny
    groups) drop that replica deterministically.

    Plan shape: one md5 per ROW (replica uniforms are affine rehashes of
    the shared 32-bit hash), the Poisson draw is a short-circuit CASE
    ladder over the ascending CDF (≈2 branch evaluations on average —
    P(w<=1)=0.74 — vs always-9 for a sum of indicators), and the xB
    explode feeds a partial aggregate keyed (group, replica) whose
    map-side combine collapses everything before the shuffle. A "wide"
    2B-aggregate-expressions alternative (no explode) was measured
    SLOWER end-to-end: 128 large generated expressions blow past janino
    limits and compile for tens of seconds.
    Returns (group, n_rows, mean_value, ci_lo, ci_hi).
    """
    b = F.explode(F.sequence(F.lit(0), F.lit(n_replicas - 1))).alias("_b")
    u = affine_uniform(F.col("_h"), F.col("_b"), n_replicas)
    w = F.when(u < F.lit(POISSON1_CDF[0]), 0)
    for i, t in enumerate(POISSON1_CDF[1:], start=1):
        w = w.when(u < F.lit(t), i)
    w = w.otherwise(len(POISSON1_CDF)).alias("_w")
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    fanned = (
        df.select(
            group_col,
            cents.alias("_vc"),
            row_hash32(id_col, seed).alias("_h"),
        )
        .select(group_col, "_vc", "_h", b)
        .withColumn("_w", w)
        .drop("_h")
    )
    # The base (unweighted) stats RIDE the same (group, replica)
    # aggregate instead of a second full scan of ``df``: every raw row
    # emits exactly one replica-0 row, so the per-(group, _b=0) plain
    # count and cents sum ARE the per-group n_rows and total —
    # exact-integer identity, same decimal→long cast.
    per_rep = fanned.groupBy(group_col, "_b").agg(
        F.sum(F.col("_w") * F.col("_vc")).alias("_ws"),
        F.sum("_w").alias("_wn"),
        F.count(F.lit(1)).alias("_n"),
        F.sum("_vc").alias("_vs"),
    )
    reps = (
        per_rep.filter(F.col("_wn") > 0)
        .select(
            group_col,
            (
                F.col("_ws").cast("double")
                / F.lit(100.0)
                / F.col("_wn").cast("double")
            ).alias("_mean_b"),
        )
    )
    base = per_rep.filter(F.col("_b") == 0).select(
        group_col,
        F.col("_n").alias("n_rows"),
        (
            F.col("_vs").cast("double") / F.lit(100.0) / F.col("_n")
        ).alias("mean_value"),
    )
    ci = reps.groupBy(group_col).agg(
        F.expr(f"percentile(_mean_b, {lo})").alias("ci_lo"),
        F.expr(f"percentile(_mean_b, {hi})").alias("ci_hi"),
    )
    return base.join(ci, group_col)


# ------------------------------------------------- importance resampling


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    seed: str = "dsir",
    target_pred: Column | None = None,
) -> DataFrame:
    """DSIR-style importance weights: score every ``raw`` document by
    how much its hashed-bigram feature distribution looks like
    ``target``'s (Xie et al. 2023, "Data Selection for Language Models
    via Importance Resampling"). Returns (id_col, n_feats, log_weight)
    where log_weight = Σ_features [ln p̂_target(b) − ln p̂_raw(b)] over
    the doc's distinct bigram feature buckets, with Laplace (+1)
    smoothing over ``n_buckets`` hash buckets. Select by taking the
    top-k (or feed the weights to ``weighted_sample`` for Gumbel-style
    resampling).

    Scale shape: linear bigram explodes feed two ``n_buckets``-bounded
    count maps — ONE corpus explode when the target is a slice of raw
    (``target_pred``), one per side for a separate target DataFrame;
    the per-bucket log-ratio table (≤ n_buckets rows) is BROADCAST back
    onto the raw side's features, so the corpus shuffles once — on the
    doc id for the final per-doc sum, and that shuffle is ONE ROW PER
    DOC, not per feature: the exploded rows of a doc are co-located, so
    the groupBy partial-aggregates map-side before anything moves.
    Nothing grows with corpus size except the explodes. The per-bucket
    ratio is rounded to 9 decimals and summed as DECIMAL, so the
    per-doc total is order-independent (exact decimal addition) and
    engine-portable. (A join-free variant — collect the ratio table and
    score via a literal lookup array — was measured 73% SLOWER at
    sf0.1: it re-tokenizes per reference of the shingle array and saves
    only the already-tiny one-row-per-doc shuffle. Don't "optimize"
    back to it.)

    Feature hashing is md5-based (``split_bucket``'s trick) so an
    external SQL engine reproduces the buckets byte-for-byte.
    """
    from .dedup import word_shingles

    def bucketed(df: DataFrame, *extra):
        feats = df.select(
            *extra, F.explode(word_shingles(text_col, 2)).alias("_f")
        )
        h = F.md5(F.concat(F.lit(seed + ":"), F.col("_f")))
        return feats.select(
            *extra,
            (
                F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
                % n_buckets
            ).alias("_b"),
        )

    if (target is None) == (target_pred is None):
        raise ValueError(
            "pass exactly one of target (a DataFrame) or target_pred "
            "(a Column over raw)"
        )
    spark = raw.sparkSession
    grid = spark.range(n_buckets).select(F.col("id").alias("_b"))
    if target_pred is not None:
        # target is a SLICE of raw: ONE aggregation over one explode
        # yields both count maps (raw count + conditional target count)
        # — the in-corpus form never touches the corpus a second time
        # for the ratio table
        feats_t = bucketed(raw.withColumn("_t", target_pred), id_col, "_t")
        counts = feats_t.groupBy("_b").agg(
            F.count(F.lit(1)).alias("_cr"),
            F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("_ct"),
        )
        raw_feats = feats_t.drop("_t")
        joined_counts = grid.join(counts, "_b", "left")
    else:
        raw_feats = bucketed(raw, id_col)
        tcnt = (
            bucketed(target)
            .groupBy("_b")
            .agg(F.count(F.lit(1)).alias("_ct"))
        )
        rcnt = raw_feats.groupBy("_b").agg(F.count(F.lit(1)).alias("_cr"))
        joined_counts = grid.join(tcnt, "_b", "left").join(rcnt, "_b", "left")
    w = Window.partitionBy()  # over ≤ n_buckets rows — driver-trivial
    ratios = (
        joined_counts
        .select(
            "_b",
            F.coalesce("_ct", F.lit(0)).alias("_ct"),
            F.coalesce("_cr", F.lit(0)).alias("_cr"),
        )
        .select(
            "_b",
            # division-first on both engines; round-to-9 + DECIMAL makes
            # the downstream per-doc sum exactly associative
            F.round(
                F.log(
                    (F.col("_ct") + F.lit(1.0))
                    / (F.sum("_ct").over(w) + F.lit(n_buckets)).cast(
                        "double"
                    )
                )
                - F.log(
                    (F.col("_cr") + F.lit(1.0))
                    / (F.sum("_cr").over(w) + F.lit(n_buckets)).cast(
                        "double"
                    )
                ),
                9,
            )
            .cast("decimal(20,10)")
            .alias("_lr"),
        )
    )
    return (
        raw_feats.join(F.broadcast(ratios), "_b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("_lr").alias("_w"),
        )
        .select(
            id_col,
            "n_feats",
            F.col("_w").cast("decimal(20,10)").alias("log_weight_exact"),
        )
    )
