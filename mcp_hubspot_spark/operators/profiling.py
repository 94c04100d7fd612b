"""Table profiling: per-column statistics in one scan.

The ANALYZE-TABLE staple a pipeline engine needs before it can make
sizing decisions (broadcast thresholds, skew detection, partition-count
targets): row count, null counts, distinct counts, min/max per column,
emitted in LONG format (one row per column) so downstream tooling joins
on column_name instead of parsing a wide one-row frame.

Scale notes baked into the shape: everything is ONE aggregate over ONE
scan. The exact ``countDistinct`` per column costs an Expand (one input
row duplicated per distinct-agg) — correct and oracle-checkable, which is
why it is the default here; at 100 TB swap it for
``approx_count_distinct`` or the mergeable KMV sketch
(``operators.sketch.kmv_distinct``) per the docstring contract — the
output schema is identical, only the estimator changes. min/max are
computed on the NATIVE type (so numeric/date ordering is right) and cast
to string only at the edge for the uniform long-format schema.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window as W, functions as F

_RULE_NAME = re.compile(r"^[A-Za-z0-9_]+$")


def profile_table(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column (n_rows, n_non_null, n_distinct, min_value, max_value)
    in one pass; one output row per requested column."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"__{c}__nn"),
            F.countDistinct(F.col(c)).alias(f"__{c}__nd"),
            F.min(F.col(c)).cast("string").alias(f"__{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"__{c}__max"),
        ]
    row = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `__{c}__nn`, `__{c}__nd`, `__{c}__min`, `__{c}__max`"
        for c in cols
    )
    return row.selectExpr(
        "__n as n_rows",
        f"stack({len(cols)}, {stack_args}) as "
        "(column_name, n_non_null, n_distinct, min_value, max_value)",
    ).select(
        "column_name",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_non_null").cast("long").alias("n_non_null"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_value",
        "max_value",
    )


def profile_table_approx(
    df: DataFrame, cols: list[str], rsd: float = 0.05
) -> DataFrame:
    """The 100 TB twin of :func:`profile_table`: identical output schema,
    but ``n_distinct`` is HyperLogLog++ (``approx_count_distinct``) with
    relative standard deviation ``rsd``. The exact form's multiple
    ``countDistinct`` aggregates trigger a row-multiplying Expand (one
    input replica per distinct column — a 5-column profile shuffles ~5x
    the table); HLL++ sketches are plain partial-merge aggregates, so
    this variant stays a single no-Expand pass no matter how many
    columns are profiled (plan-audited in tests/test_plans.py). Exact
    stays the oracle twin at test SFs; this is the default at scale."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"__{c}__nn"),
            F.approx_count_distinct(F.col(c), rsd).alias(f"__{c}__nd"),
            F.min(F.col(c)).cast("string").alias(f"__{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"__{c}__max"),
        ]
    row = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `__{c}__nn`, `__{c}__nd`, `__{c}__min`, `__{c}__max`"
        for c in cols
    )
    return row.selectExpr(
        "__n as n_rows",
        f"stack({len(cols)}, {stack_args}) as "
        "(column_name, n_non_null, n_distinct, min_value, max_value)",
    ).select(
        "column_name",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_non_null").cast("long").alias("n_non_null"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_value",
        "max_value",
    )


def dq_checks(
    df: DataFrame,
    rules: list[tuple[str, "F.Column"]],
    id_col: str,
    sample_k: int = 5,
) -> DataFrame:
    """Data-quality rule evaluation in ONE scan: each rule is a boolean
    Column that must hold per row; the report gives per-rule violation
    counts, violation rate, and a bounded sample of offending ids (the
    triage handle — never the full violation set, which at 100 TB could
    be the table).

    NULL handling: a rule that evaluates to NULL (e.g. a price-cap rule
    on a NULL price) counts as a VIOLATION — the safe default for a
    quality gate; rules that want 3VL pass-through must say so
    explicitly (``col.isNull() | pred``). Rule names must match
    ``[A-Za-z0-9_]+`` (they are used as column aliases and inside a
    ``stack()`` SQL string).

    Shape: two-phase conditional aggregates — phase 1 reduces each
    (rule, input-partition) to a count plus its violating-id set, phase 2
    merges counts by sum and id-samples by flatten+slice. The phase-1
    exchange carries the FULL per-(partition)-rule ``collect_set``
    buffers (``slice`` is a result expression, applied after the
    aggregate completes), so its volume is O(violating rows) — bounded
    per task and spillable, but not k-bounded; only the phase-2 merge
    shuffle is k-bounded. What the two-phase shape buys is that no
    single task ever sorts or holds the global violation set — the
    per-partition buffers are the usual partial-agg memory class. One
    output row per rule.
    """
    for name, _ in rules:
        if not _RULE_NAME.match(name):
            raise ValueError(
                f"rule name {name!r} must match [A-Za-z0-9_]+ "
                "(used as a column alias and inside stack() SQL)"
            )
    prepared = df.withColumn("_p", F.spark_partition_id())
    aggs = [F.count(F.lit(1)).alias("__n")]
    for name, pred in rules:
        viol = F.coalesce(~pred, F.lit(True))
        aggs += [
            F.sum(F.when(viol, 1).otherwise(0)).alias(f"__{name}__v"),
            F.slice(
                F.array_sort(F.collect_set(F.when(viol, F.col(id_col)))),
                1,
                sample_k,
            ).alias(f"__{name}__ids"),
        ]
    part = prepared.groupBy("_p").agg(*aggs)
    merged_aggs = [F.sum("__n").alias("__n")]
    for name, _ in rules:
        merged_aggs += [
            F.sum(f"__{name}__v").alias(f"__{name}__v"),
            F.slice(
                F.array_sort(
                    F.array_distinct(F.flatten(F.collect_list(f"__{name}__ids")))
                ),
                1,
                sample_k,
            ).alias(f"__{name}__ids"),
        ]
    row = part.agg(*merged_aggs)
    stack_args = ", ".join(
        f"'{name}', `__{name}__v`, `__{name}__ids`" for name, _ in rules
    )
    long = row.selectExpr(
        "__n",
        f"stack({len(rules)}, {stack_args}) AS (rule, n_violations, sample_ids)",
    )
    return long.select(
        "rule",
        F.col("n_violations").cast("long").alias("n_violations"),
        F.round(F.col("n_violations") / F.col("__n"), 6).alias(
            "violation_rate"
        ),
        F.col("sample_ids").cast("array<string>").alias("sample_ids"),
    )


def referential_violations(
    child: DataFrame,
    parent: DataFrame,
    fk: str,
    pk: str,
) -> DataFrame:
    """Orphaned-foreign-key report: child rows whose ``fk`` has no match
    in ``parent.pk`` (referential integrity, the join-key half of DQ).
    A LEFT ANTI join — one shuffle, or none when the parent key set
    broadcasts. Returns the orphan child keys with occurrence counts."""
    orphans = child.join(
        parent.select(F.col(pk).alias(fk)).distinct(), fk, "left_anti"
    )
    return orphans.groupBy(fk).agg(F.count(F.lit(1)).alias("n_rows"))


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    n_bins: int = 10,
    approx: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    slice of a numeric column — the standard model-monitoring drift
    score. Bin edges are the reference slice's exact ``n_bins``-quantile
    cutoffs (so ref mass is ~uniform per bin); both slices are binned
    with the SAME edges, and each bin contributes
    ``(p_cur − p_ref) · ln(p_cur / p_ref)``. Returns one row per bin:
    (bin, n_ref, n_cur, p_ref, p_cur, psi_term), all probabilities and
    terms rounded to 6 dp; ``SUM(psi_term)`` is the headline PSI
    (< 0.1 stable, > 0.25 drifted, by the usual convention).

    Scale shape: the cutoffs are ONE percentile aggregate on the
    reference slice (a single 1-row reduction), broadcast onto both
    slices as a literal array. ``approx=True`` swaps the exact sorted
    percentile for the Greenwald-Khanna ``percentile_approx`` sketch
    (mergeable, bounded memory — the path for >10^9-row reference
    slices, where an exact percentile's sort dominates); bin edges
    shift within the sketch tolerance but both slices still share the
    SAME edges, so the score stays internally consistent — pinned by
    an exact/approx agreement test. Binning is a pure expression
    fold (no join, no shuffle beyond each slice's ``n_bins``-row count
    aggregate). Bins empty in ONE slice are kept (the two count sides
    union with zero-filled twins and re-aggregate — full-outer
    semantics with no join node) with a NULL ``psi_term`` — a reference bin
    with zero current mass is the strongest possible drift signal and
    must be visible, not silently absent; NULL (rather than an
    epsilon-smoothed value) keeps ``SUM(psi_term)`` an honest
    both-present score while letting callers smooth vanished bins
    however they choose (``n_ref``/``n_cur`` carry the raw counts).
    NULL values are excluded from BOTH slices (the percentile cutoffs
    already ignore them; binning NULLs would silently sink them into
    bin 1 and report false drift) — a null-RATE shift is
    ``categorical_drift``'s job, not a value-distribution score's.
    """
    qs = [i / n_bins for i in range(1, n_bins)]
    v0 = F.col(value_col).cast("double")
    qarr = F.lit([float(q) for q in qs])
    cut_expr = (
        F.percentile_approx(v0, qarr, accuracy)
        if approx
        else F.percentile(v0, qarr)
    )
    cuts = ref.agg(cut_expr.alias("_cuts"))

    def _binned(df: DataFrame, side: str) -> DataFrame:
        v = F.col(value_col).cast("double")
        bin_expr = F.aggregate(
            F.col("_cuts"),
            F.lit(0),
            lambda acc, c: acc + F.when(v > c, F.lit(1)).otherwise(F.lit(0)),
        )
        return (
            df.filter(v.isNotNull())
            .crossJoin(F.broadcast(cuts))
            .select((bin_expr + F.lit(1)).alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias(f"n_{side}"))
        )

    r = _binned(ref, "ref")
    c = _binned(cur, "cur")
    # full-outer bin merge WITHOUT a join (a full outer can't broadcast):
    # union the two ≤n_bins-row count sides with zero-filled twins and
    # re-aggregate — bins present in either slice survive with the other
    # side's count coalesced to 0, and the shuffle moves ≤2·n_bins rows.
    merged = (
        r.select("bin", "n_ref", F.lit(0).cast("long").alias("n_cur"))
        .unionByName(
            c.select("bin", F.lit(0).cast("long").alias("n_ref"), "n_cur")
        )
        .groupBy("bin")
        .agg(F.sum("n_ref").alias("n_ref"), F.sum("n_cur").alias("n_cur"))
    )
    # side totals as WINDOW sums over the merged ≤2·n_bins-row frame —
    # exact-integer identity (every non-null ref row lands in exactly one
    # bin, zero-filled twins add 0, so sum over bins == side total). The
    # former tot_r/tot_c branch aggregates re-evaluated each side's full
    # scan+bin subtree (no exchange reuse across the agg boundary): 2
    # extra corpus passes for two scalars.
    # nullif(0) reproduces the old NULL-total semantics when a side is
    # empty (sum over an empty agg was NULL; the window sum would be 0,
    # and ANSI division by zero would error instead of yielding NULL).
    w_all = W.partitionBy().rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    n_r = F.col("n_ref")
    n_c = F.col("n_cur")
    p_ref = n_r / F.col("_tr")
    p_cur = n_c / F.col("_tc")
    return (
        merged.withColumn("_tr", F.nullif(F.sum("n_ref").over(w_all), F.lit(0)))
        .withColumn("_tc", F.nullif(F.sum("n_cur").over(w_all), F.lit(0)))
        .select(
            "bin",
            "n_ref",
            "n_cur",
            F.round(p_ref, 6).alias("p_ref"),
            F.round(p_cur, 6).alias("p_cur"),
            F.when(
                (n_r > 0) & (n_c > 0),
                F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6),
            ).alias("psi_term"),
        )
    )


def correlation_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """All-pairs Pearson correlation over ``cols`` in ONE aggregate
    pass — the feature-profiling companion to :func:`profile_table`
    (collinearity screening before training, drift comparison between
    snapshots). Returns long-form rows (col_a, col_b, corr) for the
    C(k, 2) unordered pairs with ``col_a`` < ``col_b`` in the given
    order, corr rounded to 6 dp.

    Scale shape: every pairwise ``corr`` is a distributive aggregate
    (sums of x, y, xy, x², y²), so the whole matrix is one partial-agg
    scan + a 1-row final reduce — k(k−1)/2 expressions wide, never a
    second pass or a join; the long-form pivot is a ``stack`` over the
    single result row. Cost grows with k² expression count, not data
    passes — at 100 TB it reads the table exactly once.
    """
    if len(cols) < 2:
        raise ValueError("correlation_matrix needs >= 2 columns")
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    row = df.agg(
        *[
            F.round(
                F.corr(F.col(a).cast("double"), F.col(b).cast("double")),
                6,
            ).alias(f"_c_{i}")
            for i, (a, b) in enumerate(pairs)
        ]
    )
    stack_args = ", ".join(
        f"'{a}', '{b}', _c_{i}" for i, (a, b) in enumerate(pairs)
    )
    return row.select(
        F.expr(
            f"stack({len(pairs)}, {stack_args}) AS (col_a, col_b, corr)"
        )
    )


def skew_report(
    df: DataFrame,
    key_col: str,
    k: int = 10,
) -> DataFrame:
    """Join/shuffle-key skew profiler: the top-``k`` heaviest values of
    ``key_col`` with their row counts, share of the table, and ratio to
    the mean per-key load — the planning report behind every salting /
    AQE-skew-join decision at cluster scale ("is one customer 40% of
    the fact table?"). Returns (key rendered as string, n_rows, share,
    x_mean), floats rounded to 6 dp, ordered heaviest first with the
    key string as tiebreaker.

    Scale shape: one groupBy on the key (map-side combined), a
    TakeOrderedAndProject top-k partial over the per-key counts, and
    the (total, n_keys) denominators from a broadcast one-row
    aggregate of the SAME per-key grain — never a second scan of the
    table, nothing driver-side. NULL keys count as a real group
    (rendered "NULL"): an all-NULL join key is the most common skew
    bug there is.
    """
    per_key = df.groupBy(
        F.coalesce(F.col(key_col).cast("string"), F.lit("NULL")).alias("key")
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    totals = per_key.agg(
        F.sum("n_rows").alias("_total"),
        F.count(F.lit(1)).alias("_n_keys"),
    )
    return (
        per_key.crossJoin(F.broadcast(totals))
        .select(
            "key",
            "n_rows",
            F.round(F.col("n_rows") / F.col("_total"), 6).alias("share"),
            F.round(
                F.col("n_rows") / (F.col("_total") / F.col("_n_keys")), 6
            ).alias("x_mean"),
        )
        .orderBy(F.desc("n_rows"), F.asc("key"))
        .limit(k)
    )


def ks_drift(
    a: DataFrame,
    b: DataFrame,
    value_col: str,
    n_buckets: int = 64,
    approx: bool = False,
    approx_bins: int = 256,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between two
    slices of a numeric column — ``sup_x |F_a(x) − F_b(x)|``, the
    classic nonparametric distribution-shift test beside the binned
    ``psi_drift`` and the token-level KL. Because both ECDFs are step
    functions, the supremum is attained at an observed value, so the
    statistic over the distinct-value grain is EXACT (no binning
    error, unlike PSI). Returns one row: (ks_stat, n_a, n_b), the
    statistic rounded to 6 dp; NULL ks_stat when either side is empty.

    Scale shape — the global CDF without a global sort: both sides
    union into one (value, n_a, n_b) count grid (ONE value-keyed
    shuffle, so ties across sides merge); cumulative counts come from
    a bucket-partitioned window where the buckets are quantile cutoffs
    of the distinct-value grid plus per-bucket offsets from a
    ≤``n_buckets``-row side frame joined broadcast. The cutoffs AND
    the side totals come out of ONE 1-row reduce over the grid,
    broadcast as literals (the ``psi_drift`` pattern) — and because
    every consumer then hangs off the byte-identical grid subtree,
    Spark's ReuseExchange materializes the value shuffle ONCE (the
    plan audit pins the single-scan-pass shape). No window ever
    orders more than ~|distinct|/n_buckets rows. NULL values are
    excluded (an ECDF is undefined over them).

    ``approx=True`` is the path for continuous columns at extreme row
    counts, where the distinct-value grid is itself row-scale and the
    per-bucket window sorts become the bottleneck: the sup is instead
    evaluated only at ``approx_bins`` ROW-WEIGHTED quantile cutoffs of
    the pooled values (one GK-sketch reduce whose ≤approx_bins floats
    come to the driver — a bounded, EAGER step, the
    ``percentile_buckets`` convention), each row is binned by a
    binary-search tree of literal comparisons (log2(bins) codegen'd
    comparisons per row), and the whole CDF collapses to a
    ≤``approx_bins``-row frame — map-side combine reduces the shuffle
    to ≤``approx_bins`` partial rows per task, and nothing downstream
    exceeds ``approx_bins`` rows. Error is bounded by the largest
    pooled row mass between adjacent cutoffs (≈ 1/approx_bins on
    continuous data) plus the sketch tolerance; exact stays the oracle
    twin at test SFs — pinned by an exact/approx agreement test.
    """
    v = F.col(value_col).cast("double")

    def _tag(df: DataFrame, side: str) -> DataFrame:
        other = "b" if side == "a" else "a"
        return df.filter(v.isNotNull()).select(
            v.alias("val"),
            F.lit(1).alias(f"_{side}"),
            F.lit(0).alias(f"_{other}"),
        ).select("val", "_a", "_b")

    pooled = _tag(a, "a").unionByName(_tag(b, "b"))

    if approx:
        # the cutoffs come to the driver (BOUNDED: approx_bins floats —
        # the percentile_buckets convention) so binning can be a
        # BINARY-SEARCH tree of literal WHEN comparisons: log2(bins)
        # codegen'd comparisons per row. A broadcast higher-order fold
        # over the cutoff array would be O(bins) per row AND
        # interpreted (HOFs sit outside whole-stage codegen) — measured
        # 9x slower than the exact path at 20M rows before this form.
        qs = [i / approx_bins for i in range(1, approx_bins)]
        # sketch accuracy only needs rank error << bin width (n /
        # approx_bins); 4x bins keeps cutoff placement error at ~1/4
        # bin while making the per-row GK update much cheaper than the
        # default 10k accuracy
        accuracy = max(1_000, 4 * approx_bins)
        stats = pooled.agg(
            F.percentile_approx(
                F.col("val"), F.lit([float(q) for q in qs]), accuracy
            ).alias("_cuts"),
            F.sum("_a").alias("_ta"),
            F.sum("_b").alias("_tb"),
        ).collect()[0]
        n_a = stats._ta if stats._ta else None
        n_b = stats._tb if stats._tb else None
        spark = a.sparkSession
        if stats._cuts is None:  # both slices empty
            return spark.range(1).select(
                F.lit(None).cast("double").alias("ks_stat"),
                F.lit(n_a).cast("long").alias("n_a"),
                F.lit(n_b).cast("long").alias("n_b"),
            )
        cut_vals = list(stats._cuts)

        def _tree(lo: int, hi: int):
            # bucket index in [lo, hi]; cut_vals[i] separates i from i+1
            if lo == hi:
                return F.lit(lo)
            mid = (lo + hi) // 2
            return (
                F.when(F.col("val") > cut_vals[mid], _tree(mid + 1, hi))
                .otherwise(_tree(lo, mid))
            )

        binned = (
            pooled.select(
                "_a", "_b", _tree(0, len(cut_vals)).alias("_bkt")
            )
            .groupBy("_bkt")
            .agg(F.sum("_a").alias("cnt_a"), F.sum("_b").alias("cnt_b"))
        )
        # ≤approx_bins rows: the single-partition ordered window is
        # bounded by construction
        cum_w = W.orderBy("_bkt").rowsBetween(
            W.unboundedPreceding, W.currentRow
        )
        return binned.select(
            (F.sum("cnt_a").over(cum_w) / F.lit(n_a)).alias("_fa"),
            (F.sum("cnt_b").over(cum_w) / F.lit(n_b)).alias("_fb"),
        ).agg(
            F.round(F.max(F.abs(F.col("_fa") - F.col("_fb"))), 6).alias(
                "ks_stat"
            ),
            F.lit(n_a).cast("long").alias("n_a"),
            F.lit(n_b).cast("long").alias("n_b"),
        )

    grid = (
        pooled.groupBy("val")
        .agg(F.sum("_a").alias("n_a"), F.sum("_b").alias("n_b"))
        # No localCheckpoint: AQE's runtime ReuseExchange already runs the
        # value shuffle once (plan-audit test), and a checkpoint was slower.
    )

    # one 1-row reduce for bucket cutoffs AND side totals; nullif(0) so
    # an empty side yields a NULL ks_stat instead of an ANSI
    # division-by-zero error
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = grid.agg(
        F.percentile_approx(
            F.col("val"), F.lit([float(q) for q in qs]), 10_000
        ).alias("_cuts"),
        F.nullif(F.sum("n_a"), F.lit(0)).alias("_ta"),
        F.nullif(F.sum("n_b"), F.lit(0)).alias("_tb"),
    )
    bucket = F.aggregate(
        F.col("_cuts"),
        F.lit(0),
        lambda acc, c: acc
        + F.when(F.col("val") > c, F.lit(1)).otherwise(F.lit(0)),
    )
    bucketed = grid.crossJoin(F.broadcast(cuts)).select(
        "val", "n_a", "n_b", "_ta", "_tb", bucket.alias("_bkt")
    )

    in_bucket = W.partitionBy("_bkt").orderBy("val").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    # per-bucket offsets: a ≤n_buckets-row frame, so its partition-less
    # ordered window is bounded by construction (same convention as the
    # 1-row total reduces in psi_drift)
    offsets = (
        bucketed.groupBy("_bkt")
        .agg(F.sum("n_a").alias("_ba"), F.sum("n_b").alias("_bb"))
        .select(
            "_bkt",
            (
                F.sum("_ba").over(
                    W.orderBy("_bkt").rowsBetween(
                        W.unboundedPreceding, W.currentRow
                    )
                )
                - F.col("_ba")
            ).alias("_off_a"),
            (
                F.sum("_bb").over(
                    W.orderBy("_bkt").rowsBetween(
                        W.unboundedPreceding, W.currentRow
                    )
                )
                - F.col("_bb")
            ).alias("_off_b"),
        )
    )
    cum = (
        bucketed.join(F.broadcast(offsets), "_bkt")
        .select(
            (
                (F.sum("n_a").over(in_bucket) + F.col("_off_a"))
                / F.col("_ta")
            ).alias("_fa"),
            (
                (F.sum("n_b").over(in_bucket) + F.col("_off_b"))
                / F.col("_tb")
            ).alias("_fb"),
            "_ta",
            "_tb",
        )
    )
    return cum.agg(
        F.round(F.max(F.abs(F.col("_fa") - F.col("_fb"))), 6).alias(
            "ks_stat"
        ),
        F.first("_ta").alias("n_a"),
        F.first("_tb").alias("n_b"),
    )


def categorical_drift(
    ref: DataFrame,
    cur: DataFrame,
    cat_col: str,
) -> DataFrame:
    """Chi-square drift between a reference and a current slice of a
    CATEGORICAL column — the companion to the numeric ``psi_drift`` /
    ``ks_drift`` pair (those bin or order values; categories have no
    order, so the 2×k contingency test is the standard score). Each
    output row is one category: (category, n_ref, n_cur, p_ref, p_cur,
    chi2_term), where chi2_term sums both cells' (obs − exp)²/exp for
    that category against the usual independence expectation
    exp = row_total · col_total / N. ``SUM(chi2_term)`` is the
    chi-square statistic; Cramér's V = sqrt(chi2 / N) for a 2×k table.
    Categories absent from one slice contribute their full term
    (observed 0 against a positive expectation) — no smoothing needed,
    unlike PSI's log. NULL categories are kept as a real category
    (surfacing a null-rate shift IS drift).

    Scale shape: the tagged union groups once on the category key (ONE
    shuffle, both side counts in the same pass — the ``ks_drift`` grid
    pattern); the side totals are a 1-row reduce broadcast back, and
    every term is a pure expression over the ≤|categories| result.
    """
    def _tag(df: DataFrame, side: str) -> DataFrame:
        other = "cur" if side == "ref" else "ref"
        return df.select(
            F.col(cat_col).alias("category"),
            F.lit(1).alias(f"_{side}"),
            F.lit(0).alias(f"_{other}"),
        ).select("category", "_ref", "_cur")

    grid = (
        _tag(ref, "ref")
        .unionByName(_tag(cur, "cur"))
        .groupBy("category")
        .agg(F.sum("_ref").alias("n_ref"), F.sum("_cur").alias("n_cur"))
    )
    totals = grid.agg(
        # nullif(0) so an empty slice yields NULL fractions/terms
        # instead of an ANSI division-by-zero error (the ks_drift guard)
        F.nullif(F.sum("n_ref"), F.lit(0)).alias("_tr"),
        F.nullif(F.sum("n_cur"), F.lit(0)).alias("_tc"),
    )
    n = F.col("_tr") + F.col("_tc")
    col_tot = F.col("n_ref") + F.col("n_cur")

    def _cell(obs, row_tot):
        exp = row_tot.cast("double") * col_tot / n
        return (obs - exp) * (obs - exp) / exp

    return grid.crossJoin(F.broadcast(totals)).select(
        "category",
        "n_ref",
        "n_cur",
        F.round(F.col("n_ref") / F.col("_tr"), 6).alias("p_ref"),
        F.round(F.col("n_cur") / F.col("_tc"), 6).alias("p_cur"),
        F.round(
            _cell(F.col("n_ref"), F.col("_tr"))
            + _cell(F.col("n_cur"), F.col("_tc")),
            6,
        ).alias("chi2_term"),
    )


def zipf_fit(
    df: DataFrame, *, text_col: str = "text", top_k: int = 500
) -> DataFrame:
    """Power-law (Zipf) fit over the corpus term-frequency distribution:
    OLS of ln(freq) on ln(rank) for the top-k terms, returning ONE row
    (n_terms, zipf_slope, zipf_intercept, r2). A healthy natural-language
    corpus fits slope ~ -1; synthetic/template-heavy corpora flatten —
    this is the corpus-level twin of the per-doc repetition signals
    (operators/text.py) used to smoke-test a crawl snapshot before
    training.

    Scale shape: term counts are one hash aggregate (map-side partial);
    the top-k is a DISTRIBUTED TakeOrdered (orderBy+limit compiles to
    per-partition top-k + merge — never a global sort of the vocabulary,
    which at 100 TB is ~100M terms). Only the <=k surviving rows pass
    through the rank window (single-partition over k rows, bounded by
    construction) and the final single-row OLS aggregate. Ties rank
    deterministically (freq desc, term asc) so both engines agree.
    """
    from .text import tokens

    counts = (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("freq"))
    )
    top = counts.orderBy(F.col("freq").desc(), F.col("term").asc()).limit(top_k)
    w = W.orderBy(F.col("freq").desc(), F.col("term").asc())
    xy = top.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log("freq").alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    slope = cov / varx
    return s.select(
        n.cast("long").alias("n_terms"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round((sy - slope * sx) / n, 4).alias("zipf_intercept"),
        F.round((cov * cov) / (varx * vary), 4).alias("r2"),
    )


def heaps_fit(
    df, *, id_col: str = "doc_id", text_col: str = "text",
    checkpoints: int = 8,
) -> DataFrame:
    """Heaps'-law fit V = K·N^beta (vocabulary growth vs tokens seen):
    OLS of ln(vocab) on ln(tokens) over ``checkpoints`` prefixes of the
    corpus in id order — the companion corpus-health signal to
    :func:`zipf_fit` (natural text grows vocabulary at beta ~ 0.5;
    template/duplicated corpora flatten toward 0). Returns one row
    (n_checkpoints, heaps_beta, heaps_k, r2).

    Scale shape: ONE tokenize+explode pass; a term's FIRST-SEEN doc id
    is one min-aggregate per term (map-side partial, same cost tier as
    a wordcount) which also carries the per-checkpoint token counts, so
    both the vocab and token-total sides of the fit are conditional
    sums over that small table — no second corpus scan, no ordered
    scan, no window over the corpus, no crossJoin. Checkpoints
    are id-space prefixes (deterministic integer arithmetic both
    engines replay); the final OLS runs over <= ``checkpoints`` rows.

    Note: unlike the module's other fits this triggers ONE small Spark
    job at call time (max over the id column — the checkpoint ids are
    driver-side literals so both engines replay identical integer
    arithmetic); the returned DataFrame is lazy from there. Raises
    ``ValueError`` on an empty corpus (no checkpoints to fit).
    """
    from .text import tokens

    toks = tokens(F.lower(F.col(text_col)))
    docs = df.select(F.col(id_col).alias("_id"), toks.alias("_toks"))
    _max = docs.agg(F.max("_id")).first()[0]
    if _max is None:
        raise ValueError("heaps_fit: empty corpus — no ids to checkpoint")
    max_id = int(_max)
    cs = [(max_id * i) // checkpoints for i in range(1, checkpoints + 1)]
    cs = sorted(set(cs))
    # ONE tokenize pass feeds both sides of the fit: the per-term group
    # carries min first-seen id (vocab side) AND per-checkpoint token
    # counts (token-total side — the sum of group counts over all terms,
    # '' included, equals the sum of size(toks), so this is integer-
    # identical to the former second corpus scan). Halves the corpus
    # tokenization work and drops the crossJoin of the two 1-row aggs.
    g = (
        docs.select("_id", F.explode("_toks").alias("_t"))
        .groupBy("_t")
        .agg(
            F.min("_id").alias("_first"),
            *[
                F.sum(F.when(F.col("_id") <= c, 1).otherwise(0)).alias(
                    f"_c{i}"
                )
                for i, c in enumerate(cs)
            ],
        )
    )
    row = g.agg(
        *[
            F.sum(
                F.when(
                    (F.col("_t") != "") & (F.col("_first") <= c), 1
                ).otherwise(0)
            )
            .cast("double")
            .alias(f"_v{i}")
            for i, c in enumerate(cs)
        ],
        *[
            F.sum(F.col(f"_c{i}")).cast("double").alias(f"_n{i}")
            for i in range(len(cs))
        ],
    )
    pairs = row.select(
        F.explode(
            F.arrays_zip(
                F.array(*[F.col(f"_n{i}") for i in range(len(cs))]).alias("n"),
                F.array(*[F.col(f"_v{i}") for i in range(len(cs))]).alias("v"),
            )
        ).alias("_p")
    ).select(
        F.log(F.col("_p.n")).alias("x"), F.log(F.col("_p.v")).alias("y")
    )
    s = pairs.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    slope = cov / varx
    return s.select(
        n.cast("long").alias("n_checkpoints"),
        F.round(slope, 4).alias("heaps_beta"),
        F.round(F.exp((sy - slope * sx) / n), 4).alias("heaps_k"),
        F.round((cov * cov) / (varx * vary), 4).alias("r2"),
    )
