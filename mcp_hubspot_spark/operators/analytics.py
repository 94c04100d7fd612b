"""Behavioral analytics operators: ordered funnels and Markov transition
matrices over event streams — the product-analytics staples (conversion
tracking, session modeling) a pipeline engine serves next to its
relational core. Reference scope: the reference exposes raw engagement
feeds (``server.py`` recent-engagements tooling); these operators are
the aggregate views a consumer of those feeds computes.

Scale stance: every shape here shuffles on ``user_id`` only (the natural
partition key for behavioral data) and reduces to per-user scalars
before any global step; nothing materializes per-user event arrays in a
single task.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .topk import sorted_result


def ordered_funnel(
    events: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    within_seconds: int | None = None,
) -> DataFrame:
    """Ordered conversion funnel with first-touch semantics: a user
    completes step i at the EARLIEST event of type ``steps[i]`` at or
    after their step i-1 completion time — and, when ``within_seconds``
    is given, no later than that deadline after it (the
    conversion-window form product analytics actually reports: "clicked
    within 24h of viewing"). Returns one row per step:
    (step, event_type, n_users, pct_of_first).

    Plan shape — a chain of per-user min aggregations, one per step,
    joined user-to-user: filter to the step's type, join the previous
    step's completion times (same user_id hash partitioning every stage,
    so AQE coalesces into co-located joins), keep events at/after it,
    take the min. No per-user event arrays, no window over the full
    stream — a power user with 10^6 events costs 10^6 filter rows, never
    a single-task sort. The final 3-row count assembly is a union of
    scalar aggregates; pct_of_first is a window over len(steps) rows.
    """
    if not steps:
        raise ValueError("ordered_funnel needs at least one step")
    prev: DataFrame | None = None
    per_step: list[DataFrame] = []
    for step in steps:
        e = events.filter(F.col(type_col) == step).select(
            user_col, F.col(ts_col).alias("_ts")
        )
        if prev is not None:
            gate = F.col("_ts") >= F.col("_step_ts")
            if within_seconds is not None:
                gate = gate & (
                    F.col("_ts")
                    <= F.col("_step_ts") + F.expr(
                        f"INTERVAL {int(within_seconds)} SECONDS"
                    )
                )
            e = e.join(prev, user_col).filter(gate).drop("_step_ts")
        cur = e.groupBy(user_col).agg(F.min("_ts").alias("_step_ts"))
        per_step.append(cur)
        prev = cur
    counts: DataFrame | None = None
    for i, (step, frame) in enumerate(zip(steps, per_step)):
        c = frame.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(i + 1).alias("step"),
            F.lit(step).alias("event_type"),
            F.col("n_users").cast("long").alias("n_users"),
        )
        counts = c if counts is None else counts.unionByName(c)
    w = Window.orderBy("step").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    first = F.first("n_users").over(w)
    return counts.withColumn(
        "pct_of_first",
        # try_divide: an empty step 1 yields NULL pct, not a crash
        F.round(F.try_divide(F.col("n_users"), first), 6),
    ).orderBy("step")


def transition_matrix(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for each (from_type, to_type) adjacent pair in (ts,
    order_col) order, the transition count and the row-normalized
    probability. The session-modeling companion to ``event_type_lift``
    (co-occurrence): lift asks "appear together?", this asks "what comes
    NEXT?".

    One window pass (lead over user_id partitions — single shuffle on
    the user key), one small groupBy on the type pair, and a broadcast
    join against the per-from-type totals (|types|² rows, trivially
    broadcastable at any corpus size).
    """
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(order_col).asc()
    )
    pairs = (
        events.select(
            F.col(type_col).alias("from_type"),
            F.lead(type_col).over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    totals = pairs.groupBy("from_type").agg(
        F.sum("n_transitions").alias("_n_from")
    )
    return (
        pairs.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            F.col("n_transitions").cast("long").alias("n_transitions"),
            F.round(
                F.col("n_transitions") / F.col("_n_from"), 6
            ).alias("p_transition"),
        )
        .transform(sorted_result, "from_type", "to_type")
    )


def percentile_buckets(
    df: DataFrame,
    value_col: str,
    n_buckets: int = 4,
    rel_err: float = 0.001,
) -> DataFrame:
    """The 100 TB twin of a global ``ntile(n)``: bucket membership from
    BROADCAST approximate-percentile cutoffs instead of a total-order
    window. ``ntile`` needs every row through one ordered window
    partition — a single-task sort at any real scale; this shape pays
    one Greenwald-Khanna sketch pass (``approxQuantile``, driver-bounded
    to n_buckets-1 numbers) and then assigns buckets as a scan-stage
    literal comparison chain — no shuffle at all for the assignment.

    Bucket b holds rows with cutoff[b-2] < value <= cutoff[b-1] (bucket 1
    unbounded below, bucket n unbounded above). Counts per bucket match
    exact NTILE within the sketch error times n_rows; exact NTILE stays
    the oracle twin at test SFs (``customer_value_quartiles``).
    NULL values get a NULL bucket — approxQuantile ignores NULLs when
    computing cutoffs, so assigning them to bucket 1 (what a naive
    comparison chain does) would skew bucket-1 counts vs the NTILE twin.
    Returns the input plus an int ``bucket`` column.
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = df.stat.approxQuantile(value_col, qs, rel_err)
    bucket = F.lit(1)
    for c in cuts:
        bucket = bucket + F.when(F.col(value_col) > c, 1).otherwise(0)
    return df.withColumn(
        "bucket",
        F.when(F.col(value_col).isNull(), F.lit(None)).otherwise(
            bucket
        ).cast("int"),
    )


def attribution_credits(
    events: DataFrame,
    touch_types: Sequence[str],
    conversion_type: str,
    lookback_us: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Multi-touch attribution: for every conversion event, credit the
    touch events in its per-user lookback window under the three
    standard position models at once — first-touch (all credit to the
    earliest touch), last-touch (to the latest), and linear (1/n each).
    Returns one row per (conversion, touch) pair with ``first_credit`` /
    ``last_credit`` (0/1 ints) and ``linear_credit`` (DECIMAL, rounded
    to 9 dp so downstream sums are exact and engine-portable); callers
    aggregate by touch attribute (channel, type, campaign).

    Scale shape: ONE shuffle on the user key for the touch↔conversion
    equi-join (the range condition is a residual filter, never a
    cross product); the per-conversion ranking windows repartition on
    the conversion id. Pair fan-out is bounded by per-user activity in
    the lookback window — the quantity attribution inherently measures —
    never by corpus size. Ties on the touch timestamp break by event id
    in BOTH directions, so first/last are total-order deterministic.
    """
    t_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    conv = events.filter(F.col(type_col) == conversion_type).select(
        F.col(user_col).alias("_u"),
        F.col(id_col).alias("conv_id"),
        t_us.alias("_conv_us"),
    )
    touch = events.filter(
        F.col(type_col).isin(list(touch_types))
    ).select(
        F.col(user_col).alias("_u"),
        F.col(id_col).alias("touch_id"),
        F.col(type_col).alias("touch_type"),
        t_us.alias("_touch_us"),
    )
    pairs = conv.join(touch, "_u").filter(
        (F.col("_touch_us") < F.col("_conv_us"))
        & (F.col("_touch_us") >= F.col("_conv_us") - F.lit(lookback_us))
    )
    w_first = Window.partitionBy("conv_id").orderBy(
        F.col("_touch_us").asc(), F.col("touch_id").asc()
    )
    w_last = Window.partitionBy("conv_id").orderBy(
        F.col("_touch_us").desc(), F.col("touch_id").desc()
    )
    w_all = Window.partitionBy("conv_id")
    return pairs.select(
        "conv_id",
        "touch_id",
        "touch_type",
        (F.row_number().over(w_first) == 1).cast("int").alias("first_credit"),
        (F.row_number().over(w_last) == 1).cast("int").alias("last_credit"),
        F.round(
            F.lit(1.0) / F.count(F.lit(1)).over(w_all), 9
        )
        .cast("decimal(20,10)")
        .alias("linear_credit"),
    )


def copurchase_lift(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 2,
    max_basket_size: int | None = None,
) -> DataFrame:
    """Market-basket association mining: for every unordered item pair
    that co-occurs in at least ``min_pair_count`` baskets, the support
    counts, the lift ``P(ab) / (P(a)·P(b))``, and the co-occurrence
    cosine ``n_ab / √(n_a·n_b)`` (the item-item similarity
    collaborative filtering starts from) — the classic "frequently
    bought together" signals (and, pointed at documents × n-grams, a
    phrase-collocation miner). Returns
    (item_a, item_b, pair_count, count_a, count_b, lift, cosine) with
    ``item_a < item_b`` so each pair appears exactly once.

    Scale shape: the raw (basket, item) rows reduce in ONE shuffle on
    the basket key into a sorted deduplicated per-basket item array
    (``collect_set`` — the FP-growth preprocessing layout; no separate
    DISTINCT pass), and that array relation — decision-table-sized, one
    narrow row per basket, never the fact rows — is **materialized once
    via localCheckpoint** (guide §8: decide with small rows). The three
    downstream quantities (pair counts, item supports, basket total)
    are then independent cheap consumers of the checkpointed blocks, so
    the expensive fact-side join + shuffle runs exactly once instead of
    once per branch. Pair expansion is EXPRESSION-SIDE (``transform``
    over suffix slices — no self-join). The per-basket array and its
    C(size, 2) fan-out are bounded by ``max_basket_size`` when given —
    a plain filter on the array length, strongly recommended for open
    item domains: a single pathological 10^5-item basket would
    otherwise emit 5·10^9 pairs from one row. Supports and the total
    are joined back AFTER the min-count filter has shrunk the pair set;
    the total rides in via a broadcast one-row cross join, never a
    driver-side count.

    Not one tagged explode + single aggregate: the wide explode measured
    ~35% slower at sf0.1, while the checkpointed branches are cheap.
    """
    items = (
        df.select(
            F.col(basket_col).alias("_b"), F.col(item_col).alias("_i")
        )
        .groupBy("_b")
        .agg(F.sort_array(F.collect_set("_i")).alias("_items"))
    )
    if max_basket_size is not None:
        items = items.filter(F.size("_items") <= max_basket_size)
    # one narrow column per basket is all the consumers need
    items = items.select("_items").localCheckpoint()
    n_baskets = items.agg(F.count(F.lit(1)).alias("_n_baskets"))
    item_counts = (
        items.select(F.explode("_items").alias("_i"))
        .groupBy("_i")
        .agg(F.count(F.lit(1)).alias("_item_n"))
    )
    # all ordered pairs of the sorted array: for each position, pair it
    # with every later element — item_a < item_b by construction
    pair_expr = F.flatten(
        F.transform(
            F.col("_items"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("_items"),
                    i + F.lit(2),
                    F.greatest(
                        F.size(F.col("_items")) - i - F.lit(1), F.lit(0)
                    ),
                ),
                lambda y: F.struct(x.alias("item_a"), y.alias("item_b")),
            ),
        )
    )
    pairs = (
        items.select(F.explode(pair_expr).alias("_p"))
        .select("_p.item_a", "_p.item_b")
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= min_pair_count)
    )
    # supports join AFTER the min-count filter: the pair set is already
    # sparse; item_counts is dimension-sized → broadcast both lookups
    return (
        pairs.join(
            F.broadcast(
                item_counts.select(
                    F.col("_i").alias("item_a"),
                    F.col("_item_n").alias("count_a"),
                )
            ),
            "item_a",
        )
        .join(
            F.broadcast(
                item_counts.select(
                    F.col("_i").alias("item_b"),
                    F.col("_item_n").alias("count_b"),
                )
            ),
            "item_b",
        )
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "pair_count",
            "count_a",
            "count_b",
            F.round(
                F.col("pair_count").cast("double")
                * F.col("_n_baskets")
                # cast BEFORE multiplying: long*long overflows once both
                # supports exceed ~3e9 (product past 2^63) — exactly the
                # extreme-cardinality regime this operator targets
                / (F.col("count_a").cast("double") * F.col("count_b")),
                6,
            ).alias("lift"),
            F.round(
                F.col("pair_count")
                / F.sqrt(
                    F.col("count_a").cast("double") * F.col("count_b")
                ),
                6,
            ).alias("cosine"),
        )
    )


def ranking_metrics(
    ranked: DataFrame,
    query_col: str = "query_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
    k: int = 10,
) -> DataFrame:
    """Offline search-quality evaluation over ranked result lists: for
    each query, NDCG@k (graded relevance, log2 discount), MRR (first
    rank with rel > 0), and precision@k (fraction of the top-k with
    rel > 0) — the standard triple for comparing retrieval variants
    (BM25 vs hybrid vs ANN) on a labeled set. ``ranked`` has one row
    per (query, result) with a 1-based ``rank`` and a numeric graded
    relevance; rows beyond ``rank`` k are ignored. Returns one row per
    query: (query, ndcg_at_k, mrr, precision_at_k), rounded to 6 dp.

    IDCG uses the query's own relevance grades re-sorted descending
    (the standard formulation), computed with a rank-over-relevance
    window — both windows partition on the query key, so the whole
    computation is ONE shuffle on ``query_col`` and a per-query
    aggregate; no joins, nothing driver-side. A query with no relevant
    result in its list gets ndcg/mrr/precision 0, not NULL.
    """
    r = ranked.select(
        F.col(query_col).alias("query"),
        F.col(rank_col).cast("int").alias("_rank"),
        F.col(rel_col).cast("double").alias("_rel"),
    ).filter(F.col("_rank") <= k)
    w_ideal = Window.partitionBy("query").orderBy(
        F.col("_rel").desc(), F.col("_rank").asc()
    )
    gain = (F.pow(F.lit(2.0), F.col("_rel")) - 1.0)
    dcg_term = gain / F.log2(F.col("_rank") + F.lit(1.0))
    ideal_term = gain / F.log2(
        F.row_number().over(w_ideal) + F.lit(1.0)
    )
    rr = F.when(
        F.col("_rel") > 0, F.lit(1.0) / F.col("_rank")
    ).otherwise(F.lit(0.0))
    per_q = (
        r.withColumn("_dcg", dcg_term)
        .withColumn("_idcg", ideal_term)
        .withColumn("_rr", rr)
        .groupBy("query")
        .agg(
            F.sum("_dcg").alias("_sdcg"),
            F.sum("_idcg").alias("_sidcg"),
            F.max("_rr").alias("_mrr"),
            (
                F.sum((F.col("_rel") > 0).cast("int")) / F.lit(float(k))
            ).alias("_prec"),
        )
    )
    ndcg = F.when(
        F.col("_sidcg") > 0, F.col("_sdcg") / F.col("_sidcg")
    ).otherwise(F.lit(0.0))
    return per_q.select(
        "query",
        F.round(ndcg, 6).alias("ndcg_at_k"),
        F.round("_mrr", 6).alias("mrr"),
        F.round("_prec", 6).alias("precision_at_k"),
    )


def session_path_ngrams(
    events: DataFrame,
    n: int = 3,
    gap_s: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
    k: int = 20,
) -> DataFrame:
    """Path mining: the top-``k`` most frequent length-``n`` consecutive
    event-type sequences WITHIN sessions (gap-based sessionization,
    ``gap_s`` idle threshold) — "what do users actually do next, two
    steps out", the n-gram generalization of :func:`transition_matrix`.
    Returns (path, n_occurrences) with the path rendered as
    ``a>b>c``; ties break on the path string ascending.

    Plan shape: ONE shuffle on the user key serves everything — the
    gap-flag lag window, the running session-id sum, and the n−1 lead
    windows all share the same (user, ts, order) sort, so Catalyst
    plans a single Exchange+Sort; an n-gram is emitted only when all
    n events share a session id (leads cross session boundaries are
    nulled out). The count groupBy is keyed on the path — bounded by
    |types|^n — and the final top-k is a TakeOrderedAndProject.
    """
    if n < 2:
        raise ValueError("session_path_ngrams needs n >= 2")
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(order_col).asc()
    )
    # microsecond-exact gaps as a pure INTERVAL comparison: casting the
    # timestamp to long FLOORS to whole seconds (a true gap in
    # (gap_s, gap_s+1) could keep the pair in one session while a
    # fractional-epoch oracle splits it), and unix_micros on a
    # TIMESTAMP_NTZ column would interpret wall-clock times through the
    # session timezone (DST transitions distort gaps). Timestamp
    # subtraction works identically for TIMESTAMP and NTZ and compares
    # against the interval literal timezone-independently.
    new_sess = (
        F.col(ts_col) - F.lag(F.col(ts_col)).over(w)
        > F.expr(f"INTERVAL {int(gap_s)} SECONDS")
    )
    sess = F.sum(
        F.when(new_sess, 1).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    r = events.select(
        user_col, ts_col, order_col,
        F.col(type_col).alias("_t0"),
        sess.alias("_sess"),
    )
    cols = [F.col("_t0")]
    same = F.lit(True)
    for i in range(1, n):
        cols.append(F.lead("_t0", i).over(w).alias(f"_t{i}"))
        same = same & (
            F.lead("_sess", i).over(w) == F.col("_sess")
        )
    grams = (
        r.select(*cols, same.alias("_ok"))
        .filter(F.col("_ok") & F.col(f"_t{n-1}").isNotNull())
        .select(
            F.concat_ws(">", *[f"_t{i}" for i in range(n)]).alias("path")
        )
    )
    return (
        grams.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("path"))
        .limit(k)
    )


def funnel_latency(
    events: DataFrame,
    start_type: str,
    end_type: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    quantiles: Sequence[float] = (0.5, 0.9),
    approx: bool = False,
) -> DataFrame:
    """Conversion-latency distribution: per user, first ``start_type``
    to first subsequent ``end_type``, summarized as one row of
    (n_converters, p{q}_hours per requested quantile, mean_hours) —
    the "how long does the funnel take" companion to
    :func:`ordered_funnel`'s "how many make it".

    Shape: two user-keyed min-aggregates (the start side reduces
    BEFORE joining, so the join carries one row per user, not per
    event) joined on the user key with the ``>= t_start`` residual,
    then a single 1-row reduce over n_converters latency scalars.
    Latency is microsecond-exact (interval ``DIV INTERVAL 1
    MICROSECOND`` — never a second-floored cast, and type-generic over
    TIMESTAMP / TIMESTAMP_NTZ without session-timezone interpretation).
    ``approx=True`` swaps the exact sorted percentile for the mergeable
    Greenwald-Khanna sketch — the documented >10^9-user path.
    """
    t = F.col(type_col)
    v = (
        events.filter(t == start_type)
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_t_start"))
    )
    p = (
        events.filter(t == end_type)
        .join(v, user_col)
        .filter(F.col(ts_col) >= F.col("_t_start"))
        .groupBy(user_col)
        .agg(
            F.min(ts_col).alias("_t_end"),
            F.first("_t_start").alias("_t_start"),
        )
    )
    # interval DIV: microsecond-exact, and unlike unix_micros it works
    # for TIMESTAMP and TIMESTAMP_NTZ alike without routing NTZ
    # wall-clock times through the session timezone
    sec = (
        F.expr("(_t_end - _t_start) DIV INTERVAL 1 MICROSECOND").cast(
            "double"
        )
        / 1e6
    )

    def _label(q: float) -> str:
        # %g then '.'->'_' keeps sub-percent quantiles distinct and
        # rounds away float noise: 0.29 -> p29, 0.999 -> p99_9
        # (int(q*100) truncates 0.29 to p28 and collides 0.999 with
        # 0.99)
        return "p" + ("%g" % round(q * 100, 6)).replace(".", "_")

    labels = [_label(q) for q in quantiles]
    if len(set(labels)) != len(labels):
        raise ValueError(f"duplicate quantile labels: {labels}")

    def _pct(q: float, label: str):
        expr = (
            F.percentile_approx(sec, F.lit(q), 10_000)
            if approx
            else F.percentile(sec, F.lit(q))
        )
        return F.round(expr / 3600.0, 4).alias(f"{label}_hours")

    return p.agg(
        F.count(F.lit(1)).alias("n_converters"),
        *[_pct(q, lab) for q, lab in zip(quantiles, labels)],
        F.round(F.avg(sec) / 3600.0, 4).alias("mean_hours"),
    )
