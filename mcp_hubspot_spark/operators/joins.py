"""Join operators (SURVEY §2.3 J1-J5).

The reference's joins are hand-rolled loops over REST calls:
association-expand (edges → per-id detail GETs, reference
``clients/company_client.py:67-137``), N+1 thread→messages enrichment
(``clients/conversation_client.py:301-333``), and a search-before-insert
dedup check (``clients/contact_client.py:79-87``). Each becomes ONE
declarative join here; Catalyst/AQE picks broadcast-hash vs sort-merge and
splits skewed keys at runtime.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def association_expand(
    left: DataFrame,
    edges: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    edge_from: str = "from_id",
    edge_to: str = "to_object_id",
    broadcast_edges: bool = False,
) -> DataFrame:
    """left ⋈ edges ⋈ right (reference J1/J2 association traversal).

    The reference walks edges per-left-row with capped fan-out (500,
    company_client.py:97); here the whole traversal is two equi-joins. At
    scale: if the edge table is small relative to the facts, pass
    ``broadcast_edges=True`` to avoid shuffling both fact sides; otherwise
    both joins shuffle on their keys and AQE handles skewed hub entities.
    """
    e = F.broadcast(edges) if broadcast_edges else edges
    out = left.join(e, left[left_key] == e[edge_from], "inner")
    return out.join(right, e[edge_to] == right[right_key], "inner")


def dedup_insert(
    new_rows: DataFrame,
    existing: DataFrame,
    keys: Sequence[str],
) -> tuple[DataFrame, DataFrame]:
    """Search-before-insert dedup (reference J3:
    clients/contact_client.py:79-87,100-150 — if a match exists return it,
    else insert).

    Returns ``(to_insert, duplicates)``: the anti-join survivors to append
    and the semi-join matches to report. Set semantics, one shuffle each,
    broadcast when ``new_rows`` is small (the common ingest case).

    ATOMICITY: like the reference's check-then-insert (two REST calls, no
    transaction), this pair is NOT atomic — a writer that appends between
    planning and the append can produce a duplicate. The invariant that IS
    guaranteed (and pinned by test): against a fixed ``existing`` snapshot,
    ``to_insert`` and ``duplicates`` PARTITION ``new_rows`` on ``keys`` —
    disjoint, and their union covers every new row. For transactional
    semantics swap the append for Delta Lake ``MERGE WHEN NOT MATCHED``
    (same join shape, ACID log arbitrates concurrent writers).
    """
    on = list(keys)
    to_insert = new_rows.join(existing, on=on, how="left_anti")
    duplicates = new_rows.join(existing, on=on, how="left_semi")
    return to_insert, duplicates


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str] | None = None,
    how: str = "left",
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right_ts <= left_ts`` within the same key group (backward as-of, the
    time-series / training-pipeline staple Spark has no native operator
    for).

    Spark-first plan: NOT a range theta-join (which explodes to a
    broadcast-nested-loop or an O(n·m) pair stream). Instead: tag and
    union both sides, then one window pass per key ordered by (ts, side)
    carrying the last right-row payload forward as ONE struct
    (``last(struct, ignorenulls=True)``) — the struct is non-null exactly
    for right rows, so a matched right row whose payload columns are
    genuinely NULL is still carried faithfully, and all carried columns
    always come from the SAME right row. Cost = ONE shuffle on the key —
    identical to a plain equi-join — and the state per group is a single
    row, so it survives any scale and any time-skew. Ties
    (right_ts == left_ts) match, right sorted before left at equal ts.
    """
    if how not in ("left", "inner"):
        raise ValueError(f"asof_join supports how='left'|'inner', not {how!r}")
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in on and c != right_ts]
    from pyspark.sql.window import Window

    keys = list(on)
    left_payload = [c for c in left.columns if c not in keys]
    clash = set(left_payload) & set(right_cols)
    if clash:
        raise ValueError(
            f"right_cols collide with left columns: {sorted(clash)} — alias "
            "them on the right side first"
        )
    rpay = F.struct(*[F.col(c) for c in right_cols])
    rpay_type = right.select(rpay.alias("_p")).schema["_p"].dataType
    # single-pass: left rows carry their own payload (+a null right-struct
    # slot), right rows carry only the as-of payload — no second scan
    l = left.select(
        *keys,
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        *[F.col(c).alias(f"_l_{c}") for c in left_payload],
        F.lit(None).cast(rpay_type).alias("_rpay"),
    )
    r = right.select(
        *keys,
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(f"_l_{c}")
            for c in left_payload
        ],
        rpay.alias("_rpay"),
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("_ts").asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l.unionByName(r).select(
        "*", F.last("_rpay", ignorenulls=True).over(w).alias("_rv")
    )
    out = carried.filter(F.col("_side") == 1)
    if how == "inner":
        out = out.filter(F.col("_rv").isNotNull())
    return out.select(
        *keys,
        *[F.col(f"_l_{c}").alias(c) for c in left_payload],
        *[F.col("_rv").getField(c).alias(c) for c in right_cols],
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    lower_us: int,
    upper_us: int,
) -> DataFrame:
    """Temporal range join: pairs with ``right_ts - left_ts`` in
    ``[lower_us, upper_us]`` (microseconds) sharing the key.

    Spark-first plan: NOT a theta-join (Catalyst would pick
    broadcast-nested-loop — O(n·m) compares). Instead bucketize time into
    windows of the range width: each right row lands in exactly ONE
    bucket, each left row explodes to the few candidate buckets its range
    spans, the join is a plain equi-join on (key, bucket), and an exact
    residual filter trims the edges. One shuffle, candidate set is
    |pairs-in-range| + neighbors — never n².
    """
    width = max(upper_us - lower_us, 1)
    lts = F.unix_micros(F.col(left_ts))
    rts = F.unix_micros(F.col(right_ts))
    # bucket id = value rounded down to a multiple of width, computed with
    # integer subtraction/modulo so no float rounding can shift a boundary
    l = left.withColumn(
        "_b",
        F.explode(
            F.sequence(
                ((lts + F.lit(lower_us)) - (lts + F.lit(lower_us)) % F.lit(width))
                .cast("long"),
                ((lts + F.lit(upper_us)) - (lts + F.lit(upper_us)) % F.lit(width))
                .cast("long"),
                F.lit(width),
            )
        ),
    )
    r = right.withColumn(
        "_b", (rts - rts % F.lit(width)).cast("long")
    )
    diff = F.unix_micros(F.col(right_ts)) - F.unix_micros(F.col(left_ts))
    return (
        l.join(r, on=[*on, "_b"])
        .filter((diff >= lower_us) & (diff <= upper_us))
        .drop("_b")
    )


def snapshot_diff(
    before: DataFrame,
    after: DataFrame,
    key: Sequence[str] | str,
    compare: Sequence[str],
    include_values: bool = False,
) -> DataFrame:
    """Snapshot reconciliation (CDC shape): FULL OUTER join two versions
    of a table on the key and classify each key as ``added`` / ``removed``
    / ``changed`` / ``unchanged``. The training-data refresh primitive —
    what changed between two corpus snapshots drives incremental
    re-embedding and re-deduplication downstream.

    One shuffle per side on the key (a plain equi-join); the compare is a
    null-safe struct equality (``eqNullSafe``), so NULL payloads diff
    correctly. At scale, pass a digest column as ``compare`` to avoid
    carrying wide payloads through the shuffle.
    """
    keys = [key] if isinstance(key, str) else list(key)
    b = before.select(
        *[F.col(k).alias(f"_bk_{k}") for k in keys],
        F.struct(*[F.col(c) for c in compare]).alias("_bv"),
    )
    a = after.select(
        *[F.col(k).alias(f"_ak_{k}") for k in keys],
        F.struct(*[F.col(c) for c in compare]).alias("_av"),
    )
    cond = None
    for k in keys:
        eq = b[f"_bk_{k}"] == a[f"_ak_{k}"]
        cond = eq if cond is None else cond & eq
    joined = b.join(a, cond, "full_outer")
    status = (
        F.when(b[f"_bk_{keys[0]}"].isNull(), F.lit("added"))
        .when(a[f"_ak_{keys[0]}"].isNull(), F.lit("removed"))
        .when(F.col("_bv").eqNullSafe(F.col("_av")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    out_cols = [
        F.coalesce(b[f"_bk_{k}"], a[f"_ak_{k}"]).alias(k) for k in keys
    ] + [status.alias("diff_status")]
    if include_values:
        # the CDC consumers that APPLY deltas (incremental aggregate
        # maintenance) need the old and new payloads, not just the key
        out_cols += [
            F.col("_bv").alias("before"),
            F.col("_av").alias("after"),
        ]
    return joined.select(*out_cols)
