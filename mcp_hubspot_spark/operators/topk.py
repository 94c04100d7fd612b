"""Top-k operators (SURVEY §2.6 O1-O5).

``orderBy(...).limit(k)`` compiles to ``TakeOrderedAndProjectExec``: each
partition computes a local top-k heap, then the driver merges k*numPartitions
rows — the same two-phase structure the reference hand-codes for its per-day
FAISS merge (reference ``faiss_manager.py:264-296``), but automatic and
O(k) memory per partition, which is what makes it survive 100 TB inputs.

Determinism: callers should always pass a unique tiebreaker as the last sort
column; a top-k whose boundary row is ambiguous is not reproducible.

A full sort of a query's result (no limit) goes through :func:`sorted_result`.
``orderBy`` plans an ``Exchange rangepartitioning``, and range partitioning
first runs a sampling job to pick its bounds: one more Spark job and one
more shuffle per query. On a result small enough to broadcast, AQE then
coalesces that exchange back into one partition anyway, so the sampling
buys nothing. :func:`sorted_result` sends such a result to one partition
and sorts it there, with no sampling job.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame


def top_k(
    df: DataFrame,
    order: Sequence[Column | str],
    k: int,
    project: Sequence[Column | str] | None = None,
) -> DataFrame:
    """Global top-k by ``order`` (physical: TakeOrderedAndProject)."""
    out = df.orderBy(*order).limit(k)
    if project is not None:
        out = out.select(*project)
    return out


def ranked_top_k(
    df: DataFrame,
    order: Sequence[Column],
    k: int,
    project: Sequence[Column | str] | None = None,
) -> DataFrame:
    """Global top-k with a 1-based ``rank`` column first, then
    ``project`` (default: every column of ``df``).

    TakeOrderedAndProject keeps k rows by ``order``, then ``row_number``
    over the same order numbers them — the window sees k rows only. The
    projection shares the window's select so derived columns (e.g. a
    similarity from a distance) are computed in the TakeOrderedAndProject
    over k rows, not in a Project above the window.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    top = df.orderBy(*order).limit(k)
    return top.select(
        F.row_number().over(Window.orderBy(*order)).alias("rank"),
        *(df.columns if project is None else project),
    )


def grouped_top_k(
    df: DataFrame,
    group: Sequence[str],
    order: Sequence[Column | str],
    k: int,
) -> DataFrame:
    """Top-k within each group via row_number window (SURVEY W1 analog).

    One shuffle on the group keys; no global sort. Rows come back with a
    ``rank`` column (1-based, like reference utils.py:100-108).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy(*group).orderBy(*order)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def sorted_result(df: DataFrame, *order: Column | str) -> DataFrame:
    """``df`` globally sorted by ``order``; use it as
    ``df.transform(sorted_result, *order)`` in place of a final
    ``orderBy``.

    A batch ``df`` whose Catalyst size estimate is at most the session's
    ``spark.sql.autoBroadcastJoinThreshold`` becomes
    ``repartition(1).sortWithinPartitions(*order)``: ``Exchange
    SinglePartition`` plus a local Sort. That threshold is the size Spark
    already trusts to ship whole to every task, and -1 turns this rule
    off as it turns off broadcasting. The result is the single partition
    AQE would have coalesced the range exchange into, without the
    sampling job. Every other input, streaming included, gets ``orderBy``.

    ``repartition(1)``, not ``coalesce(1)``: a coalesce saves the shuffle
    but folds the upstream stage into one task, so CPU-heavy stages
    (MinHash signatures, pandas UDFs) lose all their parallelism. The
    repartition keeps the upstream stages as parallel as they were.

    A sort whose child is already one partition (a global aggregate, a
    window without partition keys) plans no exchange under ``orderBy``;
    ``repartition(1)`` would add a stage there, so such queries keep
    ``orderBy``.
    """
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    limit = conf.autoBroadcastJoinThreshold()
    if (
        not df.isStreaming
        and limit >= 0
        and df._jdf.queryExecution().analyzed().stats().sizeInBytes() <= limit
    ):
        return df.repartition(1).sortWithinPartitions(*order)
    return df.orderBy(*order)
