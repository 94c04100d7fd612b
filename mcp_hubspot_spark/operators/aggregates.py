"""Aggregation operators (SURVEY §2.4 A1-A5, §2.5 W2).

The reference counts with ``len()`` over Python lists and assembles nested
thread→messages records in a loop (reference
``clients/ticket_client.py:286-291,378-393``,
``clients/conversation_client.py:354-386``). Here: map-side partial
aggregation + one shuffle, and nested assembly is
``collect_list(struct) → sort_array`` — sorted WITHIN each group without a
window, because sort_array on structs orders by leading field.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def group_to_array(
    df: DataFrame,
    group: Sequence[str],
    payload: Sequence[str],
    sort_key: str,
    alias: str = "items",
) -> DataFrame:
    """Nested record assembly (A3/W2): one row per group with an ordered
    array<struct> of children (reference assembles this per-thread in
    Python, ticket_client.py:378-393, ordering by created_at at :390).

    The sort key is placed FIRST in the struct so ``sort_array`` orders by
    it (SURVEY §7 phase-2 hard spot); no window function, no second shuffle.
    """
    struct_cols: list[Column] = [F.col(sort_key).alias("_sort"), *map(F.col, payload)]
    collected = F.sort_array(F.collect_list(F.struct(*struct_cols)))
    # strip the sort helper field, keep payload order
    cleaned = F.transform(
        collected,
        lambda s: F.struct(*[s.getField(p).alias(p) for p in payload]),
    )
    return df.groupBy(*group).agg(cleaned.alias(alias))


def group_concat_ordered(
    df: DataFrame,
    group: Sequence[str],
    value: str,
    sort_key: str,
    sep: str = "|",
    alias: str = "joined",
    extra_aggs: Sequence[Column] = (),
) -> DataFrame:
    """String-form of group_to_array (oracle-friendly: DuckDB's
    ``string_agg(... ORDER BY ...)`` is its exact SQL equivalent).

    ``extra_aggs``: additional already-aliased aggregate columns
    computed in the SAME groupBy — companion stats (counts, sums) ride
    the one shuffle instead of a second aggregation joined back.

    When the rendered value IS the sort key (``value == sort_key``),
    the collected element is the bare key, stringified AFTER the
    per-group sort: the partial-aggregate rows crossing the exchange
    carry one scalar per row instead of a (key, string) struct
    (~3x narrower — guide §2.3), and the rendered string is identical
    (casting the key after sorting == sorting pre-cast pairs on the
    key)."""
    if value == sort_key:
        collected = F.sort_array(F.collect_list(F.col(sort_key)))
        joined = F.array_join(
            F.transform(collected, lambda x: x.cast("string")), sep
        )
    else:
        collected = F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(sort_key).alias("_sort"), F.col(value).alias("_v")
                )
            )
        )
        joined = F.array_join(
            F.transform(collected, lambda s: s.getField("_v")), sep
        )
    return df.groupBy(*group).agg(joined.alias(alias), *extra_aggs)


def grouped_zscore(
    df: DataFrame,
    group: Sequence[str],
    value: str,
    alias: str = "zscore",
) -> DataFrame:
    """Per-group z-normalization via grouped-map ``applyInPandas``
    (SURVEY §2.11: the grouped-map extension surface — per-group vector
    ops / normalization).

    Each group is one Arrow batch in one Python worker: right when the
    per-group transform needs the whole group in memory (normalization,
    per-group model scoring). Groups shuffle independently, so scale holds
    as long as no single group outgrows an executor — for hot groups,
    pre-shard with operators.skew. A pure-SQL twin (window avg/stddev) is
    the DuckDB oracle in workload.py: the pandas path is cross-validated
    against SQL semantics, including the stddev_samp ddof=1 convention.
    """
    import pandas as pd

    out_fields = df.schema.fields
    schema_str = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in out_fields)
    schema_str += f", `{alias}` double"

    def norm_group(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf[value].astype("float64")
        sd = v.std(ddof=1)
        if sd and sd == sd:
            pdf[alias] = (v - v.mean()) / sd
        else:
            # single-row or constant group: SQL's (x-avg)/stddev_samp is
            # NULL (÷NULL or ÷0) — emit real nulls, not NaN, so the pandas
            # path keeps SQL semantics (nullable Float64 → Spark null)
            pdf[alias] = pd.array([None] * len(pdf), dtype="Float64")
        return pdf

    return df.groupBy(*group).applyInPandas(norm_group, schema=schema_str)
