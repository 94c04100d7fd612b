"""Incremental view maintenance: a (group → count, sum) summary over a
``SnapshotTable`` kept current by applying CDC DELTAS instead of
rescanning the base table — the materialized-view refresh path every
warehouse engine ships (Materialize/Snowflake incremental MVs, Delta
Live Tables) built from this repo's own pieces: ``SnapshotTable`` versions
→ ``table_changes`` (reads only buckets whose ownership changed between
versions) → per-group delta aggregation → summary merge.

Cost model at 100 TB: a refresh reads the CHANGED buckets of the base
table twice (before/after side of the diff — e.g. ~25 GB for a 1 GB
merge into a 4096-bucket table) plus the summary (|groups| rows), never
the full fact table. Sums are maintained in DECIMAL so incremental
application is exactly associative — the refreshed summary equals the
direct aggregate bit-for-bit, which the test pins across inserts,
updates, deletes, and group moves.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import durable
from .snapshot_table import SnapshotTable

_SUM_TYPE = "decimal(28,6)"


class IncrementalAggregate:
    """Maintained ``groupBy(group_col).agg(count, sum(value_col))``.

    Contract: only RETRACTABLE aggregates are maintainable from deltas —
    count and sum admit an inverse (retract = subtract), so a delete or
    group-move applies exactly. min/max do NOT (deleting the current
    minimum requires rescanning the group to find the runner-up), so
    they are deliberately out of contract here; a min/max "refresh" is a
    partial rescan of affected groups, a different cost class that
    belongs to a recompute path, not this maintainer.

    NULL group keys are first-class: the summary/delta merge joins
    null-safely, so the NULL group accumulates like any other.
    """

    def __init__(
        self,
        spark: SparkSession,
        table: SnapshotTable,
        group_col: str,
        value_col: str,
        path: str,
    ):
        keys = set(table.keys)
        clash = keys & {group_col, value_col}
        if clash:
            raise ValueError(
                f"group/value columns {sorted(clash)} are table keys — "
                "the CDC feed carries keys as top-level columns, not in "
                "the before/after payload structs this maintainer reads"
            )
        self.spark = spark
        self.table = table
        self.group_col = group_col
        self.value_col = value_col
        self.path = str(path)

    # ------------------------------------------------------------ state
    def _state_path(self) -> str:
        return os.path.join(self.path, "_state.json")

    def _data_path(self, version: int) -> str:
        return os.path.join(self.path, f"summary_v{version}")

    def _load_state(self) -> dict:
        with open(self._state_path()) as fh:
            return json.load(fh)

    def _commit(self, df: DataFrame, base_version: int) -> None:
        # summary writes are tiny (|groups| rows); versioned directories
        # + a pointer swap keep readers consistent, mirroring the base
        # table's own commit protocol in miniature
        df.coalesce(1).write.mode("overwrite").parquet(
            self._data_path(base_version)
        )
        durable.write_json(self._state_path(), {"base_version": base_version})

    # -------------------------------------------------------------- API
    def _direct(self, df: DataFrame) -> DataFrame:
        # n_vals (non-null value count) rides along so incremental
        # application can reproduce SQL sum semantics exactly: a group
        # whose values are all NULL has total NULL, not 0
        return df.groupBy(self.group_col).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(self.value_col).alias("n_vals"),
            F.sum(F.col(self.value_col).cast(_SUM_TYPE)).alias("total"),
        )

    def initialize(self) -> int:
        """Full scan once; afterwards ``refresh()`` applies deltas."""
        v = self.table.version()
        self._commit(self._direct(self.table.read(version=v)), v)
        return v

    def read(self) -> DataFrame:
        state = self._load_state()
        df = self.spark.read.parquet(
            self._data_path(state["base_version"])
        )
        if "n_vals" not in df.columns:
            # summary written before n_vals existed: derive it
            # conservatively so refresh() keeps working — a NULL total
            # means the group had zero non-null values, otherwise assume
            # every row contributed (the pre-n_vals semantics). The next
            # _commit persists the derived column, completing migration.
            # KNOWN DRIFT of this fallback: a group that held a MIX of
            # null and non-null values gets n_vals overstated (n_rows
            # counts the null rows too). If later retractions then
            # remove every remaining non-null value, n_vals bottoms out
            # above 0 and total reports 0 where SQL SUM semantics (and a
            # fresh initialize()) would give NULL. The drift never
            # affects the numeric total of groups that still have
            # values — only the 0-vs-NULL distinction of fully-drained
            # groups — and a full initialize() is the exact-recovery
            # path for migrated tables with nullable value columns.
            df = df.withColumn(
                "n_vals",
                F.when(F.col("total").isNull(), F.lit(0))
                .otherwise(F.col("n_rows"))
                .cast("long"),
            )
        return df

    def refresh(self) -> int:
        """Advance the summary to the base table's current version by
        applying the CDC delta: removed/changed rows retract their old
        (count, value) at the OLD group, added/changed rows assert the
        new ones at the NEW group — so rows that move between groups are
        handled by construction. Returns the new base version."""
        state = self._load_state()
        v_from = state["base_version"]
        v_to = self.table.version()
        if v_to == v_from:
            return v_to
        ch = self.table.table_changes(v_from, v_to, include_values=True)
        before_val = F.col("before").getField(self.value_col).cast(_SUM_TYPE)
        after_val = F.col("after").getField(self.value_col).cast(_SUM_TYPE)
        retract = ch.filter(
            F.col("diff_status").isin("removed", "changed")
        ).select(
            F.col("before").getField(self.group_col).alias(self.group_col),
            F.lit(-1).cast("long").alias("_dn"),
            F.when(before_val.isNotNull(), F.lit(-1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("_dnv"),
            (-before_val).alias("_dv"),
        )
        assert_ = ch.filter(
            F.col("diff_status").isin("added", "changed")
        ).select(
            F.col("after").getField(self.group_col).alias(self.group_col),
            F.lit(1).cast("long").alias("_dn"),
            F.when(after_val.isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("_dnv"),
            after_val.alias("_dv"),
        )
        deltas = (
            retract.unionByName(assert_)
            .groupBy(self.group_col)
            .agg(
                F.sum("_dn").alias("_dn"),
                F.sum("_dnv").alias("_dnv"),
                F.sum("_dv").alias("_dv"),
            )
        )
        # eqNullSafe join: a NULL group key must meet its delta row
        # (plain full_outer on the column name would keep them apart and
        # split the NULL group's counts across two rows)
        s = self.read().alias("s")
        d = deltas.alias("d")
        merged = (
            s.join(
                d,
                F.col(f"s.{self.group_col}").eqNullSafe(
                    F.col(f"d.{self.group_col}")
                ),
                "full_outer",
            )
            .select(
                F.coalesce(
                    F.col(f"s.{self.group_col}"), F.col(f"d.{self.group_col}")
                ).alias(self.group_col),
                (
                    F.coalesce("n_rows", F.lit(0))
                    + F.coalesce("_dn", F.lit(0))
                ).alias("n_rows"),
                (
                    F.coalesce("n_vals", F.lit(0))
                    + F.coalesce("_dnv", F.lit(0))
                ).alias("n_vals"),
                # SQL sum semantics: no non-null values → NULL, not 0
                F.when(
                    (
                        F.coalesce("n_vals", F.lit(0))
                        + F.coalesce("_dnv", F.lit(0))
                    )
                    > 0,
                    (
                        F.coalesce(F.col("total"), F.lit(0).cast(_SUM_TYPE))
                        + F.coalesce(F.col("_dv"), F.lit(0).cast(_SUM_TYPE))
                    ).cast(_SUM_TYPE),
                ).alias("total"),
            )
            .filter(F.col("n_rows") > 0)  # fully-retracted groups drop out
        )
        self._commit(merged, v_to)
        return v_to
