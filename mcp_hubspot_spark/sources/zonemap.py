"""File-level data skipping: zone maps + Z-order clustered writes.

Spark's parquet reader already skips ROW GROUPS inside a file it opens
(footer min/max), and prunes PARTITION directories from the path — but
between those two levels every file of a non-partitioned (or
other-partitioned) table is still opened and its footer read. Lakehouse
formats close that gap with per-FILE column statistics consulted at
planning time (Delta's stats / Iceberg's manifests); this module is that
capability on plain parquet:

- ``build_zonemap`` — one scan computes (file, min, max, n_rows) per
  tracked column, persisted as a ``_zonemap`` parquet sidecar next to
  the data (bounded: one row per file).
- ``read_pruned`` — resolves the sidecar (driver-side, one tiny read),
  keeps only the files whose [min,max] interval intersects the
  requested range, and hands Spark exactly that file list. The residual
  predicate still applies (zone maps are conservative).
- ``write_zordered`` (from :mod:`..operators.layout`, re-exported here) —
  rewrites a table ordered by the interleaved-bit Z-value of two columns
  and range-partitioned on it, so EVERY file covers a narrow rectangle in
  (a, b) space and the zone map prunes on EITHER column — the property a
  linear sort only gives the leading column. The standard
  multi-dimensional clustering trade (Delta OPTIMIZE ZORDER BY).

At 100 TB the zone map is rows = files (~10^5-10^6), a driver-trivial
frame; the skipping decision costs one sidecar read instead of 10^5
footer reads, and re-clustering is an explicit rewrite job, exactly like
OPTIMIZE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.layout import write_zordered

__all__ = ["build_zonemap", "read_pruned", "write_zordered"]

_SIDECAR = "_zonemap"


def _list_parquet_names(spark: SparkSession, table_dir: str) -> set[str]:
    """Top-level ``*.parquet`` file names of ``table_dir``, listed via
    the Hadoop FileSystem API so the result is correct for ANY scheme
    Spark itself can read (hdfs://, s3a://, file:), not just the
    driver's local disk."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(table_dir)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return set()
    names: set[str] = set()
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        if status.isFile() and name.endswith(".parquet"):
            names.add(name)
    return names


def build_zonemap(
    spark: SparkSession, table_dir: str, cols: list[str]
) -> DataFrame:
    """Compute and persist per-file min/max for ``cols``; returns the
    zone-map frame (file, n_rows, <c>_min, <c>_max per column)."""
    df = spark.read.parquet(table_dir)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"{c}_min"), F.max(c).alias(f"{c}_max")]
    zm = (
        df.withColumn("file", F.input_file_name())
        .groupBy("file")
        .agg(*aggs)
    )
    zm.coalesce(1).write.mode("overwrite").parquet(
        f"{table_dir}/{_SIDECAR}"
    )
    return spark.read.parquet(f"{table_dir}/{_SIDECAR}")


def read_pruned(
    spark: SparkSession,
    table_dir: str,
    col: str,
    lo,
    hi,
) -> tuple[DataFrame, int, int]:
    """Range query ``lo <= col <= hi`` with file skipping: returns
    (frame, n_files_read, n_files_total). The frame already carries the
    residual filter — callers get exact results, the zone map only
    decides which files Spark opens."""
    zm = spark.read.parquet(f"{table_dir}/{_SIDECAR}").select(
        "file", f"{col}_min", f"{col}_max"
    )
    rows = zm.collect()  # bounded: one row per data file
    # staleness gate: the sidecar is only trustworthy if it describes
    # exactly the files on disk — a file appended after build_zonemap
    # would be silently EXCLUDED (missing rows), a deleted file would
    # fail the read. On any mismatch fall back to the full scan with the
    # residual filter: always-correct results, zero skipping benefit,
    # and the caller sees n_files_read == n_files_total as the signal
    # to rebuild the zone map. The on-disk file set comes from the
    # Hadoop FileSystem for table_dir's OWN scheme (hdfs://, s3a://,
    # file:) — a driver-local pathlib glob would come back empty for
    # any non-local table and silently disable skipping forever.
    from pathlib import Path as _P
    from urllib.parse import unquote, urlparse

    current = _list_parquet_names(spark, table_dir)
    mapped = {_P(unquote(urlparse(r.file).path)).name for r in rows}
    if not current and mapped:
        # the sidecar names files the filesystem listing cannot see:
        # that is a wrong path or an FS-access problem, not staleness —
        # a silent full-scan fallback here would hide it forever
        raise FileNotFoundError(
            f"zone map for {table_dir} lists {len(mapped)} data files "
            "but the filesystem listing found none — wrong table_dir "
            "or filesystem access problem"
        )
    if current != mapped:
        df = spark.read.parquet(table_dir).filter(
            (F.col(col) >= lo) & (F.col(col) <= hi)
        )
        n = len(current)
        return df, n, n
    keep = [
        r.file
        for r in rows
        # NULL stats (all-null file) are conservative: keep the file
        if r[f"{col}_min"] is None
        or r[f"{col}_max"] is None
        or not (r[f"{col}_max"] < lo or r[f"{col}_min"] > hi)
    ]
    if not keep:
        empty = spark.read.parquet(table_dir).limit(0)
        return empty, 0, len(rows)
    df = spark.read.parquet(*keep).filter(
        (F.col(col) >= lo) & (F.col(col) <= hi)
    )
    return df, len(keep), len(rows)
