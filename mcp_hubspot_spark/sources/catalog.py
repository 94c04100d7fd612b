"""Parquet catalog over a testdata scale-factor directory.

The reference's "sources" are remote REST scans with pushed-down
projection/filter/sort/limit (SURVEY §2.1 S1-S10). Here the source is
parquet and the pushdown is Catalyst's job: callers express ``select`` /
``filter`` on the returned DataFrame and ColumnPruning + PushDownPredicates
drive them into the scan (verified in tests via ``explain``).
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from ..schemas import TESTDATA_SCHEMAS, TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# (sf_dir, name) -> the parquet reader's own inferred schema. Passing it
# back via reader.schema() on repeat loads skips the footer-read schema
# inference (one py4j round-trip + file I/O per load_table call, ~0.1 s
# each — the bench re-builds every query per rep, so a 3-table query
# paid it 12x per measurement). Metadata only, never row data; keyed on
# the directory so different scale factors never cross.
_SCHEMA_CACHE: dict[tuple[str, str], object] = {}

# Sessions whose read-path confs (nanosAsLong, UTC timezone) were already
# hardened by load_table — each conf.set is a py4j round-trip, paid twice
# per table load per query build before this memo. WeakSet so a stopped
# session's wrapper can be collected.
from weakref import WeakSet  # noqa: E402

_HARDENED_SESSIONS: "WeakSet[SparkSession]" = WeakSet()

# (sf_dir, name, defaultParallelism) -> the raw scan's partition count.
# fan_out's gate needs it, and df.rdd.getNumPartitions() costs a physical
# planning pass + py4j chain per call (~0.1 s); the count is a pure
# function of the file set and session split confs (parallelism is in the
# key because spark.sql.files.minPartitionNum defaults to it), so it is
# scan METADATA exactly like the schema memo — never row data.
_SCAN_PARTS: dict[tuple, int] = {}

# Both catalog memos hold plain metadata (schemas, ints) keyed by path or
# plan hash — valid across session restarts — but a long-lived driver
# pointed at ever-new directories/plans must not grow them without bound.
# FIFO-cap: evict the oldest insertion.
_MEMO_CAP = 1024


def _memo_put(memo: dict, key, value) -> None:
    if len(memo) >= _MEMO_CAP:
        memo.pop(next(iter(memo)))
    memo[key] = value


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    columns: Iterable[str] | None = None,
) -> DataFrame:
    """Load one table; ``columns`` applies projection (pruned at the scan)."""
    # Self-sufficient nanos handling: the testdata writes TIMESTAMP(NANOS)
    # parquet, which Spark refuses to read unless nanosAsLong is set. The
    # session factory (session.py) sets it at build time, but callers may
    # hand us ANY session (the correctness driver builds its own), so set
    # it at runtime too — it is a read-path conf, safe to flip per-query.
    if spark not in _HARDENED_SESSIONS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Same hardening for the timezone: every temporal rendering in the
        # workload (ISO strings, to_date, NTZ→TZ casts) assumes UTC — on a
        # non-UTC host a foreign session would silently shift timestamps.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        _HARDENED_SESSIONS.add(spark)
    cache_key = (sf_dir, name)
    cached_schema = _SCHEMA_CACHE.get(cache_key)
    reader = spark.read
    if cached_schema is not None:
        reader = reader.schema(cached_schema)
    df = reader.parquet(table_path(sf_dir, name))
    if cached_schema is None:
        _memo_put(_SCHEMA_CACHE, cache_key, df.schema)
    # nanosecond-precision parquet timestamps arrive as long (see
    # session._DEFAULTS nanosAsLong): convert to microsecond timestamps.
    expected = TESTDATA_SCHEMAS.get(name)
    if expected is not None:
        actual = {f.name: f.dataType for f in df.schema.fields}
        for f in expected.fields:
            if isinstance(f.dataType, TimestampType) and isinstance(
                actual.get(f.name), LongType
            ):
                # integer `div`, not float `/`: epoch-nanos (~1.7e18)
                # exceed double's 2^53 exact range, so float division is
                # off by ±1µs on ~12% of rows vs DuckDB's truncation
                df = df.withColumn(
                    f.name,
                    F.timestamp_micros(F.expr(f"`{f.name}` div 1000")),
                )
            elif isinstance(f.dataType, TimestampType) and isinstance(
                actual.get(f.name), TimestampNTZType
            ):
                # parquet written as plain timestamp[us] with
                # isAdjustedToUTC=false arrives as TIMESTAMP_NTZ, which
                # unix_micros()/withWatermark() reject. The session tz is
                # forced to UTC above, so the cast is value-preserving
                # (wall-clock micros == instant micros) and restores the
                # TIMESTAMP type every temporal operator expects.
                df = df.withColumn(f.name, F.col(f.name).cast(TimestampType()))
    if columns is not None:
        df = df.select(*columns)
    # breadcrumb for fan_out's partition-count memo (narrow projections
    # above never change the scan's partitioning)
    df._graft_scan_key = (sf_dir, name)
    return df


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Spread a low-partition input across the cluster before CPU-heavy
    per-row compute (hash signatures, embedding, decode UDFs).

    A small parquet file arrives as ONE scan partition (a single row group
    is not splittable), which serializes any expensive projection built on
    top of it. The round-robin repartition here is gated: it only fires
    when the input has fewer partitions than the session's parallelism, so
    on a real many-file 100 TB table it is a no-op — the guard is what
    makes this safe to leave in scale paths.
    """
    sc = df.sparkSession.sparkContext
    parallelism = sc.defaultParallelism
    target = min_partitions or parallelism
    scan_key = getattr(df, "_graft_scan_key", None)
    if scan_key is not None:
        memo_key = (*scan_key, parallelism)
    else:
        # transformed frames (filters, unions of joins) lose the scan
        # breadcrumb; key the memo on the ANALYZED plan's semanticHash
        # instead — one py4j call vs the full physical-planning pass
        # df.rdd costs (~0.4 s per query build). The partition count is
        # a pure function of (semantically-equal plan, file set,
        # session split/shuffle confs), so the conf values ride the
        # key. A hash collision could only memo a wrong COUNT, whose
        # worst case is a redundant (or skipped) round-robin
        # repartition — a perf nudge, never different rows.
        try:
            sem = df._jdf.queryExecution().analyzed().semanticHash()
            memo_key = (
                "_sem",
                sem,
                parallelism,
                df.sparkSession.conf.get("spark.sql.shuffle.partitions"),
            )
        except Exception:
            memo_key = None
    n = _SCAN_PARTS.get(memo_key) if memo_key is not None else None
    if n is None:
        n = df.rdd.getNumPartitions()
        if memo_key is not None:
            _memo_put(_SCAN_PARTS, memo_key, n)
    if n < target:
        return df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql()."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
