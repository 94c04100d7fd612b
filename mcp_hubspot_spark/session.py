"""SparkSession factory.

Tuned for the driver environment (local[$SPARK_GRAFT_CPUS], single JVM) but
every setting is chosen to also be the right default on a large cluster:
AQE for runtime re-planning (partition coalescing + skew-join splitting),
Arrow for any pandas-UDF edge, UTC session time zone so results are
environment-independent, and a broadcast threshold that lets dimension
tables (region/nation/customer at test scale; any <64MB dim at cluster
scale) broadcast instead of shuffling.

Python workers run under this package's ``worker_daemon``. PySpark's worker
calls ``importlib.invalidate_caches()`` on every task, and on Python 3.11
that re-reads every archive Spark puts on the worker's path (``pyspark.zip``,
1,328 entries; the spark-core jar, 5,359), ~0.2 s a task on a 4-core
host. The daemon takes the archives off ``sys.path`` before it forks the
workers, whenever pyspark and py4j are also installed as directories.

PySpark's DataFrame debugging (``spark.python.sql.dataFrameDebugging.enabled``)
is off. With it on, every Column call captures its Python call site: a stack
walk plus about 6 py4j round trips. Building ``(F.col("id") * 2 +
F.lit(3)).alias("b")`` sends 49 py4j commands with it on and 9 with it off,
and a query's Python build pays that on every Column it makes. What errors
lose: the ``== DataFrame ==`` block of an error names the py4j reflection
frame (``NativeMethodAccessorImpl.invoke0``) instead of the caller's
file:line. The error class, its message and the fragment naming the failing
operation (``divide`` where it was ``__truediv__``) stay.

Spark keeps the classes its code generator compiles in one JVM-wide LRU
cache of ``spark.sql.codegen.cache.maxEntries`` entries, 100 by default. A
long-lived session that cycles through more queries than that evicts each
class before its query runs again, so every warm query compiles again.
Measured with ``local[4]`` on a 4-core host: one pass over the 178 registry
queries at sf0.01 compiles ~2,180 distinct classes, and under the default a
warm pass compiled ~3,070 of them again; a pass over the 14
``analytics_mix`` queries compiled ~180. With 4096 entries a warm registry
pass compiles tens and a warm mix pass ~7 (``measure`` counts them per
query). The headroom over ~2,180 is there because Guava splits the maximum
across the cache's segments, each with an LRU of its own. The cost is
metaspace: after three registry passes the JVM held ~200 MB of it with 4096
entries and ~185-190 MB with 100. The setting is static, read once when the
JVM first generates code.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import worker_daemon

_DEFAULTS: dict[str, str] = {
    # Adaptive execution: coalesce small shuffle partitions, split skewed
    # ones, convert sort-merge joins to broadcast at runtime. This is the
    # single most important knob for "would this survive 100x data".
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Respect the advisory target size when coalescing instead of
    # stopping at defaultParallelism (Spark's own docs recommend false
    # on clusters). With the default=true, EVERY shuffle — even a few
    # KB of aggregation state — schedules >= defaultParallelism tasks,
    # which is pure scheduling overhead (measured ~0.5-1.5 s/stage
    # locally on tiny stages, ~4x on shuffle-stage-bound queries). With
    # false the post-shuffle partition count derives from actual bytes
    # (advisoryPartitionSizeInBytes), i.e. it scales with the data: a
    # 100 TB shuffle still gets tens of thousands of partitions, a 100 KB
    # one gets 1. CPU-heavy narrow stages are unaffected (fan_out pins
    # explicit partition counts, which AQE never coalesces — the
    # classifier-training pin relies on the same rule).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    # Post-shuffle partition target (guide §9 baseline; §2.2 fewer-larger
    # partitions as data scales). Locally neutral: sf0.1 shuffles stay
    # under 64 MiB. At 100 TB it quarters the reduce partitions of large
    # shuffles, cutting the M x R shuffle-block quadratic.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256m",
    # Deterministic, environment-independent semantics.
    "spark.sql.session.timeZone": "UTC",
    # Arrow transfer for pandas UDFs / toPandas (vector + multimodal ops).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Dimension tables broadcast instead of shuffle. 64 MiB: generous for a
    # 128 GiB driver; on a real cluster this is still safe for executors
    # with >=4 GiB.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Read-side split size; at 100 TB, ~128 MiB splits keep task counts sane.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Split-size FLOOR. Spark's split size is
    # min(maxPartitionBytes, max(openCostInBytes, totalBytes/minPartitionNum));
    # the 4 MiB default models HDFS/S3 seek cost and is right at cluster
    # scale, but on local page-cached files it forces every table smaller
    # than 4 MiB into ONE task — a 2.7 MB orders scan ran 1-of-32 cores.
    # 256 KiB keeps small local scans parallel while totalBytes/minPartitionNum
    # (not this floor) still governs real multi-GB inputs.
    "spark.sql.files.openCostInBytes": str(256 * 1024),
    "spark.sql.parquet.compression.codec": "zstd",
    # testdata events.ts is parquet TIMESTAMP(NANOS); read as long and let
    # the catalog convert to a microsecond timestamp (matches DuckDB, whose
    # timestamps are microsecond precision).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Quieter, faster local runs; harmless on a cluster.
    "spark.ui.enabled": "false",
    # No Python call-site capture per Column call (module docstring).
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Generated-class cache, ~1.9x the ~2,180 distinct classes one pass over
    # the 178 registry queries compiles at sf0.01 (the default 100 evicts
    # every class before a repeated query reuses it). It costs ~10-15 MB of
    # metaspace (module docstring).
    "spark.sql.codegen.cache.maxEntries": "4096",
    # local mode = the driver JVM IS the whole engine; the 1g default heap
    # GC-thrashes on wide shuffles long before the machine is used. 8g is
    # modest on the 128 GiB test box and a normal driver size on clusters.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _worker_pythonpath() -> str:
    """This package's parent directory, then the entries of the
    environment's ``PYTHONPATH`` (without duplicates)."""
    parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    entries = [parent] + os.environ.get("PYTHONPATH", "").split(os.pathsep)
    return os.pathsep.join(dict.fromkeys(e for e in entries if e))


def get_spark(
    app_name: str = "mcp-hubspot-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with scale-appropriate defaults.

    ``shuffle_partitions`` defaults to 2x the local core count — with AQE
    coalescing enabled the exact number matters little locally; on a real
    cluster you would size it to total cores * 2-3 and let AQE shrink.

    ``spark.executorEnv.PYTHONPATH`` puts this package's parent directory
    ahead of the caller's ``PYTHONPATH``, so Python workers (pandas UDFs)
    import the package however the driver found it, and with it the
    ``spark.python.daemon.module`` that forks them.
    """
    master = master or os.environ.get(
        "SPARK_GRAFT_MASTER", f"local[{default_parallelism()}]"
    )
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions or 2 * default_parallelism()
    )
    conf["spark.executorEnv.PYTHONPATH"] = _worker_pythonpath()
    conf["spark.python.daemon.module"] = worker_daemon.__name__
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
