"""The one timing protocol behind ``bench.py``, ``scale_bench.py`` and
``tools/profile_query.py``.

A *build* is a zero-argument callable. It returns a DataFrame, which is
then run to completion through the noop sink (:func:`materialize`), or
anything else, in which case its work already ran inside the call (a
driver loop such as BPE training, an index mutation, a collected read).
Either way one rep times the build and its execution together, because
query construction (py4j round trips, eager jobs) is part of what a
caller pays.

:func:`measure` runs one cold pass over every build, then steady reps
interleaved across the builds (A, B, A, B, ...), so host drift during a
comparison hits every build alike. Every rep runs under the job group
``<name>#<rep>`` (cold is rep 0), so the Spark jobs of a rep are
attributable to it from the status store.

Each rep also counts the classes Spark's code generator compiled during it:
the delta of ``CodegenMetrics.METRIC_COMPILATION_TIME``'s count, a JVM-wide
counter. In local mode the executors share the driver's JVM, so the count
includes the classes compiled in task threads; on a cluster it counts the
driver's compiles only. A warm rep compiles nothing when its classes are
still in the generated-class cache (``session``), so the count moves with
the code and the session settings, where wall time also moves with the host.
"""

from __future__ import annotations

import logging
import time
from typing import Any, Callable, Mapping

from pyspark.sql import DataFrame

log = logging.getLogger(__name__)

# 2 steady reps; a build whose best is under THIRD_REP_BELOW_S gets a
# third, since a cheap build's noise is large against its time
STEADY_REPS = 2
THIRD_REP_BELOW_S = 3.0


def _pass_through(batches):
    import numpy  # noqa: F401

    yield from batches


def materialize(df: DataFrame) -> None:
    """Run every operator of ``df`` without collecting its rows."""
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark) -> None:
    """Pay the one-time costs before anything is timed: JVM class loading
    and codegen paths, and the Python worker pool that pandas UDFs use
    (each worker imports Arrow, pandas and numpy once)."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    materialize(
        spark.range(10_000).repartition(64).mapInPandas(_pass_through, schema="id long")
    )


def measure(spark, builds: Mapping[str, Callable[[], Any]]) -> dict[str, dict]:
    """Time every build: a cold rep each, then interleaved steady reps.

    Returns per name either ``{"error": str}`` (the build raised; it runs
    no further reps, the others go on) or ``cold_s``, ``steady_s`` (the
    steady reps in order), ``best_s``, ``spread_s`` (max - min of the
    steady reps), ``jobs``, the number of Spark jobs of the last rep, and
    ``compiles``, the classes generated code compiled during it (module
    docstring). Never raises for a failing build.
    """
    sc = spark.sparkContext
    saved = {
        k: sc.getLocalProperty(k)
        for k in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    }
    compilations = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    times: dict[str, list[float]] = {name: [] for name in builds}
    compiles: dict[str, int] = {}
    errors: dict[str, str] = {}

    def rep(names) -> None:
        for name in [n for n in names if n not in errors]:
            sc.setJobGroup(f"{name}#{len(times[name])}", name)
            try:
                c0 = compilations.getCount()
                t0 = time.perf_counter()
                out = builds[name]()
                if isinstance(out, DataFrame):
                    materialize(out)
                times[name].append(time.perf_counter() - t0)
                compiles[name] = compilations.getCount() - c0
            except Exception as exc:  # one failing build must not end the run
                log.warning("build %s failed", name, exc_info=True)
                errors[name] = f"{type(exc).__name__}: {exc}"[:200]

    try:
        for _ in range(1 + STEADY_REPS):
            rep(builds)
        rep([n for n in builds if n not in errors and min(times[n][1:]) < THIRD_REP_BELOW_S])
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    out: dict[str, dict] = {}
    for name, ts in times.items():
        if name in errors:
            out[name] = {"error": errors[name]}
            continue
        steady = ts[1:]
        out[name] = {
            "cold_s": round(ts[0], 3),
            "steady_s": [round(t, 3) for t in steady],
            "best_s": round(min(steady), 3),
            "spread_s": round(max(steady) - min(steady), 3),
            "jobs": len(tracker.getJobIdsForGroup(f"{name}#{len(ts) - 1}")),
            "compiles": compiles[name],
        }
    return out
