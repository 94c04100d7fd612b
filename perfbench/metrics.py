"""Metric names, units and the sample rule shared by both workloads.

Kept free of Spark imports so the benchmark's tests run without a JVM.
"""

from __future__ import annotations

import math
import statistics

# name -> unit; the end-to-end set every workload prints with --trace 0.
# Throughput and latency are in units of the reference job (``ref``, a
# fixed trivial Spark job timed after every op in a session with Spark's
# defaults): wall seconds on a shared host drift far more between runs
# than these ratios do.
END_TO_END = {
    "setup_s": "s",
    "ops_per_ref": "ops/ref",
    "p50_geomean_ref": "ref",
}

# name -> unit; the layer split every workload prints with --trace 1
PER_LAYER = {
    "build_s": "s",
    "build_jobs": "count",
    "plan_ms": "ms",
    "exec_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "busy_frac": "frac",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "spark_s": "s",
    "driver_s": "s",
    "trace_overhead_frac": "frac",
    "unstable_counts": "count",
}

# counters that must repeat exactly for a fixed seed
COUNTS = ("jobs", "stages", "tasks", "build_jobs")


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 100])."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def reportable(n: int, q: float) -> bool:
    """A tail percentile is reported only where at least 10 samples lie
    beyond it: p90 needs 100 samples, p99 needs 1000."""
    return n * (100 - q) >= 1000


def p50_geomean(by_op: dict[str, list[float]]) -> float:
    """Geometric mean over op types of each type's median latency. Every
    type weighs the same however often it runs, so halving any one type's
    latency moves the figure by the same factor, and the figure never
    jumps from one type's latency to another's."""
    if not by_op:
        raise ValueError("no latencies")
    logs = [math.log(statistics.median(xs)) for xs in by_op.values()]
    return math.exp(sum(logs) / len(logs))


def latency_summary(values: list[float]) -> dict[str, float]:
    """p50 always (the median is the run's headline latency), higher
    percentiles only under the sample rule; ``n`` travels with them."""
    out = {"n": len(values), "p50_s": statistics.median(values)}
    for q in (90, 99):
        if reportable(len(values), q):
            out[f"p{q}_s"] = percentile(values, q)
    return out


def result_line(correct: bool, attempted: int, failed: int,
                values: dict[str, float], units: dict[str, str]) -> dict:
    """The benchmark's last stdout line: every metric of ``units`` by name,
    with its unit. A missing metric is a bug in the workload, not a gap to
    paper over, so it raises."""
    missing = set(units) - set(values)
    if missing:
        raise KeyError(f"metrics not measured: {sorted(missing)}")
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            name: {"value": float(values[name]), "unit": unit}
            for name, unit in units.items()
        },
    }
