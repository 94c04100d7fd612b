"""Round-13 optimization harness: per-query plan capture + isolated timing.

Usage:
    python tools/profile_query.py plans NAME [NAME...]   # explain -> plans/r13/
    python tools/profile_query.py time  NAME [NAME...]   # noop-sink timing, 1 cold + 3 steady reps
    python tools/profile_query.py both  NAME [NAME...]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS,
SPARK_GRAFT_PLAN_SUFFIX (default "before" -> plans/r13/<name>_before.txt).

Timing methodology matches bench.py (guide §1.4): each rep fully
materializes every column through the noop sink; jobs are labelled with
setJobDescription so UI/event-log forensics map to queries.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mcp_hubspot_spark.session import get_spark  # noqa: E402
from mcp_hubspot_spark.workload import QUERIES  # noqa: E402

OUT_DIR = Path(__file__).resolve().parent.parent / "plans" / "r13"


def main() -> None:
    mode = sys.argv[1]
    names = sys.argv[2:]
    suffix = os.environ.get("SPARK_GRAFT_PLAN_SUFFIX", "before")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="profile_query")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warmup

    def _noop(batches):
        import numpy  # noqa: F401

        yield from batches

    spark.range(10_000).repartition(64).mapInPandas(
        _noop, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    OUT_DIR.mkdir(parents=True, exist_ok=True)
    results: dict[str, dict] = {}
    for name in names:
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(f"{name}: build")
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        build_s = time.perf_counter() - t0
        entry: dict = {"build_sec": round(build_s, 3)}
        if mode in ("plans", "both"):
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            (OUT_DIR / f"{name}_{suffix}.txt").write_text(plan)
            entry["plan"] = f"plans/r13/{name}_{suffix}.txt"
            entry["exchanges"] = plan.count("Exchange")
            entry["python_nodes"] = sum(
                plan.count(t)
                for t in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow")
            )
        if mode in ("time", "both"):
            reps = []
            tracker = spark.sparkContext.statusTracker()
            for i in range(4):
                group = f"prof-{name}-{i}"
                spark.sparkContext.setJobGroup(group, f"{name}: rep{i}")
                t1 = time.perf_counter()
                # rebuild each rep: query construction (driver lookups)
                # is part of what the bench pays, so time it here too
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                reps.append(round(time.perf_counter() - t1, 3))
                if i == 3:  # steady-state Spark job count (fixed overhead proxy)
                    entry["jobs"] = len(tracker.getJobIdsForGroup(group))
            entry["cold"] = reps[0]
            entry["steady_min"] = min(reps[1:])
            entry["steady_reps"] = reps[1:]
        spark.sparkContext.setJobDescription(None)
        results[name] = entry
        print(json.dumps({name: entry}), flush=True)
    print(json.dumps({"all": results}))


if __name__ == "__main__":
    main()
