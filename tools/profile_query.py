"""Per-query plan capture + isolated timing for registry queries.

Usage:
    python tools/profile_query.py plans --out DIR [NAME...]   # explain -> DIR/<name>.txt
    python tools/profile_query.py time  [NAME...]             # noop-sink timing, 1 cold + 3 steady reps
    python tools/profile_query.py both  --out DIR [NAME...]

No NAME means every registry query. Env: SPARK_GRAFT_SF_DIR (the sf0.1
test data by default), SPARK_GRAFT_CPUS.

Plans are ``explain('formatted')`` text; two dumps of the same tree
differ only in expression ids (``#\\d+L?``) and exchange/broadcast
``plan_id=N``, so normalize those before diffing dumps of two trees.

Timing methodology matches bench.py (guide §1.4): each rep fully
materializes every column through the noop sink; jobs are labelled with
setJobDescription so UI/event-log forensics map to queries.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mcp_hubspot_spark.session import get_spark  # noqa: E402
from mcp_hubspot_spark.workload import QUERIES  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("mode", choices=("plans", "time", "both"))
    ap.add_argument("names", nargs="*", help="registry queries (default: all)")
    ap.add_argument("--out", type=Path, help="plan directory (plans/both)")
    args = ap.parse_args()
    if args.mode != "time" and args.out is None:
        ap.error(f"{args.mode} needs --out DIR")
    names = args.names or sorted(QUERIES)
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

    if args.out is not None:
        args.out.mkdir(parents=True, exist_ok=True)
    results: dict[str, dict] = {}
    for name in names:
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(f"{name}: build")
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        build_s = time.perf_counter() - t0
        entry: dict = {"build_sec": round(build_s, 3)}
        if args.mode in ("plans", "both"):
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = args.out / f"{name}.txt"
            path.write_text(plan)
            entry["plan"] = str(path)
            entry["exchanges"] = plan.count("Exchange")
            entry["python_nodes"] = sum(
                plan.count(t)
                for t in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow")
            )
        if args.mode in ("time", "both"):
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
