"""Per-query plan capture and interleaved timing for registry queries.

Usage:
    python tools/profile_query.py plans --out DIR [NAME...]   # explain -> DIR/<name>.txt
    python tools/profile_query.py time  [NAME...]             # interleaved A/B timing
    python tools/profile_query.py both  --out DIR [NAME...]

No NAME means every registry query. Env: SPARK_GRAFT_SF_DIR (the sf0.1
test data by default), SPARK_GRAFT_CPUS.

Plans are ``explain('formatted')`` text, written normalized: expression
ids (``#\\d+L?``) become ``#N`` and the exchange/broadcast number in
``plan_id=\\d+`` becomes ``N``, the only parts that differ between two
dumps of the same tree. So ``diff -r DIR_A DIR_B`` of two trees' dumps
lists only the plans that changed.

``time`` hands all NAMEs to ``mcp_hubspot_spark.measure.measure`` at
once: a cold rep each, then steady reps interleaved across them, so host
drift hits every query alike. Each query prints ``measure``'s record,
with ``jobs`` and ``compiles`` (generated classes compiled in its last
rep). To compare variants of one query, register them under distinct names
in a script and call ``measure`` the same way.
"""

from __future__ import annotations

import argparse
import json
import re
import sys
import time
from functools import partial
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mcp_hubspot_spark.measure import measure, warm_up  # noqa: E402
from mcp_hubspot_spark.session import get_spark  # noqa: E402
from mcp_hubspot_spark.sources.catalog import DEFAULT_SF_DIR  # noqa: E402
from mcp_hubspot_spark.workload import QUERIES  # noqa: E402

_EXPR_ID = re.compile(r"#\d+L?")
_PLAN_ID = re.compile(r"plan_id=\d+")


def normalize_plan(plan: str) -> str:
    """``plan`` with its expression ids and ``plan_id`` numbers replaced,
    so two dumps of the same tree are equal text."""
    return _PLAN_ID.sub("plan_id=N", _EXPR_ID.sub("#N", plan))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("mode", choices=("plans", "time", "both"))
    ap.add_argument("names", nargs="*", help="registry queries (default: all)")
    ap.add_argument("--out", type=Path, help="plan directory (plans/both)")
    args = ap.parse_intermixed_args()  # NAMEs may follow --out DIR
    if args.mode != "time" and args.out is None:
        ap.error(f"{args.mode} needs --out DIR")
    names = args.names or sorted(QUERIES)
    spark = get_spark(app_name="profile_query")
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[str, dict] = {name: {} for name in names}
    if args.mode in ("plans", "both"):
        args.out.mkdir(parents=True, exist_ok=True)
        for name in names:
            t0 = time.perf_counter()
            df = QUERIES[name](spark, DEFAULT_SF_DIR)
            entry = results[name]
            entry["build_sec"] = round(time.perf_counter() - t0, 3)
            plan = normalize_plan(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            ))
            path = args.out / f"{name}.txt"
            path.write_text(plan)
            entry["plan"] = str(path)
            entry["exchanges"] = plan.count("Exchange")
            entry["python_nodes"] = sum(
                plan.count(t)
                for t in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow")
            )
    if args.mode in ("time", "both"):
        warm_up(spark)
        builds = {name: partial(QUERIES[name], spark, DEFAULT_SF_DIR) for name in names}
        for name, record in measure(spark, builds).items():
            results[name].update(record)
    print(json.dumps({"all": results}))


if __name__ == "__main__":
    main()
