"""The shared timing protocol (``mcp_hubspot_spark.measure``) and the
scripts built on it: ``bench.py``'s stdout line and a ``scale_bench.py``
run."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from mcp_hubspot_spark.measure import measure

REPO = Path(__file__).resolve().parent.parent
RECORD = {"cold_s", "steady_s", "best_s", "spread_s", "jobs", "compiles"}


def _first_job(spark, group: str) -> int:
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    assert ids, group
    return min(ids)


def test_record_fields(spark):
    out = measure(
        spark,
        {
            "m_frame": lambda: spark.range(1000).selectExpr("sum(id) AS s"),
            "m_collected": lambda: spark.range(10).collect(),
            "m_python": lambda: sum(range(10)),
        },
    )
    for name, rec in out.items():
        assert set(rec) == RECORD, name
        # every build here is cheap, so it gets the third steady rep
        assert len(rec["steady_s"]) == 3
        assert rec["best_s"] == min(rec["steady_s"])
        assert rec["spread_s"] == pytest.approx(max(rec["steady_s"]) - rec["best_s"], abs=2e-3)
        assert rec["cold_s"] >= 0
    assert out["m_frame"]["jobs"] >= 1
    assert out["m_collected"]["jobs"] >= 1
    assert out["m_python"]["jobs"] == 0
    # a warm rep finds its generated classes in the session's cache
    assert out["m_frame"]["compiles"] == 0
    assert out["m_python"]["compiles"] == 0


def test_failing_build_is_recorded_and_others_run(spark):
    calls = {"late": 0}

    def fails_late():
        calls["late"] += 1
        if calls["late"] == 2:
            raise RuntimeError("second call")
        return spark.range(5)

    def fails_now():
        raise ValueError("boom")

    out = measure(
        spark,
        {
            "e_ok_a": lambda: spark.range(5),
            "e_now": fails_now,
            "e_late": fails_late,
            "e_ok_b": lambda: spark.range(5),
        },
    )
    assert out["e_now"] == {"error": "ValueError: boom"}
    assert out["e_late"] == {"error": "RuntimeError: second call"}
    assert calls["late"] == 2  # no rep after the failing one
    assert set(out["e_ok_a"]) == set(out["e_ok_b"]) == RECORD


def test_steady_reps_interleave_and_caller_group_survives(spark):
    sc = spark.sparkContext
    sc.setJobGroup("i_caller", "caller")
    try:
        measure(
            spark,
            {
                "i_a": lambda: spark.range(10).selectExpr("sum(id)"),
                "i_b": lambda: spark.range(10).selectExpr("max(id)"),
            },
        )
        assert sc.getLocalProperty("spark.jobGroup.id") == "i_caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    groups = [f"{n}#{r}" for r in range(4) for n in ("i_a", "i_b")]
    assert sorted(groups, key=lambda g: _first_job(spark, g)) == groups


def test_bench_stdout_line_fits_with_the_whole_registry():
    """The bench line keeps its keys and stays within 1900 chars when every
    registry query is timed and one failed."""
    sys.path.insert(0, str(REPO))
    import bench
    from mcp_hubspot_spark.workload import QUERIES

    timings = {name: 100.0 + i / 7 for i, name in enumerate(QUERIES)}
    failed = next(iter(timings))
    del timings[failed]
    payload = {
        "metric": "headline_queries_total_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "calib_sec": 1.2345,
        "calib_shuffle_sec": 2.3456,
        "calib_series_median": 1.2399,
        "sf": 0.1,
        "errors": {failed: "Py4JJavaError: " + "x" * 300},
    }
    line = bench.stdout_line(payload, "BENCH_LOCAL_FULL.json")
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert set(parsed) == {
        "metric", "value", "unit", "queries", "calib_sec", "calib_shuffle_sec",
        "calib_series_median", "n_queries", "full", "sf", "n_errors", "first_error",
    }
    assert parsed["n_queries"] == len(QUERIES) - 1
    assert parsed["first_error"] == failed and parsed["n_errors"] == 1
    pinned = set(bench._R13_PRINTED + bench._SCALING_SENTINELS) & set(timings)
    assert pinned <= set(parsed["queries"])


@pytest.mark.slow
def test_scale_bench_smoke(sf_dir):
    """Three cases at two copies of the smallest test data: one JSON
    line, a job count per case, no errors (~40 s, mostly JVM start). The
    batched BM25 read runs in the driver: no Spark job."""
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "scale_bench.py", "--copies", "2", "--only",
         "knn_l2,minhash_lsh_pairs,text_index_bm25_batch8"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert "errors" not in out
    names = sorted(out["cases"])
    assert len(names) == 3
    assert names[0].startswith("knn_l2_") and names[1].startswith("minhash_lsh_pairs_")
    assert names[2].startswith("text_index_bm25_batch8_")
    for name, rec in out["cases"].items():
        assert rec["jobs"] == 0 if name == names[2] else rec["jobs"] >= 1
