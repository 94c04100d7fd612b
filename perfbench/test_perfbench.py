"""Tests of the benchmark itself: seeded inputs, metric names and units,
the sample rule. No Spark session is started.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import gen  # noqa: E402
import metrics  # noqa: E402
import wl_analytics  # noqa: E402
import wl_serving  # noqa: E402


def _tables(tmp_path, name, seed):
    out = tmp_path / name
    gen.batch_tables(str(out), seed, sf=0.001)
    return {f.name: pq.read_table(f) for f in sorted(out.iterdir())}


def test_batch_tables_repeat_for_a_seed_and_differ_across_seeds(tmp_path):
    a, b, c = (_tables(tmp_path, n, s) for n, s in (("a", 1), ("b", 1), ("c", 2)))
    assert sorted(a) == sorted(f"{t}.parquet" for t in (
        "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings"))
    assert all(a[f].equals(b[f]) for f in a)
    assert not a["lineitem.parquet"].equals(c["lineitem.parquet"])
    assert not a["documents.parquet"].equals(c["documents.parquet"])


def test_batch_tables_keep_the_registry_shapes(tmp_path):
    from mcp_hubspot_spark.schemas import TESTDATA_SCHEMAS

    t = _tables(tmp_path, "a", 3)
    for name, schema in TESTDATA_SCHEMAS.items():
        assert t[f"{name}.parquet"].column_names == schema.names
    li = t["lineitem.parquet"].to_pandas()
    assert (li.groupby("l_orderkey").l_linenumber.min() == 1).all()


def _analytics_ops(seed, passes=1):
    wl = wl_analytics.Workload(None, "/nonexistent", seed)
    return [op.name for op in wl.ops(passes)]


def test_analytics_passes_run_every_query_in_a_fixed_order():
    one_pass = [f"workload.{q}" for q in wl_analytics.MIX]
    assert _analytics_ops(1) == _analytics_ops(2) == one_pass  # the seed draws only the tables
    assert _analytics_ops(1, passes=2) == 2 * one_pass


def test_analytics_mix_has_a_registry_query_and_oracle_per_family():
    from mcp_hubspot_spark.workload import ORACLES, QUERIES

    assert set(wl_analytics.MIX) <= set(QUERIES) & set(ORACLES)
    families = {p.stem for p in (HERE.parent / "mcp_hubspot_spark" / "operators").glob("*.py")}
    left_out = families - set(wl_analytics.MIX.values()) - {"__init__"}
    assert left_out == set(wl_analytics.LEFT_OUT)


def _serving_ops(seed):
    wl = wl_serving.Workload(None, "/nonexistent", seed)
    assert [op.limit for op in wl.ops(2)] == [op.limit for op in wl.ops(2)]  # no hidden state
    return [
        (op.name, op.limit, tuple(getattr(op, "terms", ())),
         tuple(np.round(getattr(op, "qvec", np.zeros(1)), 6)))
        for op in wl.ops(wl_serving.PASSES_PER_10S)
    ]


def test_serving_op_sequence_and_corpus_are_functions_of_the_seed():
    assert _serving_ops(1) == _serving_ops(1)
    assert _serving_ops(1) != _serving_ops(2)
    names = [o[0] for o in _serving_ops(1)]
    assert sorted(names) == sorted(wl_serving.PASSES_PER_10S * list(wl_serving.OP_NAMES.values()))  # each op once a round
    n = len(wl_serving.OP_NAMES)
    assert names[:n] == names[n:2 * n] == list(wl_serving.OP_NAMES.values())  # in turn
    c1, c2 = gen.Corpus(5, 500), gen.Corpus(5, 500)
    assert np.array_equal(c1.vecs, c2.vecs) and c1.texts == c2.texts
    assert not np.array_equal(c1.vecs, gen.Corpus(6, 500).vecs)


def test_crm_batch_plants_duplicates_of_existing_contacts():
    from mcp_hubspot_spark.schemas import CRM_SCHEMAS

    tables, batch = gen.crm_tables(4, 30)
    assert (tables, batch) == gen.crm_tables(4, 30)
    assert tables != gen.crm_tables(5, 30)[0]
    for name, rows in tables.items():
        assert all(len(r) == len(CRM_SCHEMAS[name].names) for r in rows)
    # create_contact dedups on (firstname, lastname, company)
    keys = {(r[1], r[2], r[5]) for r in tables["contacts"]}
    assert sum(r[0].startswith("n") for r in batch) == 4
    for row in batch:
        assert ((row[1], row[2], row[5]) in keys) == row[0].startswith("n")


def test_ground_truth_helpers():
    vecs = np.array([[0, 0], [1, 0], [0, 2], [1, 0]], dtype=np.float32)
    ids, d = gen.knn_ids(vecs, np.array([1, 0], dtype=np.float32), 3)
    assert ids.tolist() == [1, 3, 0] and d.tolist() == [0.0, 0.0, 1.0]
    scores = gen.bm25(["a b", "b b c", "c"], ["B"])
    assert set(scores) == {0, 1} and scores[1] > scores[0]


def test_metric_names_and_units_match_the_manifest():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["analytics_mix", "serving"]
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_result_line_prints_every_metric_with_its_unit():
    units = metrics.END_TO_END
    line = metrics.result_line(True, 5, 0, {k: 1.5 for k in units}, units)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"]["ops_per_ref"] == {"value": 1.5, "unit": "ops/ref"}
    assert line["metrics"]["p50_geomean_ref"] == {"value": 1.5, "unit": "ref"}
    with pytest.raises(KeyError):
        metrics.result_line(True, 5, 0, {"setup_s": 1.0}, units)


def test_percentile_rule():
    assert not metrics.reportable(99, 90) and metrics.reportable(100, 90)
    assert not metrics.reportable(999, 99) and metrics.reportable(1000, 99)
    few = metrics.latency_summary([float(i) for i in range(1, 100)])
    assert few == {"n": 99, "p50_s": 50.0}
    many = metrics.latency_summary([float(i) for i in range(1, 101)])
    assert many["p90_s"] == 90.0 and "p99_s" not in many
    assert metrics.percentile([3.0, 1.0, 2.0], 50) == 2.0


def test_p50_geomean_weighs_every_op_type_alike():
    by_op = {"a": [1.0, 1.0, 9.0], "b": [4.0]}  # medians 1 and 4
    assert metrics.p50_geomean(by_op) == pytest.approx(2.0)
    # halving one type's latency moves the figure by 2 ** (1 / types)
    halved = {"a": [0.5, 0.5, 4.5], "b": [4.0]}
    assert metrics.p50_geomean(halved) == pytest.approx(2.0 / 2 ** 0.5)


def test_count_baseline_is_kept_per_source_hash(tmp_path):
    import run

    assert run.source_hash(HERE.parent) == run.source_hash(HERE.parent)
    base = tmp_path / "counts.json"
    assert run.compare_counts(base, {"total.jobs": 3, "recall_at_10": {"ivf": 1.0}}) == 0
    assert run.compare_counts(base, {"total.jobs": 3, "recall_at_10": {"ivf": 1.0}}) == 0
    assert run.compare_counts(base, {"total.jobs": 4, "recall_at_10": {"ivf": 0.9}}) == 2


def test_run_refuses_to_start_outside_a_checkout(tmp_path):
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", "serving", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0 and out.stdout == ""
