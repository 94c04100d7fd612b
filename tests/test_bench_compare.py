"""``bench_compare.py`` labels a wall-time mover whose job and compile
counts did not change as ``noise-suspect``, not as a regression."""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import bench_compare  # noqa: E402


def _artifact(path: Path, queries: dict, jobs: dict, compiles: dict | None) -> str:
    payload = {"value": round(sum(queries.values()), 3), "queries": queries, "jobs_queries": jobs}
    if compiles is not None:
        payload["compiles_queries"] = compiles
    path.write_text(json.dumps(payload))
    return str(path)


def _labels(capsys, old: str, new: str) -> dict[str, str]:
    bench_compare.main([old, new])
    out = capsys.readouterr().out
    return {
        line.split()[1]: line.split()[0]
        for line in out.splitlines()
        if line.startswith("  ") and "s ->" in line
    }


def test_unchanged_counters_label_a_mover_noise_suspect(tmp_path, capsys):
    old = _artifact(
        tmp_path / "old.json",
        {"same_work": 1.0, "more_jobs": 1.0, "more_compiles": 1.0, "faster": 2.0},
        {"same_work": 3, "more_jobs": 3, "more_compiles": 3, "faster": 5},
        {"same_work": 0, "more_jobs": 0, "more_compiles": 0, "faster": 40},
    )
    new = _artifact(
        tmp_path / "new.json",
        {"same_work": 1.5, "more_jobs": 1.5, "more_compiles": 1.5, "faster": 1.0},
        {"same_work": 3, "more_jobs": 4, "more_compiles": 3, "faster": 5},
        {"same_work": 0, "more_jobs": 0, "more_compiles": 9, "faster": 2},
    )
    assert _labels(capsys, old, new) == {
        "same_work": "noise-suspect",
        "more_jobs": "REGRESSED",
        "more_compiles": "REGRESSED",
        "faster": "improved",
    }


def test_compile_check_needs_both_artifacts(tmp_path, capsys):
    """An artifact without compile counts leaves the label to the job
    counts alone."""
    old = _artifact(tmp_path / "old.json", {"q": 1.0}, {"q": 3}, None)
    new = _artifact(tmp_path / "new.json", {"q": 1.5}, {"q": 3}, {"q": 9})
    assert _labels(capsys, old, new) == {"q": "noise-suspect"}
    bare = tmp_path / "bare.json"
    bare.write_text(json.dumps({"value": 1.0, "queries": {"q": 1.0}}))
    assert _labels(capsys, str(bare), new) == {"q": "REGRESSED"}
