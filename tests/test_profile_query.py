"""tools/profile_query.py writes plans normalized, so that two dumps of
the same tree compare equal with a plain ``diff -r``."""

from __future__ import annotations

import importlib.util
from pathlib import Path

TOOL = Path(__file__).resolve().parent.parent / "tools" / "profile_query.py"


def _tool():
    spec = importlib.util.spec_from_file_location("profile_query", TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_normalize_plan_drops_expression_and_plan_ids():
    normalize_plan = _tool().normalize_plan
    a = (
        "(3) HashAggregate\n"
        "Keys [1]: [doc_id#12L]\n"
        "Functions [1]: [partial_count(1) AS count#40L]\n"
        "(4) Exchange\n"
        "Arguments: hashpartitioning(doc_id#12L, 8), ENSURE_REQUIREMENTS, [plan_id=117]\n"
        "Output [2]: [term#7, score#301]\n"
    )
    b = (
        a.replace("#12L", "#98L").replace("#40L", "#5L")
        .replace("plan_id=117", "plan_id=4").replace("#7,", "#1234,")
        .replace("#301", "#2")
    )
    assert normalize_plan(a) == normalize_plan(b)
    assert normalize_plan(a) == (
        "(3) HashAggregate\n"
        "Keys [1]: [doc_id#N]\n"
        "Functions [1]: [partial_count(1) AS count#N]\n"
        "(4) Exchange\n"
        "Arguments: hashpartitioning(doc_id#N, 8), ENSURE_REQUIREMENTS, [plan_id=N]\n"
        "Output [2]: [term#N, score#N]\n"
    )
    # what is not an id survives: node numbers, literals, partition counts
    assert normalize_plan("(12) Filter (x#3 > 100)\n") == "(12) Filter (x#N > 100)\n"
