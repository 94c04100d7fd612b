"""Code comments say why the current shape is right; the history of how
it got there lives in git, not in tags naming a round or its artifacts."""

from __future__ import annotations

import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "mcp_hubspot_spark"
HISTORY_TAG = re.compile(r"round [0-9]+|round-[0-9]+|\br[0-9]{2}\b|_r[0-9]{2}|OPTIMIZATION_r")


def test_package_has_no_round_tags():
    hits = [
        f"{path.relative_to(PACKAGE.parent)}:{n}: {line.strip()}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if HISTORY_TAG.search(line)
    ]
    assert not hits, "\n".join(hits)
