"""Incremental ingest: the Spark-native replacement for the reference's
``after``-cursor pagination (reference ``clients/conversation_client.py:
56-63,179-190``; ``clients/ticket_client.py:225-235``).

The reference walks a remote result set with an opaque cursor; the batch
equivalent is a high-water-mark reader — each call returns only rows with
``ts_col`` strictly greater than the stored mark, then advances the mark.
The same contract a Structured Streaming file source provides per
micro-batch, expressed for batch jobs.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import durable


class IncrementalReader:
    """High-water-mark incremental scans over any timestamped DataFrame.

    State is one tiny JSON file (analogous to a streaming checkpoint /
    the reference's persisted cursor cache, core/storage.py:25-67).
    """

    def __init__(self, state_path: str, ts_col: str):
        self.state_path = Path(state_path)
        self.ts_col = ts_col

    def _load_mark(self) -> str | None:
        if self.state_path.exists():
            return json.loads(self.state_path.read_text()).get("high_water_mark")
        return None

    def _save_mark(self, mark: str) -> None:
        durable.write_json(self.state_path, {"high_water_mark": mark})

    def read_increment(self, df: DataFrame) -> DataFrame:
        """Rows past the mark. Advance with ``commit(df)`` after a
        successful downstream write (mark moves only on commit, so a failed
        batch is re-read — at-least-once, like the reference re-fetching a
        page when a request fails)."""
        mark = self._load_mark()
        if mark is None:
            return df
        return df.filter(F.col(self.ts_col) > F.lit(mark).cast("timestamp"))

    def commit(self, df: DataFrame) -> str | None:
        """Record max(ts) of the processed increment as the new mark."""
        row = df.agg(F.max(self.ts_col).alias("m")).collect()[0]
        if row.m is None:
            return self._load_mark()
        mark = row.m.isoformat(sep=" ")
        self._save_mark(mark)
        return mark
