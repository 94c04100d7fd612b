"""SparkSession factory: Python workers find this package without the
caller exporting ``PYTHONPATH``."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def test_worker_pythonpath_lists_package_parent_first(monkeypatch):
    from mcp_hubspot_spark.session import _worker_pythonpath

    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(["/elsewhere", str(REPO)]))
    assert _worker_pythonpath().split(os.pathsep) == [str(REPO), "/elsewhere"]
    monkeypatch.delenv("PYTHONPATH")
    assert _worker_pythonpath() == str(REPO)


def test_pandas_udf_runs_without_pythonpath(tmp_path):
    """A driver started outside the repository with ``PYTHONPATH`` unset
    runs the package's embedding pandas UDF: its workers must import
    ``mcp_hubspot_spark`` to unpickle it."""
    code = f"""
import sys
sys.path.insert(0, {str(REPO)!r})
from mcp_hubspot_spark.functions.embedding import embed_column
from mcp_hubspot_spark.session import get_spark
spark = get_spark(app_name="pythonpath", master="local[1]", shuffle_partitions=1)
row = spark.createDataFrame([("a",)], "t string").select(embed_column("t", dim=4).alias("e")).first()
print("dim", len(row.e))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "dim 4" in proc.stdout
