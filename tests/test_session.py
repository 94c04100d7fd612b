"""SparkSession factory: Python workers find this package without the
caller exporting ``PYTHONPATH``, and run under its worker daemon."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

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


@pytest.mark.parametrize(
    "packages, dropped",
    [(("pyspark", "py4j"), True), (("pyspark",), False), ((), False)],
)
def test_worker_daemon_drops_archives_only_when_pyspark_resolves(
    tmp_path, monkeypatch, packages, dropped
):
    from mcp_hubspot_spark.worker_daemon import directory_path

    monkeypatch.setattr(sys, "path_importer_cache", {})
    archive = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(archive, "w") as z:
        for name in ("pyspark", "py4j"):
            z.writestr(f"{name}/__init__.py", "")
    site = tmp_path / "site"
    for name in packages:
        (site / name).mkdir(parents=True)
        (site / name / "__init__.py").write_text("")
    path = [str(archive), str(tmp_path / "missing"), str(site)]
    expected = path[1:] if dropped else path
    assert directory_path(path) == expected


def test_worker_imports_pyspark_outside_archives(spark):
    """A Python-worker task imports pyspark from a directory and holds no
    zipimporter for the per-task ``importlib.invalidate_caches()`` to
    re-read."""

    def probe(_):
        import sys
        import zipimport

        import pyspark

        yield pyspark.__file__, [
            key for key, finder in sys.path_importer_cache.items()
            if isinstance(finder, zipimport.zipimporter)
        ]

    [(origin, zips)] = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert os.path.isfile(origin), origin
    assert zips == []


def test_column_builds_capture_no_call_site(spark, monkeypatch):
    """PySpark's DataFrame debugging is off: a Column expression is built
    in 9 py4j commands (49 with call-site capture on)."""
    import pyspark.errors.utils as errors_utils
    from pyspark.sql import functions as F

    monkeypatch.setattr(errors_utils, "_enable_debugging_cache", None)
    assert errors_utils.is_debugging_enabled() is False
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(*args, **kwargs):
        sent.append(args)
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    (F.col("id") * 2 + F.lit(3)).alias("b")
    monkeypatch.undo()
    assert len(sent) <= 9, len(sent)


def test_warm_query_reuses_its_generated_classes(spark):
    """A query rerun after 150 other generated classes compiles none: the
    generated-class cache holds more than Spark's default 100 entries."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME()

    def query():
        return spark.range(100).selectExpr("id * 7 AS y").selectExpr("sum(y)").collect()

    query()
    before = compiles.getCount()
    for i in range(150):
        # an inlined integer literal makes each projection a distinct class
        spark.range(10).selectExpr(f"id + {i} AS x").collect()
    assert compiles.getCount() - before >= 150
    before = compiles.getCount()
    assert query() == [(sum(7 * i for i in range(100)),)]
    assert compiles.getCount() - before == 0
