"""Python-worker daemon (``spark.python.daemon.module``, set by
``session.get_spark``): ``pyspark.daemon`` on a ``sys.path`` without
Spark's archives.

Spark puts ``pyspark.zip``, the py4j zip and the spark-core jar (~6,700
entries) at the head of every worker's path, and each task calls
``importlib.invalidate_caches()``, which on Python 3.11 makes every cached
``zipimporter`` re-read its archive's central directory (~0.2 s a task on
a 4-core host). When pyspark and py4j resolve from directories, the
daemon drops the archive entries, and the zipimporters ``python -m`` cached
while finding this module, before it forks its workers; otherwise it keeps
them.
"""

from __future__ import annotations

import os
import sys
import zipimport
from importlib.machinery import PathFinder


def directory_path(path: list[str]) -> list[str]:
    """``path`` without its file (archive) entries when pyspark and py4j
    resolve from what is left, else ``path`` unchanged."""
    dirs = [p for p in path if not os.path.isfile(p)]
    if all(PathFinder.find_spec(m, dirs) for m in ("pyspark", "py4j")):
        return dirs
    return path


if __name__ == "__main__":
    sys.path[:] = directory_path(sys.path)
    for key, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[key]
    from pyspark import daemon

    daemon.manager()
