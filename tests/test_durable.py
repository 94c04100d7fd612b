"""The crash-safe store primitive (``mcp_hubspot_spark.durable``) and the
stores built on it: a writer killed at any step leaves no lock that
blocks the next writer and no JSON document a reader cannot parse."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
import threading
import time
from pathlib import Path

import pytest

from mcp_hubspot_spark import durable
from mcp_hubspot_spark.serving import IndexMaintainer, TextIndexMaintainer
from mcp_hubspot_spark.sources.snapshot_table import SnapshotTable
from mcp_hubspot_spark.streaming.incremental import IncrementalReader
from mcp_hubspot_spark.text_index import TextIndex
from mcp_hubspot_spark.vector_store import IvfIndex

REPO = Path(__file__).resolve().parents[1]

# Runs in a fresh interpreter that imports only the durable module.
# die_writing() kills the process inside write_json, after part of the
# new document has reached the temp file and before the rename.
_PRELUDE = f"""
import json, os, sys
sys.path.insert(0, {str(REPO)!r})
from mcp_hubspot_spark import durable
assert "pyspark" not in sys.modules
args = json.loads(sys.argv[1])

class Torn:
    def __init__(self, fh):
        self.fh = fh
    def __enter__(self):
        return self
    def __exit__(self, *exc):
        return False
    def write(self, text):
        self.fh.write(text[: len(text) // 2])
        self.fh.flush()
        os._exit(9)

def die_writing(path, obj):
    durable.open = lambda file, mode: Torn(open(file, mode))
    durable.write_json(path, obj)
"""


def _crash(code: str, **args) -> None:
    """Run ``code`` after the prelude; it must die by ``os._exit(9)``."""
    proc = subprocess.run(
        [sys.executable, "-c", _PRELUDE + code, json.dumps(args, default=str)],
        timeout=60,
    )
    assert proc.returncode == 9


def _snapshot_commit(root: Path) -> None:
    table = SnapshotTable(None, str(root))
    v0 = {"version": 0, "keys": ["id"], "n_buckets": 1, "buckets": {}}
    table._commit(v0, expected_version=None)
    _crash(
        "with durable.flock(args['lock'], 0):\n"
        "    durable.write_json(args['prev'], json.load(open(args['latest'])))\n"
        "    die_writing(args['latest'], {'version': 1})\n",
        lock=root / "_commit.lock",
        prev=root / "_manifest_v0.json",
        latest=root / "_latest.json",
    )
    assert table.version() == 0
    table.LOCK_TIMEOUT_S = 0
    table._commit({**v0, "version": 1}, expected_version=0)
    assert table.version() == 1
    assert table._manifest_at(0) == v0


def _ivf_layout(root: Path) -> tuple[IvfIndex, dict]:
    idx = IvfIndex(None, str(root))
    durable.write_json(root / "meta.json", {"metric": "l2"})
    cell = root / "cells" / "cell_id=0"
    cell.mkdir(parents=True)
    (cell / "part-0.parquet").write_bytes(b"")
    manifest = {
        "format": IvfIndex.MANIFEST_FORMAT,
        "metric": "l2",
        "dim": 2,
        "n_cells": 1,
        "centroids": {"0": [0.0, 0.0]},
        "cells": {"0": ["cells/cell_id=0/part-0.parquet"]},
    }
    durable.write_json(root / "manifest.json", manifest)
    return idx, manifest


def _ivf_swap(root: Path) -> None:
    idx, manifest = _ivf_layout(root)
    _crash(
        "with durable.flock(args['lock'], 0):\n"
        "    os.makedirs(args['bak'])\n"
        "    os.rename(args['cell'], os.path.join(args['bak'], 'cell_id=0'))\n"
        "    os._exit(9)\n",
        lock=root / durable.MUTATION_LOCK,
        bak=root / "_swap_backup",
        cell=root / "cells" / "cell_id=0",
    )
    assert not (root / "cells" / "cell_id=0").exists()
    # the serving probe restores the backed-up cell: no live writer
    assert idx._probe([1.0, 1.0], 1)[1] == [0]
    assert (root / "cells" / "cell_id=0").exists()
    assert idx.read_manifest() == manifest
    idx.LOCK_TIMEOUT_S = 0
    assert idx.compact() == []


def _ivf_manifest(root: Path) -> None:
    idx, manifest = _ivf_layout(root)
    _crash(
        "with durable.flock(args['lock'], 0):\n"
        "    die_writing(args['manifest'], {'cells': {}})\n",
        lock=root / durable.MUTATION_LOCK,
        manifest=root / "manifest.json",
    )
    assert idx.read_manifest() == manifest
    idx.LOCK_TIMEOUT_S = 0
    assert idx.compact() == []


def _text_layout(root: Path) -> tuple[TextIndex, dict]:
    ix = TextIndex(None, str(root))
    meta = {"num_buckets": 4, "n_docs": 2, "sum_dl": 5, "last_epoch": 0}
    durable.write_json(root / "meta.json", meta)
    (root / "postings" / "epoch=0").mkdir(parents=True)
    return ix, meta


def _text_swap(root: Path) -> None:
    ix, meta = _text_layout(root)
    (root / "tombstones").mkdir()
    _crash(
        "with durable.flock(args['lock'], 0):\n"
        "    os.makedirs(os.path.join(args['new'], 'epoch=0'))\n"
        "    os.rename(args['post'], args['old'])\n"
        "    os._exit(9)\n",
        lock=root / durable.MUTATION_LOCK,
        new=root / "_postings_new",
        post=root / "postings",
        old=root / "_postings_old",
    )
    assert ix._meta_dict() == meta
    ix.LOCK_TIMEOUT_S = 0
    ix.compact()  # recovery rolls the swap forward; nothing left to fold
    assert (root / "postings" / "epoch=0").exists()
    for leftover in ("_postings_new", "_postings_old", "tombstones"):
        assert not (root / leftover).exists()


def _text_meta(root: Path) -> None:
    ix, meta = _text_layout(root)
    _crash(
        "with durable.flock(args['lock'], 0):\n"
        "    die_writing(args['meta'], {'n_docs': 1})\n",
        lock=root / durable.MUTATION_LOCK,
        meta=root / "meta.json",
    )
    assert ix.last_epoch() == 0 and ix._meta_dict() == meta
    ix.LOCK_TIMEOUT_S = 0
    ix.compact()


def _maintainer_state(make):
    def case(root: Path) -> None:
        m = make(root)
        m._record(3)
        _crash(
            "die_writing(args['state'], {'synced_version': 4})\n",
            state=m._state_path(),
        )
        assert m.synced_version() == 3
        m._record(4)
        assert m.synced_version() == 4

    return case


def _reader_mark(root: Path) -> None:
    reader = IncrementalReader(str(root / "mark.json"), ts_col="ts")
    reader._save_mark("2024-01-01 00:00:00")
    _crash(
        "die_writing(args['mark'], {'high_water_mark': '2024-01-02 00:00:00'})\n",
        mark=root / "mark.json",
    )
    assert reader._load_mark() == "2024-01-01 00:00:00"
    reader._save_mark("2024-01-02 00:00:00")
    assert reader._load_mark() == "2024-01-02 00:00:00"


@pytest.mark.parametrize(
    "case",
    [
        _snapshot_commit,
        _ivf_swap,
        _ivf_manifest,
        _text_swap,
        _text_meta,
        _maintainer_state(
            lambda root: IndexMaintainer(None, None, IvfIndex(None, str(root)))
        ),
        _maintainer_state(
            lambda root: TextIndexMaintainer(
                None, None, TextIndex(None, str(root))
            )
        ),
        _reader_mark,
    ],
    ids=[
        "snapshot_commit",
        "ivf_swap",
        "ivf_manifest",
        "text_swap",
        "text_meta",
        "index_maintainer_state",
        "text_maintainer_state",
        "incremental_reader_mark",
    ],
)
def test_killed_writer_leaves_store_readable_and_unlocked(tmp_path, case):
    """A writer subprocess takes the store's lock (or begins its state
    write) and dies by ``os._exit(9)``. The next reader parses the old
    version whole, and the next writer, with a lock timeout of 0,
    acquires at once and recovers the layout."""
    root = tmp_path / "store"
    root.mkdir()
    case(root)


def _vs_rows(ids):
    """``ids`` as rows of the vector store's file schema (2-d vectors)."""
    import pyarrow as pa

    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array([[float(i), 1.0] for i in ids], pa.list_(pa.float32())),
        "type": ["a"] * len(ids),
        "data_json": [f'{{"id": {i}}}' for i in ids],
        "extras": pa.nulls(len(ids), pa.map_(pa.string(), pa.string())),
    })


def test_killed_local_append_leaves_store_as_before(spark, tmp_path):
    """A driver-side ``VectorStore`` append killed before its rename
    leaves only a hidden temp file in a new ``date=`` directory. That
    directory is no retained day: ``load``, ``retained`` and both search
    paths return what they returned before the kill."""
    from datetime import date

    from mcp_hubspot_spark.vector_store import VectorStore

    root = tmp_path / "vs"
    vs = VectorStore(spark, str(root), max_days=2)
    vs.add(_vs_rows([1, 2]), as_of=date(2024, 6, 1))
    vs.add(_vs_rows([3]), as_of=date(2024, 6, 2))

    def state():
        files = vs._data_files(vs._present_dates()[: vs.max_days])
        return (
            sorted(vs.load().collect()),
            sorted(vs.retained().collect()),
            vs._search_local([0.0, 1.0], 5, None, files).to_pylist(),
            vs._search_spark([0.0, 1.0], 5, None, None).collect(),
        )

    before = state()
    assert len(before[1]) == 3
    _crash(
        "import datetime\n"
        "import pyarrow as pa\n"
        "from mcp_hubspot_spark.vector_store import VectorStore\n"
        "os.replace = lambda *a: os._exit(9)\n"
        "VectorStore(None, args['root']).add(\n"
        "    pa.Table.from_pylist(args['rows']), as_of=datetime.date(2024, 6, 3))\n",
        root=root,
        rows=_vs_rows([4]).to_pylist(),
    )
    [left] = os.listdir(root / "date=2024-06-03")
    assert left.startswith(".part-") and left.endswith(".tmp")
    assert state() == before


def test_snapshot_commit_ignores_stale_lock_file(tmp_path):
    """A committer killed while holding the old ``O_EXCL`` lock file left
    it behind; the file must not block later commits."""
    root = tmp_path / "t"
    table = SnapshotTable(None, str(root))
    v0 = {"version": 0, "keys": ["id"], "n_buckets": 1, "buckets": {}}
    table._commit(v0, expected_version=None)
    subprocess.run(
        [
            sys.executable,
            "-c",
            "import os, sys\n"
            "os.open(sys.argv[1], os.O_CREAT | os.O_EXCL | os.O_WRONLY)\n"
            "os._exit(9)\n",
            str(root / "_commit.lock"),
        ],
        timeout=60,
    )
    assert (root / "_commit.lock").exists()
    start = time.monotonic()
    table._commit({**v0, "version": 1}, expected_version=0)
    assert time.monotonic() - start < 1.0
    assert table.version() == 1


def test_write_json_never_torn_under_concurrent_reads(tmp_path):
    """Six writer threads (more than the cores) replace one document
    while the main thread reads it: no read may see a partial document,
    and no writer may trip over another's temp file."""
    path = tmp_path / "state.json"
    docs = [{"v": i, "pad": [i] * 5000} for i in range(2)]
    durable.write_json(path, docs[0])
    stop = threading.Event()
    n_writes = []

    def writer(first):
        i = first
        while not stop.is_set():
            durable.write_json(path, docs[i % 2])
            i += 1
        n_writes.append(i - first)

    reads = torn = 0
    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    threads = [threading.Thread(target=writer, args=(i,)) for i in range(6)]
    try:
        for t in threads:
            t.start()
        deadline = time.monotonic() + 0.5
        while time.monotonic() < deadline:
            try:
                assert json.loads(path.read_text()) in docs
            except json.JSONDecodeError:
                torn += 1
            reads += 1
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=10)
        sys.setswitchinterval(old_interval)
    assert not any(t.is_alive() for t in threads)
    assert torn == 0
    assert reads > 20 and len(n_writes) == 6 and min(n_writes) > 0
    assert not list(tmp_path.glob(".*.tmp"))  # every temp file was renamed


def _replaced(path: Path, op) -> bool:
    """True when ``op()`` replaced ``path`` with a new file rather than
    rewriting it in place: a handle opened before still sees the old
    inode (kept alive, so its number cannot be reused meanwhile)."""
    with open(path) as fh:
        op()
        return os.fstat(fh.fileno()).st_ino != os.stat(path).st_ino


def test_index_json_is_replaced_not_rewritten(spark, tmp_path):
    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    idx = IvfIndex(spark, str(tmp_path / "ivf"))
    idx.build(emb, n_cells=2)
    idx.export_manifest()
    assert _replaced(idx.root / "manifest.json", idx.export_manifest)
    assert _replaced(idx.root / "meta.json", lambda: idx.build(emb, n_cells=2))

    ix = TextIndex(spark, str(tmp_path / "tix"))
    ix.build(
        spark.createDataFrame([(1, "a b"), (2, "b c")], "doc_id long, text string")
    )
    more = spark.createDataFrame([(3, "c d")], "doc_id long, text string")
    assert _replaced(ix.root / "meta.json", lambda: ix.add(more))


def test_lock_and_atomic_replace_live_only_in_durable():
    """``fcntl``, ``O_EXCL`` and ``os.replace`` appear in the package
    only inside ``durable.py``, and no store writes JSON in place."""
    pkg = REPO / "mcp_hubspot_spark"
    found = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "durable.py":
            continue
        tree = ast.parse(path.read_text())
        os_names = {"os"}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                os_names |= {a.asname or a.name for a in node.names if a.name == "os"}
        for node in ast.walk(tree):
            where = f"{path.relative_to(REPO)}:{getattr(node, 'lineno', 0)}"
            if isinstance(node, ast.Import) and any(
                a.name == "fcntl" for a in node.names
            ):
                found.append(f"{where} import fcntl")
            elif isinstance(node, ast.ImportFrom) and (
                node.module == "fcntl"
                or node.module == "os"
                and any(a.name in ("replace", "O_EXCL") for a in node.names)
            ):
                found.append(f"{where} from {node.module} import")
            elif (
                isinstance(node, ast.Attribute)
                and node.attr in ("replace", "O_EXCL")
                and isinstance(node.value, ast.Name)
                and node.value.id in os_names
            ):
                found.append(f"{where} os.{node.attr}")
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "write_text"
                and node.args
                and isinstance(node.args[0], ast.Call)
                and isinstance(node.args[0].func, ast.Attribute)
                and node.args[0].func.attr == "dumps"
            ):
                found.append(f"{where} write_text(json.dumps(...))")
    assert found == []


class _Store:
    """The smallest store ``durable`` serves: a root, a lock budget and
    a recovery that counts its runs."""

    LOCK_TIMEOUT_S = 1.0

    def __init__(self, root):
        self.root = str(root)
        self.recovered = 0

    def _recover(self):
        self.recovered += 1

    @durable.mutator
    def add(self, fail=False):
        if fail:
            raise RuntimeError("boom")
        return "added"


def test_mutations_and_recoveries_are_logged(tmp_path, caplog):
    """Every mutator call logs its store class, root, method, outcome
    and elapsed seconds; reader-side recovery logs whether it ran or
    skipped for a live writer."""
    import logging

    caplog.set_level(logging.INFO, logger="mcp_hubspot_spark.durable")
    store = _Store(tmp_path)
    assert store.add() == "added"
    with pytest.raises(RuntimeError):
        store.add(fail=True)
    durable.recover_if_idle(store)
    with durable.flock(tmp_path / durable.MUTATION_LOCK, 0):
        durable.recover_if_idle(store)
    msgs = [r.getMessage() for r in caplog.records]
    assert len(msgs) == 4 and store.recovered == 3
    for msg, outcome in zip(msgs[:2], ("ok", "failed")):
        assert msg.startswith(f"_Store.add at {tmp_path}: {outcome} in ")
        assert msg.endswith(" s")
    assert msgs[2] == f"_Store at {tmp_path}: recovered crash leftovers"
    assert msgs[3] == (
        f"_Store at {tmp_path}: recovery skipped, a live writer holds the lock"
    )


def test_vector_store_appends_are_logged(spark, tmp_path, caplog):
    """``VectorStore.add`` logs one INFO record per call on either path:
    root, day, rows, path and elapsed seconds."""
    import logging
    from datetime import date

    from mcp_hubspot_spark.vector_store import VectorStore

    caplog.set_level(logging.INFO, logger="mcp_hubspot_spark.vector_store")
    vs = VectorStore(spark, str(tmp_path / "vs"))
    rows = _vs_rows([1, 2, 3])
    vs.add(rows, as_of=date(2024, 6, 1))
    vs.add(spark.createDataFrame(rows.to_pylist(), vs.load().drop("date").schema),
           as_of=date(2024, 6, 2))
    msgs = [r.getMessage() for r in caplog.records]
    assert len(msgs) == 2
    for msg, day, path in zip(msgs, ("2024-06-01", "2024-06-02"), ("local", "spark")):
        assert msg.startswith(
            f"VectorStore.add at {tmp_path / 'vs'}: 3 rows into date={day}, "
            f"{path} path, in "
        )
        assert msg.endswith(" s")
