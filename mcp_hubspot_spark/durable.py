"""Crash-safe on-disk state for the serving stores: one single-writer
lock and one atomic file replace, shared by ``SnapshotTable``,
``IvfIndex``, ``TextIndex``, the CDC maintainers' synced-version files,
``IncrementalAggregate``, ``IncrementalReader`` and ``VectorStore``.

The scope is process death (``kill -9`` at any step), not power loss:
nothing here fsyncs.

**The lock is ``flock`` on a lock file**, the same coarse single-writer
contract the reference's FAISS manager gets for free from being one
process, made explicit because two concurrent directory rewrites (or an
append into a cell being swapped) would corrupt a store's layout.
``flock`` rather than an ``O_CREAT|O_EXCL`` existence lock because the
kernel releases it when the owner dies: a writer killed mid-mutation
leaves the lock FILE behind but no lock, so the next writer and a
reader's crash recovery proceed at once, and there is no lock-breaking
protocol to get wrong (PID-liveness breaking has an unfixable
check-then-remove race in which a contender deletes a FRESH lock taken
after its staleness check, admitting two writers). Only the flock
matters; the owner PID written into the file is a diagnostic. The lock
is advisory and single-host, which is its scope: it guards driver-side
renames on a local filesystem. Each acquisition opens its own file
description, so two writers in one process (threads) still exclude each
other.

**Readers never take the lock.** They see a store through files that
only ever change by ``os.replace`` (JSON state, appended parquet) or
directory rename, so a read resolves the old or the new version, never
a torn one. The two indexes read their ``meta.json`` through
:func:`read_meta`, once per file version, and refuse it while it
carries a build's ``building`` sentinel.

**Crash recovery** is each store's own ``_recover()`` — the stores
repair different layouts (``IvfIndex`` rolls a cell swap back,
``TextIndex`` rolls a compact forward and drops its tombstones). A
mutator runs it under the lock before touching anything
(:func:`mutator`); a reader that finds crash leftovers runs it only if
no live writer holds the lock (:func:`recover_if_idle`), because the
leftovers of a LIVE writer are its in-flight swap, which it finishes
itself.

Every mutation and every reader-side recovery attempt logs one INFO
record through ``logging.getLogger("mcp_hubspot_spark.durable")``.
"""

from __future__ import annotations

import contextlib
import fcntl
import functools
import json
import logging
import os
import time
import uuid

MUTATION_LOCK = "_mutation.lock"
META = "meta.json"

log = logging.getLogger(__name__)


@contextlib.contextmanager
def flock(path, timeout_s: float):
    """Hold an exclusive ``flock`` on ``path`` (created, with its
    directory, if missing). Polls until ``timeout_s`` and then raises
    ``TimeoutError`` naming the path; ``timeout_s=0`` is a single
    non-blocking attempt."""
    path = os.fspath(path)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    fd = os.open(path, os.O_CREAT | os.O_WRONLY, 0o644)
    try:
        deadline = time.monotonic() + timeout_s
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except BlockingIOError:
                if time.monotonic() >= deadline:
                    raise TimeoutError(
                        f"could not acquire {path} after {timeout_s}s — "
                        "another writer is active"
                    ) from None
                time.sleep(0.05)
        try:
            os.ftruncate(fd, 0)
            os.write(fd, str(os.getpid()).encode())
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
    finally:
        os.close(fd)


def mutator(fn):
    """Run a store method under the store's ``root/_mutation.lock``
    (waiting up to ``LOCK_TIMEOUT_S``), with the store's ``_recover()``
    first: a mutator that planned against a crashed writer's half-swapped
    layout would persist the truncated view. Logs the store class, root,
    method, outcome and elapsed seconds of every call."""

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        t0 = time.monotonic()
        outcome = "failed"
        try:
            with flock(os.path.join(self.root, MUTATION_LOCK), self.LOCK_TIMEOUT_S):
                self._recover()
                result = fn(self, *args, **kwargs)
            outcome = "ok"
            return result
        finally:
            log.info(
                "%s.%s at %s: %s in %.3f s",
                type(self).__name__, fn.__name__, self.root, outcome,
                time.monotonic() - t0,
            )

    return wrapper


def recover_if_idle(store) -> None:
    """Reader-side crash recovery: run ``store._recover()`` under a
    non-blocking attempt at the store's mutation lock, and skip it while
    a live writer holds the lock. A dead writer never causes a skip.
    Logs whether recovery ran or was skipped."""
    name = f"{type(store).__name__} at {store.root}"
    try:
        with flock(os.path.join(store.root, MUTATION_LOCK), 0):
            store._recover()
    except TimeoutError:
        log.info("%s: recovery skipped, a live writer holds the lock", name)
        return
    log.info("%s: recovered crash leftovers", name)


@contextlib.contextmanager
def replacing(path):
    """Create or replace the file at ``path`` atomically: the body writes
    the yielded uniquely named hidden temp file in the same directory,
    which is then renamed over ``path``. A reader sees the old file (or
    none) or the new one, whole; a writer killed before the rename leaves
    ``path`` as it was and a hidden ``.tmp`` file nothing reads."""
    path = os.fspath(path)
    folder, name = os.path.split(path)
    os.makedirs(folder or ".", exist_ok=True)
    tmp = os.path.join(folder, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        yield tmp
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        raise


def write_json(path, obj) -> None:
    """Replace the JSON file at ``path`` with ``obj`` atomically."""
    with replacing(path) as tmp, open(tmp, "x") as fh:
        fh.write(json.dumps(obj, sort_keys=True))


def read_meta(store) -> dict:
    """The store's ``root/meta.json``, parsed once per version of the file
    and cached on the store as ``_meta_cache``, keyed by the file's
    ``(st_ino, st_mtime_ns, st_size)``: the file only ever changes by
    :func:`write_json`'s rename, so a new version is a new inode. Every
    read shares the cached dict, so no caller may mutate it.

    Raises ``FileNotFoundError`` when the file is missing, and
    ``RuntimeError`` when it carries the ``building`` sentinel a build
    writes before its first data file: the data files on disk may then
    be partial or match no model, and the store must be rebuilt before
    it serves."""
    with open(os.path.join(store.root, META), "rb") as fh:
        st = os.fstat(fh.fileno())
        key = (st.st_ino, st.st_mtime_ns, st.st_size)
        cached = store._meta_cache
        if cached is None or cached[0] != key:
            cached = store._meta_cache = (key, json.load(fh))
    meta = cached[1]
    if meta.get("building"):
        raise RuntimeError(
            f"{type(store).__name__} at {store.root}: meta.json carries the "
            "'building' sentinel — a build() was interrupted mid-write. "
            "Rebuild before serving."
        )
    return meta
