"""Copy-on-write snapshot table with ATOMIC merge-upsert (no Delta dep).

The reference's upsert is check-then-insert over two REST calls with no
transaction (``clients/contact_client.py:79-87``); ``dedup_insert``
(operators/joins.py J3) reproduces that contract and pins its non-atomicity.
This module is the transactional upgrade of that contract:
Delta Lake is not installable in this environment, so the same
copy-on-write + optimistic-commit design Delta/Iceberg/Hudi use is built
directly on parquet:

- **Data layout**: each write produces an immutable version directory
  ``v_<n>-<token>/_bucket=<k>/`` — parquet, hash-bucketed on the merge
  keys. The token is unique per write ATTEMPT, so two optimistic writers
  racing to the same version never share a directory; the loser's orphan
  is removed on conflict (and vacuum() collects any crash leftovers).
- **Manifest**: a JSON pointer file maps every bucket to the version
  directory that currently owns it. Readers resolve the manifest once and
  read exactly those directories; writers never mutate a published file.
- **Atomic commit**: the manifest swap is one atomic JSON replace
  (``durable.write_json``) under a ``flock`` commit lock, with an
  expected-version check — a concurrent committed writer raises
  ``SnapshotConflictError`` instead of silently losing rows (optimistic
  concurrency, same contract as Delta's commit protocol). The kernel
  drops the lock with a dead committer, so a crash never wedges later
  commits. On an object store you would swap the rename for the store's
  conditional-put.

Scale design: MERGE cost is proportional to the TOUCHED buckets, not the
table. Updates are bucketed by ``pmod(xxhash64(keys), n_buckets)``; only
bucket directories that contain at least one update row are read, merged
(one anti-join + union, one shuffle) and rewritten — the other buckets are
carried forward in the manifest by reference. A 100 TB table with 4096
buckets absorbing a 1 GB update batch rewrites ~25 GB, not 100 TB. Old
versions stay readable (time travel) until vacuumed.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import durable

_MANIFEST = "_latest.json"
_LOCK = "_commit.lock"
_BUCKET = "_bucket"


class SnapshotConflictError(RuntimeError):
    """Another writer committed between this transaction's read and commit."""


def _bucket_expr(keys: Sequence[str], n_buckets: int):
    return F.pmod(F.xxhash64(*keys), F.lit(n_buckets)).cast("int")


class SnapshotTable:
    """A parquet table with versioned, atomically-committed upserts."""

    LOCK_TIMEOUT_S = 10.0

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # ------------------------------------------------------------- manifest
    def _manifest_path(self) -> str:
        return os.path.join(self.root, _MANIFEST)

    def _read_manifest(self) -> dict:
        with open(self._manifest_path()) as fh:
            return json.load(fh)

    @property
    def keys(self) -> list[str]:
        """The table's merge-key columns (public accessor — downstream
        maintainers like ``IncrementalAggregate`` need the key set to
        validate their own column contracts without touching the
        manifest format)."""
        return list(self._read_manifest()["keys"])

    def _commit(self, manifest: dict, expected_version: int | None) -> None:
        """Atomically publish ``manifest`` iff the table is still at
        ``expected_version`` (None = initial commit, table must not exist),
        saving the superseded manifest for time travel first. The lock is
        held only for the pointer check and the two small JSON writes,
        never during the (long) data write."""
        with durable.flock(os.path.join(self.root, _LOCK), self.LOCK_TIMEOUT_S):
            current = None
            if os.path.exists(self._manifest_path()):
                current = self._read_manifest()
            found = None if current is None else current["version"]
            if found != expected_version:
                raise SnapshotConflictError(
                    f"expected version {expected_version}, found {found}"
                )
            if current is not None:
                durable.write_json(
                    os.path.join(self.root, f"_manifest_v{found}.json"), current
                )
            durable.write_json(self._manifest_path(), manifest)  # commit point

    # ----------------------------------------------------------------- API
    def version(self) -> int:
        return self._read_manifest()["version"]

    def create(
        self, df: DataFrame, keys: Sequence[str], n_buckets: int = 16
    ) -> None:
        """Initial commit: bucket ``df`` on ``keys`` and publish v0."""
        keys = list(keys)
        vdir = self._new_vdir(0)
        (
            df.withColumn(_BUCKET, _bucket_expr(keys, n_buckets))
            .write.partitionBy(_BUCKET)
            .parquet(os.path.join(self.root, vdir))
        )
        written = self._buckets_in(vdir)
        self._commit(
            {
                "version": 0,
                "keys": keys,
                "n_buckets": n_buckets,
                "buckets": {str(b): vdir for b in written},
            },
            expected_version=None,
        )

    def _new_vdir(self, version: int) -> str:
        """Data directory name for a write ATTEMPT at ``version`` —
        unique per attempt, not per version: two optimistic writers
        racing to the same target version must never share a directory
        (the loser's files would mix into the winner's commit, or its
        write would fail on path-exists before ever reaching the
        manifest check). Only the manifest references these names, so
        the suffix is never parsed; vacuum() collects a losing
        attempt's orphan since no kept manifest points into it."""
        return f"v_{version}-{uuid.uuid4().hex[:8]}"

    def _commit_or_cleanup(
        self, manifest: dict, expected_version: int, vdir: str
    ) -> None:
        """Commit, and on a version conflict remove this attempt's data
        directory before re-raising so a retry starts clean."""
        try:
            self._commit(manifest, expected_version=expected_version)
        except SnapshotConflictError:
            shutil.rmtree(os.path.join(self.root, vdir), ignore_errors=True)
            raise

    def _buckets_in(self, vdir: str) -> list[int]:
        base = os.path.join(self.root, vdir)
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(base)
            if d.startswith(f"{_BUCKET}=")
        )

    def _bucket_paths(self, manifest: dict, buckets: Sequence[int]) -> list[str]:
        owned = manifest["buckets"]
        return [
            os.path.join(self.root, owned[str(b)], f"{_BUCKET}={b}")
            for b in buckets
            if str(b) in owned
        ]

    def read(self, version: int | None = None) -> DataFrame:
        """Current snapshot (or time-travel to an older ``version`` while
        its directories have not been vacuumed)."""
        manifest = (
            self._read_manifest() if version is None
            else self._manifest_at(version)
        )
        paths = self._bucket_paths(
            manifest, [int(b) for b in manifest["buckets"]]
        )
        # mergeSchema: after an add-column merge, bucket directories from
        # different versions legitimately differ by the added nullable
        # columns; the union schema is the table schema and pre-evolution
        # rows read the new columns as NULL (footer-merge only — no data
        # rewrite, exactly Delta's add-column semantics)
        return (
            self.spark.read.option("mergeSchema", "true")
            .parquet(*paths)
            .drop(_BUCKET)
        )

    def merge_upsert(
        self, updates: DataFrame, allow_missing_columns: bool = False
    ) -> int:
        """MERGE: matched rows (on the table keys) are replaced by their
        update row, unmatched update rows are inserted. Returns the new
        version. Only buckets containing update rows are read or written.

        Schema evolution (pinned contract): columns present in
        ``updates`` but not in the table are ADDED as nullable — rows in
        untouched buckets (and pre-evolution versions) read them as NULL
        via the mergeSchema read; nothing is rewritten outside the
        touched buckets. Columns present in the table but MISSING from
        ``updates`` raise by default (this merge is full-row replace, so
        a silently-narrow batch would NULL matched rows' values); pass
        ``allow_missing_columns=True`` to opt into exactly that. Update
        batches must always carry every key column.
        """
        manifest = self._read_manifest()
        keys, nb = manifest["keys"], manifest["n_buckets"]
        expected = manifest["version"]
        new_version = expected + 1
        vdir = self._new_vdir(new_version)

        missing_keys = set(keys) - set(updates.columns)
        if missing_keys:
            raise ValueError(
                f"merge_upsert batch missing key columns: {sorted(missing_keys)}"
            )
        u = updates.withColumn(_BUCKET, _bucket_expr(keys, nb))
        # bounded collect: at most n_buckets values, never data rows
        touched = sorted(
            r[_BUCKET] for r in u.select(_BUCKET).distinct().collect()
        )
        existing_paths = self._bucket_paths(manifest, touched)
        if existing_paths:
            # leaf-directory reads drop the partition column; recompute it
            # from the keys (deterministic by construction)
            existing = self.spark.read.option("mergeSchema", "true").parquet(
                *existing_paths
            ).withColumn(_BUCKET, _bucket_expr(keys, nb))
            narrowed = set(existing.columns) - set(u.columns)
            if narrowed and not allow_missing_columns:
                raise ValueError(
                    "merge_upsert batch is missing table columns "
                    f"{sorted(narrowed)}; matched rows would have them set "
                    "to NULL (full-row replace). Pass "
                    "allow_missing_columns=True to allow that."
                )
            # last-writer-wins within the batch is the caller's contract;
            # against the table it is WHEN MATCHED UPDATE SET * (full-row
            # replace) + WHEN NOT MATCHED INSERT *. allowMissingColumns
            # realizes both evolution directions: table rows gain NULL
            # for added columns, narrow batches (opted in) NULL the rest.
            merged = existing.join(u, on=keys, how="left_anti").unionByName(
                u, allowMissingColumns=True
            )
        else:
            merged = u
        merged.write.partitionBy(_BUCKET).parquet(os.path.join(self.root, vdir))

        buckets = dict(manifest["buckets"])
        for b in self._buckets_in(vdir):
            buckets[str(b)] = vdir
        self._commit_or_cleanup(
            {"version": new_version, "keys": keys, "n_buckets": nb,
             "buckets": buckets},
            expected_version=expected,
            vdir=vdir,
        )
        return new_version

    def delete_where(self, condition) -> int:
        """COW delete: rewrite every bucket that holds a matching row
        without the matching rows. Buckets with no match are untouched."""
        manifest = self._read_manifest()
        expected = manifest["version"]
        new_version = expected + 1
        vdir = self._new_vdir(new_version)

        keys, nb = manifest["keys"], manifest["n_buckets"]
        all_buckets = [int(b) for b in manifest["buckets"]]
        current = self.spark.read.option("mergeSchema", "true").parquet(
            *self._bucket_paths(manifest, all_buckets)
        ).withColumn(_BUCKET, _bucket_expr(keys, nb))
        touched = sorted(
            r[_BUCKET]
            for r in current.filter(condition).select(_BUCKET).distinct().collect()
        )
        if not touched:
            return expected  # nothing to delete; no new version
        survivors = (
            self.spark.read.option("mergeSchema", "true")
            .parquet(*self._bucket_paths(manifest, touched))
            .withColumn(_BUCKET, _bucket_expr(keys, nb))
            .filter(~condition)
        )
        survivors.write.partitionBy(_BUCKET).parquet(
            os.path.join(self.root, vdir)
        )
        buckets = dict(manifest["buckets"])
        kept = set(self._buckets_in(vdir))
        for b in touched:
            if b in kept:
                buckets[str(b)] = vdir
            else:
                del buckets[str(b)]  # bucket emptied entirely
        self._commit_or_cleanup(
            {"version": new_version, "keys": manifest["keys"],
             "n_buckets": manifest["n_buckets"], "buckets": buckets},
            expected_version=expected,
            vdir=vdir,
        )
        return new_version

    # ------------------------------------------------------- CDC / layout
    def _manifest_at(self, version: int) -> dict:
        manifest = self._read_manifest()
        if version == manifest["version"]:
            return manifest
        older = os.path.join(self.root, f"_manifest_v{version}.json")
        with open(older) as fh:
            return json.load(fh)

    def table_changes(
        self,
        v_from: int,
        v_to: int | None = None,
        include_values: bool = False,
    ) -> DataFrame:
        """Change-data-feed between two committed versions: one row per
        key that was added / removed / changed, classified by
        ``diff_status`` (the Delta CDF contract, derived rather than
        stored). Scale design: the manifests name exactly which buckets
        changed owners between the versions, so ONLY those bucket
        directories are read on either side — a 100 TB table that
        absorbed a 1 GB merge diffs ~25 GB, not 2 x 100 TB. Unchanged
        buckets are byte-identical by construction (copy-on-write) and
        contribute no rows. Within the changed buckets a full-outer diff
        (``operators.joins.snapshot_diff``) does the classification and
        unchanged rows are filtered out."""
        from ..operators.joins import snapshot_diff

        m_to = self._manifest_at(
            v_to if v_to is not None else self.version()
        )
        m_from = self._manifest_at(v_from)
        keys = m_from["keys"]
        owners_from, owners_to = m_from["buckets"], m_to["buckets"]
        changed = sorted(
            int(b)
            for b in set(owners_from) | set(owners_to)
            if owners_from.get(b) != owners_to.get(b)
        )
        empty = self.spark.createDataFrame(
            [], self.read(m_to["version"]).schema
        )
        before_paths = self._bucket_paths(m_from, changed)
        after_paths = self._bucket_paths(m_to, changed)
        before = (
            self.spark.read.option("mergeSchema", "true").parquet(*before_paths)
            if before_paths
            else empty
        )
        after = (
            self.spark.read.option("mergeSchema", "true").parquet(*after_paths)
            if after_paths
            else empty
        )
        # columns added by a later merge don't exist in the before-side
        # files: align them as NULL so the diff classifies a changed value
        # in an added column as 'changed', not a schema error
        for c in after.columns:
            if c not in before.columns:
                before = before.withColumn(
                    c, F.lit(None).cast(after.schema[c].dataType)
                )
        compare = [c for c in after.columns if c not in keys and c != _BUCKET]
        return snapshot_diff(
            before.drop(_BUCKET),
            after.drop(_BUCKET),
            keys,
            compare,
            include_values=include_values,
        ).filter(F.col("diff_status") != "unchanged")

    def restore(self, version: int) -> int:
        """RESTORE: roll the table back to ``version`` as a NEW commit —
        the current manifest's bucket pointers are replaced by the old
        version's, nothing is copied or rewritten (Delta's RESTORE
        semantics: history moves forward, data directories are reused by
        reference). Fails if the target version's directories have been
        vacuumed away. Optimistic-commit protected like every other
        write. Returns the new version."""
        manifest = self._read_manifest()
        expected = manifest["version"]
        if version == expected:
            return expected
        try:
            target = self._manifest_at(version)
        except FileNotFoundError:
            raise ValueError(
                f"cannot restore to v{version}: its manifest was vacuumed"
            ) from None
        missing = [
            p
            for p in self._bucket_paths(
                target, [int(b) for b in target["buckets"]]
            )
            if not os.path.isdir(p)
        ]
        if missing:
            raise ValueError(
                f"cannot restore to v{version}: {len(missing)} bucket "
                f"directories vacuumed (first: {missing[0]})"
            )
        new_version = expected + 1
        self._commit(
            {
                "version": new_version,
                "keys": target["keys"],
                "n_buckets": target["n_buckets"],
                "buckets": dict(target["buckets"]),
            },
            expected_version=expected,
        )
        return new_version

    def compact(self, max_files_per_bucket: int = 1) -> int:
        """OPTIMIZE: rewrite fragmented buckets (more than
        ``max_files_per_bucket`` parquet files — the residue of many
        small merges) into one file each, as a new committed version with
        byte-identical rows. The repartition hashes on the bucket column,
        so every fragmented bucket lands wholly in one task → exactly one
        output file per bucket directory. Unfragmented buckets carry
        forward by manifest reference, unread and unwritten; readers on
        the old version are unaffected (copy-on-write). Returns the new
        version (or the current one when nothing is fragmented)."""
        manifest = self._read_manifest()
        expected = manifest["version"]
        keys, nb = manifest["keys"], manifest["n_buckets"]
        frag = []
        for b in manifest["buckets"]:
            d = os.path.join(
                self.root, manifest["buckets"][b], f"{_BUCKET}={b}"
            )
            n_files = sum(
                1 for f in os.listdir(d)
                if f.endswith(".parquet") and not f.startswith("_")
            )
            if n_files > max_files_per_bucket:
                frag.append(int(b))
        if not frag:
            return expected
        new_version = expected + 1
        vdir = self._new_vdir(new_version)
        (
            self.spark.read.option("mergeSchema", "true")
            .parquet(*self._bucket_paths(manifest, frag))
            .withColumn(_BUCKET, _bucket_expr(keys, nb))
            .repartition(len(frag), F.col(_BUCKET))
            .write.partitionBy(_BUCKET)
            .parquet(os.path.join(self.root, vdir))
        )
        buckets = dict(manifest["buckets"])
        for b in self._buckets_in(vdir):
            buckets[str(b)] = vdir
        self._commit_or_cleanup(
            {"version": new_version, "keys": keys, "n_buckets": nb,
             "buckets": buckets},
            expected_version=expected,
            vdir=vdir,
        )
        return new_version

    def vacuum(self, keep_versions: int = 0) -> list[str]:
        """Physically delete version directories no bucket in the current
        manifest (or the ``keep_versions`` most recent superseded
        manifests) references, and drop the superseded manifest files
        older than that horizon — the storage-reclaim half of the
        copy-on-write contract. Time travel works up to the horizon and
        raises beyond it, exactly like Delta's VACUUM. Never touches the
        current version. Returns the deleted directory names."""
        import shutil

        manifest = self._read_manifest()
        current = manifest["version"]
        keep_manifests = [manifest]
        horizon = current - 1
        while horizon >= 0 and len(keep_manifests) <= keep_versions:
            keep_manifests.append(self._manifest_at(horizon))
            horizon -= 1
        live = {
            vdir for m in keep_manifests for vdir in m["buckets"].values()
        }
        deleted = []
        for entry in sorted(os.listdir(self.root)):
            path = os.path.join(self.root, entry)
            if entry.startswith("v_") and entry not in live:
                shutil.rmtree(path)
                deleted.append(entry)
            elif entry.startswith("_manifest_v"):
                v = int(entry[len("_manifest_v"):-len(".json")])
                if v <= horizon:
                    os.remove(path)
        return deleted
