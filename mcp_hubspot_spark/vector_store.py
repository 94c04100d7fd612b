"""Date-partitioned vector store (SURVEY §2.9 V2/V3/V6, §2.1 S13-S15).

The reference keeps one FAISS ``IndexFlatL2`` + JSON metadata sidecar per
calendar day, appends eagerly, deletes partitions older than 7 days at
startup, and searches the union of retained days with per-day top-k + global
merge (reference ``faiss_manager.py:26-27,41-61,90-104,221-296``).

Spark-first translation: ONE parquet (or Delta) table partitioned by
``date``. Appending is a partitioned write, or one file written in the
driver for an Arrow table; retention is partition pruning + physical
partition delete. Vectors and metadata live in the same rows, so the
positional index/sidecar alignment the reference keeps by hand can't drift.

Search reads only the retained days. A small read (at most
``local_serve.LOCAL_READ_MAX_BYTES`` of files) is answered in the driver
with pyarrow + numpy and launches no Spark job, as the reference's
in-process flat search does; a larger one runs the brute-force k-NN plan,
whose date filter prunes partitions at planning time. Both return the
same rows bit for bit (:mod:`.local_serve`).

At 100 TB: the date partitioning bounds every query's scan to the retention
window; within a day, files are splittable so the distance scan parallelizes
across the cluster; only k rows per task reach the driver merge.
"""

from __future__ import annotations

import logging
import shutil
import time
import uuid
from collections.abc import Sequence
from datetime import date
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from . import durable, local_serve
from .operators.topk import grouped_top_k
from .operators.vector import _knn_exprs, _nearest_first, knn

# ``date`` is the partition directory; the other columns are the files'
STORE_SCHEMA = T.StructType([
    T.StructField("date", T.DateType()),
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
    T.StructField("type", T.StringType()),
    T.StructField("data_json", T.StringType()),
    T.StructField("extras", T.MapType(T.StringType(), T.StringType())),
])

log = logging.getLogger(__name__)


class VectorStore:
    """Append / retain / search over a date-partitioned embeddings table."""

    def __init__(self, spark: SparkSession, path: str, max_days: int = 7):
        self.spark = spark
        self.path = str(path)
        self.max_days = max_days  # reference faiss_manager.py:15 (max_days=7)

    # ------------------------------------------------------------- write

    def add(self, rows: DataFrame | pa.Table, as_of: date | None = None) -> None:
        """Append rows (V3, faiss_manager.py:221-252). Rows without a
        ``date`` column are stamped with ``as_of`` (defaults to today) —
        the reference always appends to today's partition.

        Column presence is validated up front — FAISS rejects malformed
        adds at add() time (wrong dim raises); a schemaless append here
        would instead poison every later search. Rows are also CAST to the
        canonical store schema (embedding array<float>, vec_id long) so an
        array<double> append can't fork the on-disk schema between the
        empty-store and populated-store states. A ``pa.Table`` (no ``date``
        column) is written in the driver as one parquet file; a DataFrame
        is a Spark write. Each call logs root, days, rows, path, seconds."""
        t0 = time.perf_counter()
        local = isinstance(rows, pa.Table)
        names = rows.column_names if local else rows.columns
        missing = set(STORE_SCHEMA.names[1:]) - set(names)
        if missing:
            raise ValueError(f"vector store add() missing columns: {sorted(missing)}")
        stamp = (as_of or date.today()).isoformat()
        if local:
            if "date" in names:
                raise ValueError("a pa.Table append is stamped with as_of, not a date column")
            file_schema = to_arrow_schema(T.StructType(STORE_SCHEMA.fields[1:]))
            table = rows.select(file_schema.names).cast(file_schema)
            days, n = [stamp], table.num_rows
            part = Path(self.path) / f"date={stamp}" / f"part-{uuid.uuid4().hex}.parquet"
            if n:  # zstd: the codec the session writes parquet with
                with durable.replacing(part) as tmp:
                    pq.write_table(table, tmp, compression="zstd")
        else:
            before = set(self._data_files())
            out = rows if "date" in names else rows.withColumn("date", F.lit(stamp))
            out.select(
                *(F.col(f.name).cast(f.dataType).alias(f.name) for f in STORE_SCHEMA)
            ).write.mode("append").partitionBy("date").parquet(self.path)
            new = set(self._data_files()) - before
            days = sorted({Path(f).parent.name[5:] for f in new})
            n = sum(pq.read_metadata(f).num_rows for f in new)
        log.info("VectorStore.add at %s: %d rows into date=%s, %s path, in %.3f s",
                 self.path, n, ",".join(days), "local" if local else "spark",
                 time.perf_counter() - t0)

    def _data_files(self, days: Sequence[str] | None = None) -> list[str]:
        """The data files of the ``days`` partitions (default: all)."""
        root = Path(self.path)
        dirs = root.glob("date=*") if days is None else (root / f"date={d}" for d in days)
        return local_serve.data_files(dirs)

    # ----------------------------------------------------------- read

    def load(self) -> DataFrame:
        """All rows; an empty/nonexistent store is an EMPTY frame, not an
        error — the reference returns ([], []) when no index has data
        (faiss_manager.py:264-268 skips ntotal==0 days)."""
        if not self._present_dates():
            return self.spark.createDataFrame([], STORE_SCHEMA)
        return self.spark.read.option("basePath", self.path).parquet(self.path)

    def _present_dates(self, as_of: date | None = None) -> list[str]:
        """ISO dates of partitions holding a data file (an empty ``date=``
        directory is no day), newest first, bounded above by ``as_of``
        when given. Driver-side directory listing — the same metadata walk
        Spark's own partition discovery performs, never a data scan."""
        days = sorted({Path(f).parent.name[5:] for f in self._data_files()}, reverse=True)
        if as_of is not None:
            days = [d for d in days if d <= as_of.isoformat()]
        return days

    def retained(self, as_of: date | None = None) -> DataFrame:
        """Rows of the newest ``max_days`` date partitions PRESENT in the
        store (V6, faiss_manager.py:87-104). The reference retains the
        newest ``max_days`` per-day index *files* regardless of calendar
        gaps — after a week idle it still searches the 7 newest existing
        days — so retention here is rank-by-recency over present
        partitions, not a calendar cutoff. The isin() filter is on the
        partition column, so Spark prunes everything else at planning
        time."""
        keep = self._present_dates(as_of)[: self.max_days]
        return self.load().filter(F.col("date").isin(keep))

    # ----------------------------------------------------- maintenance

    def expire(self, as_of: date | None = None) -> list[str]:
        """Physically delete everything older than the newest ``max_days``
        partitions present (the reference unlinks all but the newest
        ``max_days`` per-day index files at startup,
        faiss_manager.py:151-172). With plain parquet this is a
        directory-level partition drop; with Delta it would be
        ``DELETE WHERE`` + VACUUM."""
        keep = set(self._present_dates(as_of)[: self.max_days])
        removed: list[str] = []
        root = Path(self.path)
        horizon = as_of.isoformat() if as_of is not None else None
        for part in sorted(root.glob("date=*")):
            day = part.name.split("=", 1)[1]
            # partitions newer than as_of are out of scope for a sweep
            # anchored in the past (test affordance), never deleted
            if day not in keep and (horizon is None or day <= horizon):
                shutil.rmtree(part)
                removed.append(day)
        return removed

    # ----------------------------------------------------------- search

    def search(
        self,
        query_vec: Sequence[float],
        k: int = 10,
        as_of: date | None = None,
        types: Sequence[str] | None = None,
    ) -> DataFrame:
        """Exact k-NN over all retained partitions (V4/V5,
        faiss_manager.py:254-296): distance → top-k by (distance, vec_id)
        → rank + similarity=1-d/2. Answered in the driver when the
        retained days' files are small (:mod:`.local_serve`), else by the
        partition-pruned Spark plan."""
        files = self._data_files(self._present_dates(as_of)[: self.max_days])
        if local_serve.use_local(f"VectorStore.search at {self.path}", files):
            result = self._search_local(query_vec, k, types, files)
        else:
            result = self._search_spark(query_vec, k, as_of, types)
        return local_serve.answer(self.spark, result)

    _SEARCH_SCHEMA = pa.schema([
        local_serve.RANK,
        ("vec_id", pa.int64()),
        ("distance", pa.float64()),
        ("similarity", pa.float64()),
        ("type", pa.string()),
        ("data_json", pa.string()),
    ])

    def _search_local(
        self,
        query_vec: Sequence[float],
        k: int,
        types: Sequence[str] | None,
        files: Sequence[str],
    ) -> pa.Table:
        """``search`` over the retained days' ``files``, in the driver."""
        cols = {
            "vec_id": pa.int64(),
            "type": pa.string(),
            "data_json": pa.string(),
            "embedding": pa.list_(pa.float64()),
        }
        rows = local_serve.read(files, list(cols), cast=cols)
        if rows is None:
            rows = pa.schema(list(cols.items())).empty_table()
        if types:
            rows = rows.filter(
                pc.is_in(rows["type"], value_set=pa.array(list(types), pa.string()))
            )
        X, valid = local_serve.vectors(rows["embedding"], len(query_vec))
        dist, sim = local_serve.knn_scores(X, valid, query_vec, "l2")
        top = local_serve.top_k(dist, rows["vec_id"], k, null=~valid)
        return pa.Table.from_arrays(
            [
                local_serve.rank_column(len(top)),
                rows["vec_id"].take(top),
                local_serve.nullable(dist[top], ~valid[top]),
                local_serve.nullable(sim[top], ~valid[top]),
                rows["type"].take(top),
                rows["data_json"].take(top),
            ],
            schema=self._SEARCH_SCHEMA,
        )

    def _search_spark(
        self,
        query_vec: Sequence[float],
        k: int,
        as_of: date | None,
        types: Sequence[str] | None,
    ) -> DataFrame:
        """``search`` as a Spark plan: partition-pruned scan → distance →
        per-partition top-k → global merge."""
        base = self.retained(as_of)
        if types:
            base = base.filter(F.col("type").isin(list(types)))
        base = base.select(
            "vec_id",
            "type",
            "data_json",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
        # metadata rides through the top-k as extra id columns: no second
        # scan and no re-join on vec_id (which is not guaranteed unique
        # across appends — a join would fan hits out past k rows)
        hits = knn(
            base, query_vec, k=k, vec_col="embedding",
            id_cols=("vec_id", "type", "data_json"),
        )
        return hits.select(
            "rank", "vec_id", "distance", "similarity", "type", "data_json"
        )


class IvfIndex:
    """Persisted IVF index: the scale complement to ``VectorStore``'s
    exact scan. ``build()`` trains centroids once (MLlib KMeans on a
    sample), assigns every vector to its nearest cell, and writes the
    table PARTITIONED BY cell_id with the centroids alongside;
    ``search()`` picks the nprobe nearest centroids driver-side (tiny,
    bounded) and reads ONLY those cells — nprobe/n_cells becomes a
    physical-IO fraction, the same reason FAISS IVF beats flat scan
    (reference ``faiss_manager.py`` uses IndexFlatL2; this is the upgrade
    path its per-day sharding gestures at). Probed cells of at most
    ``local_serve.LOCAL_READ_MAX_BYTES`` are ranked in the driver with
    pyarrow + numpy and launch no Spark job; larger probes, ``where``
    filters, ``search_pq`` and ``search_batch`` run as Spark plans whose
    partition pruning does the same selection. Build once / query many:
    the index cost is amortized across every subsequent query, unlike
    the in-query training path (``workload.ivf_search``) which exists
    for oracle-checkability.

    The mutators (build/add/delete/compact) are single-writer under
    :mod:`.durable`'s lock; searches take no lock.
    """

    LOCK_TIMEOUT_S = 120.0  # override per-instance for tests

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.root = Path(str(path))

    def _cells(self) -> DataFrame:
        """The cell table, with its ``cell_id`` partition column."""
        cells = str(self.root / "cells")
        return self.spark.read.option("basePath", cells).parquet(cells)

    def _recover_leftovers(self) -> None:
        """Reader-side recovery: a hard-crashed swap can leave a cell's
        only rows under ``_swap_backup``; restore them (lock-guarded,
        non-blocking) so a post-crash read sees the full index."""
        if (self.root / "_swap_backup").exists():
            durable.recover_if_idle(self)

    def _recover(self) -> None:
        """Restore any cell whose ONLY copy survives under
        ``_swap_backup`` — the leftover of a hard crash between
        :meth:`_swap_cells`'s backup rename and its move-in. A cell dir
        present both live and in the backup means the move-in completed
        (or never started); the live copy wins and the backup is stale.
        Runs under the mutation lock (``durable.mutator``) before every
        mutation, and from ``search``/``lookup`` only when no live writer
        holds the lock (``durable.recover_if_idle``): a restore racing a
        live writer's move-in would collide with it."""
        import os as _os

        bak_root = self.root / "_swap_backup"
        if not bak_root.exists():
            return
        cells_root = self.root / "cells"
        for bak in bak_root.glob("cell_id=*"):
            live = cells_root / bak.name
            if not live.exists():
                _os.rename(bak, live)  # crash leftover: restore

    # ----------------------------------------------------------- metric
    _META = "meta.json"

    def _meta_dict(self) -> dict:
        """Parsed meta.json, failing LOUD when it still carries the
        ``building`` sentinel :meth:`build` sets before touching any
        data file. A rebuild that crashed mid-flight leaves the
        directory mixing epochs (e.g. the OLD index's rotated cells
        with no surviving ``opq`` claim, or new centroids over old
        cells) — serving that silently returns wrong neighbors, so
        every meta reader raises instead and the caller rebuilds."""
        import json

        p = self.root / self._META
        if not p.exists():
            return {}
        meta = json.loads(p.read_text())
        if meta.get("building"):
            raise RuntimeError(
                f"IvfIndex at {self.root}: meta.json carries the "
                "'building' sentinel — a build() was interrupted and "
                "the data files may mix old and new index epochs "
                "(e.g. rotated cells with no opq claim). Rebuild the "
                "index before serving."
            )
        return meta

    def metric(self) -> str:
        """The index's distance metric ("l2" or "cosine"), persisted by
        build(); indexes from before the metric existed read as l2."""
        return self._meta_dict().get("metric", "l2")

    @staticmethod
    def _normalized(df: DataFrame, vec_col: str) -> DataFrame:
        """L2-normalize the vector column (cosine indexes store unit
        vectors — the FAISS IndexFlatIP-on-normalized convention — so
        the cell geometry and the scoring agree). Zero vectors stay
        as-is rather than becoming NULL/NaN."""
        v = F.col(vec_col)
        norm = F.sqrt(
            F.aggregate(
                F.transform(v, lambda x: x * x),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        )
        unit = F.when(
            norm > 0, F.transform(v, lambda x: x / norm)
        ).otherwise(v)
        return df.withColumn(vec_col, unit)

    def _pq_meta(self) -> dict | None:
        """The index's PQ config ({"m", "codes"}) or None when built
        without product quantization."""
        return self._meta_dict().get("pq")

    def _opq_meta(self) -> bool:
        """Whether the index was built with the OPQ pretransform
        (meta "opq": everything on disk lives in rotated space)."""
        return bool(self._meta_dict().get("opq"))

    def _load_rotation(self) -> list[list[float]]:
        cached = getattr(self, "_rot_cache", None)
        if cached is not None:
            return cached
        rows = self.spark.read.parquet(
            str(self.root / "opq_rotation")
        ).collect()  # d rows of d doubles — bounded by design
        self._rot_cache = [
            [float(x) for x in r.row]
            for r in sorted(rows, key=lambda r: int(r.i))
        ]
        return self._rot_cache

    def _load_codebooks(self) -> list[list[list[float]]]:
        # cached per instance: reloading m*codes rows per query would add
        # a second Spark job to a serving path _probe keeps at one job;
        # build() invalidates (codebooks change only on rebuild)
        cached = getattr(self, "_cb_cache", None)
        if cached is not None:
            return cached
        rows = self.spark.read.parquet(
            str(self.root / "pq_codebooks")
        ).collect()  # m * codes rows — bounded by design
        by_m: dict[int, dict[int, list[float]]] = {}
        for r in rows:
            by_m.setdefault(int(r.m), {})[int(r.code)] = [
                float(x) for x in r.centroid
            ]
        self._cb_cache = [
            [by_m[mi][c] for c in sorted(by_m[mi])] for mi in sorted(by_m)
        ]
        return self._cb_cache

    @durable.mutator
    def build(
        self,
        df: DataFrame,
        n_cells: int = 16,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        sample_fraction: float | None = None,
        metric: str = "l2",
        pq_m: int | None = None,
        pq_codes: int = 256,
        pq_residual: bool = False,
        pq_opq: bool | None = None,
    ) -> None:
        """Train + assign + write. With ``pq_m`` set, the index is an
        IVFPQ: per-subvector codebooks (m subquantizers x pq_codes
        codes) are trained on the same (optionally sampled) corpus and
        every stored row carries its ``pq_code`` array<int> next to the
        vector — codes ride the same cell partitions, survive
        delete/compact rewrites unchanged (full-row swaps), and let
        ``search_pq`` scan 8-byte-ish codes instead of the embedding
        column. For cosine indexes codebooks are trained on the stored
        UNIT vectors, so L2 ADC ranking equals cosine ranking.
        ``pq_residual=True`` trains/encodes on the residual
        ``v − assigned centroid`` — the FAISS IVFPQ construction
        (better recall at equal m on clustered corpora); serving builds
        per-probed-cell query tables from the query residual.
        ``pq_opq=True`` (requires pq_m) trains a parametric OPQ
        rotation and builds the ENTIRE index in rotated space — the
        FAISS ``OPQ,IVF,PQ`` pretransform composition: stored vectors,
        centroids, and codebooks are all rotated (one expression-side
        matmul folded into the build scan; queries rotate driver-side
        in _probe), so exact search results are unchanged (orthogonal
        invariance, pytest-pinned) while PQ codes stop wasting entropy
        on correlated/unbalanced subspaces. Composes with
        ``pq_residual`` (rotate first, residual in rotated space).

        The default (``pq_opq=None``) resolves to True for FLAT
        (non-residual) PQ indexes and False otherwise — the
        data-backed default (r12 verdict #6): on the SCALE_r12 decaying
        spectrum corpus, flat-PQ raw recall@10 was 0.1125 vs 0.625
        with the OPQ rotation at identical serving cost — a recall
        cliff no default should sit under. Residual encoding already
        concentrates the subquantizers on within-cell offsets
        (ivfpq_residual rows), so residual builds keep rotation
        opt-in; pass ``pq_opq=False`` explicitly to measure raw flat
        codebooks (diagnostic)."""
        from .operators.vector import (
            assign_cells_literal,
            pq_encode_matmul,
            pq_train_codebooks,
            train_centroids,
        )

        if metric not in ("l2", "cosine"):
            raise ValueError(f"unknown metric: {metric}")
        if pq_opq is None:
            pq_opq = pq_m is not None and not pq_residual
        if pq_opq and pq_m is None:
            raise ValueError("pq_opq requires pq_m (rotation exists "
                             "to balance PQ subspaces)")
        if metric == "cosine":
            df = self._normalized(
                df.select(
                    id_col,
                    F.col(vec_col).cast("array<double>").alias(vec_col),
                ),
                vec_col,
            )
        self._cb_cache = None  # rebuild replaces any cached codebooks
        self._rot_cache = None
        # Crash-ordering discipline: meta is written first with a
        # "building" sentinel, and the pq / opq claims land in ONE
        # final rewrite — WITHOUT the sentinel — only after EVERY data
        # file (rotation, cells, centroids, codebooks) is on disk.
        # Claiming early is worse than a missing file: a REBUILD that
        # crashes after writing meta{opq} but before the rotated cells
        # land would leave serving silently rotating queries against
        # the OLD unrotated cells — wrong neighbors, no error. The
        # sentinel closes the MIRROR hazard: a rebuild of an existing
        # OPQ index that crashes after stripping the old meta but
        # before new cells land would otherwise serve the OLD rotated
        # cells as if unrotated (again wrong neighbors, no error) —
        # with the sentinel every meta reader (_meta_dict) fails loud
        # until a build completes.
        meta: dict = {"metric": metric}
        durable.write_json(self.root / self._META, {**meta, "building": True})
        if pq_opq:
            from .operators.vector import (
                pq_train_opq_rotation,
                rotate_expr,
            )

            rotation = pq_train_opq_rotation(
                df,
                m=pq_m,
                vec_col=vec_col,
                sample_fraction=sample_fraction,
            )
            # withColumn (not select): metadata columns ride into the
            # cells exactly as they do on the un-rotated l2 path
            df = df.withColumn(
                vec_col,
                rotate_expr(
                    F.col(vec_col).cast("array<double>"), rotation
                ),
            )
            self.spark.createDataFrame(
                [(i, row) for i, row in enumerate(rotation)],
                "i int, row array<double>",
            ).coalesce(1).write.mode("overwrite").parquet(
                str(self.root / "opq_rotation")
            )
        cents = train_centroids(
            df, n_cells, vec_col=vec_col, sample_fraction=sample_fraction
        )
        cent_rows = [
            (int(r.cell_id), [float(x) for x in r.centroid])
            for r in cents.collect()  # n_cells rows — bounded by design
        ]
        # literal centroids → per-row argmin expression, ZERO shuffle on
        # the vector table; the only wide op in build is the partitioned
        # write itself. Assignment uses the index's OWN metric so the
        # probe-side cell ranking (same _cell_distance) agrees with it.
        assigned = assign_cells_literal(
            df, cent_rows, vec_col=vec_col, metric=metric
        )
        if pq_m is not None:
            if pq_residual:
                # real-IVFPQ construction: train AND encode on the
                # residual (v − assigned coarse centroid) — residuals
                # concentrate around 0 regardless of which cell a
                # vector lives in, so the m subquantizers model one
                # tight distribution instead of the union of all cell
                # neighborhoods: measurably better recall at equal m on
                # clustered corpora (raw-encoding twin kept for
                # comparability; see SCALE recall rows). The residual
                # is a zero-shuffle expression over (vector, cell_id).
                from .operators.vector import residual_expr

                with_res = assigned.withColumn(
                    "_res", residual_expr(vec_col, cent_rows)
                )
                cbs = pq_train_codebooks(
                    with_res,
                    m=pq_m,
                    k=pq_codes,
                    vec_col="_res",
                    sample_fraction=sample_fraction,
                )
                assigned = pq_encode_matmul(
                    with_res, cbs, vec_col="_res"
                ).drop("_res")
            else:
                cbs = pq_train_codebooks(
                    df,
                    m=pq_m,
                    k=pq_codes,
                    vec_col=vec_col,
                    sample_fraction=sample_fraction,
                )
                assigned = pq_encode_matmul(assigned, cbs, vec_col=vec_col)
            cb_rows = [
                (mi, ci, cent)
                for mi, cb in enumerate(cbs)
                for ci, cent in enumerate(cb)
            ]
            self.spark.createDataFrame(
                cb_rows, "m int, code int, centroid array<double>"
            ).coalesce(1).write.mode("overwrite").parquet(
                str(self.root / "pq_codebooks")
            )
        (
            assigned.write.mode("overwrite")
            .partitionBy("cell_id")
            .parquet(str(self.root / "cells"))
        )
        self.spark.createDataFrame(
            cent_rows, "cell_id int, centroid array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(str(self.root / "centroids"))
        # the FINAL meta rewrite: pq / opq claims appear only now that
        # every data file they describe is on disk (see the ordering
        # comment above)
        if pq_m is not None:
            meta["pq"] = {
                "m": int(pq_m),
                "codes": int(pq_codes),
                "residual": bool(pq_residual),
            }
        if pq_opq:
            meta["opq"] = True
        durable.write_json(self.root / self._META, meta)
        # a REBUILD invalidates an exported manifest (new centroids, new
        # cell files): refresh it like add() does, or a server would probe
        # with stale centroids against overwritten files
        if (self.root / "manifest.json").exists():
            self.export_manifest()

    @durable.mutator
    def add(
        self,
        df: DataFrame,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> None:
        """Incremental ingest into a built index: assign new vectors to
        the FROZEN centroids (the same literal-argmin expression as
        build — zero shuffle on the new batch) and append to the cell
        partition directories. This is the train/add split FAISS IVF
        uses (reference ``faiss_manager.py`` appends daily without
        retraining): centroids drift only across periodic ``build()``
        rebuilds, which is the standard maintenance contract. If a
        serving manifest has been exported it is refreshed so the file
        listing includes the appended cell files."""
        from .operators.vector import assign_cells_literal

        cents = self.spark.read.parquet(str(self.root / "centroids")).collect()
        if not cents:
            raise ValueError("IvfIndex.add() before build(): no centroids")
        cent_rows = [
            (int(r.cell_id), [float(x) for x in r.centroid]) for r in cents
        ]
        batch = df.select(id_col, vec_col)
        if self.metric() == "cosine":
            batch = self._normalized(
                batch.withColumn(
                    vec_col, F.col(vec_col).cast("array<double>")
                ),
                vec_col,
            )
        if self._opq_meta():
            # OPQ index: the whole index lives in rotated space —
            # rotate the batch with the FROZEN rotation before
            # assignment/encoding, exactly as build() did
            from .operators.vector import rotate_expr

            batch = batch.withColumn(
                vec_col,
                rotate_expr(
                    F.col(vec_col).cast("array<double>"),
                    self._load_rotation(),
                ),
            )
        assigned = assign_cells_literal(
            batch, cent_rows, vec_col=vec_col, metric=self.metric()
        )
        pq_meta = self._pq_meta()
        if pq_meta is not None:
            # PQ index: encode against the FROZEN codebooks (the same
            # train/add split the centroids get) so appended rows carry
            # codes like built rows do; a residual index subtracts the
            # frozen assigned centroid first, exactly as build() did
            from .operators.vector import pq_encode_matmul

            if pq_meta.get("residual"):
                from .operators.vector import residual_expr

                assigned = pq_encode_matmul(
                    assigned.withColumn(
                        "_res", residual_expr(vec_col, cent_rows)
                    ),
                    self._load_codebooks(),
                    vec_col="_res",
                ).drop("_res")
            else:
                assigned = pq_encode_matmul(
                    assigned, self._load_codebooks(), vec_col=vec_col
                )
        (
            assigned.write.mode("append")
            .partitionBy("cell_id")
            .parquet(str(self.root / "cells"))
        )
        if (self.root / "manifest.json").exists():
            self.export_manifest()

    # --------------------------------------------------- maintenance

    def _swap_cells(self, keep: DataFrame, affected: list[int]) -> None:
        """Rewrite the ``affected`` cell partitions from ``keep`` (which
        must carry cell_id), leaving every other cell's files untouched
        byte-for-byte: materialize to a temp dir FIRST (the source files
        stay readable during the write — no self-overwrite), then swap
        each affected partition dir. A cell with zero surviving rows is
        removed outright. Manifest refreshed if exported.

        Crash safety: the live cell dir is RENAMED to a backup (same
        filesystem — atomic) before the rewritten dir moves in, and only
        the backup is deleted once the move succeeded. An interruption
        between the two steps therefore leaves either the old cell in
        place or its backup restorable — never a window where the cell's
        surviving rows exist nowhere. Backups live under ``_swap_backup``
        OUTSIDE ``cells/`` so a crash leftover can never be picked up as
        a partition by later reads.

        Hard-crash recovery: a process kill between the backup rename
        and the move-in leaves a cell's only copy under ``_swap_backup``.
        Clearing the backup root below is safe only because the calling
        mutator already ran :meth:`_recover` under this lock hold — an
        rmtree before that restore would permanently delete those
        surviving rows."""
        import os as _os
        import shutil as _sh

        cells_root = self.root / "cells"
        tmp = self.root / "_rewrite_tmp"
        bak_root = self.root / "_swap_backup"
        _sh.rmtree(tmp, ignore_errors=True)
        _sh.rmtree(bak_root, ignore_errors=True)
        (
            keep.repartition(max(1, len(affected)), "cell_id")
            .write.mode("overwrite")
            .partitionBy("cell_id")
            .parquet(str(tmp))
        )
        bak_root.mkdir(parents=True, exist_ok=True)
        for cid in affected:
            dst = cells_root / f"cell_id={cid}"
            src = tmp / f"cell_id={cid}"
            bak = bak_root / f"cell_id={cid}"
            if dst.exists():
                _os.rename(dst, bak)  # same fs: atomic, no copy
            try:
                if src.exists():
                    _os.rename(src, dst)
            except BaseException:
                # put the live cell back before propagating: a failed
                # move must not lose the cell's surviving rows
                if not dst.exists() and bak.exists():
                    _os.rename(bak, dst)
                raise
            _sh.rmtree(bak, ignore_errors=True)
        _sh.rmtree(bak_root, ignore_errors=True)
        _sh.rmtree(tmp, ignore_errors=True)
        if (self.root / "manifest.json").exists():
            self.export_manifest()

    @durable.mutator
    def delete(self, ids, id_col: str = "vec_id") -> int:
        """Delete vectors by id — the removal side of the serving
        lifecycle (the reference expires whole daily FAISS partitions,
        ``faiss_manager.py:90-104``; the IVF analog is delete-by-id with
        a rewrite of ONLY the cells that contain the ids). ``ids`` is a
        Python sequence (literal IN-list, partition-friendly) or a
        DataFrame of ids (broadcast semi/anti joins) for large deletes.
        Untouched cells keep their exact files; the manifest, when
        exported, is refreshed so a server never probes removed rows.
        Returns the number of rows deleted."""
        base = self._cells()
        if isinstance(ids, DataFrame):
            col = id_col if id_col in ids.columns else ids.columns[0]
            ids_df = ids.select(F.col(col).alias(id_col)).distinct()
            hits = base.join(F.broadcast(ids_df), id_col, "left_semi")
        else:
            idlist = [int(i) for i in ids]
            if not idlist:
                return 0
            hits = base.filter(F.col(id_col).isin(idlist))
        per_cell = {
            int(r.cell_id): int(r.n)
            for r in hits.groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()  # bounded: one row per affected cell
        }
        if not per_cell:
            return 0
        affected = sorted(per_cell)
        keep = base.filter(F.col("cell_id").isin(affected))
        if isinstance(ids, DataFrame):
            keep = keep.join(F.broadcast(ids_df), id_col, "left_anti")
        else:
            keep = keep.filter(~F.col(id_col).isin(idlist))
        self._swap_cells(keep, affected)
        return sum(per_cell.values())

    @durable.mutator
    def compact(self, min_files: int = 2) -> list[int]:
        """Merge the small files repeated ``add()`` batches leave behind:
        every cell holding >= ``min_files`` parquet files is rewritten to
        a single file; cells below the threshold are not touched at all.
        Returns the compacted cell ids. The OPTIMIZE of this index."""
        cells_root = self.root / "cells"
        affected = sorted(
            int(d.name.split("=", 1)[1])
            for d in cells_root.glob("cell_id=*")
            if len(list(d.glob("*.parquet"))) >= min_files
        )
        if not affected:
            return []
        base = self._cells()
        self._swap_cells(base.filter(F.col("cell_id").isin(affected)), affected)
        return affected

    # ------------------------------------------------------- serving

    MANIFEST_FORMAT = "ivf-parquet/1"

    def export_manifest(self) -> dict:
        """Write ``manifest.json`` at the index root: metric, dim,
        centroids, and the per-cell parquet file listing (paths relative
        to the root). This is the ONLINE-SERVING handoff — an external
        server (the reference splits serving into its own FAISS process,
        ``faiss_manager.py``) can pick probe cells from the centroids and
        mmap exactly the listed files, without a Spark session and
        without re-deriving the partition layout from a directory walk.
        One bounded JSON: n_cells centroids + file names, never vectors.
        Replaced atomically, so a concurrent ``search`` (which reads it
        without the lock) never parses a half-written file."""
        cents = self.spark.read.parquet(str(self.root / "centroids")).collect()
        cells_root = self.root / "cells"
        cells: dict[str, list[str]] = {}
        for part in sorted(cells_root.glob("cell_id=*")):
            cid = int(part.name.split("=", 1)[1])
            cells[str(cid)] = sorted(
                str(f.relative_to(self.root)) for f in part.glob("*.parquet")
            )
        manifest = {
            "format": self.MANIFEST_FORMAT,
            "metric": self.metric(),
            "dim": len(cents[0].centroid) if cents else 0,
            "n_cells": len(cents),
            "centroids": {
                str(int(r.cell_id)): [float(x) for x in r.centroid]
                for r in cents
            },
            "cells": cells,
        }
        durable.write_json(self.root / "manifest.json", manifest)
        return manifest

    def read_manifest(self) -> dict | None:
        """The parsed ``manifest.json``, or None if never exported."""
        import json

        p = self.root / "manifest.json"
        if not p.exists():
            return None
        m = json.loads(p.read_text())
        if m.get("format") != self.MANIFEST_FORMAT:
            raise ValueError(f"unknown IVF manifest format: {m.get('format')!r}")
        return m

    def search(
        self,
        query_vec: Sequence[float],
        k: int = 10,
        nprobe: int = 2,
        vec_col: str = "embedding",
        id_cols: Sequence[str] = ("vec_id",),
        where=None,
    ) -> DataFrame:
        """Exact top-k over the ``nprobe`` cells nearest the query:
        (rank, *id_cols, distance, similarity). Without ``where``, probed
        cells of at most ``local_serve.LOCAL_READ_MAX_BYTES`` are ranked
        in the driver (no Spark job); otherwise the pruned Spark scan
        answers, with the same rows bit for bit.

        ``where`` (an optional Column predicate over the cell rows)
        makes this a filtered / hybrid search: the predicate applies
        INSIDE the pruned cell scan — pushed to the parquet reader when
        expressible — so metadata-filtered kNN costs the same IO as the
        unfiltered probe, never a post-join. Note the standard IVF
        caveat: a highly selective filter empties probed cells before k
        hits are found; raise nprobe for filtered queries."""
        return local_serve.answer(
            self.spark,
            self._serve(query_vec, k, nprobe, vec_col, id_cols, where),
        )

    def _serve(
        self,
        query_vec: Sequence[float],
        k: int = 10,
        nprobe: int = 2,
        vec_col: str = "embedding",
        id_cols: Sequence[str] = ("vec_id",),
        where=None,
    ):
        """``search``'s answer before wrapping: the local path's Arrow
        table or the Spark path's plan."""
        query_vec, probe, metric, _ = self._probe(query_vec, nprobe)
        files = self._cell_files(probe)
        if local_serve.use_local(f"IvfIndex.search at {self.root}", files, where):
            result = self._search_local(query_vec, metric, files, k, vec_col, id_cols)
            if result is not None:
                return result
        return self._search_spark(query_vec, probe, metric, k, vec_col, id_cols, where)

    def _cell_files(self, probe: Sequence[int]) -> list[str]:
        """The data files of the probed cells, listed from the cell
        directories: ``_swap_cells`` renames cells before it re-exports
        the manifest, so the manifest's file list can be stale."""
        cells = self.root / "cells"
        return local_serve.data_files(cells / f"cell_id={c}" for c in probe)

    def _search_local(
        self,
        query_vec: Sequence[float],
        metric: str,
        files: Sequence[str],
        k: int,
        vec_col: str = "embedding",
        id_cols: Sequence[str] = ("vec_id",),
    ) -> pa.Table | None:
        """``search`` over the probed cells' ``files``, in the driver.
        None when the index holds no cell file to type an answer with;
        the Spark path then raises its own error."""
        stored = [c for c in id_cols if c != "cell_id"]
        part = ["cell_id"] if "cell_id" in id_cols else []
        rows = local_serve.read(
            files, [*stored, vec_col],
            cast={vec_col: pa.list_(pa.float64())}, partition_cols=part,
        )
        if rows is None:
            schema = local_serve.schema_of(self.root / "cells", [*stored, vec_col])
            if schema is None:
                return None
            rows = schema.empty_table()
            for c in part:
                rows = rows.append_column(c, pa.array([], pa.int32()))
        X, valid = local_serve.vectors(rows[vec_col], len(query_vec))
        dist, sim = local_serve.knn_scores(X, valid, query_vec, metric)
        top = local_serve.top_k(dist, rows[id_cols[0]], k, null=~valid)
        fields = [rows.schema.field(c).with_nullable(True) for c in id_cols]
        return pa.Table.from_arrays(
            [
                local_serve.rank_column(len(top)),
                *[rows[c].take(top) for c in id_cols],
                local_serve.nullable(dist[top], ~valid[top]),
                local_serve.nullable(sim[top], ~valid[top]),
            ],
            schema=pa.schema([
                local_serve.RANK, *fields,
                ("distance", pa.float64()), ("similarity", pa.float64()),
            ]),
        )

    def _search_spark(
        self,
        query_vec: Sequence[float],
        probe: Sequence[int],
        metric: str,
        k: int,
        vec_col: str = "embedding",
        id_cols: Sequence[str] = ("vec_id",),
        where=None,
    ) -> DataFrame:
        """``search`` as a Spark plan over the partition-pruned cells."""
        pruned = self._pruned_cells(list(probe))
        if where is not None:
            pruned = pruned.filter(where)
        return knn(
            pruned.select(
                *id_cols, F.col(vec_col).cast("array<double>").alias(vec_col)
            ),
            query_vec,
            k=k,
            vec_col=vec_col,
            id_cols=id_cols,
            metric=metric,
        )

    def search_batch(
        self,
        queries: Sequence[tuple[int, Sequence[float]]],
        k: int = 10,
        nprobe: int = 2,
        vec_col: str = "embedding",
        id_cols: Sequence[str] = ("vec_id",),
    ) -> DataFrame:
        """Many queries against ONE pruned scan — the index-tier
        ``knn_batch`` (and the dense twin of ``TextIndex.search_batch``):
        every query's cells are ranked driver-side as ``search`` does
        (zero Spark jobs with a manifest), the scan prunes to the UNION
        of all probed cells, a tiny broadcast (query_id, cell_id) map
        restricts each candidate row to the queries that actually
        probed its cell (so a query never sees cells it didn't ask
        for — per-query results are EXACTLY ``search``'s, pytest-
        pinned), and ``grouped_top_k`` keeps each query's k nearest
        candidate rows by knn's distance expression. Returns
        (query_id, rank, *id_cols, distance, similarity) —
        ``search``'s schema plus the query id.

        Scale: one partition-pruned scan regardless of Q; both join
        sides against it are broadcast; the window input is bounded by
        |union cells| rows, never the index.
        """
        import math

        if not queries:
            raise ValueError("empty query batch")
        qcell_rows: list[tuple[int, int]] = []
        qvec_rows: list[tuple[int, list[float], float]] = []
        all_cells: set[int] = set()
        metric = "l2"
        for qid, vec in queries:
            qv, probe, metric, _ = self._probe(vec, nprobe)
            qid = int(qid)
            qcell_rows += [(qid, int(c)) for c in probe]
            # the same driver-folded query norm knn uses for cosine, so
            # batch arithmetic is bit-identical to the per-query path
            qn = math.sqrt(sum(x * x for x in qv))
            qvec_rows.append((qid, [float(x) for x in qv], qn))
            all_cells.update(int(c) for c in probe)
        qcells = self.spark.createDataFrame(
            qcell_rows, "query_id long, _qcell long"
        )
        qvecs = self.spark.createDataFrame(
            qvec_rows, "query_id long, _qv array<double>, _qn double"
        )
        pruned = self._pruned_cells(sorted(all_cells)).select(
            *id_cols,
            F.col(vec_col).cast("array<double>").alias(vec_col),
            F.col("cell_id").cast("long").alias("_cell"),
        )
        cand = pruned.join(
            F.broadcast(qcells), F.col("_cell") == F.col("_qcell")
        ).join(F.broadcast(qvecs), "query_id")
        dist, sim = _knn_exprs(
            F.col(vec_col), F.col("_qv"), F.col("_qn"), metric
        )
        scored = cand.select(
            "query_id", *id_cols, dist.alias("distance")
        )
        return grouped_top_k(
            scored, ["query_id"], _nearest_first(id_cols[0]), k
        ).select(
            "query_id", "rank", *id_cols, "distance", sim.alias("similarity")
        )

    def lookup(
        self,
        ids: Sequence,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """Bounded point-lookup of stored rows by id — the
        refinement-stage read (``search_pq``'s rerank runs the same
        shape inline over its probed cells). A document's cell is
        unknowable from its id alone, so this scans ALL cells with an
        ``isin`` filter (pushed to the parquet row-group stats); use it
        for BOUNDED id lists (shortlists, rerank candidates), never as
        a join side. Embeddings are cast to double (float→double is
        exact) so downstream arithmetic matches the batch operators'
        ``array<double>`` convention bit-for-bit."""
        self._recover_leftovers()
        ids = list(ids)
        if len(ids) > 10_000:
            raise ValueError(
                f"lookup() is a bounded point-lookup ({len(ids)} ids); "
                "join against the cells table for bulk reads"
            )
        return self._cells().filter(F.col(id_col).isin(ids)).select(
            id_col,
            F.col(vec_col).cast("array<double>").alias(vec_col),
        )

    def _probe(
        self, query_vec: Sequence[float], nprobe: int
    ) -> tuple[
        list[float], list[int], str, list[tuple[int, list[float]]]
    ]:
        """Shared serving front half: crash recovery, metric-matched
        query normalization, and driver-side cell ranking (zero Spark
        jobs when a manifest is exported). Returns the (possibly
        normalized) query, the nprobe cell ids to scan, the metric,
        and the probed cells' centroids (needed by the residual-PQ
        serving path, free to everyone else — they're already in
        hand). A query whose length is not the index's dimension
        raises ``ValueError``: ranking would otherwise see only a
        prefix of it, and every distance would be null."""
        import math

        self._recover_leftovers()
        metric = self.metric()
        # serving path: centroid selection from the manifest costs zero
        # Spark jobs (a query should only ever launch the ONE pruned-scan
        # job); the parquet centroids remain the source of truth when no
        # manifest has been exported
        manifest = self.read_manifest()
        if manifest is not None:
            cent_pairs = [
                (int(cid), vec) for cid, vec in manifest["centroids"].items()
            ]
        else:
            cent_pairs = [
                (int(r.cell_id), r.centroid)
                for r in self.spark.read.parquet(
                    str(self.root / "centroids")
                ).collect()
            ]
        query_vec = [float(x) for x in query_vec]
        if cent_pairs and len(query_vec) != len(cent_pairs[0][1]):
            raise ValueError(
                f"query has {len(query_vec)} dimensions; the index at "
                f"{self.root} has {len(cent_pairs[0][1])}"
            )
        if self._opq_meta():
            # rotate the query into the index's (rotated) space —
            # d x d driver-side matmul, trivial next to the scan
            rot = self._load_rotation()
            query_vec = [
                sum(w * x for w, x in zip(row, query_vec)) for row in rot
            ]
        if metric == "cosine":
            # the index stores unit vectors; normalize the query so the
            # cell-selection geometry matches the assignment geometry
            qn = math.sqrt(sum(x * x for x in query_vec))
            if qn > 0:
                query_vec = [x / qn for x in query_vec]
        # rank cells by the SAME _cell_distance geometry the rows were
        # assigned with (l2 → squared L2; cosine → 1-cos against the
        # non-unit mean centroid), so partial-nprobe probes the cells
        # the matching vectors actually live in
        def _centroid_dist(centroid) -> float:
            if metric == "cosine":
                dot = sum(float(a) * float(b) for a, b in zip(centroid, query_vec))
                cn = math.sqrt(sum(float(a) * float(a) for a in centroid))
                return 1.0 - (dot / cn if cn > 0 else 0.0)
            return sum(
                (float(a) - float(b)) ** 2
                for a, b in zip(centroid, query_vec)
            )

        scored = sorted(
            (_centroid_dist(centroid), cid) for cid, centroid in cent_pairs
        )
        assert all(math.isfinite(d) for d, _ in scored)
        probe = [cid for _, cid in scored[: max(1, nprobe)]]
        by_id = {int(cid): c for cid, c in cent_pairs}
        probed_cents = [
            (cid, [float(x) for x in by_id[cid]]) for cid in probe
        ]
        return query_vec, probe, metric, probed_cents

    def _pruned_cells(self, probe: list[int]) -> DataFrame:
        # literal IN-list on the partition column → planning-time pruning
        return self._cells().filter(F.col("cell_id").isin(probe))

    # Literal-vs-join switch for residual ADC serving, from the
    # SCALE_r10 characterization (200k rows, 8 queries, m=8): the
    # broadcast-join twin wins at EVERY measured table width — 8.05 vs
    # 9.05 s at 512 inlined doubles, 9.5 vs 17.4 s at 2048, 7.8 vs
    # 106.7 s at 16k, 15.9 vs 768 s at 131k (the literal's plan string
    # alone is 19 MB there) — because the 3-D literal costs O(doubles)
    # py4j lit-construction per query plus Catalyst re-walking the
    # whole tree per rule, while the join's fixed ~0.1 s/query
    # createDataFrame+broadcast overhead is flat in nprobe·codes.
    # search_pq therefore switches to the join twin above 512 doubles; at
    # or below that the two are within host-drift noise and the
    # literal's zero-extra-jobs single-expression plan is kept for the
    # smallest probes (and for SQL-oracle replayability, which is why
    # the literal path exists at all).
    ADC_LITERAL_MAX_DOUBLES = 512

    def search_pq(
        self,
        query_vec: Sequence[float],
        k: int = 10,
        nprobe: int = 2,
        rerank: int | None = None,
        vec_col: str = "embedding",
        id_cols: Sequence[str] = ("vec_id",),
        where=None,
    ) -> DataFrame:
        """IVFPQ serving (requires ``build(pq_m=...)``): probe cells as
        ``search`` does, but rank candidates by ASYMMETRIC distance over
        the stored ``pq_code`` column — the pruned scan reads ids +
        m-byte-ish codes, never the embedding column (the at-scale IO
        win: 64-d float32 rows shrink 32x at m=8/256).
        ``rerank=N`` runs the standard refinement: collect the bounded
        ADC top-N ids (≤ N rows), then ONE point-lookup scan of the same
        probed cells re-reads just those rows' embeddings for an exact
        top-k — two pruned scans total, the second touching ≤ N rows.
        For cosine indexes both stages run on unit vectors, so L2 ADC
        ordering equals cosine ordering and the exact stage returns the
        cosine-metric shaping.

        The default (``rerank=None``) derives ``max(20·k,
        4·k·nprobe)`` — the serving tier's 4x-shortlist pattern
        (serving.py hybrid_rrf_serve) grown with the probed-cell count.
        SCALE_r12's boundary-probe curves are the reason the default is
        NOT ADC-only: at rerank=200 (20·k at k=10) the PQ leg matches
        the exact leg's recall point-for-point at every measured nprobe
        (ivf_mid_recall_pq_rr200_np{1,2,4,8} == exact), while at
        rerank=0 recall is 0.025–0.475 and NON-monotone in nprobe —
        more probed cells flood a fixed ADC shortlist. The 4·k·nprobe
        term keeps the budget growing with nprobe so the flooding mode
        cannot reappear at large probe counts. ``rerank=0`` is
        DIAGNOSTIC-ONLY (raw ADC ordering, adc_distance output shape):
        use it to measure codebook quality, never to serve.

        On residual indexes the per-cell query tables reach the scan as
        one 3-D literal up to ``ADC_LITERAL_MAX_DOUBLES`` (nprobe·m·codes)
        and as a broadcast-joined nprobe-row table above it."""
        from .operators.vector import (
            pq_adc_topk,
            pq_adc_topk_residual,
            pq_adc_topk_residual_join,
        )

        pq_meta = self._pq_meta()
        if pq_meta is None:
            raise ValueError(
                "search_pq() on an index built without pq_m: "
                "rebuild with build(df, pq_m=..., pq_codes=...)"
            )
        if rerank is None:
            rerank = max(20 * k, 4 * k * max(1, int(nprobe)))
        if rerank and rerank < k:
            # a shortlist smaller than k would silently under-return
            raise ValueError(f"rerank ({rerank}) must be >= k ({k})")
        query_vec, probe, metric, probed_cents = self._probe(
            query_vec, nprobe
        )
        cbs = self._load_codebooks()
        pruned = self._pruned_cells(probe)
        if where is not None:
            pruned = pruned.filter(where)
        if pq_meta.get("residual"):
            # residual index: each probed cell ranks by a table built
            # from THIS cell's query residual; the scan still reads
            # (ids, cell_id, pq_code) only — cell_id is the partition
            # column, so it costs nothing extra
            n_doubles = (
                len(probed_cents) * len(cbs) * int(pq_meta["codes"])
            )
            residual_topk = (
                pq_adc_topk_residual_join
                if n_doubles > self.ADC_LITERAL_MAX_DOUBLES
                else pq_adc_topk_residual
            )
            adc = residual_topk(
                pruned.select(*id_cols, "cell_id", "pq_code"),
                cbs,
                query_vec,
                probed_cents,
                k=(rerank if rerank else k),
                id_cols=id_cols,
            )
        else:
            adc = pq_adc_topk(
                pruned.select(*id_cols, "pq_code"),
                cbs,
                query_vec,
                k=(rerank if rerank else k),
                id_cols=id_cols,
            )
        if not rerank:
            return adc.limit(k)
        short_rows = adc.collect()  # ≤ rerank rows
        if not short_rows:
            # empty shortlist → empty exact stage, keeping knn's schema
            cand = pruned.filter(F.lit(False))
        elif len(id_cols) == 1:
            cand = pruned.filter(
                F.col(id_cols[0]).isin([r[id_cols[0]] for r in short_rows])
            )
        else:
            # composite ids: filter on the FULL id tuple (an isin on the
            # first column alone would admit out-of-shortlist rows that
            # share its value into the exact stage). Bounded OR of ≤
            # rerank conjunctions — same literal-list scale as isin.
            import functools
            import operator as op

            clauses = [
                functools.reduce(
                    op.and_,
                    [F.col(c) == F.lit(r[c]) for c in id_cols],
                )
                for r in short_rows
            ]
            cand = pruned.filter(functools.reduce(op.or_, clauses))
        if where is not None:
            cand = cand.filter(where)
        return knn(
            cand.select(
                *id_cols, F.col(vec_col).cast("array<double>").alias(vec_col)
            ),
            query_vec,
            k=k,
            vec_col=vec_col,
            id_cols=id_cols,
            metric=metric,
        )
