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
from .operators.vector import knn

# ``date`` is the partition directory; the other columns are the files'
STORE_SCHEMA = T.StructType([
    T.StructField("date", T.DateType()),
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
    T.StructField("type", T.StringType()),
    T.StructField("data_json", T.StringType()),
    T.StructField("extras", T.MapType(T.StringType(), T.StringType())),
])

# An IvfIndex cell row: the id, the vector as given (array<double> on cosine
# indexes) and, on PQ indexes, its codes; ``cell_id`` is the partition directory
IVF_ROW = ("vec_id", "embedding", "pq_code")
_ID, _VEC, _CODE = IVF_ROW

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
    exact scan. ``build()`` trains centroids once, with k-means in the
    driver on a bounded hash-ordered sample
    (:func:`~.operators.vector.train_centroids`), assigns every vector to
    its nearest cell in one Spark pass, and writes the table PARTITIONED
    BY cell_id. Every cell row has one format, :data:`IVF_ROW`: ``vec_id``
    (the caller's id), ``embedding`` and, on PQ indexes, ``pq_code``; the
    input to ``build`` and ``add`` needs those two columns and any other
    is dropped. The trained model (the centroids, plus the PQ codebooks and
    OPQ rotation when the index has them) is bounded by the cell count
    and the dimension, not the corpus, so it lives in ``meta.json`` next
    to the cells, as the reference keeps a JSON sidecar per FAISS file
    (``faiss_manager.py:12-33``). ``search()`` ranks the centroids in the
    driver and reads ONLY the nprobe nearest cells — nprobe/n_cells
    becomes a physical-IO fraction, the same reason FAISS IVF beats flat
    scan (reference ``faiss_manager.py`` uses IndexFlatL2; this is the
    upgrade path its per-day sharding gestures at). Probed cells of at
    most ``local_serve.LOCAL_READ_MAX_BYTES`` are ranked in the driver
    with pyarrow + numpy and launch no Spark job; larger probes, ``where``
    filters and ``search_pq`` run as Spark plans whose partition pruning
    does the same selection, and ``search_batch`` runs ``search`` once
    per query. Build once / query many: the index cost is amortized
    across every subsequent query, unlike the in-query training path
    (``workload.ivf_search``) which exists for oracle-checkability.

    The mutators (build/add/delete/compact) are single-writer under
    :mod:`.durable`'s lock; searches take no lock.
    """

    LOCK_TIMEOUT_S = 120.0  # override per-instance for tests

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.root = Path(str(path))
        # (st_ino, st_mtime_ns, st_size) of the meta.json last parsed, and
        # its dict: the file is only ever replaced whole (os.replace)
        self._meta_cache: tuple[tuple[int, int, int], dict] | None = None

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

    # ------------------------------------------------------------ model
    _META = "meta.json"

    def _meta_dict(self) -> dict:
        """Parsed meta.json, failing LOUD when it still carries the
        ``building`` sentinel :meth:`build` sets before touching any
        data file. A rebuild that crashed mid-flight leaves cells that
        no model on disk describes (e.g. the OLD index's rotated cells,
        or new cells under no centroids) — serving them silently returns
        wrong neighbors, so every meta reader raises instead and the
        caller rebuilds.

        The dict is parsed once per version of the file (a PQ model runs
        to hundreds of KB) and shared by every read: no caller may
        mutate it."""
        import json
        import os

        try:
            fh = open(self.root / self._META, "rb")
        except FileNotFoundError:
            return {}
        with fh:
            st = os.fstat(fh.fileno())
            key = (st.st_ino, st.st_mtime_ns, st.st_size)
            if self._meta_cache is None or self._meta_cache[0] != key:
                self._meta_cache = (key, json.load(fh))
        meta = self._meta_cache[1]
        if meta.get("building"):
            raise RuntimeError(
                f"IvfIndex at {self.root}: meta.json carries the "
                "'building' sentinel — a build() was interrupted and "
                "the cells may not match any trained model. Rebuild "
                "the index before serving."
            )
        return meta

    def _model(self) -> dict:
        """The trained model ``build`` wrote to meta.json: ``metric`` and
        ``centroids`` (list index = cell id), plus ``pq`` and
        ``codebooks`` on IVFPQ indexes and ``opq`` and ``rotation`` on
        rotated ones. Raises before the first build."""
        meta = self._meta_dict()
        if "centroids" not in meta:
            raise ValueError(
                f"IvfIndex at {self.root} holds no trained model: build() it first"
            )
        return meta

    def metric(self) -> str:
        """The index's distance metric ("l2" or "cosine"), persisted by
        build(); indexes from before the metric existed read as l2."""
        return self._meta_dict().get("metric", "l2")

    @staticmethod
    def _normalized(df: DataFrame) -> DataFrame:
        """L2-normalize the vector column (cosine indexes store unit
        vectors — the FAISS IndexFlatIP-on-normalized convention — so
        the cell geometry and the scoring agree). Zero vectors stay
        as-is rather than becoming NULL/NaN."""
        v = F.col(_VEC)
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
        return df.withColumn(_VEC, unit)

    @classmethod
    def _encode(cls, df: DataFrame, model: dict) -> DataFrame:
        """``df``'s rows as the cells store them (:data:`IVF_ROW`), through
        every step the ``model`` has a part for: cosine normalize → OPQ
        rotate → literal-centroid assign (``cell_id``, zero shuffle) → PQ
        encode (``pq_code``; a residual index encodes ``v − assigned
        centroid``, the FAISS IVFPQ construction). ``build`` trains each
        part on the steps before it, so ``add`` encodes new rows exactly as
        the build did."""
        from .operators.vector import (
            assign_cells_literal,
            pq_encode_matmul,
            residual_expr,
            rotate_expr,
        )

        df = df.select(_ID, _VEC)
        if model["metric"] == "cosine":
            df = cls._normalized(df.withColumn(_VEC, F.col(_VEC).cast("array<double>")))
        if "rotation" in model:
            df = df.withColumn(
                _VEC,
                rotate_expr(F.col(_VEC).cast("array<double>"), model["rotation"]),
            )
        if "centroids" not in model:
            return df
        cents = list(enumerate(model["centroids"]))
        df = assign_cells_literal(df, cents, vec_col=_VEC, metric=model["metric"])
        if "codebooks" not in model:
            return df
        if model["pq"]["residual"]:
            return pq_encode_matmul(
                df.withColumn("_res", residual_expr(_VEC, cents)),
                model["codebooks"],
                vec_col="_res",
                code_col=_CODE,
            ).drop("_res")
        return pq_encode_matmul(df, model["codebooks"], vec_col=_VEC, code_col=_CODE)

    @durable.mutator
    def build(
        self,
        df: DataFrame,
        n_cells: int = 16,
        metric: str = "l2",
        pq_m: int | None = None,
        pq_codes: int = 256,
        pq_residual: bool = False,
        pq_opq: bool | None = None,
    ) -> None:
        """Train the model, write every row to its cell, then write the
        model to meta.json. With ``pq_m`` set, the index is an IVFPQ:
        per-subvector codebooks (m subquantizers x pq_codes codes) are
        trained on the same corpus and every stored row carries its
        ``pq_code`` array<int> next to the vector — codes ride the same
        cell partitions, survive delete/compact rewrites unchanged
        (full-row swaps), and let ``search_pq`` scan 8-byte-ish codes
        instead of the embedding column. For cosine indexes codebooks
        are trained on the stored UNIT vectors, so L2 ADC ranking equals
        cosine ranking. ``pq_residual=True`` trains/encodes on the
        residual ``v − assigned centroid`` (better recall at equal m on
        clustered corpora); serving builds per-probed-cell query tables
        from the query residual. ``pq_opq=True`` (requires pq_m) trains
        a parametric OPQ rotation and builds the ENTIRE index in rotated
        space — the FAISS ``OPQ,IVF,PQ`` pretransform composition:
        stored vectors, centroids, and codebooks are all rotated (one
        expression-side matmul folded into the build scan; queries
        rotate driver-side in _probe), so exact search results are
        unchanged (orthogonal invariance, pytest-pinned) while PQ codes
        stop wasting entropy on correlated/unbalanced subspaces.
        Composes with ``pq_residual`` (rotate first, residual in rotated
        space).

        The default (``pq_opq=None``) is True for flat PQ and False for
        residual PQ: on a decaying-spectrum corpus, flat-PQ recall@10 was
        0.1125 raw vs 0.625 rotated at the same serving cost, while
        residual codes already sit on within-cell offsets."""
        from .operators.vector import (
            pq_train_codebooks,
            pq_train_opq_rotation,
            residual_expr,
            train_centroids,
        )

        if metric not in ("l2", "cosine"):
            raise ValueError(f"unknown metric: {metric}")
        if pq_opq is None:
            pq_opq = pq_m is not None and not pq_residual
        if pq_opq and pq_m is None:
            raise ValueError("pq_opq requires pq_m (rotation exists "
                             "to balance PQ subspaces)")
        # Crash ordering: the "building" sentinel goes down before any
        # cell file, and the model with its pq / opq claims lands in ONE
        # final write after the cells. A build killed in between leaves
        # new cells under the sentinel (or the OLD rotated cells under no
        # opq claim); every meta reader (_meta_dict) fails loud on it
        # until a build completes, instead of serving wrong neighbors.
        model: dict = {"metric": metric}
        durable.write_json(self.root / self._META, {**model, "building": True})
        if pq_opq:
            model["opq"] = True
            model["rotation"] = pq_train_opq_rotation(
                self._encode(df, model), m=pq_m, vec_col=_VEC
            )
        rotated = self._encode(df, model)
        model["centroids"] = [
            [float(x) for x in r.centroid]
            # n_cells rows in cell-id order — bounded by design
            for r in train_centroids(rotated, n_cells, vec_col=_VEC).collect()
        ]
        if pq_m is not None:
            model["pq"] = {
                "m": int(pq_m),
                "codes": int(pq_codes),
                "residual": bool(pq_residual),
            }
            train, train_col = rotated, _VEC
            if pq_residual:
                # residuals concentrate near 0 whichever cell a vector
                # lives in, so the m subquantizers model one tight
                # distribution instead of the union of all cells
                train = self._encode(df, model).withColumn(
                    "_res", residual_expr(_VEC, list(enumerate(model["centroids"])))
                )
                train_col = "_res"
            model["codebooks"] = pq_train_codebooks(
                train, m=pq_m, k=pq_codes, vec_col=train_col
            )
        (
            self._encode(df, model)
            .write.mode("overwrite")
            .partitionBy("cell_id")
            .parquet(str(self.root / "cells"))
        )
        durable.write_json(self.root / self._META, model)
        # a REBUILD invalidates an exported manifest (new centroids, new
        # cell files): refresh it like add() does, or a server would probe
        # with stale centroids against overwritten files
        if (self.root / "manifest.json").exists():
            self.export_manifest()

    @durable.mutator
    def add(self, df: DataFrame) -> None:
        """Incremental ingest into a built index: encode new vectors
        against the FROZEN model (the same :meth:`_encode` as build —
        zero shuffle on the new batch) and append them to the cell
        partition directories. This is the train/add split FAISS IVF
        uses (reference ``faiss_manager.py`` appends daily without
        retraining): the model changes only across periodic ``build()``
        rebuilds, which is the standard maintenance contract. If a
        serving manifest has been exported it is refreshed so the file
        listing includes the appended cell files."""
        model = self._model()
        (
            self._encode(df, model)
            .write.mode("append")
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
    def delete(self, ids) -> int:
        """Delete vectors by id — the removal side of the serving
        lifecycle (the reference expires whole daily FAISS partitions,
        ``faiss_manager.py:90-104``; the IVF analog is delete-by-id with
        a rewrite of ONLY the cells that contain the ids). ``ids`` is a
        Python sequence (literal IN-list, partition-friendly) or a
        DataFrame whose first column holds the ids (broadcast semi/anti
        joins) for large deletes.
        Untouched cells keep their exact files; the manifest, when
        exported, is refreshed so a server never probes removed rows.
        Returns the number of rows deleted."""
        base = self._cells()
        if isinstance(ids, DataFrame):
            ids_df = ids.select(F.col(ids.columns[0]).alias(_ID)).distinct()
            hits = base.join(F.broadcast(ids_df), _ID, "left_semi")
        else:
            idlist = [int(i) for i in ids]
            if not idlist:
                return 0
            hits = base.filter(F.col(_ID).isin(idlist))
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
            keep = keep.join(F.broadcast(ids_df), _ID, "left_anti")
        else:
            keep = keep.filter(~F.col(_ID).isin(idlist))
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
        centroids (from meta.json), and the per-cell parquet file listing
        (paths relative to the root). This is the ONLINE-SERVING handoff —
        an external server (the reference splits serving into its own
        FAISS process, ``faiss_manager.py``) can pick probe cells from the
        centroids and mmap exactly the listed files, without a Spark
        session and without re-deriving the partition layout from a
        directory walk. Each listed file holds the rows of :data:`IVF_ROW`:
        ``vec_id``, ``embedding`` and, when the index is an IVFPQ,
        ``pq_code``. One bounded JSON: n_cells centroids + file names,
        never vectors. Replaced atomically, so a concurrent reader never
        parses a half-written file."""
        model = self._model()
        cells_root = self.root / "cells"
        cells: dict[str, list[str]] = {}
        for part in sorted(cells_root.glob("cell_id=*")):
            cid = int(part.name.split("=", 1)[1])
            cells[str(cid)] = sorted(
                str(f.relative_to(self.root)) for f in part.glob("*.parquet")
            )
        cents = model["centroids"]
        manifest = {
            "format": self.MANIFEST_FORMAT,
            "metric": model["metric"],
            "dim": len(cents[0]),
            "n_cells": len(cents),
            "centroids": {str(cid): c for cid, c in enumerate(cents)},
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
        where=None,
    ) -> DataFrame:
        """Exact top-k over the ``nprobe`` cells nearest the query:
        (rank, vec_id, distance, similarity). Without ``where``, probed
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
        return local_serve.answer(self.spark, self._serve(query_vec, k, nprobe, where))

    def _serve(
        self,
        query_vec: Sequence[float],
        k: int = 10,
        nprobe: int = 2,
        where=None,
    ):
        """``search``'s answer before wrapping: the local path's Arrow
        table or the Spark path's plan."""
        query_vec, probe, metric, _ = self._probe(query_vec, nprobe)
        files = self._cell_files(probe)
        if local_serve.use_local(f"IvfIndex.search at {self.root}", files, where):
            result = self._search_local(query_vec, metric, files, k)
            if result is not None:
                return result
        return self._search_spark(query_vec, probe, metric, k, where)

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
    ) -> pa.Table | None:
        """``search`` over the probed cells' ``files``, in the driver.
        None when the index holds no cell file to type an answer with;
        the Spark path then raises its own error."""
        rows = local_serve.read(files, [_ID, _VEC], cast={_VEC: pa.list_(pa.float64())})
        if rows is None:
            schema = local_serve.schema_of(self.root / "cells", [_ID, _VEC])
            if schema is None:
                return None
            rows = schema.empty_table()
        X, valid = local_serve.vectors(rows[_VEC], len(query_vec))
        dist, sim = local_serve.knn_scores(X, valid, query_vec, metric)
        top = local_serve.top_k(dist, rows[_ID], k, null=~valid)
        return pa.Table.from_arrays(
            [
                local_serve.rank_column(len(top)),
                rows[_ID].take(top),
                local_serve.nullable(dist[top], ~valid[top]),
                local_serve.nullable(sim[top], ~valid[top]),
            ],
            schema=pa.schema([
                local_serve.RANK, rows.schema.field(_ID).with_nullable(True),
                ("distance", pa.float64()), ("similarity", pa.float64()),
            ]),
        )

    @staticmethod
    def _exact(
        cells: DataFrame, query_vec: Sequence[float], k: int, metric: str
    ) -> DataFrame:
        """Exact top-k over ``cells`` as a Spark plan, vectors read as double."""
        return knn(
            cells.select(_ID, F.col(_VEC).cast("array<double>").alias(_VEC)),
            query_vec, k=k, vec_col=_VEC, id_cols=(_ID,), metric=metric,
        )

    def _search_spark(
        self,
        query_vec: Sequence[float],
        probe: Sequence[int],
        metric: str,
        k: int,
        where=None,
    ) -> DataFrame:
        """``search`` as a Spark plan over the partition-pruned cells."""
        pruned = self._pruned_cells(list(probe))
        if where is not None:
            pruned = pruned.filter(where)
        return self._exact(pruned, query_vec, k, metric)

    def search_batch(
        self,
        queries: Sequence[tuple[int, Sequence[float]]],
        k: int = 10,
        nprobe: int = 2,
    ) -> DataFrame:
        """``search`` per ``(query_id, vector)`` pair, each on its own
        path: (query_id, rank, vec_id, distance, similarity). Raises
        ``ValueError`` for an empty batch or a repeated query id."""
        return local_serve.batch(
            self.spark,
            [(int(qid), vec) for qid, vec in queries],
            lambda vec: self._serve(vec, k, nprobe),
            pa.int64(),
        )

    def lookup(self, ids: Sequence) -> DataFrame:
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
        return self._cells().filter(F.col(_ID).isin(ids)).select(
            _ID, F.col(_VEC).cast("array<double>").alias(_VEC)
        )

    def _probe(
        self, query_vec: Sequence[float], nprobe: int, model: dict | None = None
    ) -> tuple[
        list[float], list[int], str, list[tuple[int, list[float]]]
    ]:
        """Shared serving front half: crash recovery, metric-matched
        query normalization, and driver-side cell ranking against the
        ``model`` (read from meta.json when not given; no Spark job).
        Returns the (possibly rotated and normalized) query, the nprobe
        cell ids to scan, the metric, and the probed cells' centroids
        (needed by the residual-PQ serving path). A query whose length
        is not the index's dimension raises ``ValueError``: ranking would
        otherwise see only a prefix of it, and every distance would be
        null."""
        import math

        self._recover_leftovers()
        if model is None:
            model = self._model()
        metric = model["metric"]
        cents = model["centroids"]
        query_vec = [float(x) for x in query_vec]
        if len(query_vec) != len(cents[0]):
            raise ValueError(
                f"query has {len(query_vec)} dimensions; the index at "
                f"{self.root} has {len(cents[0])}"
            )
        if "rotation" in model:
            # rotate the query into the index's (rotated) space —
            # d x d driver-side matmul, trivial next to the scan
            query_vec = [
                sum(w * x for w, x in zip(row, query_vec))
                for row in model["rotation"]
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
            (_centroid_dist(centroid), cid) for cid, centroid in enumerate(cents)
        )
        assert all(math.isfinite(d) for d, _ in scored)
        probe = [cid for _, cid in scored[: max(1, nprobe)]]
        return query_vec, probe, metric, [(cid, cents[cid]) for cid in probe]

    def _pruned_cells(self, probe: list[int]) -> DataFrame:
        # literal IN-list on the partition column → planning-time pruning
        return self._cells().filter(F.col("cell_id").isin(probe))

    # Residual ADC tables above this many doubles go in by broadcast join: the
    # 3-D literal's plan grows with them (join 9.5 s, literal 17.4 s at 2048).
    ADC_LITERAL_MAX_DOUBLES = 512

    def search_pq(
        self,
        query_vec: Sequence[float],
        k: int = 10,
        nprobe: int = 2,
        rerank: int | None = None,
        where=None,
    ) -> DataFrame:
        """IVFPQ serving (requires ``build(pq_m=...)``): probe cells as
        ``search`` does, but rank candidates by ASYMMETRIC distance over
        the stored ``pq_code`` column — the pruned scan reads ``vec_id`` +
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
        On boundary probes rerank=200 matched the exact leg's recall at
        every nprobe measured, ADC-only 0.025–0.475. ``rerank=0``
        returns raw ADC order (adc_distance shape): a diagnostic only.

        On residual indexes the per-cell query tables reach the scan as
        one 3-D literal up to ``ADC_LITERAL_MAX_DOUBLES`` (nprobe·m·codes)
        and as a broadcast-joined nprobe-row table above it."""
        from .operators.vector import (
            pq_adc_topk,
            pq_adc_topk_residual,
            pq_adc_topk_residual_join,
        )

        model = self._model()
        pq_meta = model.get("pq")
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
            query_vec, nprobe, model
        )
        cbs = model["codebooks"]
        pruned = self._pruned_cells(probe)
        if where is not None:
            pruned = pruned.filter(where)
        if pq_meta.get("residual"):
            # residual index: each probed cell ranks by a table built
            # from THIS cell's query residual; the scan still reads
            # (vec_id, cell_id, pq_code) only — cell_id is the partition
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
                pruned.select(_ID, "cell_id", _CODE), cbs, query_vec, probed_cents,
                k=(rerank if rerank else k), id_cols=(_ID,), code_col=_CODE,
            )
        else:
            adc = pq_adc_topk(
                pruned.select(_ID, _CODE), cbs, query_vec,
                k=(rerank if rerank else k), id_cols=(_ID,), code_col=_CODE,
            )
        if not rerank:
            return adc.limit(k)
        short = [r[_ID] for r in adc.collect()]  # ≤ rerank rows
        # an empty shortlist gives an empty exact stage, keeping knn's schema
        cand = pruned.filter(F.col(_ID).isin(short) if short else F.lit(False))
        return self._exact(cand, query_vec, k, metric)
