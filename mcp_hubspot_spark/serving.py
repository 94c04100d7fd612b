"""Online-serving maintenance: keep an ANN index synced to a document
table by CDC delta, never by rebuild.

``IndexMaintainer`` composes three existing pieces into the production
loop the reference gestures at — its handlers append every response to a
FAISS index at serve time (``handlers/base_handler.py:70-73``) and expire
whole daily partitions (``faiss_manager.py:90-104``); the maintained
version of that contract is: documents change in the system of record
(:class:`~.sources.snapshot_table.SnapshotTable`), ONLY the changed ones
are re-embedded, and the index absorbs the delta with
:meth:`~.vector_store.IvfIndex.delete` / :meth:`~.vector_store.IvfIndex.add`.

Cost model at 100 TB: one ``sync()`` reads the CDC diff (changed buckets
only — the table's own contract), embeds |delta| documents, rewrites the
index cells containing stale rows, and appends files for the fresh rows.
Nothing scales with corpus size except the (planning-time-pruned) cells
the delta happens to touch. The synced version is recorded next to the
index, so the loop is restartable and idempotent: a second ``sync()``
with no table movement is a no-op.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import durable
from .sources.snapshot_table import SnapshotTable
from .vector_store import IvfIndex

_STATE = "_sync_state.json"


class _SyncedVersion:
    """The table version a maintainer's ``index`` answers for, recorded
    next to the index. ``_record`` is each sync's final, atomic step, so
    a crashed sync replays from the last version it completed."""

    def _state_path(self) -> str:
        return str(self.index.root / _STATE)

    def synced_version(self) -> int | None:
        """The table version the index currently answers for, or None
        before ``initialize``."""
        try:
            with open(self._state_path()) as fh:
                return int(json.load(fh)["synced_version"])
        except FileNotFoundError:
            return None

    def _record(self, version: int) -> None:
        durable.write_json(self._state_path(), {"synced_version": version})


class IndexMaintainer(_SyncedVersion):
    """Keeps ``index`` answering for the current version of ``table``.

    ``embed`` maps a DataFrame carrying (``id_col``, ``text_col``) to
    (vec_id, embedding) — defaulting to the deterministic hash embedder,
    with the same injectable seam the embedding module itself uses for a
    real model. ``n_cells`` sizes the initial build.
    """

    def __init__(
        self,
        spark: SparkSession,
        table: SnapshotTable,
        index: IvfIndex,
        id_col: str = "doc_id",
        text_col: str = "text",
        dim: int = 64,
        embed=None,
    ):
        self.spark = spark
        self.table = table
        self.index = index
        self.id_col = id_col
        self.text_col = text_col
        self.dim = dim
        self._embed = embed or self._default_embed

    def _default_embed(self, df: DataFrame) -> DataFrame:
        from .functions.embedding import embed_column

        return df.select(
            F.col(self.id_col).cast("long").alias("vec_id"),
            embed_column(F.col(self.text_col), dim=self.dim)
            .cast("array<double>")
            .alias("embedding"),
        )

    # --------------------------------------------------------------- API
    def initialize(self, n_cells: int = 16, **build_kwargs) -> int:
        """Full build from the table's current version (once); afterwards
        ``sync()`` applies deltas. Returns the synced version. Extra
        kwargs go to ``IvfIndex.build`` — e.g. ``pq_m``/``pq_codes``/
        ``pq_residual``/``pq_opq`` turn the maintained index into an
        IVFPQ: sync()'s add() then encodes delta rows against the
        frozen codebooks (and rotation) automatically, so CDC-driven
        maintenance needs no PQ-specific handling."""
        v = self.table.version()
        self.index.build(
            self._embed(self.table.read(version=v)),
            n_cells=n_cells,
            **build_kwargs,
        )
        self.index.export_manifest()
        self._record(v)
        return v

    def sync(self) -> dict:
        """Advance the index to the table's current version by CDC delta:
        every key touched by the delta (removed, changed, AND added) is
        deleted from the index first, then added/changed documents are
        re-embedded and appended. Deleting the union — not just the
        removed/changed keys — is what makes a crash-retry converge: if
        a previous sync() died between ``add()`` and ``_record()``, the
        retry re-runs the same delta, and a purely-'added' id is already
        in the index; deleting it first (a no-op on a clean first run —
        delete of an absent id removes 0 rows) guarantees exactly one
        row per key after the retry instead of a duplicate that would
        surface twice in top-k. Delete runs FIRST so a changed document
        is never transiently present twice, and the new row survives.
        Returns ``{"from": v0, "to": v1, "deleted": n, "added": n}``
        where ``deleted`` counts only rows actually removed; a no-op
        sync returns zeros without touching any file."""
        v_from = self.synced_version()
        if v_from is None:
            raise ValueError("IndexMaintainer.sync() before initialize()")
        v_to = self.table.version()
        if v_to == v_from:
            return {"from": v_from, "to": v_to, "deleted": 0, "added": 0}
        changes = self.table.table_changes(
            v_from, v_to, include_values=True
        )
        # the union of stale AND fresh ids: crash-retry convergence (see
        # docstring) requires clearing 'added' ids too before re-adding
        stale = changes.select(
            F.col(self.id_col).cast("long").alias("vec_id")
        ).distinct()
        fresh = changes.filter(
            F.col("diff_status").isin("added", "changed")
        ).select(
            F.col(self.id_col),
            F.col("after").getField(self.text_col).alias(self.text_col),
        )
        n_deleted = self.index.delete(stale)
        # count the PRE-embed frame: counting after _embed would run the
        # embedding UDF a second time when add() materializes the write
        n_added = fresh.count()
        if n_added:
            self.index.add(self._embed(fresh))
        self._record(v_to)
        return {
            "from": v_from,
            "to": v_to,
            "deleted": int(n_deleted),
            "added": int(n_added),
        }


class TextIndexMaintainer(_SyncedVersion):
    """Keeps a :class:`~.text_index.TextIndex` answering for the current
    version of a :class:`~.sources.snapshot_table.SnapshotTable` — the
    lexical twin of :class:`IndexMaintainer`, with the same CDC-delta
    economics (nothing scales with corpus size except the delta) but a
    different convergence mechanism, because postings for one document
    spread across MANY term buckets:

    - IvfIndex converges by delete-the-union-then-re-add (physical cell
      rewrites); TextIndex instead uses EPOCHED generations: the sync's
      tombstones kill every generation below the target table version,
      and the re-add writes AT that version — so the new rows survive
      their own tombstone, and a crash-retry replays both steps
      idempotently (tombstone max() collapses duplicates; the add is a
      dynamic overwrite of its own epoch; the stats delta is guarded by
      ``last_epoch``).
    - Corpus stats move by the NET delta computed from the CDC before/
      after images (tokenized here, no index or corpus scan): n_docs by
      added−removed, sum_dl by len(after)−len(before).

    Epochs are the table versions themselves, which are monotonic by
    the snapshot table's commit protocol.

    Shared diff-replay bound (applies equally to :class:`IndexMaintainer`):
    a crash-retry whose window spans a VALUE-REVERT — a doc changed
    after the crashed sync's target version and changed BACK before the
    retry's — replays ``table_changes(v_from, v_to')``, where the
    reverted doc nets out absent, so the crashed sync's intermediate
    generation keeps serving until that doc next changes (or a rebuild).
    This is inherent to snapshot-diff replay; syncs that complete record
    their version atomically, so the window is only crash-to-retry.
    """

    def __init__(
        self,
        spark: SparkSession,
        table: SnapshotTable,
        index,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        self.spark = spark
        self.table = table
        self.index = index
        self.id_col = id_col
        self.text_col = text_col

    def initialize(self, num_buckets: int = 64) -> int:
        v = self.table.version()
        self.index.build(
            self.table.read(version=v),
            id_col=self.id_col,
            text_col=self.text_col,
            num_buckets=num_buckets,
        )
        self._record(v)
        return v

    def sync(self) -> dict:
        """Advance the index to the table's current version. Returns
        ``{"from": v0, "to": v1, "tombstoned": n, "added": n}``; a no-op
        sync returns zeros without touching any file. Crash-retry safe
        at every boundary: tombstones collapse under max(), the epoch
        add overwrites itself, the stats delta applies exactly once
        (last_epoch guard), and ``_record`` is the final atomic step."""
        from .operators.text import tokens as _tok

        v_from = self.synced_version()
        if v_from is None:
            raise ValueError("TextIndexMaintainer.sync() before initialize()")
        v_to = self.table.version()
        if v_to == v_from:
            return {"from": v_from, "to": v_to, "tombstoned": 0, "added": 0}
        changes = self.table.table_changes(v_from, v_to, include_values=True)
        stale = changes.select(self.id_col).distinct()
        fresh = changes.filter(
            F.col("diff_status").isin("added", "changed")
        ).select(
            F.col(self.id_col),
            F.col("after").getField(self.text_col).alias(self.text_col),
        )
        # NET stats delta from the CDC images alone — no corpus scan.
        # dl(after) counts for added+changed rows, dl(before) for
        # removed+changed rows; the difference of the two sums moves
        # sum_dl, added-minus-removed moves n_docs. Baseline: the
        # index's OWN last applied epoch, not v_from — a crash-retry
        # that spans extra table movement replays postings from v_from
        # (idempotent) but must not re-apply a stats delta that already
        # landed under the last_epoch guard.
        stats_base = max(v_from, self.index.last_epoch())
        stats_changes = None
        if stats_base == v_from:
            stats_changes = changes
        elif stats_base < v_to:
            stats_changes = self.table.table_changes(
                stats_base, v_to, include_values=True
            )
        # stats_base == v_to: the crashed sync already applied this
        # delta's stats (last_epoch guard) — add() will skip them too,
        # so an empty-range diff is never requested
        dl_after = F.when(
            F.col("diff_status").isin("added", "changed"),
            F.size(_tok(F.lower(F.col("after").getField(self.text_col)))),
        ).otherwise(F.lit(0))
        dl_before = F.when(
            F.col("diff_status").isin("removed", "changed"),
            F.size(_tok(F.lower(F.col("before").getField(self.text_col)))),
        ).otherwise(F.lit(0))
        if stats_changes is not None:
            mov = stats_changes.agg(
                F.sum(
                    F.when(F.col("diff_status") == "added", 1).otherwise(0)
                ).alias("n_add"),
                F.sum(
                    F.when(F.col("diff_status") == "removed", 1).otherwise(0)
                ).alias("n_rm"),
                F.sum(dl_after - dl_before).alias("d_dl"),
            ).first()
            stats_delta = (
                int(mov.n_add or 0) - int(mov.n_rm or 0),
                int(mov.d_dl or 0),
            )
        else:
            stats_delta = (0, 0)
        counts = changes.groupBy("diff_status").count().collect()
        by_status = {r.diff_status: int(r["count"]) for r in counts}
        self.index.delete(stale, dead_epoch=v_to)
        self.index.add(
            fresh,
            id_col=self.id_col,
            text_col=self.text_col,
            epoch=v_to,
            stats_delta=stats_delta,
        )
        self._record(v_to)
        return {
            "from": v_from,
            "to": v_to,
            "tombstoned": sum(by_status.values()),
            "added": by_status.get("added", 0) + by_status.get("changed", 0),
        }


def hybrid_rrf_serve(
    text_index,
    vector_index,
    query_terms: list[str],
    query_vec,
    *,
    k: int = 10,
    shortlist: int = 20,
    nprobe: int = 2,
    rrf_k: int = 60,
    dense: str = "exact",
    pq_rerank: int | None = None,
) -> DataFrame:
    """Index-backed hybrid retrieval: TextIndex BM25 shortlist +
    IvfIndex ANN shortlist, fused by reciprocal-rank fusion — the
    serving shape of the brute ``hybrid_search_rrf`` registry query
    (workload.py), which rescans and re-tokenizes the whole corpus per
    query on BOTH legs. Here each leg reads only what its index prunes
    to: the lexical leg touches |query-term buckets| / num_buckets of
    the postings (SCALE_r10: 1.79 s vs 7.92 s brute at 1M docs) and the
    dense leg scans nprobe cells. Output schema matches the brute twin:
    (doc_id, lex_rank, vec_rank, rrf_score).

    Agreement is pytest-pinned against the brute query: the BM25 leg is
    score-identical by the TextIndex agreement pin, and the ANN leg
    equals exact kNN when ``nprobe`` covers every cell — so full-probe
    serving replays the brute fusion row-for-row; partial-probe serving
    trades the dense leg's recall for cell pruning exactly as
    ``IvfIndex.search`` documents.

    RRF is rank-only (score scales never mix), so the fusion itself is
    engine-exact: 1/(rrf_k + rank) summed over the legs a doc appears
    in, descending, doc_id tiebreak.

    ``dense`` picks the ANN leg's physical path: ``"exact"`` (default)
    scans the probed cells' embedding column; ``"pq"`` (requires an
    index built with ``pq_m``) scans only the m-byte-ish PQ codes and
    exact-reranks the ADC top-``pq_rerank`` (default 4x shortlist) —
    the 100 TB IO shape (SCALE_r10: codes cut the dense read ~32x at
    m=8/64-d float32). The PQ leg's final ranks are EXACT over its
    shortlist, so with ``nprobe`` covering every cell and ``pq_rerank``
    at least the probed row count it degenerates to the exact leg
    (pytest-pinned); at serving settings it trades recall for IO
    exactly as ``search_pq`` documents.
    """
    lex = text_index.search(query_terms, k=shortlist).select(
        "doc_id", F.col("rank").alias("lex_rank")
    )
    if dense == "pq":
        vec_raw = vector_index.search_pq(
            query_vec,
            k=shortlist,
            nprobe=nprobe,
            rerank=(pq_rerank if pq_rerank is not None else 4 * shortlist),
        )
    elif dense == "exact":
        vec_raw = vector_index.search(query_vec, k=shortlist, nprobe=nprobe)
    else:
        raise ValueError(f"dense must be exact|pq, got {dense!r}")
    vec = vec_raw.select(
        F.col("vec_id").alias("doc_id"), F.col("rank").alias("vec_rank")
    )
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(rrf_k) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(rrf_k) + F.col("vec_rank")), F.lit(0.0)
    )
    return (
        lex.join(vec, "doc_id", "full_outer")
        .select(
            "doc_id",
            "lex_rank",
            "vec_rank",
            F.round(rrf, 6).alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def hybrid_rrf_serve_batch(
    text_index,
    vector_index,
    queries: dict,
    *,
    k: int = 10,
    shortlist: int = 20,
    nprobe: int = 2,
    rrf_k: int = 60,
) -> DataFrame:
    """Batched :func:`hybrid_rrf_serve`: Q hybrid queries against ONE
    pruned posting read (``TextIndex.search_batch``) and ONE pruned
    cell scan (``IvfIndex.search_batch``), fused per query by RRF.
    ``queries`` maps query_id (string) -> (terms list, query vector).
    Per-query output is pytest-pinned identical to a
    ``hybrid_rrf_serve`` call (both legs pin to their own per-query
    twins, and RRF + per-query window rank is rank-only arithmetic).
    Returns (query_id, doc_id, lex_rank, vec_rank, rrf_score), top-k
    per query by (rrf_score desc, doc_id asc).
    """
    from pyspark.sql.window import Window

    if not queries:
        raise ValueError("empty query batch")
    order = sorted(queries)
    lex = text_index.search_batch(
        {q: queries[q][0] for q in order}, k=shortlist
    ).select(
        "query_id", "doc_id", F.col("rank").alias("lex_rank")
    )
    vec_raw = vector_index.search_batch(
        [(i, queries[q][1]) for i, q in enumerate(order)],
        k=shortlist,
        nprobe=nprobe,
    ).select(
        F.col("query_id").alias("_qi"),
        F.col("vec_id").alias("doc_id"),
        F.col("rank").alias("vec_rank"),
    )
    spark = vec_raw.sparkSession
    mapping = spark.createDataFrame(
        [(i, q) for i, q in enumerate(order)], "_qi long, query_id string"
    )
    vec = vec_raw.join(F.broadcast(mapping), "_qi").select(
        "query_id", "doc_id", "vec_rank"
    )
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(rrf_k) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(rrf_k) + F.col("vec_rank")), F.lit(0.0)
    )
    fused = lex.join(vec, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        "lex_rank",
        "vec_rank",
        F.round(rrf, 6).alias("rrf_score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .drop("_r")
    )


def hybrid_mmr_serve(
    text_index,
    vector_index,
    query_terms: list[str],
    query_vec,
    *,
    k: int = 5,
    fuse_k: int = 10,
    shortlist: int = 20,
    nprobe: int = 2,
    lam: float = 0.7,
    rrf_k: int = 60,
) -> DataFrame:
    """The full served retrieval stack: index-backed hybrid RRF fusion
    (:func:`hybrid_rrf_serve`, top ``fuse_k``) -> MMR diversity rerank
    (``operators/vector.py::mmr_rerank``) over the fused shortlist,
    with candidate embeddings point-looked-up from the IvfIndex cells
    (``IvfIndex.lookup`` — a fused doc may come from the LEXICAL leg,
    so its cell is unknown and the lookup scans cells with an isin
    pushdown; bounded by fuse_k rows). The brute twin is the
    oracle-gated ``search_mmr_rerank`` registry query; at full probe
    the fusion is pinned row-identical to the brute fusion and the
    stored vectors are the corpus vectors (float->double cast exact),
    so the MMR picks replay bit-for-bit (pytest). Returns
    (doc_id, mmr_rank, mmr_score).
    """
    from .operators.vector import mmr_rerank

    fused = hybrid_rrf_serve(
        text_index,
        vector_index,
        query_terms,
        query_vec,
        k=fuse_k,
        shortlist=shortlist,
        nprobe=nprobe,
        rrf_k=rrf_k,
    )
    ids = [r.doc_id for r in fused.select("doc_id").collect()]  # ≤ fuse_k
    cand = fused.join(
        vector_index.lookup(ids, id_col="vec_id").withColumnRenamed(
            "vec_id", "doc_id"
        ),
        "doc_id",
    )
    return mmr_rerank(
        cand,
        k=k,
        lam=lam,
        id_col="doc_id",
        score_col="rrf_score",
        vec_col="embedding",
    )
