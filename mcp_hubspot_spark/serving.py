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

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import durable, local_serve
from .sources.snapshot_table import SnapshotTable
from .text_index import DOC_ROW
from .vector_store import IvfIndex

_STATE = "_sync_state.json"
_DOC, _TEXT = DOC_ROW

# Reciprocal-rank fusion's rank offset: a doc scores 1/(RRF_K + rank) per
# leg. Fixed at the usual 60, the value the DuckDB oracles of the brute
# hybrid registry queries replay.
RRF_K = 60


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


def _fresh_docs(changes: DataFrame) -> DataFrame:
    """A CDC diff's added and changed documents: their after-images as
    :data:`.text_index.DOC_ROW` rows."""
    return changes.filter(F.col("diff_status").isin("added", "changed")).select(
        _DOC, F.col("after").getField(_TEXT).alias(_TEXT)
    )


class IndexMaintainer(_SyncedVersion):
    """Keeps ``index`` answering for the current version of ``table``.

    The table's rows are documents (:data:`.text_index.DOC_ROW`).
    ``embed`` maps a DataFrame carrying (doc_id, text) to (vec_id,
    embedding) — defaulting to the deterministic hash embedder, with the
    same injectable seam the embedding module itself uses for a real
    model. ``n_cells`` sizes the initial build.
    """

    def __init__(
        self,
        spark: SparkSession,
        table: SnapshotTable,
        index: IvfIndex,
        dim: int = 64,
        embed=None,
    ):
        self.spark = spark
        self.table = table
        self.index = index
        self.dim = dim
        self._embed = embed or self._default_embed

    def _default_embed(self, df: DataFrame) -> DataFrame:
        from .functions.embedding import embed_column

        return df.select(
            F.col(_DOC).cast("long").alias("vec_id"),
            embed_column(F.col(_TEXT), dim=self.dim)
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
            F.col(_DOC).cast("long").alias("vec_id")
        ).distinct()
        fresh = _fresh_docs(changes)
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
    the snapshot table's commit protocol. The table's rows are
    documents (:data:`.text_index.DOC_ROW`).

    Shared diff-replay bound (applies equally to :class:`IndexMaintainer`):
    a crash-retry whose window spans a VALUE-REVERT — a doc changed
    after the crashed sync's target version and changed BACK before the
    retry's — replays ``table_changes(v_from, v_to')``, where the
    reverted doc nets out absent, so the crashed sync's intermediate
    generation keeps serving until that doc next changes (or a rebuild).
    This is inherent to snapshot-diff replay; syncs that complete record
    their version atomically, so the window is only crash-to-retry.
    """

    def __init__(self, spark: SparkSession, table: SnapshotTable, index):
        self.spark = spark
        self.table = table
        self.index = index

    def initialize(self, num_buckets: int = 64) -> int:
        v = self.table.version()
        self.index.build(self.table.read(version=v), num_buckets=num_buckets)
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
        stale = changes.select(_DOC).distinct()
        fresh = _fresh_docs(changes)
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
            F.size(_tok(F.lower(F.col("after").getField(_TEXT)))),
        ).otherwise(F.lit(0))
        dl_before = F.when(
            F.col("diff_status").isin("removed", "changed"),
            F.size(_tok(F.lower(F.col("before").getField(_TEXT)))),
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
        self.index.add(fresh, epoch=v_to, stats_delta=stats_delta)
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
    dense: str = "exact",
    pq_rerank: int | None = None,
) -> DataFrame:
    """Index-backed hybrid retrieval: TextIndex BM25 shortlist +
    IvfIndex ANN shortlist, fused by reciprocal-rank fusion — the
    serving shape of the brute ``hybrid_search_rrf`` registry query
    (workload.py), which rescans and re-tokenizes the whole corpus per
    query on BOTH legs. Here each leg reads only what its index prunes
    to: the lexical leg touches |query-term buckets| / num_buckets of
    the postings (1.79 s vs 7.92 s brute at 1M docs) and the
    dense leg scans nprobe cells. Each leg takes its own path (small
    reads in the driver, larger ones as Spark plans, see
    :mod:`.local_serve`); a Spark leg is collected, since it holds at
    most ``shortlist`` rows. The fusion always runs in Python and the
    answer is one Arrow-backed DataFrame, so small reads launch no Spark
    job. Output schema matches the brute twin: (doc_id, lex_rank,
    vec_rank, rrf_score).

    Agreement is pytest-pinned against the brute query: the BM25 leg is
    score-identical by the TextIndex agreement pin, and the ANN leg
    equals exact kNN when ``nprobe`` covers every cell — so full-probe
    serving replays the brute fusion row-for-row; partial-probe serving
    trades the dense leg's recall for cell pruning exactly as
    ``IvfIndex.search`` documents.

    RRF (:func:`_rrf_fuse`) is rank-only: score scales never mix. Its
    offset is the constant :data:`RRF_K` = 60, as in the brute twin and
    its DuckDB oracle.

    ``dense`` picks the ANN leg's physical path: ``"exact"`` (default)
    scans the probed cells' embedding column; ``"pq"`` (requires an
    index built with ``pq_m``) scans only the m-byte-ish PQ codes and
    exact-reranks the ADC top-``pq_rerank`` (default 4x shortlist) —
    the 100 TB IO shape (codes cut the dense read ~32x at m=8/64-d
    float32). The PQ leg's final ranks are EXACT over its
    shortlist, so with ``nprobe`` covering every cell and ``pq_rerank``
    at least the probed row count it degenerates to the exact leg
    (pytest-pinned); at serving settings it trades recall for IO
    exactly as ``search_pq`` documents.
    """
    fused = _hybrid_table(
        text_index, vector_index, query_terms, query_vec,
        k, shortlist, nprobe, dense, pq_rerank,
    )
    return local_serve.answer(text_index.spark, fused)


def _hybrid_table(
    text_index, vector_index, query_terms: list[str], query_vec,
    k: int, shortlist: int, nprobe: int,
    dense: str = "exact", pq_rerank: int | None = None,
) -> pa.Table:
    """:func:`hybrid_rrf_serve`'s fused answer as an Arrow table."""
    lex = text_index._serve(query_terms, k=shortlist)
    if dense == "pq":
        vec = vector_index.search_pq(
            query_vec,
            k=shortlist,
            nprobe=nprobe,
            rerank=(pq_rerank if pq_rerank is not None else 4 * shortlist),
        )
    elif dense == "exact":
        vec = vector_index._serve(query_vec, k=shortlist, nprobe=nprobe)
    else:
        raise ValueError(f"dense must be exact|pq, got {dense!r}")
    fused = _rrf_fuse(
        local_serve.rows(lex, ("doc_id", "rank")),
        local_serve.rows(vec, ("vec_id", "rank")),
        k,
    )
    return _fused_table(fused, lex, vec)


def _rrf_fuse(lex_rows, vec_rows, k: int) -> list[tuple]:
    """Reciprocal-rank fusion of two legs' (doc, rank) rows: a doc's
    score is 1/(:data:`RRF_K` + rank) summed over the legs it appears in (each
    pair of its leg rows, as a full outer join on the id pairs them),
    rounded as Spark's ``round(·, 6)`` rounds. Returns the top ``k``
    (doc, lex_rank, vec_rank, rrf_score) by score descending, doc
    ascending."""
    legs: dict = {}
    for leg, rows in enumerate((lex_rows, vec_rows)):
        for doc, rank in rows:
            legs.setdefault(doc, ([], []))[leg].append(rank)

    def rrf(rank):
        return 1.0 / (RRF_K + rank) if rank is not None else 0.0

    fused = [
        (doc, lr, vr, local_serve.spark_round(rrf(lr) + rrf(vr), 6))
        for doc, (lrs, vrs) in legs.items()
        for lr in lrs or [None]
        for vr in vrs or [None]
    ]
    fused.sort(key=lambda r: (-r[3], r[0]))
    return fused[: max(0, k)]


def _fused_table(fused: list[tuple], lex, vec) -> pa.Table:
    """``_rrf_fuse`` rows as the hybrid answer's Arrow table."""
    # the legs' id type; when they differ (int vs long), Arrow infers
    # the wider one, as the join's type coercion did
    lex_t = local_serve.arrow_type(lex, "doc_id")
    doc_t = lex_t if lex_t == local_serve.arrow_type(vec, "vec_id") else None
    cols = list(zip(*fused)) or [(), (), (), ()]
    return pa.table({
        "doc_id": pa.array(cols[0], doc_t),
        "lex_rank": pa.array(cols[1], pa.int32()),
        "vec_rank": pa.array(cols[2], pa.int32()),
        "rrf_score": pa.array(cols[3], pa.float64()),
    })


def hybrid_rrf_serve_batch(
    text_index,
    vector_index,
    queries: dict,
    *,
    k: int = 10,
    shortlist: int = 20,
    nprobe: int = 2,
) -> DataFrame:
    """:func:`hybrid_rrf_serve` per query of ``queries`` (query_id
    (string) -> (terms list, query vector)), each leg on its own path:
    (query_id, doc_id, lex_rank, vec_rank, rrf_score). Raises
    ``ValueError`` for an empty batch."""
    return local_serve.batch(
        text_index.spark,
        sorted(queries.items()),
        lambda q: _hybrid_table(
            text_index, vector_index, q[0], q[1], k, shortlist, nprobe
        ),
        pa.string(),
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
    )
    ids = [r.doc_id for r in fused.select("doc_id").collect()]  # ≤ fuse_k
    cand = fused.join(
        vector_index.lookup(ids).withColumnRenamed("vec_id", "doc_id"),
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
