"""Streaming embed-and-index ingestion (SURVEY §3.1 stage 6, reframed).

The reference embeds every API response and eagerly appends it to today's
FAISS partition as a side effect of serving the query (reference
``handlers/base_handler.py:39-76`` → ``faiss_manager.py:221-252``). The
Spark-native form decouples that side effect into its own streaming job:
a text stream → pandas-UDF embedding → ``foreachBatch`` append into the
date-partitioned vector store. Micro-batches give the same
eager-durability property (every batch is persisted before the next is
consumed) without blocking the query path, and checkpointing makes the
append at-least-once with replay on failure — strictly stronger than the
reference's rewrite-the-whole-index-per-append persistence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.embedding import embed_column
from ..vector_store import VectorStore


def stream_embed_to_store(
    stream_df: DataFrame,
    store: VectorStore,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    data_type: str = "document",
    dim: int = 64,
):
    """Start a streaming query embedding ``text_col`` and appending rows
    shaped for the vector store. Returns the StreamingQuery handle."""
    shaped = stream_df.select(
        F.col(id_col).cast("long").alias("vec_id"),
        embed_column(text_col, dim=dim).alias("embedding"),
        F.lit(data_type).alias("type"),
        F.to_json(F.struct(F.col(id_col), F.col(text_col))).alias("data_json"),
        F.lit(None).cast("map<string,string>").alias("extras"),
    )

    def append_batch(batch_df: DataFrame, batch_id: int) -> None:
        store.add(batch_df)

    return (
        shaped.writeStream.foreachBatch(append_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_merge_to_table(
    stream_df: DataFrame,
    table,
    checkpoint_dir: str,
):
    """Streaming MERGE: upsert each micro-batch into a ``SnapshotTable``
    via ``foreachBatch`` — the CDC-ingestion pattern (Delta's streaming
    merge, without the dep). Each micro-batch commits one table version
    atomically, so readers only ever see batch boundaries. Recovery
    semantics: the checkpoint makes delivery at-least-once, and because
    MERGE is key-idempotent (replaying a batch re-asserts the same rows),
    the table state is exactly-once per key — the standard
    foreachBatch-merge contract. Returns the StreamingQuery handle."""

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        table.merge_upsert(batch_df)

    return (
        stream_df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_docs_to_text_index(
    stream_df: DataFrame,
    index,
    checkpoint_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_epochs: int | None = None,
):
    """Streaming append-only ingest into a :class:`~.text_index.TextIndex`
    — the lexical twin of :func:`stream_embed_to_store`, built directly
    on the index's epoch machinery: each micro-batch ``add()``s at
    ``epoch = batch_id + 1`` (build owns epoch 0), so recovery is free
    by construction — a crash-retried batch re-adds at ITS OWN epoch,
    which is a dynamic partition overwrite (replaces partial output,
    never double-appends) with a ``last_epoch``-guarded stats bump
    (applies exactly once). Structured Streaming redelivers only the
    newest uncommitted batch, matching add()'s epoch monotonicity
    contract exactly.

    Append-only: NEW document ids per batch. A stream that carries
    CHANGES to existing docs should land in a
    :class:`~.sources.snapshot_table.SnapshotTable` (stream_merge_to_table)
    with a :class:`~.serving.TextIndexMaintainer` syncing the index —
    the changed-doc path needs the paired tombstone this ingest
    deliberately skips. The index must exist (``build()`` the seed
    corpus first, or build on an empty frame). Returns the
    StreamingQuery handle.

    ``max_epochs`` bounds epoch-partition growth: each batch lands as
    its own epoch partition set, and the pruned read's listing +
    newest-generation aggregate grow with epoch count, so after each
    add the index's :meth:`~.text_index.TextIndex.maybe_compact` folds
    everything to one epoch whenever the live count exceeds the
    threshold (default: the index's ``COMPACT_MAX_EPOCHS``). Crash-safe
    with replay: the fold lands at epoch 0, a retried batch re-adds at
    its own epoch above it, and the read-side net serves the newest
    generation — drained results stay identical to an uncompacted run
    (e2e-pinned).
    """

    def append_batch(batch_df: DataFrame, batch_id: int) -> None:
        index.add(
            batch_df,
            id_col=id_col,
            text_col=text_col,
            epoch=int(batch_id) + 1,
        )
        index.maybe_compact(max_epochs=max_epochs)

    return (
        stream_df.writeStream.foreachBatch(append_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
