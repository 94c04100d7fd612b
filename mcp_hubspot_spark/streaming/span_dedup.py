"""Streaming exact-substring (token-span) dedup — the incremental twin
of the batch operator ``operators.dedup.repeated_spans``.

Why foreachBatch and not a stateful operator: a standing per-key shingle
index is UNBOUNDED state (every position of every document ever seen),
so the honest streaming shape is the incremental_lsh_dedup quadrant
discipline over a PERSISTED index — each micro-batch of new documents

  1. writes its own positional shingle index to a per-batch partition
     (``batch=<id>``, overwrite mode — replays are IDEMPOTENT: a batch
     that crashed after writing simply overwrites the same partition,
     never double-appends),
  2. detects within-batch spans by self-joining the just-written index
     (new x new quadrant, no re-tokenization),
  3. detects new-vs-corpus spans with one shingle equi-join against the
     EARLIER batch partitions (new x old; partition pruning on
     ``batch < id`` keeps a replayed batch from pairing against its own
     rows — the old x old quadrant was settled when those docs streamed
     in),
  4. writes the union to the span log's own ``batch=<id>`` partition
     (overwrite — the output is exactly-once per batch, no downstream
     dedup needed).

The union of all batches' span outputs equals one batch
``repeated_spans`` run over the same documents EXACTLY (pair
orientation is by doc id, every pair's matched shingles meet in exactly
one batch's join) — pinned by the e2e drain test.

``max_df`` extends the equality to the stop-shingle cap:
per-batch shingle position counts persist beside the index
(``_shingle_stats/batch=<id>`` — a hidden directory, so index readers
never see it), the CUMULATIVE counts derive the standing stop-shingle
set, and both join sides anti-join it. Because the batch operator's cap
is corpus-GLOBAL, a shingle that crosses the cap in batch B can
invalidate spans an EARLIER batch already emitted — so when the stop
set grows, the affected earlier span partitions (exactly those whose
own index contains a newly-stopped shingle: a matched pair needs the
shingle on the new side too, so untouched partitions are provably
unaffected) are recomputed under the current stop set and overwritten.
At drain every partition therefore reflects the FINAL stop set for
every shingle it contains, and the drained union equals one batch
``repeated_spans(max_df=...)`` run exactly — same e2e pin as the
uncapped path. Rewrites are deterministic functions of (index ≤ batch,
current stop set), so replays stay idempotent.

Scale shape per batch: the batch index is computed ONCE (written, then
read back for both joins — the tokenize+posexplode that dominates batch
cost is never repeated); the increment side is small → AQE broadcasts
it into the cross join; the persisted corpus index is scanned but never
shuffled; the diagonal merge windows only matched rows. The persisted
index grows linearly with the corpus — at 100 TB keep it additionally
hash-bucketed by shingle (bucketed parquet) so the per-batch join
prunes to matching buckets instead of scanning the world. The stats
table is ONE row per distinct (batch, shingle) — far smaller than the
positional index — and the stop-set aggregation reads only it. Retro
recomputes are the max_df trade: true boilerplate crosses the cap
EARLY in corpus life (frequencies accumulate fast), so rewrite storms
taper to zero as the stop set stabilizes; at scale, seed the stop set
from a corpus sample (write its stats to ``batch=-1``) so the cap is
mostly settled before streaming starts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import (
    cross_index_spans,
    index_repeated_spans,
    token_shingle_index,
)


def _stop_shingles(stats: DataFrame, upto_batch: int, max_df: int) -> DataFrame:
    """The standing stop-shingle set as of ``upto_batch`` (inclusive):
    shingles whose cumulative position count over batches <= upto_batch
    exceeds ``max_df`` — the same corpus-global count
    ``repeated_spans(max_df=...)`` caps on, assembled from the per-batch
    stats partitions instead of a corpus rescan."""
    return (
        stats.filter(F.col("batch") <= int(upto_batch))
        .groupBy("shingle")
        .agg(F.sum("cnt").alias("_df"))
        .filter(F.col("_df") > int(max_df))
        .select("shingle")
    )


def _batch_spans(
    idx_all: DataFrame,
    batch_id: int,
    k: int,
    min_tokens: int | None,
    id_col: str,
    stops: DataFrame | None,
) -> DataFrame:
    """Spans attributed to ``batch_id``'s partition: within-batch pairs
    plus new-vs-earlier pairs, both sides anti-joined against ``stops``
    when a cap is active. Pure function of (index <= batch_id, stops) —
    the property that makes both crash replays and stop-set retro
    rewrites idempotent. Columns are re-projected after the anti-join
    (a USING join moves its key first, and index_repeated_spans /
    cross_index_spans key the id column positionally)."""
    cols_ = [id_col, "pos", "shingle"]

    def _side(df: DataFrame) -> DataFrame:
        df = df.select(*cols_)
        if stops is not None:
            df = df.join(stops, "shingle", "left_anti").select(*cols_)
        return df

    bid = int(batch_id)
    idx_batch = _side(idx_all.filter(F.col("batch") == bid))
    idx_old = _side(idx_all.filter(F.col("batch") < bid))
    out = index_repeated_spans(idx_batch, k, min_tokens=min_tokens, id_col=id_col)
    return out.unionByName(
        cross_index_spans(idx_old, idx_batch, k, min_tokens=min_tokens)
    )


def _validate_seed_k(spark, stats_path: str, k: int) -> None:
    """Raise if ``seed_stop_stats`` seeded these stats at a different
    shingle width than the stream is running with. Absent meta (unseeded
    stream, or stats written before the meta existed) passes — the
    hazard being closed is a SEEDED cap that silently no-ops."""
    jvm = spark._jvm
    jsc = spark._jsc
    meta = f"{stats_path}/_seed_meta"
    path = jvm.org.apache.hadoop.fs.Path(meta)
    fs = path.getFileSystem(jsc.hadoopConfiguration())
    if not fs.exists(path):
        return
    seeded = spark.read.parquet(meta).head()["k"]
    if int(seeded) != int(k):
        raise ValueError(
            f"span-dedup stats at {stats_path} were seeded with k={seeded} "
            f"but the stream is running with k={k}; seeded counts would key "
            "different shingles and contribute nothing to the cap. Re-seed "
            "with the stream's k (seed_stop_stats(sample, index_path, "
            f"k={k}))."
        )


def seed_stop_stats(
    sample_df: DataFrame,
    index_path: str,
    k: int = 8,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Pre-settle the ``max_df`` stop-shingle cap from a corpus sample:
    writes the sample's per-shingle position counts to the stats
    table's ``batch=-1`` partition (the seeding recipe the module
    docstring describes), WITHOUT seeding the positional index — the
    sample's documents are not deduplicated against, they only inform
    the cap. Hot boilerplate then enters the stop set at batch 0
    instead of crossing the cap mid-stream, so the retro-rewrite storm
    the cap otherwise causes early in corpus life never starts
    (e2e-pinned: a seeded stream performs ZERO retroactive partition
    rewrites on the storm corpus and still drains equal to the batch
    operator).

    Semantics note: seed counts ADD to streamed counts, so a shingle
    present in both is capped at a lower streamed-df than the pure
    stream would cap it — the intended bias (a sample's hot shingles
    are the corpus's hot shingles; that is exactly the steady state
    the seed is fast-forwarding to). Idempotent: the overwrite-mode
    partition makes re-seeding replace, never double-count.

    The shingle width ``k`` MUST equal the stream's ``k`` — seed counts
    for a different width key different shingles, silently contributing
    nothing while appearing to have seeded the cap. It is
    persisted beside the stats (``_shingle_stats/_seed_meta``) and
    ``process_span_batch`` fails loud on a mismatch.
    """
    stats_path = f"{index_path}/_shingle_stats"
    (
        token_shingle_index(sample_df, k, id_col, text_col)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .write.mode("overwrite")
        .parquet(f"{stats_path}/batch=-1")
    )
    sample_df.sparkSession.createDataFrame(
        [(int(k),)], "k int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{stats_path}/_seed_meta")


def process_span_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    spans_path: str,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int | None = None,
    max_df: int | None = None,
) -> dict:
    """One micro-batch's work (module-level so the replay-idempotency
    contract is directly testable: calling it twice with the same
    batch_id must leave index and span output byte-identical to one
    call — foreachBatch redelivers exactly this way after a crash
    between the writes and the checkpoint commit). Returns
    ``{"retro_rewrites": [batch ids recomputed]}`` for observability
    (foreachBatch ignores it; tests assert on it)."""
    spark = batch_df.sparkSession
    bid = int(batch_id)
    # 1. the batch index lands FIRST, in its own overwrite-mode
    # partition — the single tokenization pass; everything below
    # reads it back instead of recomputing it
    token_shingle_index(batch_df, k, id_col, text_col).write.mode(
        "overwrite"
    ).parquet(f"{index_path}/batch={bid}")
    idx_all = spark.read.option("basePath", index_path).parquet(index_path)
    stops = None
    if max_df is not None:
        # 2. per-batch shingle stats beside the index (hidden dir —
        # index readers never see it), then the cumulative stop set
        # INCLUDING this batch: the cap is corpus-global, so a shingle
        # this batch pushes over the line is stopped for this batch's
        # own join too (exactly what the batch operator would do)
        stats_path = f"{index_path}/_shingle_stats"
        # fail loud if the stats were seeded at a different shingle
        # width: mismatched-k seed counts key different shingles and
        # silently contribute nothing. One tiny driver-side
        # read per batch; the meta dir starts with "_" so the stats
        # union never lists it.
        _validate_seed_k(spark, stats_path, k)
        (
            idx_all.filter(F.col("batch") == bid)
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .write.mode("overwrite")
            .parquet(f"{stats_path}/batch={bid}")
        )
        stats = spark.read.option("basePath", stats_path).parquet(stats_path)
        stops = _stop_shingles(stats, bid, max_df)
    out = _batch_spans(idx_all, bid, k, min_tokens, id_col, stops)
    # 3. overwrite-mode per-batch span partition: replaying the
    # batch rewrites the identical rows — exactly-once output
    out.write.mode("overwrite").parquet(f"{spans_path}/batch={bid}")
    affected: list[int] = []
    if max_df is not None:
        # 4. retro scrub: shingles that JUST crossed the cap invalidate
        # spans earlier batches emitted while they were still under it.
        # Affected partitions are exactly the earlier batches whose own
        # index contains a newly-stopped shingle (a matched pair needs
        # the shingle on the batch side of its join, so any other
        # partition's output is invariant to the new stop). Each is
        # recomputed under the CURRENT stop set — by induction every
        # partition ends reflecting the final stop set for the shingles
        # it contains, which is what makes the drained union equal the
        # batch operator. Deterministic given (index, stats), so a
        # crash+replay of this batch redoes identical rewrites.
        stops_prev = _stop_shingles(stats, bid - 1, max_df)
        newly = stops.join(stops_prev, "shingle", "left_anti")
        affected = sorted(
            int(r["batch"])
            for r in idx_all.filter(F.col("batch") < bid)
            .join(newly, "shingle", "left_semi")
            .select("batch")
            .distinct()
            .collect()  # bounded: one row per earlier batch, at most
        )
        for b in affected:
            _batch_spans(idx_all, b, k, min_tokens, id_col, stops).write.mode(
                "overwrite"
            ).parquet(f"{spans_path}/batch={b}")
    return {"retro_rewrites": affected}


def stream_span_dedup(
    stream_df: DataFrame,
    index_path: str,
    spans_path: str,
    checkpoint_dir: str,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int | None = None,
    max_df: int | None = None,
):
    """Start the streaming span-dedup query. ``index_path`` is the
    persisted positional shingle index, partitioned by micro-batch id
    (seed it from an existing corpus by writing
    ``token_shingle_index(corpus, k)`` to ``index_path/batch=-1`` —
    plus, when ``max_df`` is set, its per-shingle counts to
    ``index_path/_shingle_stats/batch=-1`` so the cap sees the seed
    corpus — or start empty); ``spans_path`` accumulates spans in
    ``repeated_spans`` output shape plus the ``batch`` partition
    column. Returns the StreamingQuery handle.

    ``max_df`` is the batch operator's corpus-global stop-shingle cap,
    maintained incrementally: cumulative per-shingle counts persist
    beside the index, both join sides anti-join the standing stop set,
    and span partitions invalidated by a shingle newly crossing the cap
    are recomputed (see the module docstring) — so the drained output
    still equals one batch ``repeated_spans(max_df=...)`` run exactly.
    ``hash_shingles`` remains deliberately absent: the persisted index
    is the corpus of record across batches, and rehashing it would
    orphan the seeded/early partitions.
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        process_span_batch(
            batch_df,
            batch_id,
            index_path=index_path,
            spans_path=spans_path,
            k=k,
            id_col=id_col,
            text_col=text_col,
            min_tokens=min_tokens,
            max_df=max_df,
        )

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
