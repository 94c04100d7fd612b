"""Persisted inverted text index: the LEXICAL serving twin of
``vector_store.IvfIndex``.

The batch retrieval operators (``operators/text.py::bm25_scores``,
``blocklist_hits``) re-scan and re-tokenize the corpus per query — right
for one-shot pipeline stages, wrong for a serving workload that asks
many queries of one corpus. ``TextIndex.build()`` tokenizes ONCE and
writes positional postings PARTITIONED BY (epoch, term-hash bucket);
``search()`` (BM25 top-k) and ``phrase_hits()`` (exact token-aligned
phrase lookup) then read only the buckets their query terms hash to —
|query-term buckets| / num_buckets becomes a physical-IO fraction, the
same build-once/query-many economics the IVF index gives vectors. A
``search()`` whose buckets (plus tombstones) hold at most
``local_serve.LOCAL_READ_MAX_BYTES`` is scored in the driver with
pyarrow + numpy and launches no Spark job; larger reads and the phrase
reads run as Spark plans with partition pruning, and the two BM25 paths
agree bit for bit. ``search_batch`` runs ``search`` once per query.
The reference has no lexical index at all (its search surface is the
FAISS flat vector scan, faiss_manager.py); this is beyond-reference
serving infrastructure for the LLM-pipeline mandate.

Layout under ``root/``:
- ``postings/epoch=<e>/bucket=<b>/``: (term, doc_id, tf, positions
  array<int>, dl) — one row per (doc, term), positions 0-based in
  token space. ``epoch`` is the write generation: build owns 0, each
  ``add()`` dynamically OVERWRITES its own epoch partitions (so a
  crash-retry replaces partial output instead of double-appending),
  and tombstones kill generations strictly BELOW their ``dead_epoch``
  — a changed document re-added at the tombstone's epoch survives.
- ``tombstones/``: (doc_id, dead_epoch) rows; reads apply
  max(dead_epoch) per doc, ``compact()`` physically drops the dead
  generations and clears the table.
- ``meta.json``: corpus stats BM25 needs at serving time (n_docs,
  sum_dl), ``num_buckets``, and ``last_epoch`` (the exactly-once guard
  for per-epoch stats deltas); written with the same crash-ordering
  discipline as IvfIndex (a ``building`` sentinel until every data
  file is on disk, claims in one final write) so an interrupted build
  fails loud instead of serving partial postings.

Scale notes: the build is one tokenize scan + one (doc_id, term)
aggregate (map-side partial) + a partitioned write — no driver
materialization anywhere. Document frequencies are NOT a separate
table: a query's pruned posting read contains every posting of its
terms, so per-term df aggregates over the (tiny) pruned read are
corpus-global by construction, and stay correct under ``add()``
without a stats-merge step. Positions make phrase queries an
array-intersection over the pruned read instead of a corpus rescan;
BM25 reads prune the positions column away (ReadSchema-audited).
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import durable, local_serve
from .operators.classifier import hash_bucket
from .operators.text import BM25_B, BM25_K1, bm25_weight, sorted_term_sum, tokens
from .operators.topk import ranked_top_k

__all__ = ["DOC_ROW", "TextIndex"]

# A document row as every TextIndex writer reads it: the id and the raw text
# (the text twin of vector_store.IVF_ROW); postings keep the id as ``doc_id``
DOC_ROW = ("doc_id", "text")
_DOC, _TEXT = DOC_ROW


class TextIndex:
    """Build-once / query-many inverted index with positional postings.

    >>> ix = TextIndex(spark, "/data/ix")
    >>> ix.build(docs)                       # one tokenize pass
    >>> ix.search(["spark", "window"], k=10) # BM25, pruned read
    >>> ix.phrase_hits("table table")        # positional intersect
    """

    LOCK_TIMEOUT_S = 120.0

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.root = Path(str(path))
        self._meta_cache = None  # durable.read_meta's per-version cache

    # ------------------------------------------------------------ meta

    def _meta_dict(self) -> dict:
        """Parsed meta.json, once per file version
        (:func:`.durable.read_meta`): ``FileNotFoundError`` before the
        first build, ``RuntimeError`` on the ``building`` sentinel, whose
        postings may be partial."""
        return durable.read_meta(self)

    def last_epoch(self) -> int:
        """The newest write generation whose stats delta has been
        applied — CDC maintainers use this as the stats baseline so a
        crash-retry that spans EXTRA table movement never re-applies a
        delta that already landed (see serving.TextIndexMaintainer)."""
        return int(self._meta_dict()["last_epoch"])

    # ----------------------------------------------------------- build

    @staticmethod
    def _postings_for(df: DataFrame, num_buckets: int, epoch: int) -> DataFrame:
        """(epoch, bucket, term, doc_id, tf, positions, dl) for a corpus
        slice of :data:`DOC_ROW` rows. One narrow posexplode + one (doc,
        term) hash aggregate; dl rides the aggregate via first() so no
        second corpus join is needed. ``epoch`` is the write generation (see :meth:`add`):
        it makes incremental writes replay-idempotent and lets
        tombstones kill OLD generations of a re-added document without
        hiding the new one."""
        toks = tokens(F.lower(F.col(_TEXT)))
        base = df.select(
            _DOC,
            toks.alias("_toks"),
            F.size(toks).cast("long").alias("dl"),
        )
        pos = base.select(
            "doc_id",
            "dl",
            F.posexplode("_toks").alias("pos", "term"),
        ).filter(F.col("term") != "")
        grouped = pos.groupBy("doc_id", "term").agg(
            F.count(F.lit(1)).cast("long").alias("tf"),
            F.sort_array(F.collect_list("pos")).alias("positions"),
            F.first("dl").alias("dl"),
        )
        return grouped.select(
            F.lit(int(epoch)).alias("epoch"),
            hash_bucket(F.col("term"), num_buckets).alias("bucket"),
            "term",
            "doc_id",
            "tf",
            "positions",
            "dl",
        )

    @durable.mutator
    def build(self, df: DataFrame, *, num_buckets: int = 64) -> None:
        """Tokenize ``df``'s :data:`DOC_ROW` columns once, write
        positional postings partitioned by the term-hash bucket.
        Crash-ordering: meta carries a ``building`` sentinel from before
        the first data write until the final claims write, so readers
        fail loud on a half-built index.

        Rebuilding over an EXISTING index resets it completely: the
        tombstone table (and any interrupted-compact leftovers) are
        dropped INSIDE the sentinel window — everything in ``df`` is
        epoch 0 again, so a stale tombstone with dead_epoch >= 1 would
        otherwise silently hide every previously-deleted doc that is
        still in the corpus (rebuild is the documented remediation for
        interrupted builds, so this path must be loss-free)."""
        import shutil

        meta_path = self.root / durable.META
        durable.write_json(meta_path, {"building": True})
        for stale in ("tombstones", "_postings_new", "_postings_old"):
            p = self.root / stale
            if p.exists():
                shutil.rmtree(p)
        stats = df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.size(tokens(F.lower(F.col(_TEXT))))).alias("sum_dl"),
        ).first()
        (
            self._postings_for(df, num_buckets, epoch=0)
            .write.mode("overwrite")
            .partitionBy("epoch", "bucket")
            .parquet(str(self.root / "postings"))
        )
        durable.write_json(
            meta_path,
            {
                "num_buckets": num_buckets,
                "n_docs": int(stats.n),
                "sum_dl": int(stats.sum_dl or 0),
                "last_epoch": 0,
            },
        )

    @durable.mutator
    def add(
        self,
        df: DataFrame,
        *,
        epoch: int | None = None,
        stats_delta: tuple[int, int] | None = None,
        replace: bool = False,
    ) -> None:
        """Write postings for a new GENERATION of documents (rows of
        :data:`DOC_ROW`).

        ``epoch`` is the write generation (defaults to last_epoch + 1;
        CDC maintainers pass their table version). The write is a
        DYNAMIC partition overwrite of this epoch's partitions, so a
        crash-retry of the same add REPLACES its own partial output
        instead of double-appending (the span-dedup replay lesson).
        Plain adds are for NEW ids; to replace a changed document,
        tombstone it with ``delete(ids, dead_epoch=epoch)`` first — old
        generations die, this generation survives — or pass
        ``replace=True`` to have this call tombstone its own ids at
        this epoch before writing (one call, correct ordering; a crash
        between the two writes leaves the doc absent until the
        idempotent retry re-lands it). The ``_pruned`` safety net only
        shadows old generations of terms the NEW generation still
        contains: a convention-violating plain re-add that DROPS a term
        keeps serving the old epoch's posting for it (and
        ``phrase_hits`` can intersect position arrays across
        generations) — ``replace=True`` is the enforced path. Plain
        add stays tombstone-free because per-added-id tombstones for
        never-seen ids would grow the broadcast tombstone table with
        corpus size (they are only written when asked for).

        Corpus stats (N, sum_dl) bump by the frame's own counts, or by
        ``stats_delta=(dn, d_sum_dl)`` when the caller knows the NET
        movement (a changed doc adds only its length difference). With
        ``replace=True`` the default is the net movement too — one
        extra postings scan subtracts the replaced ids' previous
        contribution so repeated replaces can't drift idf/avgdl; pass
        an explicit ``stats_delta`` to skip that scan on hot paths. The
        meta write is guarded by ``last_epoch``: a retry whose stats
        already landed skips them — stats apply exactly once per epoch.
        """
        meta = self._meta_dict()
        if epoch is None:
            epoch = int(meta["last_epoch"]) + 1
        if epoch <= 0:
            raise ValueError("add() epochs start at 1 (build owns 0)")
        if epoch < int(meta["last_epoch"]):
            raise ValueError(
                f"add() epoch {epoch} is behind last_epoch "
                f"{meta['last_epoch']} — epochs are monotonic (equal = "
                "crash-retry of the newest add)"
            )
        if stats_delta is None:
            stats = df.select(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.size(tokens(F.lower(F.col(_TEXT))))
                ).alias("sum_dl"),
            ).first()
            dn, dsl = int(stats.n), int(stats.sum_dl or 0)
            if replace:
                # replace=True re-lands ids that (usually) already
                # count in meta n_docs/sum_dl, so bumping by the full
                # frame would inflate idf/avgdl on every replace. The
                # NET movement subtracts the replaced ids' previous
                # contribution: newest generation per doc among
                # postings STRICTLY BELOW this epoch, tombstones
                # deliberately NOT applied — meta stats stay at their
                # pre-delete values until compact (delete()'s
                # contract), so a deleted-then-replaced doc's old
                # length is still in meta and must be subtracted; and
                # ignoring tombstones + excluding this epoch makes a
                # crash-retry recompute the SAME delta whether the
                # retry happens before or after the failed attempt's
                # tombstone/postings writes landed (the last_epoch
                # guard below then applies it exactly once). Cost: one
                # postings scan (terms hash independently — no bucket
                # pruning; epoch pruning only) — hot-path callers pass
                # an explicit stats_delta instead (serving.py does).
                prev = (
                    self.spark.read.parquet(str(self.root / "postings"))
                    .filter(F.col("epoch") < F.lit(int(epoch)))
                    .join(
                        F.broadcast(
                            df.select(_DOC).distinct()
                        ),
                        "doc_id",
                        "leftsemi",
                    )
                    .groupBy("doc_id")
                    .agg(F.max_by(F.col("dl"), F.col("epoch")).alias("dl"))
                    .agg(
                        F.count(F.lit(1)).alias("pn"),
                        F.sum("dl").alias("psum"),
                    )
                    .first()
                )
                dn -= int(prev.pn or 0)
                dsl -= int(prev.psum or 0)
            stats_delta = (dn, dsl)
        if replace:
            # tombstone the batch's own ids at THIS epoch before the
            # postings land: old generations die, this one survives its
            # own tombstone (dead_epoch kills strictly-below). Inlined
            # rather than delegated to delete() — the flock is held.
            (
                df.select(_DOC, F.lit(int(epoch)).alias("dead_epoch"))
                .write.mode("append")
                .parquet(str(self.root / "tombstones"))
            )
        (
            self._postings_for(df, meta["num_buckets"], epoch=epoch)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch", "bucket")
            .parquet(str(self.root / "postings"))
        )
        if epoch > int(meta["last_epoch"]):
            durable.write_json(self.root / durable.META, {
                **meta,
                "n_docs": int(meta["n_docs"]) + int(stats_delta[0]),
                "sum_dl": int(meta["sum_dl"]) + int(stats_delta[1]),
                "last_epoch": int(epoch),
            })

    @durable.mutator
    def delete(self, doc_ids, *, dead_epoch: int | None = None) -> None:
        """Tombstone documents. A doc's postings spread across ALL
        buckets (terms hash independently), so an eager delete would
        rewrite the whole index; instead (doc_id, dead_epoch) rows land
        in a tombstone table that every read applies (broadcast —
        tombstones are small between compactions; duplicate rows from a
        retried delete collapse in the read's max() aggregate) and
        :meth:`compact` physically drops. A tombstone kills postings
        with ``epoch < dead_epoch`` only, so re-adding the document at
        ``dead_epoch`` (the CDC changed-doc path) survives its own
        tombstone. Default ``dead_epoch`` is last_epoch + 1: everything
        currently in the index dies. Corpus stats stay at their
        pre-delete values until compact (or the caller's
        ``stats_delta`` on the paired add) — BM25 idf/avgdl marginally
        stale, never wrong-shaped.

        ``doc_ids`` is a Python list or a single-column DataFrame (the
        CDC path — ids never round-trip through the driver). An empty
        list writes nothing: an empty tombstone table would make the
        next :meth:`compact` rewrite the whole index for no dead row."""
        if not isinstance(doc_ids, DataFrame):
            doc_ids = list(doc_ids)
            if not doc_ids:
                return
        meta = self._meta_dict()
        if dead_epoch is None:
            dead_epoch = int(meta["last_epoch"]) + 1
        if isinstance(doc_ids, DataFrame):
            ids_df = doc_ids.select(
                F.col(doc_ids.columns[0]).alias("doc_id")
            )
        else:
            # tombstone ids must match the postings' id type (string-
            # keyed corpora index fine); schema inference reads footers
            id_type = (
                self.spark.read.parquet(str(self.root / "postings"))
                .schema["doc_id"]
                .dataType.simpleString()
            )
            ids_df = self.spark.createDataFrame(
                [(i,) for i in doc_ids], f"doc_id {id_type}"
            )
        (
            ids_df.select(
                "doc_id", F.lit(int(dead_epoch)).alias("dead_epoch")
            )
            .write.mode("append")
            .parquet(str(self.root / "tombstones"))
        )

    @durable.mutator
    def compact(self) -> None:
        """Physically drop tombstoned postings AND consolidate every
        surviving generation into ONE epoch partition set (epoch 0) —
        one partitioned rewrite into a temp dir + atomic rename, the
        crash-safe swap idiom — then refresh corpus stats from the
        surviving postings.

        Epoch consolidation: streaming ingest creates one epoch
        partition set per micro-batch, and both the pruned read's
        partition listing and its per-(doc, term) newest-generation
        aggregate grow with epoch count. The rewrite keeps only the
        newest generation per (doc, term) — the ``_pruned`` net applied
        physically — and lands everything at epoch 0, so subsequent adds
        resume at ``last_epoch + 1`` untouched. Epoch 0 is deliberately
        BELOW any live add epoch: a crash-retried streaming batch
        re-adds at its own epoch (> 0), never overwriting the
        consolidated partitions, and its duplicate generations are
        served newest-first by the read-side net until the next compact
        folds them in.

        Cost: one full-index shuffle (the newest-generation aggregate)
        + rewrite. Amortize via :meth:`maybe_compact`'s threshold — at
        a threshold of E the steady-state rewrite bandwidth is
        index_size / E per ingested batch."""
        import os
        import shutil

        meta = self._meta_dict()
        tomb = self.root / "tombstones"
        if not tomb.exists() and self._n_epoch_dirs() <= 1:
            return  # nothing to drop, nothing to consolidate
        post_dir = self.root / "postings"
        pruned_all = self._read_postings()
        # newest generation per (doc, term): collapsing epochs must not
        # let an older generation shadow-serve after the fold (the
        # _pruned net could no longer tell them apart at one epoch)
        kept = (
            pruned_all.groupBy("doc_id", "term", "bucket")
            .agg(
                F.max_by(
                    F.struct("tf", "positions", "dl"), F.col("epoch")
                ).alias("_r")
            )
            .select(
                F.lit(0).alias("epoch"),
                "doc_id",
                "term",
                F.col("_r.tf").alias("tf"),
                F.col("_r.positions").alias("positions"),
                F.col("_r.dl").alias("dl"),
                "bucket",
            )
            .cache()
        )
        try:
            # live rows only (tombstone-filtered, newest generation), so
            # each doc appears at one generation and dl is unambiguous
            stats = (
                kept.select("doc_id", "dl")
                .dropDuplicates(["doc_id"])
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("dl").alias("sum_dl"),
                )
                .first()
            )
            tmp = self.root / "_postings_new"
            (
                kept.write.mode("overwrite")
                .partitionBy("epoch", "bucket")
                .parquet(str(tmp))
            )
        finally:
            kept.unpersist()
        old = self.root / "_postings_old"
        os.rename(post_dir, old)
        os.rename(tmp, post_dir)
        # Tombstones die BEFORE _postings_old does. The consolidated
        # rewrite lands everything at epoch 0 with tombstones already
        # applied, so any surviving tombstone (dead_epoch >= 1) would
        # re-kill the epoch-0 postings of docs that were LIVE at
        # compact time (a doc re-added at its dead_epoch survived the
        # tombstone pre-fold; post-fold its epoch is 0 < dead_epoch —
        # silent permanent loss). _postings_old is therefore the
        # swap-in-progress marker: as long as it exists, _recover
        # knows the tombstone-applied rewrite is (or is about to be)
        # the live postings dir and clears tombstones/ itself, so a
        # crash anywhere in this tail is safe.
        if tomb.exists():
            shutil.rmtree(tomb)
        shutil.rmtree(old)
        durable.write_json(self.root / durable.META, {
            **meta, "n_docs": int(stats.n), "sum_dl": int(stats.sum_dl or 0)
        })

    # maybe_compact()'s epoch cap, at the knee of read latency vs epochs:
    # 1M-doc BM25 read 1.29 s at 1 epoch, 3.49 s at 16, 5.40 s at 128.
    COMPACT_MAX_EPOCHS = 16

    def _n_epoch_dirs(self) -> int:
        """Live epoch partition sets on disk — a driver-side directory
        listing, no Spark job."""
        post = self.root / "postings"
        if not post.exists():
            return 0
        return sum(1 for p in post.glob("epoch=*") if p.is_dir())

    def maybe_compact(self, *, max_epochs: int | None = None) -> bool:
        """Policy-triggered :meth:`compact`: fold when the live epoch
        partition count exceeds ``max_epochs`` (default
        ``COMPACT_MAX_EPOCHS``). The check is one driver-side listing;
        the compact itself takes the mutation flock. Returns True when
        a compact ran. Wire this after streaming adds
        (``stream_docs_to_text_index(max_epochs=...)``) so epoch
        growth is bounded by construction instead of by an operator
        remembering to run compact()."""
        cap = int(self.COMPACT_MAX_EPOCHS if max_epochs is None else max_epochs)
        if self._n_epoch_dirs() <= cap:
            return False
        self.compact()
        return True

    def _recover(self) -> None:
        """Finish a compact() interrupted mid-swap. ``_postings_old``
        existing means the swap reached its first rename, so the live
        (or about-to-be-live) postings dir is the consolidated rewrite
        with tombstones already physically applied — recovery must
        therefore ALSO drop ``tombstones/``: a stale tombstone
        (dead_epoch >= 1) replayed against the folded epoch-0 postings
        would kill docs that were live at compact time (re-added at
        their dead_epoch — survived pre-fold, epoch 0 < dead_epoch
        post-fold). ``_postings_new`` beside a live postings dir
        WITHOUT the ``_postings_old`` marker is the opposite case — a
        compact that crashed before its first rename — and is
        discarded with tombstones kept (the old layout still needs
        them). Runs under the mutation lock: before every mutation
        (``durable.mutator``), and from reads only while no live
        compact holds it (``durable.recover_if_idle``) — a live writer
        finishes its own swap."""
        import shutil

        post = self.root / "postings"
        tmp = self.root / "_postings_new"
        old = self.root / "_postings_old"
        if not post.exists() and tmp.exists():
            tmp.rename(post)
        if post.exists():
            if old.exists():
                # swap reached the first rename: postings is the
                # tombstone-applied epoch-0 rewrite — stale tombstones
                # must die with the old dir (see docstring)
                tomb = self.root / "tombstones"
                if tomb.exists():
                    shutil.rmtree(tomb)
                shutil.rmtree(old)
            if tmp.exists():
                shutil.rmtree(tmp)

    # ----------------------------------------------------------- reads

    def _recover_leftovers(self) -> None:
        """Reader-side recovery: run swap recovery when a compact's
        leftovers are on disk — readers don't take the lock, and reading
        a mid-crash layout would miss the postings directory."""
        if (self.root / "_postings_new").exists() or (
            self.root / "_postings_old"
        ).exists():
            durable.recover_if_idle(self)

    def _read_postings(self) -> DataFrame:
        """Postings minus tombstoned generations (a posting dies when a
        tombstone for its doc carries a LATER epoch; the max() over
        tombstones makes retried deletes collapse). Broadcast join — the
        tombstone table is small between compactions; a no-op
        passthrough when none exists. Recovers a crashed compact first."""
        self._recover_leftovers()
        reader = self.spark.read.parquet(str(self.root / "postings"))
        tomb = self.root / "tombstones"
        if tomb.exists():
            dead = (
                self.spark.read.parquet(str(tomb))
                .groupBy("doc_id")
                .agg(F.max("dead_epoch").alias("_dead"))
            )
            reader = (
                reader.join(F.broadcast(dead), "doc_id", "left")
                .filter(
                    F.col("_dead").isNull()
                    | (F.col("epoch") >= F.col("_dead"))
                )
                .drop("_dead")
            )
        return reader

    @staticmethod
    def _buckets(terms: list[str], nb: int) -> list[int]:
        """The buckets ``terms`` hash to: a driver-side replica of
        classifier.hash_bucket (first 15 md5 hex digits as a long, mod
        nb) — no Spark job to plan a query, and the build/query
        agreement is pytest-pinned."""
        import hashlib

        return sorted(
            {int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % nb for t in terms}
        )

    def _pruned(self, terms: list[str]) -> DataFrame:
        """Postings for exactly ``terms``: the bucket IN-list prunes
        partitions at planning time (PartitionFilters, plan-audited);
        the term IN-list cuts hash-collision neighbors inside them.

        Multi-epoch safety net: re-adding an id without the paired
        tombstone (``delete(ids, dead_epoch=epoch)``) is a documented
        convention, not enforced — if violated, more than one
        generation of a (doc, term) posting survives the tombstone
        filter, double-counting df/tf and positions. When the index
        has ever grown past epoch 0, the pruned read keeps only the
        NEWEST generation per (doc, term) — one map-side-combinable
        aggregate over the already-tiny pruned subset; single-epoch
        indexes skip it.

        Scope: the net shadows only terms the newest generation STILL
        CONTAINS. A convention-violating re-add that drops a term leaves
        the old epoch's posting for it with no newer generation to
        out-rank it, so it keeps serving (and a phrase can match across
        generations). That case needs the tombstone — use ``add(...,
        replace=True)`` or the explicit ``delete(ids,
        dead_epoch=epoch)`` pairing."""
        meta = self._meta_dict()
        reader = self._read_postings()
        bucket_lits = self._buckets(terms, meta["num_buckets"])
        pruned = reader.filter(
            F.col("bucket").isin(bucket_lits) & F.col("term").isin(terms)
        )
        if int(meta["last_epoch"]) > 0:
            pruned = (
                pruned.groupBy("doc_id", "term")
                .agg(
                    F.max_by(
                        F.struct("tf", "positions", "dl"), F.col("epoch")
                    ).alias("_r"),
                    F.max("epoch").alias("epoch"),
                )
                .select(
                    "epoch", "doc_id", "term",
                    F.col("_r.tf").alias("tf"),
                    F.col("_r.positions").alias("positions"),
                    F.col("_r.dl").alias("dl"),
                )
            )
        return pruned

    def search(self, query_terms: list[str], k: int = 10) -> DataFrame:
        """BM25 top-k over the pruned posting read — score-identical to
        the batch ``bm25_scores`` corpus scan (agreement pytest): same
        Lucene idf, same fixed constants (``operators.text.BM25_K1`` =
        1.2, ``BM25_B`` = 0.75, the values the DuckDB oracles of the
        BM25 registry queries replay), same sorted-term fixed-order fold,
        with (N, avgdl) from meta and per-term df aggregated from the
        pruned read (corpus-global by construction). Returns (rank,
        doc_id, score). Reads of at most
        ``local_serve.LOCAL_READ_MAX_BYTES`` are scored in the driver (no
        Spark job), larger ones by the Spark plan; the two agree bit for
        bit.
        """
        return local_serve.answer(self.spark, self._serve(query_terms, k))

    def _serve(self, query_terms: list[str], k: int = 10):
        """``search``'s answer before wrapping: the local path's Arrow
        table or the Spark path's plan."""
        terms = sorted(set(t.lower() for t in query_terms))
        postings, tombstones = self._search_files(terms)
        if local_serve.use_local(
            f"TextIndex.search at {self.root}", postings + tombstones
        ):
            result = self._search_local(terms, k, postings, tombstones)
            if result is not None:
                return result
        return self._search_spark(terms, k)

    def _search_files(self, terms: list[str]) -> tuple[list[str], list[str]]:
        """The files a BM25 read of ``terms`` opens: every epoch's
        posting files in the terms' buckets, and the tombstone files.
        Recovers a crashed compact first, as ``_read_postings`` does."""
        meta = self._meta_dict()
        self._recover_leftovers()
        buckets = self._buckets(terms, meta["num_buckets"])
        post = self.root / "postings"
        epochs = sorted(post.glob("epoch=*")) if post.exists() else []
        postings = local_serve.data_files(
            e / f"bucket={bk}" for e in epochs for bk in buckets
        )
        return postings, local_serve.data_files([self.root / "tombstones"])

    def _search_local(
        self,
        terms: list[str],
        k: int,
        postings: list[str],
        tombstones: list[str],
    ) -> pa.Table | None:
        """``search`` over ``postings`` and ``tombstones``, in the driver:
        the Spark plan's tombstone rule, newest-generation rule, df
        count, idf (``StrictMath.log``) and per-doc sorted-term fold,
        replayed in numpy. Never reads ``positions``. None when the
        index holds no posting file to type an answer with."""
        meta = self._meta_dict()
        n_docs = float(meta["n_docs"])
        avgdl = meta["sum_dl"] / n_docs if n_docs else 1.0
        cols = ["term", "doc_id", "tf", "dl"]
        post = local_serve.read(postings, cols, partition_cols=["epoch"])
        if post is None:
            schema = local_serve.schema_of(self.root / "postings", cols)
            if schema is None:
                return None
            post = schema.empty_table().append_column(
                "epoch", pa.array([], pa.int32())
            )
        post = post.filter(pc.is_in(post["term"], value_set=pa.array(terms, pa.string())))
        if tombstones:
            dead = (
                local_serve.read(tombstones, ["doc_id", "dead_epoch"])
                .group_by("doc_id")
                .aggregate([("dead_epoch", "max")])
            )
            post = post.join(dead, "doc_id", join_type="left outer")
            alive = pc.or_kleene(
                pc.is_null(post["dead_epoch_max"]),
                pc.greater_equal(post["epoch"], post["dead_epoch_max"]),
            )
            post = post.filter(alive).drop_columns(["dead_epoch_max"])
        doc_key = local_serve.dense_key(post["doc_id"])
        term_key = local_serve.dense_key(post["term"])
        if int(meta["last_epoch"]) > 0:
            # the newest generation per (doc, term): the last row of each
            # group once sorted by (doc, term, epoch)
            order = np.lexsort([post["epoch"].to_numpy(), term_key, doc_key])
            d, t = doc_key[order], term_key[order]
            last = np.r_[(d[1:] != d[:-1]) | (t[1:] != t[:-1]), True]
            keep = order[last] if len(order) else order
            post, doc_key, term_key = post.take(keep), doc_key[keep], term_key[keep]
        # per-term document frequency over the read, then the idf
        idf_of = np.array([
            local_serve.strict_log(
                self.spark, 1.0 + (n_docs - float(n) + 0.5) / (float(n) + 0.5)
            )
            for n in np.bincount(term_key)
        ])
        tf = post["tf"].to_numpy().astype(np.float64)
        dl = post["dl"].to_numpy().astype(np.float64)
        k1, b = BM25_K1, BM25_B
        contrib = (idf_of[term_key] * (tf * (k1 + 1.0))) / (
            tf + k1 * ((1.0 - b) + b * dl / avgdl)
        )
        # per doc, fold 0.0 + c in (term, c) order as sort_array does
        order = np.lexsort([contrib, term_key, doc_key])
        d = doc_key[order]
        first = np.r_[True, d[1:] != d[:-1]] if len(d) else np.zeros(0, bool)
        group = np.cumsum(first) - 1
        starts = np.flatnonzero(first)
        pos = np.arange(len(order)) - starts[group]
        score = np.zeros(len(starts))
        c = contrib[order]
        for p in range(int(pos.max(initial=-1)) + 1):
            at = pos == p
            score[group[at]] = score[group[at]] + c[at]
        docs = post["doc_id"].take(order[starts])
        top = local_serve.top_k(score, docs, k, descending=True)
        return pa.Table.from_arrays(
            [local_serve.rank_column(len(top)), docs.take(top), pa.array(score[top])],
            schema=pa.schema([
                local_serve.RANK,
                post.schema.field("doc_id").with_nullable(True),
                ("score", pa.float64()),
            ]),
        )

    def _search_spark(self, terms: list[str], k: int) -> DataFrame:
        """``search`` as a Spark plan over the partition-pruned postings:
        (N, avgdl) from meta, per-term df aggregated from the pruned read
        (corpus-global by construction), the weight ``bm25_scores`` uses."""
        meta = self._meta_dict()
        n_docs = float(meta["n_docs"])
        avgdl = meta["sum_dl"] / n_docs if n_docs else 1.0
        post = self._pruned(terms).select("term", "doc_id", "tf", "dl")
        dfreq = post.groupBy("term").agg(
            F.count(F.lit(1)).cast("double").alias("_df")
        )
        scored = (
            post.join(F.broadcast(dfreq), "term")
            .select(
                "doc_id",
                "term",
                bm25_weight(
                    F.col("tf").cast("double"), F.col("dl").cast("double"),
                    F.col("_df"), F.lit(n_docs), F.lit(avgdl),
                ).alias("_c"),
            )
            .groupBy("doc_id")
            .agg(sorted_term_sum("term").alias("score"))
        )
        return ranked_top_k(
            scored, [F.col("score").desc(), F.col("doc_id").asc()], k
        )

    def search_batch(self, queries: dict[str, list[str]], k: int = 10) -> DataFrame:
        """``search`` per query of ``queries`` (query_id -> terms), each
        on its own path: (query_id, rank, doc_id, score). Raises
        ``ValueError`` for an empty batch."""
        return local_serve.batch(
            self.spark,
            sorted(queries.items()),
            lambda terms: self._serve(terms, k),
            pa.string(),
        )

    def phrase_hits_batch(self, phrases: list[str]) -> DataFrame:
        """Positional matches for MANY phrases from ONE pruned read —
        the index-served twin of the corpus-rescan blocklist family
        (``operators/text.py::blocklist_hits``) and the batch member of
        the phrase tier (``search_batch`` is the BM25 analog). One
        broadcast (phrase, term, offset) map joins the pruned postings
        (a phrase with repeated terms contributes one row per OFFSET,
        reusing the single posting row), docs missing any offset drop
        at the count gate, and each (doc, phrase) folds its shifted
        position arrays by ``array_intersect`` in offset order: a doc
        matches at start p iff term_i's positions contain p+i for all
        i. Returns (phrase, doc_id, n_occurrences, first_pos);
        overlapping occurrences all count.
        """
        norm = []
        for p in phrases:
            q = " ".join(p.lower().split())
            if q:
                norm.append(q)
        if not norm:
            raise ValueError("empty phrase list")
        norm = sorted(set(norm))
        trip = [
            (p, t, j)
            for p in norm
            for j, t in enumerate(p.split())
        ]
        uniq = sorted({t for _, t, _ in trip})
        n_offsets = {p: len(p.split()) for p in norm}
        pmap = self.spark.createDataFrame(
            trip, "phrase string, term string, _off int"
        )
        nmap = self.spark.createDataFrame(
            list(n_offsets.items()), "phrase string, _n int"
        )
        post = self._pruned(uniq).select("doc_id", "term", "positions")
        cand = post.join(F.broadcast(pmap), "term")
        per = (
            cand.groupBy("phrase", "doc_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("_off", "positions"))
                ).alias("_parts"),
            )
            .join(F.broadcast(nmap), "phrase")
            .filter(F.size("_parts") == F.col("_n"))
        )
        head = F.element_at(F.col("_parts"), 1)
        starts = F.aggregate(
            F.slice(
                F.col("_parts"), 2,
                F.greatest(F.size("_parts") - 1, F.lit(0)),
            ),
            F.transform(
                head.getField("positions"),
                lambda p: p - head.getField("_off"),
            ),
            lambda acc, s: F.array_intersect(
                acc,
                F.transform(
                    s.getField("positions"),
                    lambda p: p - s.getField("_off"),
                ),
            ),
        )
        out = per.select(
            "phrase",
            "doc_id",
            F.size(starts).cast("long").alias("n_occurrences"),
            F.array_min(starts).alias("first_pos"),
        )
        return out.filter(F.col("n_occurrences") > 0)

    def blocklist_hits(self, phrases: list[str]) -> DataFrame:
        """Per-doc blocklist report served from the index: (doc_id,
        n_hits, first_hit) for docs matching ANY phrase — the
        persisted-index twin of the batch ``blocklist_hits`` corpus
        scan (agreement pytest-pinned; n_hits counts distinct matched
        phrases, first_hit is the lexicographically first, exactly the
        batch operator's distinct-gram semantics since phrases are
        distinct strings)."""
        hits = self.phrase_hits_batch(phrases)
        return hits.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_hits"),
            F.min("phrase").alias("first_hit"),
        )

    def phrase_hits(self, phrase: str) -> DataFrame:
        """Documents containing the exact token-aligned phrase:
        :meth:`phrase_hits_batch` of the one phrase. Returns (doc_id,
        n_occurrences, first_pos) — the persisted-index answer to the
        batch ``blocklist_hits`` corpus scan (agreement pytest).
        """
        return self.phrase_hits_batch([phrase]).drop("phrase")
