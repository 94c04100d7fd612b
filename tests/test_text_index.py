"""TextIndex: the persisted lexical serving twin (build-once postings,
partition-pruned BM25 + positional phrase queries)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from mcp_hubspot_spark.text_index import TextIndex
from mcp_hubspot_spark.workload import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents")


@pytest.fixture(scope="module")
def built(spark, docs, tmp_path_factory):
    ix = TextIndex(spark, str(tmp_path_factory.mktemp("tix") / "ix"))
    ix.build(docs)
    return ix


def test_search_matches_batch_bm25(spark, docs, built):
    """The pruned-read BM25 must be score-identical to the one-shot
    corpus scan (same idf, same fixed-order fold, same stats)."""
    from mcp_hubspot_spark.operators.text import bm25_scores

    terms = ["spark", "window", "hash"]
    batch = (
        bm25_scores(docs, terms)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(10)
        .collect()
    )
    served = built.search(terms, k=10).orderBy("rank").collect()
    assert [(r.doc_id, round(r.score, 9)) for r in served] == [
        (r.doc_id, round(r.score, 9)) for r in batch
    ]


def test_phrase_hits_matches_blocklist_scan(spark, docs, built):
    from mcp_hubspot_spark.operators.text import blocklist_hits

    scan_ids = {
        r.doc_id for r in blocklist_hits(docs, ["table table"]).collect()
    }
    served = {r.doc_id for r in built.phrase_hits("table table").collect()}
    assert served == scan_ids and served
    for empty in ("", " \t\n "):
        with pytest.raises(ValueError):
            built.phrase_hits(empty)


def test_phrase_positions_exact(spark, tmp_path):
    """Positional intersection by hand: 'a b a b a' contains 'a b a' at
    starts {0, 2} (overlapping occurrences both count)."""
    docs = spark.createDataFrame(
        [(1, "a b a b a"), (2, "a b c"), (3, "b a b")],
        "doc_id long, text string",
    )
    ix = TextIndex(spark, str(tmp_path / "ix"))
    ix.build(docs, num_buckets=8)
    got = {
        r.doc_id: (r.n_occurrences, r.first_pos)
        for r in ix.phrase_hits("a b a").collect()
    }
    assert got == {1: (2, 0)}


def test_add_equals_full_rebuild(spark, docs, tmp_path):
    """Incremental add must serve the same scores as building on the
    full corpus: df comes from the postings (never stale) and N/sum_dl
    update exactly in meta."""
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    inc = TextIndex(spark, str(tmp_path / "inc"))
    inc.build(half_a)
    inc.add(half_b)
    full = TextIndex(spark, str(tmp_path / "full"))
    full.build(docs)
    terms = ["spark", "merge"]
    a = [(r.doc_id, round(r.score, 9)) for r in inc.search(terms, k=10).collect()]
    b = [(r.doc_id, round(r.score, 9)) for r in full.search(terms, k=10).collect()]
    assert a == b


def test_building_sentinel_fails_loud(spark, tmp_path):
    root = tmp_path / "ix"
    root.mkdir()
    (root / "meta.json").write_text(json.dumps({"building": True}))
    ix = TextIndex(spark, str(root))
    with pytest.raises(RuntimeError, match="building"):
        ix.search(["spark"])


def test_driver_hash_replica_matches_expression(spark):
    """_pruned's hashlib bucket replica must agree with the expression-
    side classifier.hash_bucket for any term."""
    import hashlib

    from mcp_hubspot_spark.operators.classifier import hash_bucket

    terms = ["spark", "table", "zzq9", "a", ""]
    sdf = spark.createDataFrame([(t,) for t in terms], "t string")
    got = {
        r.t: r.b
        for r in sdf.select("t", hash_bucket(F.col("t"), 64).alias("b")).collect()
    }
    for t in terms:
        assert got[t] == int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % 64


def test_search_plan_prunes_partitions_and_positions(spark, built):
    """The Spark BM25 plan must (a) prune bucket partitions at planning
    time, (b) never read the positions column and (c) take its top-k as
    one TakeOrderedAndProject, not a per-query window. (Small reads are
    answered locally; test_local_serve audits that path's files.)"""
    import io
    from contextlib import redirect_stdout

    df = built._search_spark(["spark", "window"], 5, 1.2, 0.75)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(True)
    plan = buf.getvalue()
    scan_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert any("bucket" in ln for ln in scan_lines)
    read_schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schemas and all("positions" not in ln for ln in read_schemas)
    assert "TakeOrderedAndProject" in plan


@pytest.mark.slow
def test_delete_tombstones_then_compact(spark, docs, tmp_path):
    """delete() hides docs from every read immediately (tombstone
    anti-join); compact() physically drops them, refreshes stats, and
    search results equal an index built without those docs."""
    ix = TextIndex(spark, str(tmp_path / "ix"))
    ix.build(docs)
    dead = [r.doc_id for r in docs.limit(5).collect()]
    ix.delete(dead)
    terms = ["spark", "window"]
    hidden = {r.doc_id for r in ix.search(terms, k=500).collect()}
    assert not hidden & set(dead)
    assert {
        r.doc_id for r in ix.phrase_hits("table table").collect()
    }.isdisjoint(dead)
    ix.compact()
    assert not (tmp_path / "ix" / "tombstones").exists()
    ref = TextIndex(spark, str(tmp_path / "ref"))
    ref.build(docs.filter(~F.col("doc_id").isin(dead)))
    a = [(r.doc_id, round(r.score, 9)) for r in ix.search(terms, k=10).collect()]
    b = [(r.doc_id, round(r.score, 9)) for r in ref.search(terms, k=10).collect()]
    assert a == b


@pytest.mark.slow
def test_compact_consolidates_epochs(spark, docs, tmp_path):
    """Round-12 epoch hygiene: compact() folds every surviving
    generation into ONE epoch partition set (the streaming-ingest
    growth bound) — search and phrase results are identical before and
    after, the live epoch-dir count drops to 1, and stats refresh."""
    ix = TextIndex(spark, str(tmp_path / "ix"))
    thirds = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    ix.build(thirds[0])
    ix.add(thirds[1], epoch=1)
    ix.add(thirds[2], epoch=2)
    assert ix._n_epoch_dirs() == 3
    terms = ["spark", "window"]
    before = [
        (r.doc_id, round(r.score, 9)) for r in ix.search(terms, k=20).collect()
    ]
    ph_before = sorted(
        tuple(r) for r in ix.phrase_hits("table table").collect()
    )
    ix.compact()
    assert ix._n_epoch_dirs() == 1
    after = [
        (r.doc_id, round(r.score, 9)) for r in ix.search(terms, k=20).collect()
    ]
    ph_after = sorted(
        tuple(r) for r in ix.phrase_hits("table table").collect()
    )
    assert before == after and ph_before == ph_after and before
    # a later add resumes above the fold and serves alongside it
    extra = spark.createDataFrame(
        [(990001, "spark window spark")], "doc_id long, text string"
    )
    ix.add(extra, epoch=3)
    assert 990001 in {r.doc_id for r in ix.search(terms, k=500).collect()}


def test_maybe_compact_policy_threshold(spark, docs, tmp_path):
    """maybe_compact() is the measured-threshold auto-switch: a no-op
    at or under max_epochs live partition sets, a full compact (pinned
    equivalent to manual compact() by the fold test above) beyond it."""
    ix = TextIndex(spark, str(tmp_path / "ix"))
    parts = [docs.filter(F.col("doc_id") % 4 == i) for i in range(4)]
    ix.build(parts[0])
    ix.add(parts[1], epoch=1)
    ix.add(parts[2], epoch=2)
    assert ix.maybe_compact(max_epochs=3) is False
    assert ix._n_epoch_dirs() == 3
    ix.add(parts[3], epoch=3)
    assert ix.maybe_compact(max_epochs=3) is True
    assert ix._n_epoch_dirs() == 1


def test_retried_add_after_compact_serves_newest_generation(spark, tmp_path):
    """Crash-retry across a fold: compact lands everything at epoch 0,
    so a replayed streaming add at its own epoch (> 0) duplicates its
    docs' generations instead of overwriting the consolidated
    partitions — the read-side newest-generation net must serve them
    once, score-identical to the pre-retry index."""
    ix = TextIndex(spark, str(tmp_path / "ix"))
    ix.build(
        spark.createDataFrame(
            [(1, "alpha beta table table"), (2, "alpha gamma")],
            "doc_id long, text string",
        ),
        num_buckets=8,
    )
    batch = spark.createDataFrame(
        [(3, "alpha table table beta")], "doc_id long, text string"
    )
    ix.add(batch, epoch=1)
    ix.compact()
    before = [
        (r.doc_id, round(r.score, 9))
        for r in ix.search(["alpha", "beta"], k=10).collect()
    ]
    ix.add(batch, epoch=1)  # crash-retry replay after the fold
    after = [
        (r.doc_id, round(r.score, 9))
        for r in ix.search(["alpha", "beta"], k=10).collect()
    ]
    assert before == after
    hits = sorted(tuple(r) for r in ix.phrase_hits("table table").collect())
    assert [h[0] for h in hits] == [1, 3]  # no duplicate-map-key throw


def test_compact_crash_recovery_mid_swap(spark, docs, tmp_path):
    """Simulate a compact() crash between the two directory renames:
    postings gone, _postings_new complete. The next read must complete
    the swap and serve correct (tombstone-filtered) results."""
    import os

    root = tmp_path / "ix"
    ix = TextIndex(spark, str(root))
    ix.build(docs)
    dead = [r.doc_id for r in docs.limit(3).collect()]
    ix.delete(dead)
    # hand-build the crash layout: a completed _postings_new (already
    # tombstone-filtered, as compact writes it), postings renamed away
    ix._read_postings().write.mode("overwrite").partitionBy(
        "epoch", "bucket"
    ).parquet(str(root / "_postings_new"))
    os.rename(root / "postings", root / "_postings_old")
    got = {r.doc_id for r in ix.search(["spark"], k=500).collect()}
    assert got and not got & set(dead)
    assert (root / "postings").exists()
    assert not (root / "_postings_old").exists()
    assert not (root / "_postings_new").exists()


def test_changed_doc_replaced_via_epoch_tombstone(spark, tmp_path):
    """The CDC changed-doc recipe: tombstone at epoch E, re-add at epoch
    E — old generation dies, new one survives, scores reflect ONLY the
    new text, and a replayed add converges (dynamic epoch overwrite)."""
    ix = TextIndex(spark, str(tmp_path / "ix"))
    v1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma")], "doc_id long, text string"
    )
    ix.build(v1)
    changed = spark.createDataFrame(
        [(1, "delta delta epsilon")], "doc_id long, text string"
    )
    ix.delete([1], dead_epoch=1)
    # net stats: doc count unchanged, length 2 -> 3
    ix.add(changed, epoch=1, stats_delta=(0, 1))
    ix.add(changed, epoch=1, stats_delta=(0, 1))  # crash-retry replay
    import json as _json

    meta = _json.loads((tmp_path / "ix" / "meta.json").read_text())
    assert meta["n_docs"] == 2 and meta["sum_dl"] == 5  # applied ONCE
    assert {r.doc_id for r in ix.phrase_hits("delta delta").collect()} == {1}
    assert not ix.search(["alpha"], k=10).filter("doc_id = 1").collect()
    got = ix.search(["delta"], k=10).collect()
    assert [r.doc_id for r in got] == [1]
    # tf must be the NEW generation's (2 occurrences), not doubled by
    # the replayed add
    ref = TextIndex(spark, str(tmp_path / "ref"))
    ref.build(
        spark.createDataFrame(
            [(1, "delta delta epsilon"), (2, "alpha gamma")],
            "doc_id long, text string",
        )
    )
    assert round(got[0].score, 9) == round(
        ref.search(["delta"], k=10).collect()[0].score, 9
    )


def test_add_epoch_monotonicity_enforced(spark, tmp_path):
    ix = TextIndex(spark, str(tmp_path / "ix"))
    ix.build(
        spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    )
    d = spark.createDataFrame([(2, "c d")], "doc_id long, text string")
    ix.add(d, epoch=3)
    with pytest.raises(ValueError, match="monotonic"):
        ix.add(d, epoch=2)


def test_inline_phrase_occurrences_matches_index(spark, docs, built):
    """The zero-state inline operator (the registry's oracle face for
    the phrase math) must agree row-for-row with the persisted-index
    phrase_hits on the same corpus."""
    from mcp_hubspot_spark.operators.text import phrase_occurrences

    for phrase in ("table table", "scan slow fast"):
        inline = {
            r.doc_id: (r.n_occurrences, r.first_pos)
            for r in phrase_occurrences(docs, phrase).collect()
        }
        served = {
            r.doc_id: (r.n_occurrences, r.first_pos)
            for r in built.phrase_hits(phrase).collect()
        }
        assert inline == served and inline, phrase


def test_inline_phrase_occurrences_plan_is_shuffle_free(spark, docs):
    import io
    from contextlib import redirect_stdout

    from mcp_hubspot_spark.operators.text import phrase_occurrences

    df = phrase_occurrences(docs, "table table")
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "Join" not in plan and "Exchange" not in plan


def test_rebuild_after_delete_clears_stale_tombstones(spark, tmp_path):
    """build() over an existing index resets it COMPLETELY: rebuild
    lands everything at epoch 0 again, so a tombstone surviving from
    the previous life (dead_epoch >= 1) would silently hide every
    previously-deleted doc still present in the rebuild corpus — the
    exact silent-missing-results failure, since rebuild is the
    documented remediation for interrupted builds."""
    docs = spark.createDataFrame(
        [(1, "spark table scan"), (2, "spark window merge"),
         (3, "hash join plan")],
        "doc_id long, text string",
    )
    ix = TextIndex(spark, str(tmp_path / "ix"))
    ix.build(docs, num_buckets=8)
    ix.delete([1, 2])
    assert not ix.search(["spark"], k=10).collect()  # tombstoned away
    ix.build(docs, num_buckets=8)  # rebuild: docs 1 and 2 live again
    assert {r.doc_id for r in ix.search(["spark"], k=10).collect()} == {1, 2}
    assert not (tmp_path / "ix" / "tombstones").exists()


def test_readd_without_tombstone_serves_newest_generation(spark, tmp_path):
    """Re-adding an id WITHOUT the paired tombstone violates the
    documented convention, but the pruned read's max-epoch safety net
    must still serve each (doc, term) once from the newest generation —
    no duplicate-map-key throw in phrase_hits (default
    mapKeyDedupPolicy=EXCEPTION), no double-counted tf/df in search."""
    ix = TextIndex(spark, str(tmp_path / "ix"))
    ix.build(
        spark.createDataFrame(
            [(1, "a b x"), (2, "c d")], "doc_id long, text string"
        ),
        num_buckets=8,
    )
    # convention violation: no delete([1], dead_epoch=1) first
    ix.add(
        spark.createDataFrame([(1, "a b a b")], "doc_id long, text string")
    )
    hits = {
        r.doc_id: (r.n_occurrences, r.first_pos)
        for r in ix.phrase_hits("a b").collect()
    }
    assert hits == {1: (2, 0)}  # newest generation only
    got = ix.search(["a"], k=10).collect()
    assert [r.doc_id for r in got] == [1]  # one row, not one per epoch


def test_add_replace_tombstones_dropped_terms(spark, tmp_path):
    """add(replace=True) is the enforced re-add path (ADVICE r11): the
    max-epoch net only shadows terms the new generation STILL contains,
    so a plain re-add that DROPS a term keeps serving the old posting —
    replace=True tombstones the batch's own ids at its epoch, killing
    dropped-term postings while the new generation survives."""
    ix = TextIndex(spark, str(tmp_path / "ix"))
    ix.build(
        spark.createDataFrame(
            [(1, "a b x"), (2, "c d")], "doc_id long, text string"
        ),
        num_buckets=8,
    )
    # new generation of doc 1 drops term "x" (and "b")
    ix.add(
        spark.createDataFrame([(1, "a a a")], "doc_id long, text string"),
        replace=True,
    )
    assert not ix.search(["x"], k=10).collect()  # dropped term is gone
    assert not ix.phrase_hits("a b").collect()   # old positions dead too
    assert [r.doc_id for r in ix.search(["a"], k=10).collect()] == [1]
    assert {r.doc_id for r in ix.search(["c"], k=10).collect()} == {2}


def test_search_batch_matches_per_query_search(spark, docs, built):
    """One pruned read serving Q queries must rank bit-identically to a
    search() call per query (shared df aggregate, same fixed-order
    fold) — and agree with the corpus-rescan bm25_topk_batch twin."""
    from mcp_hubspot_spark.operators.text import bm25_topk_batch

    queries = {
        "q_lex": ["spark", "window", "hash"],
        "q_scan": ["table", "scan", "fast"],
        "q_sort": ["sort", "merge"],
    }
    batch = {
        (r.query_id, r.rank): (r.doc_id, round(r.score, 9))
        for r in built.search_batch(queries, k=10).collect()
    }
    for qid, terms in queries.items():
        single = {
            (qid, r.rank): (r.doc_id, round(r.score, 9))
            for r in built.search(terms, k=10).collect()
        }
        assert single == {k: v for k, v in batch.items() if k[0] == qid}, qid
    rescan = {
        (r.query_id, r.rank): (r.doc_id, round(r.score, 9))
        for r in bm25_topk_batch(docs, queries, k=10).collect()
    }
    assert rescan == batch


def test_phrase_hits_batch_matches_per_phrase_and_blocklist(spark, docs, built):
    """One pruned read serving N phrases must reproduce phrase_hits()
    per phrase exactly (same positional arithmetic, folded by offset
    order), and the doc-level rollup must equal the corpus-rescan
    blocklist_hits report."""
    from mcp_hubspot_spark.operators.text import blocklist_hits

    phrases = ["table table", "scan slow fast", "fast fast"]
    batch = {
        (r.phrase, r.doc_id): (r.n_occurrences, r.first_pos)
        for r in built.phrase_hits_batch(phrases).collect()
    }
    for p in phrases:
        single = {
            (p, r.doc_id): (r.n_occurrences, r.first_pos)
            for r in built.phrase_hits(p).collect()
        }
        assert single == {
            k: v for k, v in batch.items() if k[0] == p
        }, p
    assert batch  # non-trivial on the corpus
    served = {
        r.doc_id: (r.n_hits, r.first_hit)
        for r in built.blocklist_hits(phrases).collect()
    }
    scan = {
        r.doc_id: (r.n_hits, r.first_hit)
        for r in blocklist_hits(docs, phrases).collect()
    }
    assert served == scan and served
    # repeated-term phrases reuse one posting row per offset
    import pytest

    with pytest.raises(ValueError):
        built.phrase_hits_batch(["   "])


def test_compact_crash_after_swap_clears_stale_tombstones(spark, tmp_path):
    """The r12 ADVICE window: compact() consolidates everything to
    epoch 0 with tombstones physically applied; a crash AFTER the
    directory swap but BEFORE tombstones/ is removed leaves stale
    tombstones (dead_epoch >= 1) that would re-kill the epoch-0
    postings of docs that were live at compact time — including docs
    re-added at their dead_epoch (the CDC replace recipe). Recovery
    must drop tombstones/ whenever the _postings_old marker shows the
    swap reached its rename."""
    root = tmp_path / "ix"
    ix = TextIndex(spark, str(root))
    ix.build(
        spark.createDataFrame(
            [(1, "alpha beta"), (2, "alpha gamma")],
            "doc_id long, text string",
        )
    )
    ix.delete([1], dead_epoch=1)
    ix.add(
        spark.createDataFrame(
            [(1, "delta delta epsilon")], "doc_id long, text string"
        ),
        epoch=1,
        stats_delta=(0, 1),
    )
    ix.compact()  # clean fold: doc 1 lives at epoch 0 now
    assert {r.doc_id for r in ix.search(["delta"], k=10).collect()} == {1}
    # hand-build the crash leftovers: the old tombstone re-materialized
    # beside the _postings_old swap marker
    spark.createDataFrame(
        [(1, 1)], "doc_id long, dead_epoch int"
    ).write.mode("overwrite").parquet(str(root / "tombstones"))
    (root / "_postings_old").mkdir()
    # any read recovers: stale tombstone must NOT kill doc 1's folded
    # epoch-0 postings (pre-fix this silently lost the doc forever)
    assert {r.doc_id for r in ix.search(["delta"], k=10).collect()} == {1}
    assert not (root / "tombstones").exists()
    assert not (root / "_postings_old").exists()


def test_compact_crash_before_swap_keeps_tombstones(spark, tmp_path):
    """The benign twin: a compact that wrote _postings_new but crashed
    BEFORE its first rename (no _postings_old marker). The live
    postings are still the OLD multi-epoch layout, so recovery must
    discard the orphan rewrite and KEEP tombstones — clearing them here
    would resurrect deleted docs."""
    root = tmp_path / "ix"
    ix = TextIndex(spark, str(root))
    ix.build(
        spark.createDataFrame(
            [(1, "alpha beta"), (2, "alpha gamma")],
            "doc_id long, text string",
        )
    )
    ix.delete([2])
    # orphan rewrite beside the live postings, no swap marker
    ix._read_postings().write.mode("overwrite").partitionBy(
        "epoch", "bucket"
    ).parquet(str(root / "_postings_new"))
    got = {r.doc_id for r in ix.search(["alpha"], k=10).collect()}
    assert got == {1}  # doc 2 stays deleted
    assert (root / "tombstones").exists()
    assert not (root / "_postings_new").exists()


@pytest.mark.slow
def test_add_replace_default_stats_are_net(spark, tmp_path):
    """add(replace=True) with NO explicit stats_delta must move corpus
    stats by the NET difference (new length minus the replaced ids'
    previous contribution), not by the full frame — the r12 ADVICE
    finding: every default-stats replace inflated n_docs/sum_dl, so
    BM25 idf and avgdl drifted until a compact."""
    import json as _json

    root = tmp_path / "ix"
    ix = TextIndex(spark, str(root))
    ix.build(
        spark.createDataFrame(
            [(1, "alpha beta"), (2, "alpha gamma")],
            "doc_id long, text string",
        )
    )
    # replace doc 1 (len 2 -> 3): n_docs stays 2, sum_dl 4 -> 5
    ix.add(
        spark.createDataFrame(
            [(1, "delta delta epsilon")], "doc_id long, text string"
        ),
        replace=True,
    )
    meta = _json.loads((root / "meta.json").read_text())
    assert (meta["n_docs"], meta["sum_dl"]) == (2, 5)
    # replace a BRAND-NEW id (nothing to subtract): full-frame bump
    ix.add(
        spark.createDataFrame(
            [(3, "zeta eta")], "doc_id long, text string"
        ),
        replace=True,
    )
    meta = _json.loads((root / "meta.json").read_text())
    assert (meta["n_docs"], meta["sum_dl"]) == (3, 7)
    # scores must equal a fresh index over the final corpus (stats AND
    # postings agree — the drift the net delta exists to prevent)
    ref = TextIndex(spark, str(tmp_path / "ref"))
    ref.build(
        spark.createDataFrame(
            [
                (1, "delta delta epsilon"),
                (2, "alpha gamma"),
                (3, "zeta eta"),
            ],
            "doc_id long, text string",
        )
    )
    for terms in (["delta"], ["alpha"], ["zeta", "gamma"]):
        got = [
            (r.doc_id, round(r.score, 9))
            for r in ix.search(terms, k=10).collect()
        ]
        want = [
            (r.doc_id, round(r.score, 9))
            for r in ref.search(terms, k=10).collect()
        ]
        assert got == want, terms


def test_add_replace_second_replace_does_not_drift(spark, tmp_path):
    """Back-to-back default-stats replaces of the same doc: the net
    delta must subtract the NEWEST previous generation (len 3), not the
    original (len 2) — max_by(dl, epoch) in the prev-contribution scan."""
    import json as _json

    root = tmp_path / "ix"
    ix = TextIndex(spark, str(root))
    ix.build(
        spark.createDataFrame(
            [(1, "alpha beta"), (2, "alpha gamma")],
            "doc_id long, text string",
        )
    )
    ix.add(
        spark.createDataFrame(
            [(1, "delta delta epsilon")], "doc_id long, text string"
        ),
        replace=True,
    )  # len 2 -> 3
    ix.add(
        spark.createDataFrame(
            [(1, "omega")], "doc_id long, text string"
        ),
        replace=True,
    )  # len 3 -> 1
    meta = _json.loads((root / "meta.json").read_text())
    assert (meta["n_docs"], meta["sum_dl"]) == (2, 3)
