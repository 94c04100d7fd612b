"""End-to-end serving loop: SnapshotTable CDC → incremental re-embed →
IvfIndex.add()/delete() → filtered search, with no full-index rebuild.

This is the production shape all the pieces exist for — the reference's
analog is the per-response FAISS append (``handlers/base_handler.py:70-73``)
plus its daily-partition expiry (``faiss_manager.py:90-104``): documents
change in the system of record, ONLY the changed ones are re-embedded,
and the ANN index absorbs the delta without retraining or rescanning the
corpus. The test pins the three contract points: upserted docs become
searchable, deleted (and superseded) docs stop matching, and the files of
untouched cells are carried forward byte-identical (delta cost, not
rebuild cost).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mcp_hubspot_spark.functions.embedding import embed_column
from mcp_hubspot_spark.sources.snapshot_table import SnapshotTable
from mcp_hubspot_spark.vector_store import IvfIndex

DIM = 16


def _embedded(docs):
    """doc frame -> (vec_id, embedding) via the deterministic embedder."""
    return docs.select(
        F.col("doc_id").alias("vec_id"),
        embed_column(F.col("text"), dim=DIM)
        .cast("array<double>")
        .alias("embedding"),
    )


def _probe_for(spark, text: str) -> list[float]:
    row = (
        spark.createDataFrame([(0, text)], "doc_id long, text string")
        .select(embed_column(F.col("text"), dim=DIM).alias("e"))
        .first()
    )
    return [float(x) for x in row.e]


def _cell_files(root):
    return {
        str(f.relative_to(root)): f.stat().st_size
        for f in (root / "cells").glob("cell_id=*/*.parquet")
    }


@pytest.fixture()
def corpus(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, f"document number {i} about topic {i % 7}") for i in range(200)],
        "doc_id long, text string",
    )
    table = SnapshotTable(spark, str(tmp_path / "docs"))
    table.create(docs, keys=["doc_id"], n_buckets=8)
    idx = IvfIndex(spark, str(tmp_path / "ivf"))
    idx.build(_embedded(table.read()), n_cells=8)
    idx.export_manifest()
    return table, idx


@pytest.mark.slow
def test_cdc_to_index_serving_loop(spark, tmp_path, corpus):
    table, idx = corpus
    root = idx.root
    v0 = table.version()
    files_v0 = _cell_files(root)
    centroids_before = idx._model()["centroids"]

    # --- the system of record moves: one new doc, one edit, one delete
    new_text = "freshly added doc about quantum lemurs"
    edit_text = "doc five was completely rewritten"
    table.merge_upsert(
        spark.createDataFrame(
            [(1000, new_text), (5, edit_text)], "doc_id long, text string"
        )
    )
    table.delete_where(F.col("doc_id") == 7)
    v2 = table.version()
    assert v2 == v0 + 2

    # --- incremental maintenance driven ONLY by the CDC delta
    changes = table.table_changes(v0, v2, include_values=True)
    stale_ids = changes.filter(
        F.col("diff_status").isin("removed", "changed")
    ).select(F.col("doc_id").alias("vec_id"))
    fresh = changes.filter(
        F.col("diff_status").isin("added", "changed")
    ).select(
        "doc_id", F.col("after").getField("text").alias("text")
    )
    assert stale_ids.count() == 2 and fresh.count() == 2  # the delta, not 200
    stale_cells = {
        r.cell_id
        for r in spark.read.option("basePath", str(root / "cells"))
        .parquet(str(root / "cells"))
        .filter(F.col("vec_id").isin(5, 7))
        .select("cell_id")
        .collect()
    }
    n_deleted = idx.delete(stale_ids)  # old rows for 5 and 7
    assert n_deleted == 2
    idx.add(_embedded(fresh))

    # --- upserted docs are searchable at rank 1 by their own embedding
    hit = idx.search(_probe_for(spark, new_text), k=1, nprobe=8).first()
    assert hit.vec_id == 1000 and hit.distance < 1e-9
    hit5 = idx.search(_probe_for(spark, edit_text), k=1, nprobe=8).first()
    assert hit5.vec_id == 5 and hit5.distance < 1e-9

    # --- deleted / superseded rows never match again
    all_rows = spark.read.option("basePath", str(root / "cells")).parquet(
        str(root / "cells")
    )
    assert all_rows.filter(F.col("vec_id") == 7).count() == 0
    assert all_rows.filter(F.col("vec_id") == 5).count() == 1  # new row only
    assert all_rows.count() == 200 - 1 + 1  # 200 docs - deleted + added

    # --- no rebuild: centroids untouched, unaffected cells' files intact
    assert idx._model()["centroids"] == centroids_before
    files_now = _cell_files(root)
    # delete() rewrites only the stale cells; add() only APPENDS files —
    # so every original file of every non-stale cell must still be
    # present with the same size. That is the "delta cost, not rebuild
    # cost" contract.
    for p, sz in files_v0.items():
        cell = int(p.split("=")[1].split("/")[0])
        if cell not in stale_cells:
            assert files_now.get(p) == sz

    # --- the serving manifest tracked every mutation
    m = idx.read_manifest()
    listed = {f for fs in m["cells"].values() for f in fs}
    assert listed == set(files_now)

    # --- filtered search inside the pruned scan still works post-delta
    only_low = idx.search(
        _probe_for(spark, new_text),
        k=5,
        nprobe=8,
        where=F.col("vec_id") < 100,
    ).collect()
    assert only_low and all(r.vec_id < 100 for r in only_low)


@pytest.mark.slow
def test_index_maintainer_sync_cycles(spark, tmp_path):
    """IndexMaintainer: the packaged form of the loop above — two sync
    cycles apply only the delta, a no-movement sync is a no-op, and the
    synced version survives re-instantiation (restartable state)."""
    from mcp_hubspot_spark.serving import IndexMaintainer

    docs = spark.createDataFrame(
        [(i, f"maintained doc {i} topic {i % 5}") for i in range(150)],
        "doc_id long, text string",
    )
    table = SnapshotTable(spark, str(tmp_path / "docs"))
    table.create(docs, keys=["doc_id"], n_buckets=8)
    idx = IvfIndex(spark, str(tmp_path / "ivf"))
    m = IndexMaintainer(spark, table, idx, dim=DIM)
    assert m.synced_version() is None
    with pytest.raises(ValueError):
        m.sync()
    assert m.initialize(n_cells=8) == 0

    # cycle 1: one add, one edit, one delete
    table.merge_upsert(
        spark.createDataFrame(
            [(500, "cycle one new doc"), (3, "doc three rewritten")],
            "doc_id long, text string",
        )
    )
    table.delete_where(F.col("doc_id") == 9)
    r1 = m.sync()
    assert r1 == {"from": 0, "to": 2, "deleted": 2, "added": 2}
    hit = idx.search(_probe_for(spark, "cycle one new doc"), k=1, nprobe=8).first()
    assert hit.vec_id == 500 and hit.distance < 1e-9

    # no table movement -> no-op, no file mutation
    files = sorted(
        str(p) for p in (idx.root / "cells").glob("cell_id=*/*.parquet")
    )
    assert m.sync() == {"from": 2, "to": 2, "deleted": 0, "added": 0}
    assert files == sorted(
        str(p) for p in (idx.root / "cells").glob("cell_id=*/*.parquet")
    )

    # cycle 2 through a FRESH maintainer (state read back from disk)
    m2 = IndexMaintainer(spark, table, idx, dim=DIM)
    assert m2.synced_version() == 2
    table.merge_upsert(
        spark.createDataFrame([(501, "cycle two doc")], "doc_id long, text string")
    )
    r2 = m2.sync()
    assert r2 == {"from": 2, "to": 3, "deleted": 0, "added": 1}

    # the index answers exactly for the current table: same key set
    indexed = {
        r.vec_id
        for r in spark.read.option(
            "basePath", str(idx.root / "cells")
        ).parquet(str(idx.root / "cells")).select("vec_id").collect()
    }
    expected = {r.doc_id for r in table.read().select("doc_id").collect()}
    assert indexed == expected
    # deleted key stays gone, searchable set reflects the edit
    assert 9 not in indexed
    hit3 = idx.search(_probe_for(spark, "doc three rewritten"), k=1, nprobe=8).first()
    assert hit3.vec_id == 3 and hit3.distance < 1e-9


@pytest.mark.slow
def test_index_maintainer_pq_index_sync(spark, tmp_path):
    """CDC maintenance of an IVFPQ index: initialize(pq_m=...) builds
    codebooks once; sync()'s add() then encodes delta rows against the
    FROZEN codebooks with no PQ-specific handling — the ADC search
    finds a synced-in document, and every stored row (original and
    delta) carries a pq_code of the right shape."""
    from mcp_hubspot_spark.serving import IndexMaintainer

    docs = spark.createDataFrame(
        [(i, f"pq maintained doc {i} topic {i % 5}") for i in range(120)],
        "doc_id long, text string",
    )
    table = SnapshotTable(spark, str(tmp_path / "docs"))
    table.create(docs, keys=["doc_id"], n_buckets=8)
    idx = IvfIndex(spark, str(tmp_path / "ivfpq"))
    m = IndexMaintainer(spark, table, idx, dim=DIM)
    assert m.initialize(n_cells=4, pq_m=4, pq_codes=8) == 0

    table.merge_upsert(
        spark.createDataFrame(
            [(700, "pq cycle new doc")], "doc_id long, text string"
        )
    )
    # a purely-added delta deletes nothing (the convergence-union
    # delete of an absent id removes 0 rows)
    assert m.sync() == {"from": 0, "to": 1, "deleted": 0, "added": 1}
    hit = idx.search_pq(
        _probe_for(spark, "pq cycle new doc"), k=1, nprobe=4, rerank=10
    ).first()
    assert hit.vec_id == 700 and hit.distance < 1e-9
    codes = (
        spark.read.option("basePath", str(idx.root / "cells"))
        .parquet(str(idx.root / "cells"))
        .select("vec_id", F.size("pq_code").alias("m"))
        .collect()
    )
    assert len(codes) == 121 and all(r.m == 4 for r in codes)


@pytest.mark.slow
def test_sync_crash_retry_converges(spark, tmp_path):
    """Crash-idempotency of sync() (round-6 advice): a crash between
    index.add() and _record() means the retry re-runs the SAME delta.
    Because sync deletes the union of stale and fresh ids before adding,
    the purely-'added' id that already landed in the index is cleared
    and re-appended exactly once — never duplicated in top-k."""
    from mcp_hubspot_spark.serving import IndexMaintainer

    docs = spark.createDataFrame(
        [(i, f"retry doc {i} topic {i % 5}") for i in range(100)],
        "doc_id long, text string",
    )
    table = SnapshotTable(spark, str(tmp_path / "docs"))
    table.create(docs, keys=["doc_id"], n_buckets=8)
    idx = IvfIndex(spark, str(tmp_path / "ivf"))
    m = IndexMaintainer(spark, table, idx, dim=DIM)
    v0 = m.initialize(n_cells=8)

    table.merge_upsert(
        spark.createDataFrame(
            [(900, "a brand new retry doc"), (4, "doc four edited")],
            "doc_id long, text string",
        )
    )
    r1 = m.sync()  # the "crashed" attempt: add() ran, pretend _record didn't
    assert r1["added"] == 2
    m._record(v0)  # roll the state back = crash before _record

    r2 = m.sync()  # the retry re-runs the identical delta
    assert (r2["from"], r2["to"]) == (v0, table.version())
    # retry deleted the rows the crashed attempt already added
    assert r2["deleted"] == 2 and r2["added"] == 2

    rows = (
        spark.read.option("basePath", str(idx.root / "cells"))
        .parquet(str(idx.root / "cells"))
        .groupBy("vec_id")
        .count()
        .filter(F.col("count") > 1)
    )
    assert rows.count() == 0  # exactly one row per key — no duplicates
    top = idx.search(_probe_for(spark, "a brand new retry doc"), k=3, nprobe=8).collect()
    assert top[0].vec_id == 900
    assert [r.vec_id for r in top].count(900) == 1  # appears ONCE in top-k


# ------------------------------------------------------------------ #
# round 10: the lexical serving loop (SnapshotTable CDC -> TextIndex)  #
# ------------------------------------------------------------------ #


@pytest.mark.slow
def test_cdc_to_text_index_serving_loop(spark, tmp_path):
    """The TextIndexMaintainer contract: upserted docs become
    searchable with corpus-exact BM25 stats, edited docs answer ONLY
    for their new text, deleted docs stop matching — and the synced
    index is score-identical to a fresh build of the current table."""
    from mcp_hubspot_spark.serving import TextIndexMaintainer
    from mcp_hubspot_spark.sources.snapshot_table import SnapshotTable
    from mcp_hubspot_spark.text_index import TextIndex

    docs = spark.createDataFrame(
        [(i, f"document number {i} about topic {i % 7}") for i in range(60)],
        "doc_id long, text string",
    )
    table = SnapshotTable(spark, str(tmp_path / "docs"))
    table.create(docs, keys=["doc_id"], n_buckets=4)
    ix = TextIndex(spark, str(tmp_path / "tix"))
    m = TextIndexMaintainer(spark, table, ix)
    v0 = m.initialize(num_buckets=16)
    assert m.synced_version() == v0

    # no-op sync touches nothing
    assert m.sync()["added"] == 0

    # the system of record moves: add, edit, delete
    table.merge_upsert(
        spark.createDataFrame(
            [
                (999, "quantum lemurs quantum"),
                (5, "rewritten rewritten text entirely"),
            ],
            "doc_id long, text string",
        )
    )
    table.delete_where(F.col("doc_id") == 7)
    rep = m.sync()
    assert rep["added"] == 2 and rep["tombstoned"] == 3

    # fresh doc searchable; edited doc answers only for new text;
    # deleted doc gone
    assert [r.doc_id for r in ix.search(["lemurs"], k=5).collect()] == [999]
    assert {r.doc_id for r in ix.phrase_hits("rewritten rewritten").collect()} == {5}
    assert not ix.search(["number"], k=500).filter("doc_id = 7").collect()
    assert not ix.phrase_hits("document number 5").filter("doc_id = 5").collect()

    # score parity with a from-scratch build of the current table:
    # stats deltas (N, sum_dl) and postings must both be exact
    ref = TextIndex(spark, str(tmp_path / "ref"))
    ref.build(table.read(), num_buckets=16)
    for terms in (["number"], ["quantum"], ["rewritten", "topic"]):
        a = [
            (r.doc_id, round(r.score, 9))
            for r in ix.search(terms, k=20).collect()
        ]
        b = [
            (r.doc_id, round(r.score, 9))
            for r in ref.search(terms, k=20).collect()
        ]
        assert a == b, terms

    # replayed sync after simulated lost state-record: table moves
    # again BETWEEN crash and retry; stats must not double-apply
    import json as _json

    state = str(ix.root / "_sync_state.json")
    saved = open(state).read()
    table.merge_upsert(
        spark.createDataFrame(
            [(1000, "brand new entry")], "doc_id long, text string"
        )
    )
    m.sync()
    # rewind the state file to simulate a crash BEFORE _record but
    # AFTER the index absorbed the delta, then sync again
    with open(state, "w") as fh:
        fh.write(saved)
    m.sync()
    ref2 = TextIndex(spark, str(tmp_path / "ref2"))
    ref2.build(table.read(), num_buckets=16)
    a = [
        (r.doc_id, round(r.score, 9))
        for r in ix.search(["number", "entry"], k=30).collect()
    ]
    b = [
        (r.doc_id, round(r.score, 9))
        for r in ref2.search(["number", "entry"], k=30).collect()
    ]
    assert a == b
    meta = _json.loads((ix.root / "meta.json").read_text())
    ref2_meta = _json.loads((tmp_path / "ref2" / "meta.json").read_text())
    assert (meta["n_docs"], meta["sum_dl"]) == (
        ref2_meta["n_docs"],
        ref2_meta["sum_dl"],
    )


@pytest.mark.slow
def test_hybrid_rrf_serve_matches_brute_twin(spark, tmp_path):
    """Index-backed hybrid retrieval (TextIndex BM25 shortlist +
    IvfIndex ANN shortlist -> RRF fuse) must replay the brute
    hybrid_search_rrf registry query row-for-row when the dense leg
    probes every cell: the lexical leg is score-identical by the
    TextIndex agreement pin, full-probe IVF equals exact kNN, and RRF
    is rank-only arithmetic."""
    from mcp_hubspot_spark.serving import hybrid_rrf_serve
    from mcp_hubspot_spark.text_index import TextIndex
    from mcp_hubspot_spark.workload import hybrid_search_rrf, load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    embs = load_table(spark, sf, "embeddings")
    tix = TextIndex(spark, str(tmp_path / "tix"))
    tix.build(docs)
    vix = IvfIndex(spark, str(tmp_path / "vix"))
    vix.build(embs, n_cells=8, metric="l2")
    qv = [
        float(x)
        for x in embs.filter(F.col("vec_id") == 0).first().embedding
    ]
    served = [
        tuple(r)
        for r in hybrid_rrf_serve(
            tix, vix, ["spark", "window", "hash"], qv,
            k=10, shortlist=20, nprobe=8,  # nprobe == n_cells: exact
        ).collect()
    ]
    brute = [tuple(r) for r in hybrid_search_rrf(spark, sf).collect()]
    assert served == brute and len(served) == 10
    # partial probe stays well-formed (k rows, same schema), recall
    # traded per the IVF contract
    part = hybrid_rrf_serve(
        tix, vix, ["spark", "window", "hash"], qv, k=10, nprobe=2
    )
    assert part.columns == ["doc_id", "lex_rank", "vec_rank", "rrf_score"]
    assert part.count() == 10


@pytest.mark.slow
def test_hybrid_rrf_serve_batch_matches_per_query(spark, tmp_path):
    """The batched hybrid (one pruned posting read + one pruned cell
    scan for Q queries) must return each query's hybrid_rrf_serve
    result exactly — both legs pin to their per-query twins, so the
    batch is agreement-by-composition, at partial probe too."""
    from mcp_hubspot_spark.serving import (
        hybrid_rrf_serve,
        hybrid_rrf_serve_batch,
    )
    from mcp_hubspot_spark.text_index import TextIndex
    from mcp_hubspot_spark.workload import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    embs = load_table(spark, sf, "embeddings")
    tix = TextIndex(spark, str(tmp_path / "tix"))
    tix.build(docs)
    vix = IvfIndex(spark, str(tmp_path / "vix"))
    vix.build(embs, n_cells=8, metric="l2")
    vecs = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in embs.filter(F.col("vec_id").isin(0, 7)).collect()
    }
    queries = {
        "qa": (["spark", "window", "hash"], vecs[0]),
        "qb": (["table", "merge"], vecs[7]),
    }
    batch = {
        (r.query_id, r.doc_id): (r.lex_rank, r.vec_rank, r.rrf_score)
        for r in hybrid_rrf_serve_batch(
            tix, vix, queries, k=10, shortlist=20, nprobe=2
        ).collect()
    }
    for qid, (terms, vec) in queries.items():
        single = {
            (qid, r.doc_id): (r.lex_rank, r.vec_rank, r.rrf_score)
            for r in hybrid_rrf_serve(
                tix, vix, terms, vec, k=10, shortlist=20, nprobe=2
            ).collect()
        }
        assert single == {
            kk: vv for kk, vv in batch.items() if kk[0] == qid
        }, qid


@pytest.mark.slow
def test_hybrid_pq_dense_leg_degenerates_to_exact(spark, tmp_path):
    """dense="pq" reads PQ codes + exact-reranks the ADC shortlist; with
    every cell probed and the rerank budget covering every probed row,
    the exact rerank ranks ALL candidates — so the PQ-leg hybrid must
    equal the exact-leg hybrid row-for-row (and transitively the brute
    twin). At serving settings it trades recall for the ~32x smaller
    dense read, as search_pq documents."""
    from mcp_hubspot_spark.serving import hybrid_rrf_serve
    from mcp_hubspot_spark.text_index import TextIndex
    from mcp_hubspot_spark.workload import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    embs = load_table(spark, sf, "embeddings")
    tix = TextIndex(spark, str(tmp_path / "tix"))
    tix.build(docs)
    vix = IvfIndex(spark, str(tmp_path / "vix"))
    vix.build(embs, n_cells=8, metric="l2", pq_m=8, pq_codes=16)
    qv = [
        float(x)
        for x in embs.filter(F.col("vec_id") == 0).first().embedding
    ]
    n = embs.count()
    args = (tix, vix, ["spark", "window", "hash"], qv)
    exact = [
        tuple(r)
        for r in hybrid_rrf_serve(
            *args, k=10, shortlist=20, nprobe=8
        ).collect()
    ]
    pq = [
        tuple(r)
        for r in hybrid_rrf_serve(
            *args, k=10, shortlist=20, nprobe=8,
            dense="pq", pq_rerank=int(n),
        ).collect()
    ]
    assert pq == exact and len(pq) == 10
    # serving settings stay well-formed
    part = hybrid_rrf_serve(*args, k=10, shortlist=20, nprobe=2, dense="pq")
    assert part.count() == 10


@pytest.mark.slow
def test_hybrid_mmr_serve_matches_brute_twin(spark, tmp_path):
    """The full served stack (index hybrid fusion -> IvfIndex.lookup of
    the shortlist vectors -> MMR) must replay the brute
    search_mmr_rerank registry query row-for-row at full probe: the
    fusion is pinned to the brute fusion, the stored vectors are the
    corpus vectors (float->double exact), and MMR's fold is
    deterministic left-to-right floats."""
    from mcp_hubspot_spark.serving import hybrid_mmr_serve
    from mcp_hubspot_spark.text_index import TextIndex
    from mcp_hubspot_spark.workload import load_table, search_mmr_rerank

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    embs = load_table(spark, sf, "embeddings")
    tix = TextIndex(spark, str(tmp_path / "tix"))
    tix.build(docs)
    vix = IvfIndex(spark, str(tmp_path / "vix"))
    vix.build(embs, n_cells=8, metric="l2")
    qv = [
        float(x)
        for x in embs.filter(F.col("vec_id") == 0).first().embedding
    ]
    served = [
        (r.doc_id, r.mmr_rank, round(r.mmr_score, 6))
        for r in hybrid_mmr_serve(
            tix, vix, ["spark", "window", "hash"], qv,
            k=5, fuse_k=10, shortlist=20, nprobe=8, lam=0.7,
        ).orderBy("mmr_rank").collect()
    ]
    brute = [
        (r.doc_id, r.mmr_rank, r.mmr_score)
        for r in search_mmr_rerank(spark, sf).collect()
    ]
    assert served == brute and len(served) == 5
