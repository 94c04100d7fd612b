"""Driver-local serving reads (``local_serve``): the local and Spark
implementations of ``IvfIndex.search``, ``TextIndex.search`` and
``VectorStore.search`` return the same rows bit for bit, the local path
opens only the pruned files, and small reads launch no Spark job."""

from __future__ import annotations

import logging
import shutil
import struct
from datetime import date

import pytest
from pyspark.sql import functions as F

from mcp_hubspot_spark import local_serve
from mcp_hubspot_spark.text_index import TextIndex
from mcp_hubspot_spark.vector_store import IvfIndex, VectorStore
from mcp_hubspot_spark.workload import load_table


def _bits(rows):
    """Rows with every float as its 8 bytes: equality is bit equality."""
    return [
        tuple(struct.pack("<d", v) if isinstance(v, float) else v for v in r)
        for r in rows
    ]


def _assert_same(spark, local_tbl, spark_df, order_col="rank"):
    local_df = local_serve.answer(spark, local_tbl)
    assert local_df.schema == spark_df.schema
    a = sorted(local_df.collect(), key=lambda r: r[order_col])
    b = sorted(spark_df.collect(), key=lambda r: r[order_col])
    assert _bits(a) == _bits(b)
    return a


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def queries(embs):
    rows = embs.orderBy("vec_id").limit(3).collect()
    qs = [[float(x) for x in r.embedding] for r in rows]
    # an off-corpus query: no distance is 0, near-ties stay near-ties
    return qs + [[(-1.0) ** j * 0.37 * (j % 5) for j in range(len(qs[0]))]]


@pytest.fixture(scope="module")
def ivf_l2(spark, embs, tmp_path_factory):
    ix = IvfIndex(spark, str(tmp_path_factory.mktemp("ivf") / "l2"))
    ix.build(embs, n_cells=8, metric="l2")
    ix.export_manifest()
    return ix


@pytest.fixture(scope="module")
def tix_base(spark, docs, tmp_path_factory):
    ix = TextIndex(spark, str(tmp_path_factory.mktemp("tix") / "base"))
    ix.build(docs, num_buckets=16)
    return ix


def _copy(spark, cls, ix, dst):
    shutil.copytree(ix.root, dst)
    return cls(spark, str(dst))


# ------------------------------------------------------------------ IVF


def _ivf_case(case, spark, embs, ivf_l2, queries, tmp_path):
    if case == "l2":
        return ivf_l2
    if case in ("cosine", "opq"):
        ix = IvfIndex(spark, str(tmp_path / case))
        kw = {"metric": "cosine"} if case == "cosine" else {
            "pq_m": 4, "pq_codes": 8, "pq_opq": True}
        ix.build(embs, n_cells=6, **kw)
        return ix
    ix = _copy(spark, IvfIndex, ivf_l2, tmp_path / case)
    cell = ix._probe(queries[0], 1)[1][0]
    if case == "swap_backup":
        # a swap killed between its backup rename and its move-in
        (ix.root / "_swap_backup").mkdir()
        (ix.root / "cells" / f"cell_id={cell}").rename(
            ix.root / "_swap_backup" / f"cell_id={cell}"
        )
    else:  # empty_probed: every row of the probed cell deleted
        ids = [
            r.vec_id
            for r in ix._pruned_cells([cell]).select("vec_id").collect()
        ]
        assert ix.delete(ids) == len(ids)
        assert not (ix.root / "cells" / f"cell_id={cell}").exists()
    return ix


@pytest.mark.parametrize(
    "case",
    [
        "l2",
        # the two extra index builds take 10-25 s: outside the default gate
        pytest.param("cosine", marks=pytest.mark.slow),
        pytest.param("opq", marks=pytest.mark.slow),
        "swap_backup",
        "empty_probed",
    ],
)
def test_ivf_local_matches_spark(spark, embs, ivf_l2, queries, tmp_path, case):
    ix = _ivf_case(case, spark, embs, ivf_l2, queries, tmp_path)
    nprobe = 1 if case == "empty_probed" else 3
    for q in queries:
        qv, probe, metric, _ = ix._probe(q, nprobe)
        got = _assert_same(
            spark,
            ix._search_local(qv, metric, ix._cell_files(probe), 10),
            ix._search_spark(qv, probe, metric, 10),
        )
        if case == "empty_probed" and q is queries[0]:
            assert got == []
        elif case != "empty_probed":
            assert len(got) == 10
    if case == "swap_backup":
        assert not any((ix.root / "_swap_backup").glob("cell_id=*"))


def test_ivf_wrong_dimension_query_raises(spark, ivf_l2, queries):
    """A query shorter or longer than the index fails loud on every
    search entry point instead of returning null distances."""
    short, long_ = queries[0][:-1], queries[0] + [0.0]
    for q in (short, long_):
        with pytest.raises(ValueError, match="dimensions"):
            ivf_l2.search(q, k=5)
        with pytest.raises(ValueError, match="dimensions"):
            ivf_l2.search_batch([(0, q)], k=5)
    # a repeated id would make one query_id hold two queries' rows
    with pytest.raises(ValueError, match="repeated query id"):
        ivf_l2.search_batch([(1, queries[0]), ("1", queries[1])], k=5)


# ------------------------------------------------------------ TextIndex


def _tix_case(case, spark, docs, tix_base, tmp_path):
    ix = _copy(spark, TextIndex, tix_base, tmp_path / case)
    if case == "add":
        ix.add(spark.createDataFrame(
            [(900001, "spark window spark merge"), (900002, "hash table")],
            "doc_id long, text string",
        ))
    elif case == "delete":
        ix.delete([r.doc_id for r in docs.orderBy("doc_id").limit(5).collect()])
    elif case == "readd":
        # a plain re-add of a live id, no tombstone: the newest
        # generation per (doc, term) must win
        doc = docs.orderBy("doc_id").first().doc_id
        ix.add(spark.createDataFrame(
            [(doc, "spark spark spark window")], "doc_id long, text string"
        ))
    elif case in ("compact", "mid_compact"):
        ix.delete([r.doc_id for r in docs.orderBy("doc_id").limit(3).collect()])
        ix.add(spark.createDataFrame(
            [(900003, "window hash spark")], "doc_id long, text string"
        ))
        if case == "compact":
            ix.compact()
        else:
            # killed between compact's two renames: the folded rewrite
            # waits as _postings_new, the old postings as _postings_old
            done = _copy(spark, TextIndex, ix, tmp_path / "folded")
            done.compact()
            (ix.root / "postings").rename(ix.root / "_postings_old")
            shutil.copytree(done.root / "postings", ix.root / "_postings_new")
    return ix


@pytest.mark.parametrize(
    "case", ["add", "delete", "readd", "compact", "mid_compact"]
)
def test_text_local_matches_spark(spark, docs, tix_base, tmp_path, case):
    ix = _tix_case(case, spark, docs, tix_base, tmp_path)
    for terms in (["hash", "spark", "window"], ["merge", "table"], ["zzqx"]):
        postings, tombstones = ix._search_files(terms)
        got = _assert_same(
            spark,
            ix._search_local(terms, 10, postings, tombstones),
            ix._search_spark(terms, 10),
        )
        assert len(got) == (0 if terms == ["zzqx"] else 10)
    if case == "mid_compact":
        assert not (ix.root / "_postings_old").exists()
        assert not (ix.root / "tombstones").exists()


# ---------------------------------------------------------- VectorStore


def _store_rows(spark, embs, days, n_per_day=40):
    vecs = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in embs.orderBy("vec_id").limit(len(days) * n_per_day).collect()
    ]
    rows = [
        (days[i // n_per_day], vid, vec, "a" if vid % 3 else "b",
         f'{{"id": {vid}}}', None)
        for i, (vid, vec) in enumerate(vecs)
    ]
    return spark.createDataFrame(
        rows,
        "date date, vec_id long, embedding array<float>, type string, "
        "data_json string, extras map<string,string>",
    )


@pytest.mark.parametrize(
    "case", ["types", "as_of", "max_days", "empty", "bad_rows"]
)
def test_vector_store_local_matches_spark(spark, embs, queries, tmp_path, case):
    vs = VectorStore(spark, str(tmp_path / "vs"), max_days=7)
    days = [date(2024, 6, d) for d in range(1, 11)]
    if case != "empty":
        vs.add(_store_rows(spark, embs, days if case == "max_days" else days[:3]))
    k, as_of, types = 10, None, None
    if case == "types":
        types = ["b"]
    if case == "as_of":
        as_of = date(2024, 6, 2)
    if case == "bad_rows":
        vs.add(spark.createDataFrame(
            [(990001, None), (990002, [1.0, 2.0])],
            "vec_id long, embedding array<float>",
        ).select(
            "vec_id", "embedding", F.lit("a").alias("type"),
            F.lit("{}").alias("data_json"),
            F.lit(None).cast("map<string,string>").alias("extras"),
        ), as_of=days[0])
        k = 200  # every row, the two null distances last
    keep = vs._present_dates(as_of)[: vs.max_days]
    files = local_serve.data_files(tmp_path / "vs" / f"date={d}" for d in keep)
    for q in queries:
        got = _assert_same(
            spark,
            vs._search_local(q, k, types, files),
            vs._search_spark(q, k, as_of, types),
        )
        if case == "empty":
            assert got == []
        if case == "types":
            assert got and {r.type for r in got} == {"b"}
        if case == "bad_rows":
            assert [r.vec_id for r in got[-2:]] == [990001, 990002]
            assert got[-1].distance is None


# ------------------------------------------------------- Engine appends


def _udf_rows(df, data_type):
    """A tool answer as the Spark pipeline embeds it: payload, id and the
    pandas-UDF embedding in one select over the answer's plan."""
    from mcp_hubspot_spark.functions.embedding import embed_column

    payload = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
    return df.select(
        F.xxhash64(F.lit(data_type), payload).alias("vec_id"),
        embed_column(payload, dim=64).alias("embedding"),
        F.lit(data_type).alias("type"),
        payload.alias("data_json"),
        F.lit(None).cast("map<string,string>").alias("extras"),
    )


def _stored(vs):
    """Every stored row, its embedding as float32 bytes, sorted."""
    return sorted(
        (r.date, r.vec_id, struct.pack(f"<{len(r.embedding)}f", *r.embedding),
         r.type, r.data_json, r.extras)
        for r in vs.load().collect()
    )


def test_engine_appends_match_the_spark_pipeline(spark, tmp_path):
    """The rows an Engine tool appends in the driver equal, bit for bit,
    the rows the pandas-UDF pipeline appends through Spark for the same
    answer and day; a store holding both kinds of file reads back the
    same through the local and the Spark search."""
    from mcp_hubspot_spark.api import Engine
    from tests.crm_fixtures import build_crm_tables

    tables = build_crm_tables(spark)
    plain = Engine(tables)
    frames = {
        "hubspot_ticket": plain.get_tickets(limit=5),
        "hubspot_company": plain.get_active_companies(limit=4),
        "hubspot_contact": plain.get_active_contacts(limit=3),
    }
    days = dict(zip(frames, [date(2024, 6, d) for d in (1, 2, 3)]))
    local = Engine(tables, VectorStore(spark, str(tmp_path / "local")))
    old = VectorStore(spark, str(tmp_path / "spark"))
    mixed = Engine(tables, VectorStore(spark, str(tmp_path / "mixed")))
    for t, df in frames.items():
        local._indexed(df, t, as_of=days[t])
        old.add(_udf_rows(df, t), as_of=days[t])
        # mixed: tickets appended locally, companies by Spark, contacts both
        if t != "hubspot_company":
            mixed._indexed(df, t, as_of=days[t])
        if t != "hubspot_ticket":
            mixed.store.add(_udf_rows(df, t), as_of=days[t])
    assert _stored(local.store) == _stored(old)
    assert len(_stored(old)) == sum(df.count() for df in frames.values())
    assert all(r[-1] is None for r in _stored(local.store))
    assert local.store.load().schema == old.load().schema

    vs = mixed.store
    probe = [float(x) for x in vs.load().first().embedding]
    off = [(-1.0) ** j * 0.1 * (j % 7) for j in range(64)]
    cases = [
        (None, None),
        (None, ["hubspot_company"]),
        (days["hubspot_company"], None),
        (days["hubspot_contact"], ["hubspot_contact", "hubspot_ticket"]),
    ]
    for as_of, types in cases:
        files = vs._data_files(vs._present_dates(as_of)[: vs.max_days])
        for q in (probe, off):
            got = _assert_same(
                spark,
                vs._search_local(q, 30, types, files),
                vs._search_spark(q, 30, as_of, types),
            )
            assert got and {r.type for r in got} <= set(types or frames)
            if as_of is None and types is None:
                assert len(got) == len(_stored(vs))


def _clipped(payload: str, n: int) -> dict:
    """A stored conversation payload with its messages' text clipped to
    ``n`` characters, as the tool's answer clips it."""
    import json

    row = json.loads(payload)
    for m in row.get("messages") or []:
        for f in ("text", "rich_text"):
            if m.get(f) is not None:
                m[f] = m[f][:n]
    return row


@pytest.mark.parametrize(
    "tool", ["get_tickets", "get_active_companies", "get_recent_conversations"]
)
def test_indexed_tool_runs_one_spark_job(spark, tmp_path, tool):
    """With a store attached, a tool call and the collect of its answer
    run the answer once together (one Spark job for a scan), and the
    answer's rows are the stored rows: their JSON is the stored
    ``data_json``, row for row. The conversations tool stores the full
    message text and answers with it clipped."""
    import json

    import pyarrow.parquet as pq

    from mcp_hubspot_spark.api import Engine
    from tests.crm_fixtures import build_crm_tables

    vs = VectorStore(spark, str(tmp_path / "vs"))
    tables = build_crm_tables(spark)
    engine = Engine(tables, vs)
    clip = {"truncate_chars": 5} if tool == "get_recent_conversations" else {}
    sc = spark.sparkContext

    def jobs(group, run):
        sc.setJobGroup(group, group)
        try:
            got = run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return got, len(sc.statusTracker().getJobIdsForGroup(group))

    for call in range(2):
        before = set(vs._data_files())

        def run():
            df = getattr(engine, tool)(limit=2 + call, **clip)
            return df, df.collect()

        (df, rows), n_jobs = jobs(f"indexed-{tool}-{call}", run)
        # the conversations answer joins and aggregates: one job per
        # adaptive stage, as many as one run of the answer without a store
        once = 1
        if clip:
            _, once = jobs(
                f"plain-{tool}-{call}",
                lambda: getattr(Engine(tables), tool)(limit=2 + call, **clip).toArrow(),
            )
        assert n_jobs == once
        [added] = set(vs._data_files()) - before
        stored = pq.read_table(added, columns=["data_json"])["data_json"].to_pylist()
        answer = [r[0] for r in df.select(F.to_json(F.struct(*df.columns))).collect()]
        assert len(rows) == 2 + call
        if clip:
            n = clip["truncate_chars"]
            assert [json.loads(a) for a in answer] == [_clipped(p, n) for p in stored]
        else:
            assert answer == stored
    if clip:  # the store kept message text the answer clipped
        texts = [m.get("text") or "" for p in stored for m in json.loads(p)["messages"]]
        assert max(map(len, texts)) > n


# ------------------------------------------------------ files and jobs


def test_text_local_reads_only_query_buckets_never_positions(
    spark, tix_base, monkeypatch
):
    """The local twin of the Spark plan audit in test_text_index: only
    the query terms' bucket files are opened, and ``positions`` is
    never read."""
    opened = []
    real = local_serve.read_file
    monkeypatch.setattr(
        local_serve, "read_file",
        lambda path, cols: opened.append((path, list(cols))) or real(path, cols),
    )
    terms = ["spark", "window"]
    rows = tix_base.search(terms, k=5).collect()
    assert len(rows) == 5
    buckets = TextIndex._buckets(terms, 16)
    want = local_serve.data_files(
        d / f"bucket={b}"
        for d in (tix_base.root / "postings").glob("epoch=*")
        for b in buckets
    )
    assert sorted(p for p, _ in opened) == sorted(want) and want
    assert all("positions" not in cols for _, cols in opened)


def test_ivf_local_reads_only_probed_cells(spark, ivf_l2, queries, monkeypatch):
    opened = []
    real = local_serve.read_file
    monkeypatch.setattr(
        local_serve, "read_file",
        lambda path, cols: opened.append(path) or real(path, cols),
    )
    probe = ivf_l2._probe(queries[1], 2)[1]
    assert len(ivf_l2.search(queries[1], k=5, nprobe=2).collect()) == 5
    want = local_serve.data_files(
        ivf_l2.root / "cells" / f"cell_id={c}" for c in probe
    )
    assert sorted(opened) == sorted(want) and want


def test_small_serving_reads_launch_no_spark_job(
    spark, embs, ivf_l2, tix_base, queries, tmp_path, caplog
):
    """At fixture sizes each serving read, single or batched, built and
    collected, runs in the driver: zero Spark jobs in its job group."""
    from mcp_hubspot_spark.api import Engine
    from mcp_hubspot_spark.serving import hybrid_rrf_serve, hybrid_rrf_serve_batch

    vs = VectorStore(spark, str(tmp_path / "vs"))
    vs.add(_store_rows(spark, embs, [date(2024, 6, 1)]))
    engine = Engine(tables={}, store=vs)
    reads = {
        "ivf_search": lambda: ivf_l2.search(queries[0], k=10, nprobe=4),
        "text_search": lambda: tix_base.search(["spark", "window"], k=10),
        "hybrid_rrf": lambda: hybrid_rrf_serve(
            tix_base, ivf_l2, ["spark", "window"], queries[0], k=10, nprobe=4
        ),
        "search_data": lambda: engine.search_data(queries[0], k=10),
        # two queries of k=5 each
        "ivf_batch": lambda: ivf_l2.search_batch(
            [(0, queries[0]), (1, queries[1])], k=5, nprobe=4
        ),
        "text_batch": lambda: tix_base.search_batch(
            {"a": ["spark", "window"], "b": ["hash", "table"]}, k=5
        ),
        "hybrid_batch": lambda: hybrid_rrf_serve_batch(
            tix_base, ivf_l2,
            {"a": (["spark", "window"], queries[0]), "b": (["hash"], queries[1])},
            k=5, nprobe=4,
        ),
    }
    sc = spark.sparkContext
    caplog.set_level(logging.DEBUG, logger="mcp_hubspot_spark.local_serve")
    for name, read in reads.items():
        group = f"local-serve-{name}"
        sc.setJobGroup(group, group)
        try:
            assert len(read().collect()) == 10
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name
    lines = [r.getMessage() for r in caplog.records]
    # a hybrid read reads two legs; each batch reads per query
    assert sum("local path" in m for m in lines) == 5 + 2 + 2 + 4
    assert all(" bytes in " in m for m in lines)


def test_ivf_model_reads_launch_no_spark_job(spark, ivf_l2, queries, tmp_path):
    """With no manifest exported, ranking the cells (``_probe``, and so
    ``search``) and ``export_manifest`` read the trained model from
    meta.json: zero Spark jobs in their job groups."""
    ix = _copy(spark, IvfIndex, ivf_l2, tmp_path / "ivf")
    (ix.root / "manifest.json").unlink()
    calls = {
        "probe": lambda: ix._probe(queries[0], 4),
        "search": lambda: ix.search(queries[0], k=10, nprobe=4).collect(),
        "export_manifest": ix.export_manifest,
    }
    sc = spark.sparkContext
    for name, call in calls.items():
        group = f"ivf-model-{name}"
        sc.setJobGroup(group, group)
        try:
            call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name
    assert ix.read_manifest() == ivf_l2.read_manifest()


def test_over_the_bound_or_filtered_reads_take_the_spark_path(
    spark, ivf_l2, tix_base, queries, monkeypatch
):
    """Only ``where`` and the byte bound select the path."""
    def is_local(df):
        return "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()

    assert is_local(ivf_l2.search(queries[0], k=3))
    assert not is_local(ivf_l2.search(queries[0], k=3, where=F.col("vec_id") >= 0))
    monkeypatch.setattr(local_serve, "LOCAL_READ_MAX_BYTES", 0)
    assert not is_local(ivf_l2.search(queries[0], k=3))
    assert not is_local(tix_base.search(["spark"], k=3))


def test_batch_concatenates_local_and_spark_answers(
    spark, ivf_l2, tix_base, queries, monkeypatch
):
    """A batch read is each query's own read: with the path alternating
    inside a batch, every query's rows equal its single read's rows."""
    from mcp_hubspot_spark.serving import hybrid_rrf_serve, hybrid_rrf_serve_batch

    real = local_serve.use_local
    calls = []

    def alternate(what, files, where=None):
        calls.append(what)
        return real(what, files, where) and len(calls) % 2 == 1

    def rows(df, cols):  # by the first column: rank, or a query's doc_id
        return sorted(_bits(df.select(*cols).collect()), key=lambda r: r[0])

    ivf_cols = ["rank", "vec_id", "distance", "similarity"]
    monkeypatch.setattr(local_serve, "use_local", alternate)
    batch = ivf_l2.search_batch(list(enumerate(queries)), k=5, nprobe=3)
    assert calls and len(calls) == len(queries)
    for i, q in enumerate(queries):
        calls[:] = [None] * i  # the same path this query took in the batch
        want = rows(ivf_l2.search(q, k=5, nprobe=3), ivf_cols)
        assert rows(batch.filter(F.col("query_id") == i), ivf_cols) == want, i

    text_qs = {"a": ["spark", "window"], "b": ["hash", "table"], "c": ["sort"]}
    calls.clear()
    batch = tix_base.search_batch(text_qs, k=5)
    for i, (qid, terms) in enumerate(sorted(text_qs.items())):
        calls[:] = [None] * i
        want = rows(tix_base.search(terms, k=5), ["rank", "doc_id", "score"])
        got = batch.filter(F.col("query_id") == qid)
        assert rows(got, ["rank", "doc_id", "score"]) == want, qid

    hyb_qs = {"a": (["spark", "window"], queries[0]), "b": (["hash"], queries[3])}
    hyb_cols = ["doc_id", "lex_rank", "vec_rank", "rrf_score"]
    calls.clear()
    batch = hybrid_rrf_serve_batch(tix_base, ivf_l2, hyb_qs, k=8, nprobe=3)
    for i, (qid, (terms, vec)) in enumerate(sorted(hyb_qs.items())):
        calls[:] = [None] * (2 * i)  # two legs per query
        want = rows(hybrid_rrf_serve(tix_base, ivf_l2, terms, vec, k=8, nprobe=3), hyb_cols)
        got = batch.filter(F.col("query_id") == qid)
        assert rows(got, hyb_cols) == want and want, qid


def test_rrf_rounding_matches_spark_round(spark):
    """Every RRF value reachable with ranks <= 40 rounds in Python
    exactly as F.round(., 6) rounds it in the fusion the Spark path
    used."""
    ranks = [None, *range(1, 41)]
    pairs = [(a, b) for a in ranks for b in ranks if (a, b) != (None, None)]
    df = spark.createDataFrame(pairs, "l int, v int")
    rrf = F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("l")), F.lit(0.0)) + F.coalesce(
        F.lit(1.0) / (F.lit(60) + F.col("v")), F.lit(0.0)
    )
    spark_vals = {
        (r.l, r.v): (r.raw, r.rounded)
        for r in df.select("l", "v", rrf.alias("raw"),
                           F.round(rrf, 6).alias("rounded")).collect()
    }

    def term(rank):
        return 1.0 / (60 + rank) if rank is not None else 0.0

    values = {}
    for a, b in pairs:
        raw = term(a) + term(b)
        assert raw == spark_vals[(a, b)][0]
        values[raw] = spark_vals[(a, b)][1]
    assert len(values) == 856
    assert all(local_serve.spark_round(x, 6) == want for x, want in values.items())


# -------------------------------------------------------------- logging


def test_use_local_logs_path_and_bytes(tmp_path, caplog, monkeypatch):
    f = tmp_path / "part-0.parquet"
    f.write_bytes(b"x" * 100)
    caplog.set_level(logging.DEBUG, logger="mcp_hubspot_spark.local_serve")
    assert local_serve.use_local("read A", [str(f)])
    assert not local_serve.use_local("read B", [str(f)], where=F.lit(True))
    monkeypatch.setattr(local_serve, "LOCAL_READ_MAX_BYTES", 99)
    assert not local_serve.use_local("read C", [str(f)])
    assert [r.getMessage() for r in caplog.records] == [
        "read A: local path, 100 bytes in 1 files",
        "read B: spark path, 100 bytes in 1 files",
        "read C: spark path, 100 bytes in 1 files",
    ]


def test_answer_wraps_nested_not_null_fields(spark):
    """``answer`` wraps any table ``toArrow()`` returns, including an
    array of structs whose fields are declared not null (the
    conversations tool's ``messages``), and the wrapped table collects to
    the frame's rows."""
    from mcp_hubspot_spark.api import Engine
    from tests.crm_fixtures import build_crm_tables

    frame = Engine(build_crm_tables(spark))._conversations_frame(5)
    wrapped = local_serve.answer(spark, frame.toArrow())
    assert wrapped.columns == frame.columns
    assert [f.nullable for f in wrapped.schema] == [f.nullable for f in frame.schema]
    by_id = lambda rows: sorted(rows, key=lambda r: r.id)  # noqa: E731
    assert by_id(wrapped.collect()) == by_id(frame.collect())
    assert len(frame.collect()) > 0
