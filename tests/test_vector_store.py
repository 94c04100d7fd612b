"""VectorStore lifecycle: append / retention / partition-pruned search
(reference faiss_manager.py semantics pinned per SURVEY §5)."""

from __future__ import annotations

from datetime import date, timedelta

import pytest
from pyspark.sql import functions as F

from mcp_hubspot_spark.sources.catalog import load_table
from mcp_hubspot_spark.vector_store import VectorStore

SF = "/root/testdata/sf0.001"
ANCHOR = date(2024, 6, 10)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory) -> VectorStore:
    path = str(tmp_path_factory.mktemp("vstore") / "embeddings")
    vs = VectorStore(spark, path, max_days=7)
    emb = load_table(spark, SF, "embeddings")
    # spread 500 vectors over 10 calendar days ending at ANCHOR
    dated = emb.select(
        F.col("vec_id"),
        F.col("embedding"),
        F.lit("document").alias("type"),
        F.to_json(F.struct("vec_id", "label")).alias("data_json"),
        F.lit(None).cast("map<string,string>").alias("extras"),
        F.date_add(
            F.lit(ANCHOR.isoformat()).cast("date"),
            (-(F.col("vec_id") % 10)).cast("int"),
        ).alias("date"),
    )
    vs.add(dated)
    return vs


def test_retention_window(store):
    """V6: newest max_days calendar days retained (faiss_manager.py:90-104)."""
    retained = store.retained(as_of=ANCHOR)
    days = {r.date.isoformat() for r in retained.select("date").distinct().collect()}
    assert len(days) == 7
    assert min(days) == (ANCHOR - timedelta(days=6)).isoformat()
    # vec_id % 10 in {7,8,9} → outside window
    assert retained.filter(F.col("vec_id") % 10 >= 7).count() == 0


def test_retention_survives_calendar_gaps(store):
    """The reference retains the newest max_days index FILES regardless of
    calendar gaps (faiss_manager.py:87-99): after a long idle stretch it
    still searches the 7 newest existing days. An as_of far past the last
    append must therefore still see 7 partitions, not zero."""
    retained = store.retained(as_of=ANCHOR + timedelta(days=100))
    days = {r.date.isoformat() for r in retained.select("date").distinct().collect()}
    assert len(days) == 7
    assert max(days) == ANCHOR.isoformat()


def test_expire_deletes_partitions(store):
    removed = store.expire(as_of=ANCHOR)
    assert removed == [
        (ANCHOR - timedelta(days=9)).isoformat(),
        (ANCHOR - timedelta(days=8)).isoformat(),
        (ANCHOR - timedelta(days=7)).isoformat(),
    ]
    assert store.load().count() == 350  # 500 * 7/10
    assert store.expire(as_of=ANCHOR) == []  # idempotent


def test_search_topk_rank_similarity(store, spark):
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).collect()[0].embedding
    hits = store.search(q, k=5, as_of=ANCHOR).collect()
    assert len(hits) == 5
    assert [h.rank for h in sorted(hits, key=lambda h: h.rank)] == [1, 2, 3, 4, 5]
    best = min(hits, key=lambda h: h.rank)
    # vec_id 0 is in-window (0 % 10 = 0 → ANCHOR) and is its own nearest
    assert best.vec_id == 0 and best.distance < 1e-9
    # F14: similarity = 1 - d/2 on unit-norm vectors
    for h in hits:
        assert abs(h.similarity - (1.0 - h.distance / 2.0)) < 1e-9
        assert h.type == "document" and h.data_json
    # excluded partitions never surface
    assert all(h.vec_id % 10 < 7 for h in hits)


def test_search_k_clamp(store, spark):
    """O4: k=min(k, n) — limit never over-returns (faiss_manager.py:275)."""
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") == 1).collect()[0].embedding
    hits = store.search(q, k=10_000, as_of=ANCHOR).collect()
    assert len(hits) == 350


def test_search_type_filter(store, spark):
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") == 2).collect()[0].embedding
    assert store.search(q, k=3, as_of=ANCHOR, types=["other"]).count() == 0


def test_add_casts_to_canonical_schema(spark, tmp_path):
    """add() casts appended rows to the canonical store schema so an
    array<double> append can't fork the on-disk schema between the
    empty-store and populated-store states (parquet schema-merge would
    otherwise fail across appends)."""
    from pyspark.sql.types import ArrayType, FloatType

    vs = VectorStore(spark, str(tmp_path / "vs"))
    emb = load_table(spark, SF, "embeddings").limit(5)
    doubled = emb.select(
        F.col("vec_id").cast("int").alias("vec_id"),  # wrong: int not long
        F.col("embedding").cast("array<double>").alias("embedding"),
        F.lit("document").alias("type"),
        F.lit("{}").alias("data_json"),
        F.lit(None).cast("map<string,string>").alias("extras"),
    )
    vs.add(doubled, as_of=ANCHOR)
    loaded = vs.load()
    schema = {f.name: f.dataType for f in loaded.schema.fields}
    assert schema["embedding"] == ArrayType(FloatType(), True)
    assert schema["vec_id"].simpleString() == "bigint"
    assert loaded.count() == 5


def test_empty_date_directory_is_no_retained_day(spark, tmp_path):
    """A ``date=`` directory without a data file (left by an append
    killed before its rename) is no day: an empty store still loads
    empty, and the directory uses up none of the ``max_days`` slots."""
    root = tmp_path / "vs"
    vs = VectorStore(spark, str(root), max_days=1)
    (root / f"date={ANCHOR + timedelta(days=1)}").mkdir(parents=True)
    assert vs._present_dates() == []
    assert vs.load().count() == 0
    emb = load_table(spark, SF, "embeddings").limit(4)
    vs.add(emb.select(
        "vec_id", "embedding", F.lit("document").alias("type"),
        F.lit("{}").alias("data_json"),
        F.lit(None).cast("map<string,string>").alias("extras"),
    ), as_of=ANCHOR)
    assert vs._present_dates() == [ANCHOR.isoformat()]
    assert vs.retained().count() == 4
    probe = [float(x) for x in emb.first().embedding]
    assert len(vs.search(probe, k=10).collect()) == 4


def test_engine_tools_index_results_into_store(spark, tmp_path):
    """With a store attached, every tool response is embedded + indexed as
    a side effect (reference handlers/base_handler.py:39-76) and then
    findable via search — the full reference lifecycle."""
    import json

    from mcp_hubspot_spark.api import Engine
    from mcp_hubspot_spark.functions.embedding import _hash_embed_one
    from mcp_hubspot_spark.vector_store import VectorStore

    from tests.crm_fixtures import build_crm_tables

    store = VectorStore(spark, str(tmp_path / "vs"))
    engine = Engine(tables=build_crm_tables(spark), store=store)
    assert store.load().count() == 0
    engine.get_active_companies(limit=3)
    stored = store.load().collect()
    assert len(stored) == 3
    assert all(r.type == "hubspot_company" for r in stored)
    # every stored payload is valid canonical JSON of a response row
    names = {json.loads(r.data_json).get("name") for r in stored}
    assert len(names) == 3
    # a stored row is its own nearest neighbor through search()
    probe = [float(x) for x in _hash_embed_one(stored[0].data_json, 64)]
    top = store.search(probe, k=1).collect()[0]
    assert top.vec_id == stored[0].vec_id and top.similarity > 0.99
    # conversations index FULL text even though the response truncates
    engine.get_recent_conversations(limit=2, truncate_chars=5)
    conv = store.load().filter(F.col("type") == "hubspot_conversation")
    assert conv.count() == 2


def test_ivf_index_build_search_and_partition_pruning(spark, tmp_path):
    """Persisted IVF: search equals exact kNN when probing enough cells,
    and the physical scan reads ONLY the probed cell partitions."""
    from mcp_hubspot_spark.operators.vector import knn
    from mcp_hubspot_spark.sources.catalog import load_table
    from mcp_hubspot_spark.vector_store import IvfIndex

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    probe = [float(x) for x in emb.filter(F.col("vec_id") == 3).first().embedding]

    idx = IvfIndex(spark, str(tmp_path / "ivf"))
    idx.build(emb, n_cells=8)

    # probing ALL cells must equal the exact scan (IVF is exact within
    # probed cells — recall loss comes only from unprobed cells)
    got = [(r.vec_id, round(r.distance, 6)) for r in idx.search(probe, k=5, nprobe=8).collect()]
    want = [(r.vec_id, round(r.distance, 6)) for r in knn(emb, probe, k=5).collect()]
    assert got == want
    # nprobe=1 must still find the query's own vector (it lives in the
    # nearest cell by construction)
    top1 = idx.search(probe, k=1, nprobe=1).first()
    assert top1.vec_id == 3 and top1.distance < 1e-9

    # partition pruning: the pruned scan plans strictly fewer partitions
    import io
    from contextlib import redirect_stdout

    cells = spark.read.option("basePath", str(tmp_path / "ivf" / "cells")).parquet(
        str(tmp_path / "ivf" / "cells")
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        cells.filter(F.col("cell_id").isin([0])).explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "cell_id" in plan


def test_ivf_manifest_export_reopen_and_external_reader(spark, tmp_path):
    """The serving handoff: export_manifest() writes one JSON with
    metric/dim/centroids/per-cell file listing; search() after export
    returns the same hits (centroid pick now Spark-job-free); and an
    EXTERNAL reader (duckdb, no Spark) using only the manifest — probe
    cells from the centroids, read exactly the listed files — reproduces
    the same top-k. That is the contract an online server needs to mmap
    the cells without re-deriving layout."""
    import duckdb

    from mcp_hubspot_spark.sources.catalog import load_table
    from mcp_hubspot_spark.vector_store import IvfIndex

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    probe = [float(x) for x in emb.filter(F.col("vec_id") == 7).first().embedding]

    root = tmp_path / "ivf"
    idx = IvfIndex(spark, str(root))
    idx.build(emb, n_cells=8)
    before = [(r.vec_id, round(r.distance, 6)) for r in idx.search(probe, k=10, nprobe=3).collect()]

    m = idx.export_manifest()
    assert m["format"] == IvfIndex.MANIFEST_FORMAT and m["metric"] == "l2"
    assert m["dim"] == len(probe) and m["n_cells"] == 8
    assert set(m["centroids"]) == set(m["cells"])
    for files in m["cells"].values():
        assert files and all((root / f).exists() for f in files)

    # re-open: a fresh handle reads the manifest; hits are unchanged
    reopened = IvfIndex(spark, str(root))
    assert reopened.read_manifest() == m
    after = [(r.vec_id, round(r.distance, 6)) for r in reopened.search(probe, k=10, nprobe=3).collect()]
    assert after == before

    # external serving simulation: no Spark — pick nprobe cells from the
    # manifest centroids, scan only the listed parquet files via duckdb
    scored = sorted(
        (sum((a - b) ** 2 for a, b in zip(c, probe)), cid)
        for cid, c in m["centroids"].items()
    )
    files = [str(root / f) for _, cid in scored[:3] for f in m["cells"][cid]]
    con = duckdb.connect()
    ext = con.execute(
        """
        SELECT vec_id, round(list_sum(list_transform(
                   list_zip(embedding::DOUBLE[], ?::DOUBLE[]),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS d
        FROM read_parquet(?)
        ORDER BY d, vec_id LIMIT 10
        """,
        [probe, files],
    ).fetchall()
    assert [(v, d) for v, d in ext] == before


def test_ivf_incremental_add_and_filtered_search(spark, tmp_path):
    """add() assigns new vectors to the frozen centroids and appends to
    the cell partitions (manifest refreshed); all-probe search over the
    grown index equals exact kNN over the union; a where-predicate
    filters inside the pruned scan."""
    import pytest

    from mcp_hubspot_spark.operators.vector import knn
    from mcp_hubspot_spark.sources.catalog import load_table
    from mcp_hubspot_spark.vector_store import IvfIndex

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)
    probe = [float(x) for x in emb.filter(F.col("vec_id") == 11).first().embedding]

    root = tmp_path / "ivf"
    idx = IvfIndex(spark, str(root))
    with pytest.raises(Exception):
        idx.add(second)  # add before build must fail loudly
    idx.build(first, n_cells=8)
    idx.export_manifest()
    files_before = sum(
        len(v) for v in idx.read_manifest()["cells"].values()
    )
    idx.add(second)
    files_after = sum(len(v) for v in idx.read_manifest()["cells"].values())
    assert files_after > files_before  # manifest refreshed with new files

    got = [
        (r.vec_id, round(r.distance, 6))
        for r in idx.search(probe, k=8, nprobe=8).collect()
    ]
    want = [
        (r.vec_id, round(r.distance, 6)) for r in knn(emb, probe, k=8).collect()
    ]
    assert got == want  # odd ids (added batch) are searchable

    odd_only = idx.search(
        probe, k=8, nprobe=8, where=F.col("vec_id") % 2 == 1
    ).collect()
    assert odd_only and all(r.vec_id % 2 == 1 for r in odd_only)
    want_odd = [
        (r.vec_id, round(r.distance, 6))
        for r in knn(second, probe, k=8).collect()
    ]
    assert [(r.vec_id, round(r.distance, 6)) for r in odd_only] == want_odd


# ---------------------------------------------- IVF maintenance (delete /
# compact / swap safety) — the destructive file-mutating paths


def _cell_bytes(root):
    """{cell_dir_name: {file_name: bytes}} for byte-identity checks."""
    return {
        d.name: {f.name: f.read_bytes() for f in sorted(d.glob("*.parquet"))}
        for d in sorted((root / "cells").glob("cell_id=*"))
    }


def _ivf_fixture(spark, root, n_cells=8):
    from mcp_hubspot_spark.vector_store import IvfIndex

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    idx = IvfIndex(spark, str(root))
    idx.build(emb, n_cells=n_cells)
    idx.export_manifest()
    return idx, emb


def test_ivf_cells_store_only_the_row_format(spark, tmp_path):
    """Every cell file, built or added, holds IVF_ROW's columns and no
    other, whatever else the input carries: a kept extra column would
    answer ``where=`` filters on built rows and miss every added one."""
    import pyarrow.parquet as pq

    from mcp_hubspot_spark.vector_store import IvfIndex

    emb = load_table(spark, SF, "embeddings")  # vec_id, embedding, label
    assert "label" in emb.columns
    row = ["vec_id", "embedding"]
    for name, kw, cols in [
        ("l2", {}, row),
        ("cosine", {"metric": "cosine"}, row),
        ("pq", {"pq_m": 4, "pq_codes": 8}, [*row, "pq_code"]),
    ]:
        idx = IvfIndex(spark, str(tmp_path / name))
        idx.build(emb.filter(F.col("vec_id") >= 5), n_cells=4, **kw)
        built = set((tmp_path / name / "cells").glob("cell_id=*/*.parquet"))
        idx.add(emb.filter(F.col("vec_id") < 5))
        files = set((tmp_path / name / "cells").glob("cell_id=*/*.parquet"))
        assert built and files - built, name
        for f in sorted(files):
            assert pq.read_schema(f).names == cols, (name, f)


def _all_ids(spark, root):
    return {
        r.vec_id
        for r in spark.read.option("basePath", str(root / "cells"))
        .parquet(str(root / "cells"))
        .select("vec_id")
        .collect()
    }


def test_ivf_delete_by_list(spark, tmp_path):
    """delete([ids]): removed ids stop matching, untouched cells stay
    byte-identical, the return value counts removed rows, and the
    exported manifest's file listing is refreshed to the new files."""
    root = tmp_path / "ivf"
    idx, emb = _ivf_fixture(spark, root)
    before = _cell_bytes(root)
    victims = [1, 2, 3]
    hit_cells = {
        r.cell_id
        for r in spark.read.option("basePath", str(root / "cells"))
        .parquet(str(root / "cells"))
        .filter(F.col("vec_id").isin(victims))
        .select("cell_id")
        .collect()
    }
    assert idx.delete(victims) == 3
    ids = _all_ids(spark, root)
    assert not ids & set(victims) and len(ids) == 500 - 3
    after = _cell_bytes(root)
    for cell, files in before.items():
        cid = int(cell.split("=", 1)[1])
        if cid not in hit_cells:
            assert after[cell] == files  # untouched cells byte-identical
    # manifest refreshed: every listed file exists, every on-disk file listed
    m = idx.read_manifest()
    listed = {f for fs in m["cells"].values() for f in fs}
    on_disk = {
        str(f.relative_to(root))
        for f in (root / "cells").glob("cell_id=*/*.parquet")
    }
    assert listed == on_disk
    # deleting ids that no longer exist is a no-op returning 0
    snapshot = _cell_bytes(root)
    assert idx.delete(victims) == 0
    assert _cell_bytes(root) == snapshot


def test_ivf_delete_by_dataframe(spark, tmp_path):
    """delete(DataFrame) takes the broadcast anti-join path and matches
    the exact-kNN result over the surviving set."""
    from mcp_hubspot_spark.operators.vector import knn

    root = tmp_path / "ivf"
    idx, emb = _ivf_fixture(spark, root)
    victims_df = emb.filter(F.col("vec_id") % 50 == 0).select("vec_id")
    n_victims = victims_df.count()
    assert idx.delete(victims_df) == n_victims
    probe = [
        float(x) for x in emb.filter(F.col("vec_id") == 7).first().embedding
    ]
    got = [
        (r.vec_id, round(r.distance, 6))
        for r in idx.search(probe, k=10, nprobe=8).collect()
    ]
    survivors = emb.filter(~(F.col("vec_id") % 50 == 0))
    want = [
        (r.vec_id, round(r.distance, 6))
        for r in knn(survivors, probe, k=10).collect()
    ]
    assert got == want


def test_ivf_compact_single_file_per_cell(spark, tmp_path):
    """compact() merges multi-file cells to one file each with identical
    search results; cells already at one file are not rewritten."""
    root = tmp_path / "ivf"
    from mcp_hubspot_spark.vector_store import IvfIndex

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    idx = IvfIndex(spark, str(root))
    idx.build(emb.filter(F.col("vec_id") % 3 == 0), n_cells=8)
    idx.add(emb.filter(F.col("vec_id") % 3 == 1))
    idx.add(emb.filter(F.col("vec_id") % 3 == 2))
    before = _cell_bytes(root)
    single_before = {c for c, fs in before.items() if len(fs) == 1}
    probe = [
        float(x) for x in emb.filter(F.col("vec_id") == 11).first().embedding
    ]
    res_before = [
        (r.vec_id, round(r.distance, 6))
        for r in idx.search(probe, k=20, nprobe=8).collect()
    ]
    compacted = idx.compact()
    after = _cell_bytes(root)
    assert compacted  # repeated adds left multi-file cells behind
    for cell, files in after.items():
        assert len(files) == 1  # every cell now one file
        if cell in single_before:
            assert files == before[cell]  # untouched below threshold
    res_after = [
        (r.vec_id, round(r.distance, 6))
        for r in idx.search(probe, k=20, nprobe=8).collect()
    ]
    assert res_after == res_before


def test_ivf_rebuild_refreshes_stale_manifest(spark, tmp_path):
    """build() over an index with an exported manifest refreshes it —
    a server must never probe old centroids against overwritten files."""
    root = tmp_path / "ivf"
    idx, emb = _ivf_fixture(spark, root)
    stale = idx.read_manifest()
    idx.build(emb.filter(F.col("vec_id") < 100), n_cells=4)
    fresh = idx.read_manifest()
    assert fresh["n_cells"] == 4 and stale["n_cells"] == 8
    listed = {f for fs in fresh["cells"].values() for f in fs}
    on_disk = {
        str(f.relative_to(root))
        for f in (root / "cells").glob("cell_id=*/*.parquet")
    }
    assert listed == on_disk


def test_ivf_meta_cache_follows_rebuild_and_sentinel(spark, tmp_path):
    """A handle caches the parsed meta.json per file version: after
    another handle rebuilds the index, its search probes the new
    centroids, and a meta replaced by one holding the ``building``
    sentinel still raises on read."""
    from mcp_hubspot_spark import durable
    from mcp_hubspot_spark.operators.vector import knn
    from mcp_hubspot_spark.vector_store import IvfIndex

    root = tmp_path / "ivf"
    writer, emb = _ivf_fixture(spark, root)
    reader = IvfIndex(spark, str(root))
    probe = [float(x) for x in emb.filter(F.col("vec_id") == 3).first().embedding]
    reader.search(probe, k=5, nprobe=8).collect()
    assert len(reader._model()["centroids"]) == 8
    assert reader._meta_dict() is reader._meta_dict()

    small = emb.filter(F.col("vec_id") < 100)
    writer.build(small, n_cells=4)
    assert reader._model() == writer._model()
    assert len(reader._model()["centroids"]) == 4
    got = [(r.vec_id, round(r.distance, 6)) for r in reader.search(probe, k=5, nprobe=4).collect()]
    want = [(r.vec_id, round(r.distance, 6)) for r in knn(small, probe, k=5).collect()]
    assert got == want

    durable.write_json(root / "meta.json", {**reader._model(), "building": True})
    with pytest.raises(RuntimeError, match="building"):
        reader.search(probe, k=5, nprobe=4)


def test_ivf_nan_query_raises_value_error(spark, tmp_path):
    """A query holding NaN or infinity raises ValueError naming the
    index, from search and search_pq alike: cells ranked by comparisons
    against NaN would be arbitrary."""
    from mcp_hubspot_spark.vector_store import IvfIndex

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).filter(F.col("vec_id") < 64)
    root = tmp_path / "ivfpq"
    ivf = IvfIndex(spark, str(root))
    ivf.build(emb, n_cells=2, pq_m=4, pq_codes=4)
    q = [float(x) for x in emb.filter(F.col("vec_id") == 3).first().embedding]
    for bad in (float("nan"), float("inf")):
        query = [bad] + q[1:]
        with pytest.raises(ValueError, match=str(root)):
            ivf.search(query, k=3, nprobe=2)
        with pytest.raises(ValueError, match=str(root)):
            ivf.search_pq(query, k=3, nprobe=2)


def test_ivf_build_trains_in_the_driver(spark, tmp_path):
    """build() runs three Spark jobs, counted by job group: the
    dimension probe and the bounded sample of centroid training, then
    the partitioned write."""
    from mcp_hubspot_spark.vector_store import IvfIndex

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    sc = spark.sparkContext
    sc.setJobGroup("ivf-build-jobs", "ivf-build-jobs")
    try:
        IvfIndex(spark, str(tmp_path / "ivf")).build(emb, n_cells=8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("ivf-build-jobs")) <= 3


def test_ivf_build_with_fewer_rows_than_cells(spark, tmp_path):
    """Five rows into eight cells: the index builds (some cells stay
    empty) and a full-probe search equals the exact kNN."""
    from mcp_hubspot_spark.operators.vector import knn
    from mcp_hubspot_spark.vector_store import IvfIndex

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    few = emb.filter(F.col("vec_id") < 5)
    probe = [float(x) for x in emb.filter(F.col("vec_id") == 3).first().embedding]
    idx = IvfIndex(spark, str(tmp_path / "ivf"))
    idx.build(few, n_cells=8)
    assert len(idx._model()["centroids"]) == 8
    got = [(r.vec_id, round(r.distance, 6)) for r in idx.search(probe, k=10, nprobe=8).collect()]
    want = [(r.vec_id, round(r.distance, 6)) for r in knn(few, probe, k=10).collect()]
    assert got == want and len(got) == 5


def test_ivf_interrupted_swap_keeps_survivors(spark, tmp_path, monkeypatch):
    """A failure while moving the rewritten cell in must leave the cell's
    SURVIVING rows readable (restored from the backup), never a window
    where they exist nowhere — the crash-safety contract of _swap_cells."""
    import os as _os

    root = tmp_path / "ivf"
    idx, emb = _ivf_fixture(spark, root)
    ids_before = _all_ids(spark, root)
    real_rename = _os.rename

    def failing_rename(src, dst):
        if "_rewrite_tmp" in str(src):  # the move-in step, after backup
            raise OSError("simulated crash between backup and move-in")
        return real_rename(src, dst)

    monkeypatch.setattr(_os, "rename", failing_rename)
    with pytest.raises(OSError, match="simulated crash"):
        idx.delete([1, 2, 3])
    monkeypatch.undo()
    # every row that was in the index is still readable — including the
    # survivors of the cell whose rewrite was interrupted
    assert _all_ids(spark, root) == ids_before


def test_ivf_mutation_lock_blocks_second_writer(spark, tmp_path):
    """The mutators serialize on flock(_mutation.lock): while one
    writer HOLDS the flock, another fails at timeout with the lock
    path named; once released (the lock FILE persists by design — only
    the flock matters), the next mutation proceeds. A lock file merely
    EXISTING — the kill -9 leftover — never blocks."""
    import fcntl
    import os as _os

    root = tmp_path / "ivf"
    idx, emb = _ivf_fixture(spark, root)

    other = type(idx)(spark, str(root))
    other.LOCK_TIMEOUT_S = 0.3
    # a concurrent LIVE writer holds the flock
    fd = _os.open(root / "_mutation.lock", _os.O_CREAT | _os.O_WRONLY)
    fcntl.flock(fd, fcntl.LOCK_EX)
    try:
        with pytest.raises(TimeoutError, match="_mutation.lock"):
            other.delete([1])
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        _os.close(fd)
    assert other.delete([1]) == 1  # released flock -> proceeds
    # the file persisting (crash leftover shape) must not block either
    assert (root / "_mutation.lock").exists()
    assert other.delete([2]) == 1


def test_ivf_cosine_metric(spark, tmp_path):
    """A cosine-metric index stores unit vectors, reports its metric in
    the manifest, and an all-probe search equals exact cosine kNN over
    the RAW vectors (cosine is scale-invariant); add() keeps the
    normalized invariant so appended vectors rank correctly too."""
    from mcp_hubspot_spark.operators.vector import knn
    from mcp_hubspot_spark.vector_store import IvfIndex

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)
    probe = [
        float(x) * 3.0  # scaled probe: cosine must ignore magnitude
        for x in emb.filter(F.col("vec_id") == 11).first().embedding
    ]

    root = tmp_path / "ivf_cos"
    idx = IvfIndex(spark, str(root))
    idx.build(first, n_cells=8, metric="cosine")
    idx.export_manifest()
    assert idx.metric() == "cosine"
    assert idx.read_manifest()["metric"] == "cosine"
    # stored vectors are unit-norm
    norms = [
        sum(x * x for x in r.embedding)
        for r in spark.read.option("basePath", str(root / "cells"))
        .parquet(str(root / "cells"))
        .limit(20)
        .collect()
    ]
    assert all(abs(n - 1.0) < 1e-9 for n in norms)

    idx.add(second)  # must normalize through the same invariant
    got = [
        (r.vec_id, round(r.distance, 6), round(r.similarity, 6))
        for r in idx.search(probe, k=8, nprobe=8).collect()
    ]
    want = [
        (r.vec_id, round(r.distance, 6), round(r.similarity, 6))
        for r in knn(emb, probe, k=8, metric="cosine").collect()
    ]
    assert got == want

    # an l2 index (and a pre-metric index with no meta.json) reads as l2
    idx2 = IvfIndex(spark, str(tmp_path / "ivf_l2"))
    idx2.build(first, n_cells=4)
    assert idx2.metric() == "l2"
    (idx2.root / "meta.json").unlink()
    assert idx2.metric() == "l2"


def test_ivf_cosine_partial_nprobe_matches_twin(spark, tmp_path):
    """Partial-probe cosine consistency (round-6 advice): the persisted
    index must use ONE geometry — 1-cos against its own (non-unit mean)
    centroids — for BOTH row assignment and probe-time cell ranking, the
    same `_cell_distance` the ivf_topk twin uses. Pinned two ways:

    1. search(nprobe=2) equals a hand-built twin that ranks the
       manifest's centroids by 1-cos, reads exactly those cell
       partitions, and runs exact cosine kNN over the candidates;
    2. on a planted 4-cluster direction corpus, nprobe=1 already equals
       exact cosine kNN over the WHOLE corpus (recall 1.0 — the matching
       vectors live in the one probed cell, which only holds when the
       assignment and probe geometries agree).
    """
    import math
    import random

    from mcp_hubspot_spark.operators.vector import knn
    from mcp_hubspot_spark.vector_store import IvfIndex

    rng = random.Random(7)
    rows = []
    vid = 0
    for c in range(4):  # orthogonal direction clusters in 8-dim
        base = [0.0] * 8
        base[2 * c] = 1.0
        for _ in range(40):
            mag = rng.uniform(0.5, 20.0)  # cosine must ignore magnitude
            vec = [
                mag * (b + rng.uniform(-0.05, 0.05)) for b in base
            ]
            rows.append((vid, vec))
            vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    idx = IvfIndex(spark, str(tmp_path / "ivf_cos_partial"))
    idx.build(emb, n_cells=4, metric="cosine")
    idx.export_manifest()

    probe = [0.0] * 8
    probe[2] = 5.0  # cluster-1 direction, non-unit on purpose
    got = [
        (r.vec_id, round(r.similarity, 6))
        for r in idx.search(probe, k=10, nprobe=1).collect()
    ]

    # (2) planted-recall: nprobe=1 equals exact kNN over everything
    want_exact = [
        (r.vec_id, round(r.similarity, 6))
        for r in knn(emb, probe, k=10, metric="cosine").collect()
    ]
    assert got == want_exact

    # (1) hand-built twin of the documented contract at nprobe=2
    man = idx.read_manifest()
    qn = math.sqrt(sum(x * x for x in probe))
    q = [x / qn for x in probe]

    def one_minus_cos(c):
        cn = math.sqrt(sum(x * x for x in c))
        dot = sum(a * b for a, b in zip(c, q))
        return 1.0 - (dot / cn if cn > 0 else 0.0)

    ranked = sorted(
        (one_minus_cos(vec), int(cid))
        for cid, vec in man["centroids"].items()
    )
    probe_cells = [cid for _, cid in ranked[:2]]
    cand = (
        spark.read.option("basePath", str(idx.root / "cells"))
        .parquet(str(idx.root / "cells"))
        .filter(F.col("cell_id").isin(probe_cells))
        .select("vec_id", "embedding")
    )
    want_twin = [
        (r.vec_id, round(r.similarity, 6))
        for r in knn(cand, q, k=10, metric="cosine").collect()
    ]
    got2 = [
        (r.vec_id, round(r.similarity, 6))
        for r in idx.search(probe, k=10, nprobe=2).collect()
    ]
    assert got2 == want_twin


def test_hard_crash_swap_backup_recovered_at_search(spark, tmp_path):
    """Process-kill recovery (round-6 advice): a hard crash between
    _swap_cells' backup rename and its move-in leaves a cell's ONLY
    rows under _swap_backup. The next search must restore them (it
    holds no lock, so recovery is the non-blocking-lock wrapper), and
    the next mutation must NOT rmtree them away."""
    import os
    import shutil

    from mcp_hubspot_spark.vector_store import IvfIndex

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 11), float(i % 13)]) for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    idx = IvfIndex(spark, str(tmp_path / "ivf_crash"))
    idx.build(emb, n_cells=4)
    total = spark.read.parquet(str(idx.root / "cells")).count()
    assert total == 120

    # simulate the kill window: one live cell dir moved to the backup
    victim = sorted((idx.root / "cells").glob("cell_id=*"))[0]
    bak_root = idx.root / "_swap_backup"
    bak_root.mkdir()
    os.rename(victim, bak_root / victim.name)
    assert not victim.exists()

    # search recovers: full row count visible, cell dir restored
    got = idx.search([1.0, 2.0, 3.0], k=5, nprobe=4).collect()
    assert len(got) == 5
    assert victim.exists() and not list(bak_root.glob("cell_id=*"))
    assert spark.read.parquet(str(idx.root / "cells")).count() == 120

    # same crash state again, but a LIVE writer holds the flock: search
    # must skip recovery (restoring under a live swap would corrupt it)
    import fcntl

    os.rename(victim, bak_root / victim.name)
    fd = os.open(idx.root / "_mutation.lock", os.O_CREAT | os.O_WRONLY)
    fcntl.flock(fd, fcntl.LOCK_EX)
    try:
        idx.search([1.0, 2.0, 3.0], k=5, nprobe=4).collect()
        assert not victim.exists()  # untouched while the writer is active
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)
    idx.search([1.0, 2.0, 3.0], k=5, nprobe=4).collect()  # now restores
    assert victim.exists()

    # and the next MUTATION (delete) restores before clearing the backup
    bak_root.mkdir(exist_ok=True)
    os.rename(victim, bak_root / victim.name)  # re-break the crash state
    stale = spark.createDataFrame([(0,)], "vec_id long")
    idx.delete(stale)
    assert victim.exists()
    assert not bak_root.exists() or not list(bak_root.glob("cell_id=*"))
    assert spark.read.parquet(str(idx.root / "cells")).count() == 119


def test_ivf_dead_writer_leaves_no_effective_lock(spark, tmp_path):
    """kill -9 mid-mutation leaves the lock FILE on disk but the kernel
    drops the crashed owner's flock with the process. A contender must
    acquire immediately: the first post-crash search runs the
    swap-backup recovery instead of silently skipping forever, and the
    next mutation proceeds instead of blocking to timeout. The crashed
    holder is a REAL subprocess that flocks and dies without
    releasing."""
    import os
    import subprocess
    import sys

    from mcp_hubspot_spark.vector_store import IvfIndex

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 11), float(i % 13)]) for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    idx = IvfIndex(spark, str(tmp_path / "ivf_stale"))
    idx.LOCK_TIMEOUT_S = 5.0  # post-crash acquire must beat this easily
    idx.build(emb, n_cells=4)

    # crash state: a cell only in the backup, left by a writer that
    # took the flock and died holding it (os._exit = no cleanup)
    victim = sorted((idx.root / "cells").glob("cell_id=*"))[0]
    bak_root = idx.root / "_swap_backup"
    bak_root.mkdir()
    os.rename(victim, bak_root / victim.name)
    subprocess.run(
        [
            sys.executable,
            "-c",
            "import fcntl, os, sys\n"
            f"fd = os.open({str(idx.root / '_mutation.lock')!r},"
            " os.O_CREAT | os.O_WRONLY)\n"
            "fcntl.flock(fd, fcntl.LOCK_EX)\n"
            "os._exit(9)\n",
        ],
        check=False,
    )
    assert (idx.root / "_mutation.lock").exists()  # the kill -9 leftover

    # search acquires despite the leftover file and restores the cell
    got = idx.search([1.0, 2.0, 3.0], k=5, nprobe=4).collect()
    assert len(got) == 5
    assert victim.exists() and not list(bak_root.glob("cell_id=*"))
    assert spark.read.parquet(str(idx.root / "cells")).count() == 120

    # and a mutation proceeds without waiting out the timeout
    assert idx.delete([0]) == 1


# ---------------------------------------------------------------- IVFPQ ----


def _pq_index(spark, tmp_path, metric="l2"):
    from mcp_hubspot_spark.vector_store import IvfIndex

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    ivf = IvfIndex(spark, str(tmp_path / f"ivfpq_{metric}"))
    ivf.build(emb, n_cells=4, pq_m=8, pq_codes=16, metric=metric)
    return ivf, emb


@pytest.mark.slow
def test_ivfpq_search_reads_codes_not_embeddings(spark, tmp_path):
    """ADC-only search must scan (id, pq_code) — the embedding column
    must NOT appear in the pruned scan's ReadSchema (the 32x IO win is
    the whole point of storing codes); with rerank it returns the exact
    top-k the plain search returns at the same (full) probe."""
    import io
    from contextlib import redirect_stdout

    ivf, emb = _pq_index(spark, tmp_path)
    q = [float(x) for x in emb.filter(F.col("vec_id") == 7).first().embedding]
    adc = ivf.search_pq(q, k=5, nprobe=4, rerank=0)  # diagnostic ADC path
    buf = io.StringIO()
    with redirect_stdout(buf):
        adc.explain("formatted")
    reads = [l for l in buf.getvalue().splitlines() if "ReadSchema" in l]
    assert reads and all("embedding" not in l for l in reads)
    got = adc.collect()
    assert len(got) == 5 and got[0].vec_id == 7  # self-hit at ADC dist 0
    # full probe + a shortlist covering EVERY probed row == exact
    # search, unconditionally — the refinement contract independent of
    # codebook quality (near-random vectors are PQ's worst case; a
    # 100-row shortlist can drop an exact-top-5 near-tie, and which
    # near-tie depends on the default OPQ rotation's seed)
    exact = [r.vec_id for r in ivf.search(q, k=5, nprobe=4).collect()]
    reranked = [
        r.vec_id for r in ivf.search_pq(q, k=5, nprobe=4, rerank=500).collect()
    ]
    assert reranked == exact


@pytest.mark.slow
def test_ivfpq_add_encodes_and_maintenance_preserves_codes(spark, tmp_path):
    """add() must encode appended rows against the FROZEN codebooks (an
    added exact twin of the query ranks at ADC distance 0), and
    delete/compact full-row rewrites must carry pq_code through — the
    deleted id vanishes from search_pq, survivors keep working."""
    ivf, emb = _pq_index(spark, tmp_path)
    q = [float(x) for x in emb.filter(F.col("vec_id") == 3).first().embedding]
    twin = spark.createDataFrame(
        [(9_999, q)], "vec_id long, embedding array<double>"
    )
    ivf.add(twin)
    top = ivf.search_pq(q, k=3, nprobe=4, rerank=0).collect()
    assert {top[0].vec_id, top[1].vec_id} == {3, 9_999}
    # trained codebooks leave a quantization residual (> 0, unlike the
    # anchor-codebook identity) — but the twin encodes to the SAME codes
    # as the original, so the two ADC distances are exactly equal
    assert top[0].adc_distance == top[1].adc_distance
    n_del = ivf.delete([9_999])
    assert n_del == 1
    ivf.compact(min_files=2)
    after = ivf.search_pq(q, k=3, nprobe=4, rerank=0).collect()
    assert after[0].vec_id == 3
    assert all(r.vec_id != 9_999 for r in after)


@pytest.mark.slow
def test_ivfpq_cosine_unit_vector_equivalence(spark, tmp_path):
    """Cosine IVFPQ: stored vectors and codebooks are unit-norm, the
    query normalizes, so the reranked top-k equals the plain cosine
    search's top-k at the same probe; search_pq on a non-PQ index
    raises."""
    import pytest

    from mcp_hubspot_spark.vector_store import IvfIndex

    ivf, emb = _pq_index(spark, tmp_path, metric="cosine")
    q = [
        2.0 * float(x)  # scaled query: normalization must handle it
        for x in emb.filter(F.col("vec_id") == 11).first().embedding
    ]
    got = [
        r.vec_id for r in ivf.search_pq(q, k=5, nprobe=4, rerank=100).collect()
    ]
    want = [r.vec_id for r in ivf.search(q, k=5, nprobe=4).collect()]
    # near-random unit vectors are PQ's worst case: a 100-of-500 ADC
    # shortlist recovers most but not always all of the exact top-5
    assert got[0] == 11 and len(set(got) & set(want)) >= 4
    plain = IvfIndex(spark, str(tmp_path / "plain"))
    plain.build(
        emb.limit(50), n_cells=2
    )
    with pytest.raises(ValueError, match="without pq_m"):
        plain.search_pq(q, k=3)


@pytest.mark.slow
def test_ivfpq_rerank_smaller_than_k_rejected(spark, tmp_path):
    """rerank < k would silently under-return k; it must raise."""
    import pytest

    ivf, emb = _pq_index(spark, tmp_path)
    q = [float(x) for x in emb.filter(F.col("vec_id") == 1).first().embedding]
    with pytest.raises(ValueError, match="rerank"):
        ivf.search_pq(q, k=10, rerank=5)


@pytest.mark.slow
def test_ivfpq_residual_build_search_add(spark, tmp_path):
    """Residual IVFPQ (build(pq_residual=True)): codes are trained and
    encoded on v − assigned centroid, serving builds per-probed-cell
    query-residual tables. The self-query must still rank itself first
    (its stored code IS the nearest-code encoding of its own residual),
    rerank+full-probe must equal the exact search, the ADC scan must
    not read the embedding column, and add() must encode appended rows
    with the same frozen centroid subtraction (a twin of an indexed
    vector lands at the identical ADC distance)."""
    import io
    import json
    from contextlib import redirect_stdout

    from mcp_hubspot_spark.vector_store import IvfIndex

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    ivf = IvfIndex(spark, str(tmp_path / "ivfpq_res"))
    ivf.build(emb, n_cells=4, pq_m=8, pq_codes=16, pq_residual=True)
    meta = json.loads((ivf.root / "meta.json").read_text())
    assert meta["pq"]["residual"] is True

    q = [float(x) for x in emb.filter(F.col("vec_id") == 7).first().embedding]
    adc = ivf.search_pq(q, k=5, nprobe=4, rerank=0)  # diagnostic ADC path
    buf = io.StringIO()
    with redirect_stdout(buf):
        adc.explain("formatted")
    reads = [l for l in buf.getvalue().splitlines() if "ReadSchema" in l]
    assert reads and all("embedding" not in l for l in reads)
    got = adc.collect()
    assert len(got) == 5 and got[0].vec_id == 7

    exact = [r.vec_id for r in ivf.search(q, k=5, nprobe=4).collect()]
    reranked = [
        r.vec_id
        for r in ivf.search_pq(q, k=5, nprobe=4, rerank=100).collect()
    ]
    assert reranked == exact

    twin_q = [
        float(x) for x in emb.filter(F.col("vec_id") == 3).first().embedding
    ]
    ivf.add(
        spark.createDataFrame(
            [(9_999, twin_q)], "vec_id long, embedding array<double>"
        )
    )
    top = ivf.search_pq(twin_q, k=3, nprobe=4, rerank=0).collect()
    assert {top[0].vec_id, top[1].vec_id} == {3, 9_999}
    assert top[0].adc_distance == top[1].adc_distance


@pytest.mark.slow
def test_ivfpq_residual_beats_raw_on_clustered_corpus(spark, tmp_path):
    """The reason residual encoding exists: on a CLUSTERED corpus, raw
    PQ codebooks must spread their codes across every cluster location
    while residual codebooks model only the within-cell offsets — at
    equal (m, codes), residual ADC recall@10 must be at least as good,
    and on this strongly-clustered synthetic corpus strictly better.
    (The near-random test corpus can't show this gap — hence the
    purpose-built blobs; SCALE_r09 carries the larger-scale twin.)"""
    import numpy as np

    from mcp_hubspot_spark.operators.vector import knn
    from mcp_hubspot_spark.vector_store import IvfIndex

    rng = np.random.default_rng(7)
    d, n_clusters, per = 32, 8, 100
    centers = rng.normal(scale=10.0, size=(n_clusters, d))
    X = np.concatenate(
        [c + rng.normal(scale=1.0, size=(per, d)) for c in centers]
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<double>",
    )
    # pq_opq=False on the flat build: this test isolates the residual-
    # vs-raw encoding gap at equal config (the r13 default would give
    # the flat side an OPQ rotation and muddy the comparison)
    raw = IvfIndex(spark, str(tmp_path / "raw"))
    raw.build(df, n_cells=n_clusters, pq_m=8, pq_codes=16, pq_opq=False)
    res = IvfIndex(spark, str(tmp_path / "res"))
    res.build(
        df, n_cells=n_clusters, pq_m=8, pq_codes=16, pq_residual=True
    )

    queries = [int(q) for q in rng.choice(len(X), size=8, replace=False)]
    hits_raw = hits_res = 0
    for qid in queries:
        qv = [float(x) for x in X[qid]]
        want = {
            r.vec_id
            for r in knn(df, qv, k=10, id_cols=("vec_id",)).collect()
        }
        got_raw = {
            r.vec_id
            for r in raw.search_pq(
                qv, k=10, nprobe=n_clusters, rerank=0
            ).collect()
        }
        got_res = {
            r.vec_id
            for r in res.search_pq(
                qv, k=10, nprobe=n_clusters, rerank=0
            ).collect()
        }
        hits_raw += len(want & got_raw)
        hits_res += len(want & got_res)
    # corpus/queries are seeded but the PQ codebooks (MLlib KMeans) shift
    # with the session's partitioning (float aggregation order), so counts
    # move between sessions: measured residual 29-41 vs raw 23-26 of 80
    # across local[8]/local[32]. Assert the structural gap, not points.
    assert hits_res >= hits_raw + 5
    assert hits_res >= 25  # raw ADC ordering drowns in cluster offsets


@pytest.mark.slow
def test_ivfpq_opq_pretransform_index(spark, tmp_path):
    """build(pq_opq=True): the whole index lives in OPQ-rotated space.
    Orthogonal invariance — exact search through the rotated index
    returns the SAME ids as exact kNN on the raw corpus (full probe);
    ADC recall at equal budget beats the unrotated index on a
    decaying-spectrum corpus (the variance-balancing case); add()
    rotates appended rows with the frozen rotation (an added twin ties
    its original's ADC distance); pq_opq without pq_m raises."""
    import numpy as np
    import pytest

    from mcp_hubspot_spark.operators.vector import knn
    from mcp_hubspot_spark.vector_store import IvfIndex

    rng = np.random.default_rng(11)
    n, d = 4_000, 32
    scales = 10.0 * (0.8 ** np.arange(d))
    X = rng.normal(size=(n, d)) * scales
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    opq = IvfIndex(spark, str(tmp_path / "opq"))
    opq.build(df, n_cells=4, pq_m=8, pq_codes=16, pq_opq=True)
    # pq_opq=False: the DIAGNOSTIC unrotated twin this comparison needs
    # (the r13 flat default is OPQ — leaving it would compare OPQ to
    # itself)
    raw = IvfIndex(spark, str(tmp_path / "raw"))
    raw.build(df, n_cells=4, pq_m=8, pq_codes=16, pq_opq=False)

    qids = [0, 1111, 2222, 3333]
    hits_opq = hits_raw = 0
    for qid in qids:
        qv = [float(x) for x in X[qid]]
        want = [r.vec_id for r in knn(df, qv, k=5).collect()]
        got_exact = [
            r.vec_id for r in opq.search(qv, k=5, nprobe=4).collect()
        ]
        assert got_exact == want  # orthogonal invariance, full probe
        want10 = set(
            r.vec_id for r in knn(df, qv, k=10).collect()
        )
        # rerank=0: compares raw ADC shortlist QUALITY — the derived
        # rerank default would lift both sides to exact recall
        hits_opq += len(
            want10
            & {
                r.vec_id
                for r in opq.search_pq(
                    qv, k=10, nprobe=4, rerank=0
                ).collect()
            }
        )
        hits_raw += len(
            want10
            & {
                r.vec_id
                for r in raw.search_pq(
                    qv, k=10, nprobe=4, rerank=0
                ).collect()
            }
        )
    assert hits_opq > hits_raw  # variance balancing must show here

    twin_q = [float(x) for x in X[7]]
    opq.add(
        spark.createDataFrame(
            [(9_999, twin_q)], "vec_id long, embedding array<double>"
        )
    )
    top = opq.search_pq(twin_q, k=3, nprobe=4, rerank=0).collect()
    assert {top[0].vec_id, top[1].vec_id} == {7, 9_999}
    assert top[0].adc_distance == top[1].adc_distance

    with pytest.raises(ValueError, match="pq_opq requires pq_m"):
        IvfIndex(spark, str(tmp_path / "bad")).build(
            df, n_cells=4, pq_opq=True
        )

    # full FAISS factory composition: OPQ pretransform + residual
    # codes in rotated space — self-query ranks itself first on ADC,
    # rerank at full probe equals exact search
    both = IvfIndex(spark, str(tmp_path / "opq_res"))
    both.build(
        df, n_cells=4, pq_m=8, pq_codes=16, pq_opq=True, pq_residual=True
    )
    qv = [float(x) for x in X[0]]
    got = both.search_pq(qv, k=5, nprobe=4, rerank=0).collect()
    assert got[0].vec_id == 0
    want = [r.vec_id for r in both.search(qv, k=5, nprobe=4).collect()]
    reranked = [
        r.vec_id
        for r in both.search_pq(qv, k=5, nprobe=4, rerank=100).collect()
    ]
    assert reranked == want


@pytest.mark.slow
def test_ivf_interrupted_build_fails_loud_not_wrong(spark, tmp_path):
    """A REBUILD that crashes mid-flight must make serving RAISE, not
    silently answer from mixed-epoch files. The nasty case: rebuilding
    an existing OPQ index strips the old meta's opq claim first — a
    crash before the new cells land would otherwise leave the OLD
    rotated cells served as if unrotated (wrong neighbors, no error).
    The 'building' sentinel in meta.json closes it: every meta reader
    fails loud until a build completes, and a completed build clears
    the sentinel."""
    import numpy as np
    import pytest

    from mcp_hubspot_spark.vector_store import IvfIndex

    rng = np.random.default_rng(11)
    X = rng.normal(size=(80, 16))
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    idx = IvfIndex(spark, str(tmp_path / "ivf"))
    idx.build(df, n_cells=4, pq_m=4, pq_codes=8, pq_opq=True)
    qv = [float(x) for x in X[0]]
    assert idx.search(qv, k=1, nprobe=4).first().vec_id == 0

    # simulate the crash window: rebuild has written the sentinel meta
    # (the first thing build() does after validation) but died before
    # any data file landed — the OLD rotated cells are still on disk
    import json

    meta_path = tmp_path / "ivf" / "meta.json"
    meta_path.write_text(json.dumps({"metric": "l2", "building": True}))
    fresh = IvfIndex(spark, str(tmp_path / "ivf"))
    with pytest.raises(RuntimeError, match="interrupted"):
        fresh.search(qv, k=1, nprobe=4).collect()
    with pytest.raises(RuntimeError, match="interrupted"):
        fresh.search_pq(qv, k=1, nprobe=4)
    with pytest.raises(RuntimeError, match="interrupted"):
        fresh.add(df.limit(1))

    # a completed rebuild clears the sentinel and serves again
    fresh.build(df, n_cells=4, pq_m=4, pq_codes=8, pq_opq=True)
    assert fresh.search(qv, k=1, nprobe=4).first().vec_id == 0


@pytest.mark.slow
def test_ivfpq_residual_join_twin_agrees_with_literal(
    spark, tmp_path, monkeypatch
):
    """The broadcast-join residual-ADC twin (large-nprobe·codes regime)
    must agree with the 3-D-literal path EXACTLY over the same pruned
    cells — same _adc_table construction, same fold order, so identical
    distances, ids, and ranks — and its scan must still read codes,
    never the embedding column. Also pins search_pq's switch: at
    ADC_LITERAL_MAX_DOUBLES it stays on the literal plan (no
    BroadcastHashJoin), above it the plan joins."""
    import numpy as np

    from mcp_hubspot_spark.operators.vector import (
        pq_adc_topk_residual,
        pq_adc_topk_residual_join,
    )
    from mcp_hubspot_spark.vector_store import IvfIndex

    rng = np.random.default_rng(5)
    centers = rng.normal(scale=8.0, size=(8, 16))
    X = np.concatenate(
        [centers[i % 8] + rng.normal(size=16) for i in range(240)]
    ).reshape(240, 16)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    idx = IvfIndex(spark, str(tmp_path / "ivf"))
    idx.build(df, n_cells=8, pq_m=4, pq_codes=16, pq_residual=True)
    cbs = idx._model()["codebooks"]

    for qid in (0, 7, 100):
        qv, probe, _, probed_cents = idx._probe(
            [float(x) for x in X[qid]], 8
        )
        codes = idx._pruned_cells(probe).select("vec_id", "cell_id", "pq_code")
        lit, join = (
            [
                (r.rank, r.vec_id, round(r.adc_distance, 9))
                for r in topk(codes, cbs, qv, probed_cents, k=10).collect()
            ]
            for topk in (pq_adc_topk_residual, pq_adc_topk_residual_join)
        )
        assert lit == join and len(lit) == 10

    qv = [float(x) for x in X[0]]
    # nprobe=8, m=4, codes=16 -> 512 doubles, exactly AT the switch
    # threshold (search_pq joins strictly above it): literal plan, no
    # broadcast join
    lit_plan = idx.search_pq(
        qv, k=5, nprobe=8, rerank=0
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in lit_plan
    want = [r.vec_id for r in idx.search_pq(qv, k=5, nprobe=8, rerank=50).collect()]

    monkeypatch.setattr(IvfIndex, "ADC_LITERAL_MAX_DOUBLES", 511)
    join_df = idx.search_pq(qv, k=5, nprobe=8, rerank=0)
    join_plan = join_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in join_plan
    # the join twin's pruned scan still never reads the embedding column
    assert "embedding" not in join_plan.split("ReadSchema", 1)[-1].split(
        "\n", 1
    )[0]
    # rerank composes with the join twin identically
    got = [r.vec_id for r in idx.search_pq(qv, k=5, nprobe=8, rerank=50).collect()]
    assert got == want


@pytest.mark.slow
def test_search_batch_matches_per_query_search(spark, tmp_path):
    """One pruned scan serving Q queries must rank each query exactly
    as its own search() call does — the (query_id, cell_id) broadcast
    map restricts every candidate row to the queries that probed its
    cell, so partial-probe results agree too, for BOTH metrics."""
    from pyspark.sql import functions as F

    from mcp_hubspot_spark.vector_store import IvfIndex
    from mcp_hubspot_spark.workload import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in embs.filter(F.col("vec_id").isin(1, 5, 9)).collect()
    ]
    for metric in ("l2", "cosine"):
        ix = IvfIndex(spark, str(tmp_path / f"ix_{metric}"))
        ix.build(embs, n_cells=8, metric=metric)
        batch = {
            (r.query_id, r.rank): (r.vec_id, round(r.distance, 12))
            for r in ix.search_batch(queries, k=5, nprobe=2).collect()
        }
        for qid, vec in queries:
            single = {
                (qid, r.rank): (r.vec_id, round(r.distance, 12))
                for r in ix.search(vec, k=5, nprobe=2).collect()
            }
            assert single == {
                kk: vv for kk, vv in batch.items() if kk[0] == qid
            }, (metric, qid)


@pytest.mark.slow
def test_ivfpq_default_rerank_matches_exact_leg_on_boundary_probes(
    spark, tmp_path
):
    """The r12 verdict's top item, pinned: search_pq's DEFAULT
    (rerank=None -> max(20k, 4k*nprobe)) must serve the exact dense
    leg's recall curve on boundary probes — queries at midpoints of
    DISTINCT corpus vectors, the regime where SCALE_r12 measured the
    old rerank=0 default at 0.025-0.475 recall and NON-monotone in
    nprobe (more probed cells flooding a fixed ADC shortlist). The
    default curve must (a) equal the exact leg point-for-point at
    every nprobe, hence (b) be monotone, and (c) reach 1.0 at full
    probe."""
    import numpy as np

    from mcp_hubspot_spark.operators.vector import knn
    from mcp_hubspot_spark.vector_store import IvfIndex

    rng = np.random.default_rng(13)
    d, n_clusters, per = 32, 8, 100
    centers = rng.normal(scale=10.0, size=(n_clusters, d))
    X = np.concatenate(
        [c + rng.normal(scale=1.0, size=(per, d)) for c in centers]
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<double>",
    )
    ivf = IvfIndex(spark, str(tmp_path / "bp"))
    ivf.build(df, n_cells=n_clusters, pq_m=8, pq_codes=16, pq_residual=True)
    # boundary probes: midpoints of distinct corpus vectors from
    # different blobs — equidistant-ish from two cells, the worst case
    # for a fixed shortlist as nprobe grows
    pairs = [(10, 110), (210, 310), (410, 510), (610, 710)]
    mids = [
        [float(x) for x in (X[a] + X[b]) / 2.0] for a, b in pairs
    ]
    truth = [
        {r.vec_id for r in knn(df, qv, k=10, id_cols=("vec_id",)).collect()}
        for qv in mids
    ]
    curve_default, curve_exact = [], []
    for np_ in (1, 2, 4, n_clusters):
        hit_d = hit_e = 0
        for qv, want in zip(mids, truth):
            got_d = {
                r.vec_id for r in ivf.search_pq(qv, k=10, nprobe=np_).collect()
            }
            got_e = {
                r.vec_id for r in ivf.search(qv, k=10, nprobe=np_).collect()
            }
            hit_d += len(got_d & want)
            hit_e += len(got_e & want)
        curve_default.append(hit_d / 40.0)
        curve_exact.append(hit_e / 40.0)
    assert curve_default == curve_exact  # (a) point-for-point
    assert curve_default == sorted(curve_default)  # (b) monotone
    assert curve_default[-1] == 1.0  # (c) full probe is exact


@pytest.mark.slow
def test_ivfpq_flat_build_defaults_to_opq(spark, tmp_path):
    """r12 verdict #6, pinned: a FLAT (non-residual) PQ build with no
    pq_opq argument must train the OPQ rotation by default — SCALE_r12
    measured flat-PQ raw recall@10 at 0.1125 vs 0.625 with OPQ at
    identical serving cost. Residual builds keep rotation opt-in, and
    pq_opq=False stays available as the diagnostic raw config."""
    import json

    from mcp_hubspot_spark.vector_store import IvfIndex

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    flat = IvfIndex(spark, str(tmp_path / "flat"))
    flat.build(emb, n_cells=4, pq_m=8, pq_codes=16)
    meta = json.loads((flat.root / "meta.json").read_text())
    assert meta.get("opq") is True
    assert len(meta["rotation"]) == 64
    # the default-config index still serves: self-hit through the
    # rotated rerank path at exact distance 0
    q = [float(x) for x in emb.filter(F.col("vec_id") == 5).first().embedding]
    top = flat.search_pq(q, k=3, nprobe=4).first()
    assert top.vec_id == 5 and top.distance < 1e-9
    res = IvfIndex(spark, str(tmp_path / "res"))
    res.build(emb, n_cells=4, pq_m=8, pq_codes=16, pq_residual=True)
    assert json.loads((res.root / "meta.json").read_text()).get("opq") is None
    raw = IvfIndex(spark, str(tmp_path / "rawdiag"))
    raw.build(emb, n_cells=4, pq_m=8, pq_codes=16, pq_opq=False)
    raw_meta = json.loads((raw.root / "meta.json").read_text())
    assert raw_meta.get("opq") is None and "rotation" not in raw_meta
