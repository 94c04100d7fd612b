"""Operator-level tests: approximate aggregates, LSH recall, multimodal
batch shapes, embedding determinism."""

from __future__ import annotations

import pytest

import hashlib

from pyspark.sql import functions as F

from mcp_hubspot_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def test_approx_count_distinct_tolerance(spark):
    events = load_table(spark, SF, "events")
    approx = {
        r.event_type: r.approx_users
        for r in events.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"))
        .collect()
    }
    exact = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for k, ex in exact.items():
        assert abs(approx[k] - ex) <= max(3, 0.05 * ex), (k, approx[k], ex)


def test_minhash_lsh_recall_on_planted_dups(spark):
    """LSH banding must recover planted near-duplicates (high jaccard) and
    not flood with false positives on distinct random docs."""
    from mcp_hubspot_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") < 40)
    mutated = docs.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat("text", F.lit(" tail tail tail")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(mutated)
    pairs = minhash_lsh_pairs(corpus, num_perm=16, bands=8, shingle_n=3)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    planted = {(i, i + 1000) for i in range(40)}
    recall = len(found & planted) / len(planted)
    assert recall >= 0.9, f"recall {recall}: {sorted(planted - found)[:5]}"
    # false-positive pairs (both original, distinct random text) stay rare
    fp = {p for p in found if p[0] < 1000 and p[1] < 1000}
    assert len(fp) <= 5, f"too many false positives: {len(fp)}"


def test_random_hyperplane_lsh_buckets_similar_vectors(spark):
    from mcp_hubspot_spark.operators.dedup import embedding_neardup_pairs

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).filter(F.col("vec_id") < 100)
    twin = emb.select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(twin)
    # identical twins land in the same bucket under ANY hyperplane set
    pairs = embedding_neardup_pairs(
        corpus, min_cosine=0.999, n_planes=8, dim=64
    )
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert {(i, i + 1000) for i in range(100)} <= found


def test_media_features_shape_and_determinism(spark):
    from mcp_hubspot_spark.operators.multimodal import (
        documents_as_media,
        extract_media_features,
    )

    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") < 10)
    media = documents_as_media(docs)
    feats = extract_media_features(media).collect()
    assert len(feats) == 10
    by_id = {r.media_id: r for r in feats}
    src = {r.doc_id: r.text for r in docs.collect()}
    for mid, row in by_id.items():
        assert row.sha256 == hashlib.sha256(src[mid].encode()).hexdigest()
        assert row.byte_len == len(src[mid].encode())
        assert len(row.feature) == 8
        assert row.kind in ("image", "audio", "video")


def test_frame_sample_fanout(spark):
    from mcp_hubspot_spark.operators.multimodal import (
        documents_as_media,
        frame_sample_plan,
    )

    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") < 5)
    media = documents_as_media(docs)
    frames = frame_sample_plan(media, every_n_ms=10_000)
    got = frames.groupBy("media_id").count().collect()
    expected = {
        r.media_id: int(r.duration_ms) // 10_000 for r in media.collect()
    }
    assert {r.media_id: r["count"] for r in got} == {
        k: v for k, v in expected.items() if v > 0
    }


def test_resize_media_plumbing(spark):
    """The resize verb: payload -> payload' at the target dims through
    mapInPandas. Stub contract: output length tracks the TARGET pixel
    area and is deterministic per input; null payloads pass through as
    null; an injected resize_fn replaces the stub with no plumbing
    change (the production seam)."""
    from mcp_hubspot_spark.operators.multimodal import (
        documents_as_media,
        resize_media,
    )

    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") < 10)
    media = documents_as_media(docs)
    out = {r.media_id: r for r in resize_media(media, 64, 48).collect()}
    assert len(out) == 10
    unit_len = len(hashlib.sha256(b"x").hexdigest()) + len(":64x48#")
    for r in out.values():
        assert (r.width, r.height) == (64, 48)
        assert r.byte_len == unit_len * ((64 * 48) // 256)
        assert len(r.payload) == r.byte_len
    # deterministic: same input -> same bytes
    again = {r.media_id: r for r in resize_media(media, 64, 48).collect()}
    assert {k: bytes(v.payload) for k, v in out.items()} == {
        k: bytes(v.payload) for k, v in again.items()
    }
    # target-area proportionality: double the area, double the length
    big = resize_media(media, 64, 96).first()
    assert big.byte_len == 2 * unit_len * ((64 * 48) // 256)
    # null payload passes through
    nulls = spark.createDataFrame(
        [(1, "image", None)], "media_id long, kind string, payload binary"
    )
    nr = resize_media(nulls, 64, 48).first()
    assert nr.payload is None and nr.byte_len == 0
    # injectable real resizer
    got = resize_media(
        media, 8, 8, resize_fn=lambda b, w, h: b[: w * h]
    ).first()
    assert got.byte_len <= 64


def test_hash_embedder_deterministic_and_unit_norm(spark):
    from mcp_hubspot_spark.functions.embedding import embed_column

    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") < 20)
    a = docs.select("doc_id", embed_column("text", dim=32).alias("e")).collect()
    b = docs.select("doc_id", embed_column("text", dim=32).alias("e")).collect()
    assert [r.e for r in a] == [r.e for r in b]
    import math

    for r in a:
        assert len(r.e) == 32
        n = math.sqrt(sum(x * x for x in r.e))
        assert abs(n - 1.0) < 1e-5


def test_simhash_matches_python_reimplementation(spark):
    """Independent row-at-a-time reimplementation pins the expression."""
    import hashlib as hl

    from mcp_hubspot_spark.operators.dedup import SIMHASH_BITS, simhash

    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") < 10)
    got = dict(
        docs.select("doc_id", simhash(F.col("text"), 2).alias("s")).collect()
    )

    def py_simhash(text: str) -> int:
        toks = text.strip().lower().split()
        n = 2
        upper = max(len(toks) - n, 0)
        sh = {" ".join(toks[i : i + n]) for i in range(upper + 1)}
        words = [
            int(hl.md5(s.encode()).hexdigest()[:15], 16) for s in sh
        ]
        fp = 0
        for b in range(SIMHASH_BITS):
            vote = sum(1 if (w >> b) & 1 else -1 for w in words)
            if vote > 0:
                fp |= 1 << b
        return fp

    for r in docs.collect():
        assert got[r.doc_id] == py_simhash(r.text), r.doc_id


def test_asof_join_semantics(spark):
    """Backward as-of: latest right at-or-before each left ts; ties match;
    how='left' keeps unmatched lefts with nulls, how='inner' drops them."""
    from datetime import datetime

    from mcp_hubspot_spark.operators.joins import asof_join

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [("u1", t(5), "l1"), ("u1", t(10), "l2"), ("u2", t(3), "l3"),
         ("u3", t(9), "l4")],
        "k string, ts timestamp, lid string",
    )
    right = spark.createDataFrame(
        [("u1", t(5), "r5"), ("u1", t(7), "r7"), ("u2", t(4), "r4")],
        "k string, ts timestamp, rv string",
    )
    out = {
        r.lid: r.rv
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="ts",
            right_cols=["rv"], how="left",
        ).collect()
    }
    # tie at ts=5 matches; l2 takes the later r7; u2's right is AFTER l3 →
    # no match; u3 has no rights at all
    assert out == {"l1": "r5", "l2": "r7", "l3": None, "l4": None}
    inner = asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="ts",
        right_cols=["rv"], how="inner",
    )
    assert {r.lid for r in inner.collect()} == {"l1", "l2"}


def test_range_join_boundaries(spark):
    """Banded range join returns exactly the pairs with diff in
    [lower, upper], including both boundaries, across bucket edges."""
    from datetime import datetime, timedelta

    from mcp_hubspot_spark.operators.joins import range_join

    base = datetime(2024, 1, 1)
    t = lambda us: base + timedelta(microseconds=us)  # noqa: E731
    left = spark.createDataFrame(
        [("k", 1, t(0)), ("k", 2, t(1_000_000))],
        "k string, lid int, ts timestamp",
    )
    right = spark.createDataFrame(
        [("k", 10, t(0)), ("k", 11, t(500_000)), ("k", 12, t(1_500_000)),
         ("k", 13, t(1_500_001)), ("k", 14, t(999_999_999))],
        "k string, rid int, ts2 timestamp",
    )
    pairs = {
        (r.lid, r.rid)
        for r in range_join(
            left, right, on=["k"], left_ts="ts", right_ts="ts2",
            lower_us=0, upper_us=500_000,
        ).collect()
    }
    # (2,13) diff = 500,001µs — one past the inclusive upper bound
    assert pairs == {(1, 10), (1, 11), (2, 12)}


def test_knn_batch_matmul_matches_expression_path(spark):
    """The numpy block-matmul path must return the same neighbors/ranks as
    the JVM expression path (distances compared with tolerance — float
    summation order differs)."""
    from mcp_hubspot_spark.operators.vector import knn_batch, knn_batch_matmul
    from mcp_hubspot_spark.sources.catalog import fan_out

    emb = fan_out(
        load_table(spark, SF, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
    )
    qrows = emb.filter(F.col("vec_id").isin(1, 2, 3)).collect()
    queries_list = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in qrows]
    queries_df = spark.createDataFrame(
        [(q, v) for q, v in queries_list], "query_id long, query_vec array<double>"
    )
    expr = {
        (r.query_id, r.rank): (r.vec_id, r.distance)
        for r in knn_batch(emb, queries_df, k=5).collect()
    }
    mat = {
        (r.query_id, r.rank): (r.vec_id, r.distance)
        for r in knn_batch_matmul(emb, queries_list, k=5).collect()
    }
    assert expr.keys() == mat.keys()
    for key in expr:
        assert expr[key][0] == mat[key][0], key
        assert abs(expr[key][1] - mat[key][1]) < 1e-9, key


def test_knn_batch_ranks_null_distances_last(spark):
    """A null or wrong-length embedding has a NULL distance; the batch
    path must rank it after every real neighbor, as knn does."""
    from mcp_hubspot_spark.operators.vector import knn, knn_batch

    emb = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 1.0]), (3, None), (4, [5.0])],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(0, [0.0, 0.0])], "query_id long, query_vec array<double>"
    )
    single = [(r.rank, r.vec_id) for r in knn(emb, [0.0, 0.0], k=2).collect()]
    batch = sorted(
        (r.rank, r.vec_id) for r in knn_batch(emb, queries, k=2).collect()
    )
    assert single == batch == [(1, 1), (2, 2)]


def test_ivf_kmeans_recall_vs_brute_force(spark):
    """IVF with trained k-means centroids: probing a fraction of cells
    recovers most of the true top-k. The synthetic embeddings are
    near-uniform random — the hardest case for IVF (no cluster structure),
    so recall at nprobe=8/16 (half the cells scanned) is the fair bar; on
    real clustered corpora nprobe≪n_cells achieves the same recall."""
    from mcp_hubspot_spark.operators.vector import (
        assign_cells,
        ivf_topk,
        knn,
        train_centroids,
    )
    from mcp_hubspot_spark.sources.catalog import fan_out

    emb = fan_out(
        load_table(spark, SF, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
    )
    centroids = train_centroids(emb, n_cells=16, max_iter=5)
    with_cells = assign_cells(emb, centroids, id_col="vec_id")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 7).first().embedding]
    truth = {r.vec_id for r in knn(emb, qvec, k=10).collect()}
    got = {
        r.vec_id
        for r in ivf_topk(with_cells, centroids, qvec, k=10, nprobe=8).collect()
    }
    assert len(got & truth) / len(truth) >= 0.6


def test_train_centroids_ignores_partitioning(spark):
    """The training sample is picked by a hash of each row, so the same
    rows give bit-identical centroids however they are partitioned; an
    empty input raises."""
    from mcp_hubspot_spark.operators.vector import train_centroids

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )

    def centroids(df):
        return [(r.cell_id, r.centroid) for r in train_centroids(df, 8).collect()]

    one = centroids(emb.repartition(1))
    assert [cid for cid, _ in one] == list(range(8))
    assert one == centroids(emb.repartition(5))
    with pytest.raises(ValueError, match="empty input"):
        train_centroids(emb.filter(F.lit(False)), 8)


def test_asof_join_carries_genuine_null_payload(spark):
    """A matched right row whose payload is NULL must be carried as NULL —
    not skipped in favor of an older non-null row — and multi-column
    payloads must all come from the SAME right row."""
    from datetime import datetime

    from mcp_hubspot_spark.operators.joins import asof_join

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [("k", t(10), "l1")], "k string, ts timestamp, lid string"
    )
    right = spark.createDataFrame(
        [("k", t(1), "old_a", "old_b"), ("k", t(5), None, "new_b")],
        "k string, ts timestamp, a string, b string",
    )
    row = asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="ts",
        right_cols=["a", "b"], how="left",
    ).collect()[0]
    # the ts=5 row is the true match: a is genuinely NULL, b is new_b —
    # never a mix of old_a/new_b
    assert row.a is None and row.b == "new_b"


def test_hash_split_invariant_to_partitioning(spark):
    """Split assignment is a pure function of the row — repartitioning
    (different cluster, different file layout) must not move any row
    between splits. This is the property df.sample() does NOT have."""
    from mcp_hubspot_spark.operators.sampling import hash_split

    docs = load_table(spark, SF, "documents").select("doc_id")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r.doc_id: r.split for r in hash_split(docs, "doc_id", fr).collect()}
    b = {
        r.doc_id: r.split
        for r in hash_split(docs.repartition(7), "doc_id", fr).collect()
    }
    assert a == b


def test_knn_invariant_to_partitioning(spark):
    """Top-k results (ids AND ranks) must be identical under any physical
    partitioning — the per-partition top-k + global merge is only correct
    if the boundary is deterministic."""
    from mcp_hubspot_spark.operators.vector import knn

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = [float(x) for x in emb.filter(F.col("vec_id") == 5).first().embedding]
    a = [(r.rank, r.vec_id) for r in knn(emb, q, k=10).collect()]
    b = [(r.rank, r.vec_id) for r in knn(emb.repartition(13), q, k=10).collect()]
    assert a == b


def test_multi_table_lsh_improves_recall(spark):
    """OR-of-ANDs amplification: adding plane tables recovers near-dup
    pairs a single table misses (planted 0.995-cosine pairs)."""
    from mcp_hubspot_spark.operators.dedup import embedding_neardup_pairs

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).filter(F.col("vec_id") < 120)
    # perturb one coordinate slightly → high-but-not-1.0 cosine twins
    twin = emb.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.size("embedding")),
            lambda i: F.when(
                i == 1, F.element_at(F.col("embedding"), i) + F.lit(0.12)
            ).otherwise(F.element_at(F.col("embedding"), i)),
        ).alias("embedding"),
    )
    corpus = emb.unionByName(twin)
    planted = {(i, i + 1000) for i in range(120)}

    def recall(n_tables: int) -> float:
        found = {
            (r.id_a, r.id_b)
            for r in embedding_neardup_pairs(
                corpus, min_cosine=0.95, n_planes=12, n_tables=n_tables
            ).collect()
        }
        return len(found & planted) / len(planted)

    r1, r4 = recall(1), recall(4)
    assert r4 >= r1  # amplification can only add candidates
    assert r4 >= 0.9, (r1, r4)


def test_lsh_pair_dedup_after_score_is_exact(spark):
    """r13 narrowing: the LSH pair distinct now runs AFTER the cosine
    score+threshold (the exchange carries (id_a, id_b, cosine), not two
    vectors per orientation). Pin the contract that makes the reorder
    safe: output pairs are unique, strictly oriented, at-or-above the
    threshold, and IDENTICAL to the exact all-pairs twin restricted to
    the pairs LSH surfaced."""
    from mcp_hubspot_spark.operators.dedup import embedding_neardup_pairs

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).filter(F.col("vec_id") < 80)
    twin = emb.select((F.col("vec_id") + 1000).alias("vec_id"), "embedding")
    corpus = emb.unionByName(twin)
    lsh = embedding_neardup_pairs(
        corpus, min_cosine=0.9, n_planes=6, n_tables=4, dim=64
    ).collect()
    pairs = [(r.id_a, r.id_b) for r in lsh]
    assert len(pairs) == len(set(pairs))  # multi-table collisions deduped
    assert all(a < b for a, b in pairs)
    assert all(r.cosine >= 0.9 for r in lsh)
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_neardup_pairs(
            corpus, min_cosine=0.9, n_planes=None
        ).collect()
    }
    for r in lsh:  # same pair -> bit-identical cosine on both paths
        assert exact[(r.id_a, r.id_b)] == r.cosine


def test_group_concat_ordered_narrow_path_matches_struct_path(spark):
    """r13 narrowing: value == sort_key collects the bare key and
    stringifies after the per-group sort. Pin equality with the general
    struct path on unsorted input (including a 1-row group)."""
    from mcp_hubspot_spark.operators.aggregates import group_concat_ordered

    df = spark.createDataFrame(
        [(1, 3), (1, 1), (1, 2), (2, 10), (3, 7), (3, 5)],
        "g long, k int",
    )
    narrow = {
        (r.g): (r.joined, r.n)
        for r in group_concat_ordered(
            df, group=["g"], value="k", sort_key="k",
            extra_aggs=[F.count(F.lit(1)).alias("n")],
        ).collect()
    }
    struct_path = {
        (r.g): (r.joined, r.n)
        for r in group_concat_ordered(
            df.withColumn("k_str", F.col("k").cast("string")),
            group=["g"], value="k_str", sort_key="k",
            extra_aggs=[F.count(F.lit(1)).alias("n")],
        ).collect()
    }
    assert narrow == struct_path == {
        1: ("1|2|3", 3), 2: ("10", 1), 3: ("5|7", 2)
    }


def test_approx_quantiles_close_to_exact(spark):
    from mcp_hubspot_spark.workload import QUERIES

    approx = {
        r.lang: (r.p25, r.p50, r.p75, r.p90)
        for r in QUERIES["doc_length_quantiles_approx"](spark, SF).collect()
    }
    exact = {
        r.lang: (r.p25, r.p50, r.p75, r.p90)
        for r in QUERIES["doc_length_quantiles"](spark, SF).collect()
    }
    for lang, ex in exact.items():
        for a, e in zip(approx[lang], ex):
            # approx returns an actual order statistic; exact interpolates
            # between neighbors — at sf0.001 (~100 docs/lang) one
            # inter-element gap can be ~10% of the value
            assert abs(a - e) <= max(20, 0.15 * e), (lang, a, e)


def test_dedup_insert_partitions_new_rows(spark):
    """J3 protocol pin (reference clients/contact_client.py:79-87): the
    check-then-insert pair is non-atomic by design (two jobs, like the
    reference's two REST calls), but against a fixed snapshot the outputs
    must PARTITION new_rows on the dedup keys: disjoint, union-complete,
    and consistent with the existing table."""
    from mcp_hubspot_spark.operators.joins import dedup_insert

    existing = spark.createDataFrame(
        [("ann", "lee", "acme"), ("bob", "wu", "globex")],
        "firstname string, lastname string, company string",
    )
    new_rows = spark.createDataFrame(
        [
            ("ann", "lee", "acme"),      # dup
            ("cid", "may", "acme"),      # fresh
            ("bob", "wu", "globex"),     # dup
            ("dee", "fox", "initech"),   # fresh
            ("dee", "fox", "initech"),   # fresh, repeated in the batch
        ],
        "firstname string, lastname string, company string",
    )
    to_insert, duplicates = dedup_insert(
        new_rows, existing, keys=["firstname", "lastname", "company"]
    )
    ins = {tuple(r) for r in to_insert.collect()}
    dup = {tuple(r) for r in duplicates.collect()}
    assert ins == {("cid", "may", "acme"), ("dee", "fox", "initech")}
    assert dup == {("ann", "lee", "acme"), ("bob", "wu", "globex")}
    # disjoint + union-complete over the distinct key space of new_rows
    assert ins.isdisjoint(dup)
    assert ins | dup == {tuple(r) for r in new_rows.distinct().collect()}
    # the non-atomic re-check: appending the survivors then re-running
    # reports them all as duplicates (idempotent second pass)
    grown = existing.unionByName(to_insert)
    again_ins, again_dup = dedup_insert(new_rows, grown,
                                        keys=["firstname", "lastname", "company"])
    assert again_ins.count() == 0
    assert {tuple(r) for r in again_dup.collect()} == ins | dup


def test_sentence_transformer_smoke_if_available(spark):
    """V1 real-model parity (reference server.py:81-87 pins
    all-MiniLM-L6-v2 / 384-d): exercised only where the library exists;
    asserts the reference's dims and the unit-norm invariant that keeps
    similarity = 1 - d/2 valid (utils.py:100-108)."""
    import math

    import pytest

    pytest.importorskip("sentence_transformers")
    from mcp_hubspot_spark.functions.embedding import embed_column

    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") < 3)
    rows = docs.select(
        embed_column(
            "text", model_name="sentence-transformers/all-MiniLM-L6-v2"
        ).alias("emb")
    ).collect()
    assert len(rows) == 3
    for r in rows:
        assert len(r.emb) == 384
        assert math.isclose(
            sum(float(x) * float(x) for x in r.emb), 1.0, abs_tol=1e-3
        )


def test_connected_components_chain_and_singletons(spark):
    """Min-label propagation must traverse a diameter-4 chain (multiple
    rounds), keep disjoint components separate, and surface isolated
    nodes as singleton clusters of themselves."""
    from mcp_hubspot_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),   # chain: cluster 1
         (10, 11), (11, 10),               # duplicate edge both ways
         (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    nodes = spark.createDataFrame([(n,) for n in
                                   [1, 2, 3, 4, 5, 10, 11, 20, 21, 22, 99]],
                                  "node long")
    out = {r.node: r.cluster_id for r in
           connected_components(edges, nodes=nodes, node_col="node").collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 99: 99}


def test_snapshot_diff_row_level_statuses(spark):
    """Full-outer CDC classification: added/removed/changed/unchanged,
    with NULL payloads diffed null-safely (eqNullSafe)."""
    from mcp_hubspot_spark.operators.joins import snapshot_diff

    before = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "d")], "k int, v string"
    )
    after = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, None), (5, "e")], "k int, v string"
    )
    out = {r.k: r.diff_status for r in
           snapshot_diff(before, after, key="k", compare=["v"]).collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "unchanged",
                   4: "removed", 5: "added"}


def test_stratified_sample_invariant_to_partitioning(spark):
    """The keep set must be a pure function of the row, not the layout."""
    from mcp_hubspot_spark.operators.sampling import hash_stratified_sample

    docs = load_table(spark, SF, "documents").select("doc_id", "lang")
    kw = dict(strata_col="lang", rates={"en": 0.5}, id_col="doc_id",
              default_rate=0.2, seed="s")
    one = {r.doc_id for r in hash_stratified_sample(docs.coalesce(1), **kw).collect()}
    many = {r.doc_id for r in
            hash_stratified_sample(docs.repartition(13), **kw).collect()}
    assert one == many and len(one) > 0


def test_pagerank_invariants(spark):
    """Ranks must sum to ~1 (dangling mass redistributed) and a node with
    strictly more in-links from equal-rank sources must rank higher."""
    import math

    from mcp_hubspot_spark.operators.graph import pagerank

    # star + chain: hub receives from 3 leaves; tail receives from 1
    edges = spark.createDataFrame(
        [("a", "hub"), ("b", "hub"), ("c", "hub"), ("d", "tail")],
        "src string, dst string",
    )
    ranks = {r.node: r.rank for r in pagerank(edges, n_iter=10).collect()}
    assert math.isclose(sum(ranks.values()), 1.0, abs_tol=1e-9)
    assert ranks["hub"] > ranks["tail"] > ranks["a"]


def test_chunk_documents_edges(spark):
    """Chunk coverage semantics: short doc → one chunk; exact-multiple
    length → no redundant tail chunk; every token covered; overlap
    honored between consecutive chunks."""
    from mcp_hubspot_spark.operators.text import chunk_documents

    def words(n):
        return " ".join(f"w{i}" for i in range(n))

    df = spark.createDataFrame(
        [(1, words(5)), (2, words(8)), (3, words(13))], "doc_id long, text string"
    )
    out = chunk_documents(df, chunk_tokens=8, overlap=2)
    rows = sorted(
        ((r.doc_id, r.chunk_idx, r.n_chunk_tokens) for r in out.collect())
    )
    # doc 1 (5 toks < 8): single short chunk; doc 2 (exactly 8): single
    # chunk, no tail; doc 3 (13): starts 0 and 6 -> sizes 8 and 7
    assert rows == [(1, 0, 5), (2, 0, 8), (3, 0, 8), (3, 1, 7)]
    d3 = {r.chunk_idx: r.chunk_text.split() for r in
          out.filter(F.col("doc_id") == 3).collect()}
    assert d3[0][-2:] == d3[1][:2]  # 2-token overlap
    assert d3[0][:1] == ["w0"] and d3[1][-1:] == ["w12"]  # full coverage


def test_repetition_features_match_python(spark):
    """Cross-check the relational repetition signals against a direct
    Python computation (Gopher §A1.1 definitions) on hand-built docs,
    including the shorter-than-n edge where the n-gram list is empty."""
    from collections import Counter

    from mcp_hubspot_spark.operators.text import repetition_features

    texts = {
        1: "a b a b a b",          # loopy: high dup 2-gram
        2: "w x y z",              # all distinct
        3: "q",                    # shorter than any n-gram
        4: "m m m m m m m m",      # single repeated token
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {r["doc_id"]: r.asDict() for r in repetition_features(df).collect()}
    for doc_id, text in texts.items():
        toks = text.lower().split()
        counts = Counter(toks)
        for n, col in ((2, "dup_2gram_frac"), (3, "dup_3gram_frac")):
            grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
            want = round((len(grams) - len(set(grams))) / len(grams), 4) if grams else 0.0
            assert got[doc_id][col] == want, (doc_id, col)
        assert got[doc_id]["n_tok"] == len(toks)
        assert got[doc_id]["top_unigram_frac"] == round(
            max(counts.values()) / len(toks), 4
        )


def test_pack_sequences_invariants(spark, sf_dir):
    """Packing invariants per shard: offsets are the exclusive prefix sum
    of token counts in id order; seq_id = offset // capacity; straddles
    iff the doc's token span crosses a capacity boundary."""
    from mcp_hubspot_spark.operators.text import pack_sequences
    from mcp_hubspot_spark.sources.catalog import load_table

    cap = 64
    docs = load_table(spark, sf_dir, "documents")
    rows = pack_sequences(docs, capacity=cap).collect()
    by_shard: dict[str, list] = {}
    for r in rows:
        by_shard.setdefault(r["source"], []).append(r)
    assert len(by_shard) > 1
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r["doc_id"])
        expect_offset = 0
        for r in shard_rows:
            assert r["tok_offset"] == expect_offset
            assert r["seq_id"] == r["tok_offset"] // cap
            assert r["straddles"] == (
                (r["tok_offset"] + r["n_tok"] - 1) // cap != r["seq_id"]
            )
            expect_offset += r["n_tok"]


def test_pack_sequences_precomputed_count_col_agrees(spark, sf_dir):
    """n_tok_col (the r14 decision-table fast path: pack a narrow
    (id, shard, n_tok) relation without re-tokenizing text) must be
    row-for-row identical to the default token_count(text) path."""
    from mcp_hubspot_spark.operators.text import pack_sequences, token_count
    from mcp_hubspot_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    default = pack_sequences(docs, capacity=64).collect()
    narrow = docs.select(
        "source",
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tok"),
    )
    via_col = pack_sequences(
        narrow, capacity=64, n_tok_col="n_tok"
    ).collect()
    assert sorted(map(tuple, default), key=lambda t: (t[0], t[1])) == sorted(
        map(tuple, via_col), key=lambda t: (t[0], t[1])
    )
    assert len(default) > 0


def test_mixture_resample_invariants(spark, sf_dir):
    """Membership is a pure function of the row (partition-invariant),
    under-target groups keep every row (rate caps at 1), groups absent
    from the target mixture are dropped, and kept counts land within
    bucket-granularity of the target."""
    from mcp_hubspot_spark.operators.sampling import mixture_resample
    from mcp_hubspot_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    targets = {"en": 40, "zh": 10}
    kept = mixture_resample(docs, "lang", targets, id_col="doc_id")
    ids = {r.doc_id for r in kept.collect()}
    # partition-invariance: same membership from a reshuffled input
    ids_repart = {
        r.doc_id
        for r in mixture_resample(
            docs.repartition(13), "lang", targets, id_col="doc_id"
        ).collect()
    }
    assert ids == ids_repart
    by_lang = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept_by_lang = {r.lang: r.n for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert set(kept_by_lang) <= set(targets)  # absent groups dropped
    n_total = sum(by_lang.values())
    for lang, pct in targets.items():
        target_n = pct / 100 * n_total
        if by_lang[lang] <= target_n:
            assert kept_by_lang[lang] == by_lang[lang]  # caps at keep-all
        else:
            # binomial-ish tolerance around the target
            assert abs(kept_by_lang[lang] - target_n) < 0.3 * target_n + 5


def test_exact_k_holdout_counts_and_invariance(spark, sf_dir):
    """Exactly min(k, group size) rows per stratum; membership is
    partition-invariant."""
    from mcp_hubspot_spark.operators.sampling import exact_k_holdout
    from mcp_hubspot_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    k = 7
    kept = exact_k_holdout(docs, "lang", k=k, id_col="doc_id")
    sizes = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got = {r.lang: r.n for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert got == {lang: min(k, n) for lang, n in sizes.items()}
    ids = {r.doc_id for r in kept.collect()}
    ids2 = {
        r.doc_id
        for r in exact_k_holdout(
            docs.repartition(11), "lang", k=k, id_col="doc_id"
        ).collect()
    }
    assert ids == ids2


def test_upsample_repeat_copy_counts(spark, sf_dir):
    """Every row of an up-weighted group appears floor(f/100) or
    ceil(f/100) times, group totals land near f% of the original, and
    copy_idx is a dense 0..n-1 per doc."""
    from collections import Counter

    from mcp_hubspot_spark.operators.sampling import upsample_repeat
    from mcp_hubspot_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    out = upsample_repeat(docs, "lang", {"zh": 250}, id_col="doc_id").collect()
    per_doc = Counter((r.lang, r.doc_id) for r in out)
    for (lang, _), n in per_doc.items():
        assert n in ((2, 3) if lang == "zh" else (1,))
    by_doc_idx: dict[int, set] = {}
    for r in out:
        by_doc_idx.setdefault(r.doc_id, set()).add(r.copy_idx)
    for doc_id, idxs in by_doc_idx.items():
        assert idxs == set(range(len(idxs)))
    n_zh = sum(1 for r in docs.collect() if r.lang == "zh")
    n_zh_out = sum(n for (lang, _), n in per_doc.items() if lang == "zh")
    assert abs(n_zh_out - 2.5 * n_zh) < 0.35 * n_zh + 5


def test_random_sign_projection_matches_numpy(spark, sf_dir):
    """The expression-side projection must equal the numpy matmul with
    the same sign matrix (the documented high-dim alternative path), and
    roughly preserve pairwise distance ordering (JL sanity)."""
    import numpy as np

    from mcp_hubspot_spark.operators.vector import (
        random_sign_projection,
        rp_sign_matrix,
    )
    from mcp_hubspot_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    rows = emb.limit(50).collect()
    got = {
        (r.vec_id, r.dim_idx): r.value
        for r in random_sign_projection(emb, d_in=64, d_out=8).collect()
    }
    S = np.array(rp_sign_matrix(64, 8), dtype=np.float64)  # (8, 64)
    scale = 1.0 / np.sqrt(8)
    V = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    for vid, v in V.items():
        want = (S @ v) * scale
        for j in range(8):
            assert abs(got[(vid, j)] - round(float(want[j]), 4)) <= 1e-4
    # JL sanity: E[||Pv||^2] = ||v||^2 for the 1/sqrt(d_out)-scaled sign
    # matrix, so the mean projected/original distance ratio sits near 1.
    # (Distance CORRELATION is meaningless here: random synthetic
    # embeddings have concentrated pairwise distances, so the orig-vs-
    # proj scatter is noise around a single point.)
    ids = sorted(V)[:20]
    P = {vid: np.array([got[(vid, j)] for j in range(8)]) for vid in ids}
    ratios = []
    for i in range(len(ids)):
        for k in range(i + 1, len(ids)):
            o = float(np.linalg.norm(V[ids[i]] - V[ids[k]]))
            p = float(np.linalg.norm(P[ids[i]] - P[ids[k]]))
            ratios.append(p / o)
    mean_ratio = float(np.mean(ratios))
    assert 0.6 < mean_ratio < 1.4, mean_ratio


def test_projected_rerank_recall_on_planted_neighbors(spark):
    """Project->candidates->exact-rerank must find PLANTED near
    neighbors. (On iid-random corpora distance contrast vanishes and any
    pruning loses — recall there measures the data, not the operator, so
    the guarantee is pinned on a corpus with real neighbor structure.)"""
    import numpy as np

    from mcp_hubspot_spark.operators.vector import (
        random_sign_projection,
        rp_sign_matrix,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 64))
    noise = base[:10] + 0.05 * rng.normal(size=(10, 64))
    V = np.vstack([base, noise])  # ids 40..49 are near-dups of 0..9
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(V)],
        "vec_id long, embedding array<double>",
    )
    proj = random_sign_projection(
        df, d_in=64, d_out=16, seed="rp", exploded=False
    ).collect()
    P = {r.vec_id: np.array(r.proj) for r in proj}
    hits = 0
    for qid in range(10):
        pq = P[qid]
        cand = sorted(
            (float(((P[i] - pq) ** 2).sum()), i) for i in P if i != qid
        )[:10]
        exact = min(
            (float(((V[i] - V[qid]) ** 2).sum()), i)
            for _, i in cand
        )
        if exact[1] == qid + 40:
            hits += 1
    assert hits >= 9, hits  # planted twin found for >=9/10 queries


def test_remove_boilerplate_lines_edges(spark):
    """Shared lines are scrubbed, unique lines survive in order, and a
    document that is ENTIRELY boilerplate rebuilds to empty text with
    n_removed == n_lines."""
    from mcp_hubspot_spark.operators.text import remove_boilerplate_lines

    footer = "all rights reserved"
    rows = [(i, f"unique line {i}\n{footer}") for i in range(5)]
    rows.append((5, footer))                    # pure boilerplate
    rows.append((6, "solo doc\nsecond line"))   # nothing shared
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in remove_boilerplate_lines(df, min_doc_freq=3).collect()}
    for i in range(5):
        assert out[i].cleaned_text == f"unique line {i}"
        assert (out[i].n_lines, out[i].n_removed) == (2, 1)
    assert out[5].cleaned_text == "" and out[5].n_removed == 1
    assert out[6].cleaned_text == "solo doc\nsecond line"
    assert out[6].n_removed == 0


def test_containment_catches_what_jaccard_misses(spark):
    """A short doc embedded in a long one scores overlap ~1.0 but jaccard
    well below — the reason the overlap coefficient is a separate op."""
    from mcp_hubspot_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, SF, "documents")
    short = docs.filter(F.col("doc_id") == 1).select("doc_id", "text")
    long_tail = docs.filter(F.col("doc_id") == 201).select(
        F.col("text").alias("tail")
    )
    sup = short.crossJoin(long_tail).select(
        F.lit(9001).alias("doc_id"),
        F.concat("text", F.lit(" "), "tail").alias("text"),
    )
    corpus = short.unionByName(sup)
    ov = ngram_containment_pairs(corpus, min_overlap=0.0).collect()
    ja = ngram_jaccard_pairs(corpus, min_jaccard=0.0).collect()
    assert len(ov) == 1 and ov[0].overlap == 1.0
    assert len(ja) == 1 and ja[0].jaccard < 0.7


# ------------------------------------------- round-3 beyond-reference ops


def test_global_shuffle_is_deterministic_permutation(spark):
    from mcp_hubspot_spark.operators.sampling import global_shuffle

    docs = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    a = global_shuffle(docs, "doc_id", seed="ep0", n_shards=8)
    rows = a.collect()
    # every row gets exactly one (shard, pos); pos is 1..n within shard
    assert len(rows) == 1000
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) <= set(range(8))
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    # physical-plan independence: a repartitioned input yields the SAME
    # assignment (the whole point vs ORDER BY rand())
    b = global_shuffle(docs.repartition(13), "doc_id", seed="ep0", n_shards=8)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, b.collect()))
    # a different seed produces a different order
    c = global_shuffle(docs, "doc_id", seed="ep1", n_shards=8)
    assert sorted(map(tuple, rows)) != sorted(map(tuple, c.collect()))


def test_canonicalize_text_collapses_trivial_variants(spark):
    from mcp_hubspot_spark.operators.text import canonicalize_text

    df = spark.createDataFrame(
        [
            (1, "Hello,   World!"),
            (2, "hello world"),
            (3, "HELLO--WORLD??"),
            (4, "different text"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.norm_text for r in canonicalize_text(df).collect()}
    assert out[1] == out[2] == out[3] == "hello world"
    assert out[4] == "different text"
    # idempotent: canonicalizing the canonical form is a no-op
    df2 = spark.createDataFrame(
        [(1, out[1])], "doc_id long, text string"
    )
    assert canonicalize_text(df2).first().norm_text == out[1]


def test_quantize_embeddings_error_bound_and_zero_vector(spark):
    from mcp_hubspot_spark.operators.vector import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, -0.5, 0.25, 127.5]),
            (2, [0.0, 0.0, 0.0, 0.0]),  # all-zero: must not divide by zero
            (3, [-2.5, 2.5, 1e-8, -1e-8]),
        ],
        "vec_id long, embedding array<float>",
    )
    q = quantize_embeddings(df)
    deq = dequantize_embeddings(q, out_col="deq")
    for r in deq.collect():
        assert all(-127 <= int(v) <= 127 for v in r.qvec)
        for x, xhat in zip(r.embedding, r.deq):
            # symmetric quantization error bound: half a quantization step
            assert abs(float(x) - float(xhat)) <= r.q_scale / 2 + 1e-6
    zero = {r.vec_id: r for r in deq.collect()}[2]
    assert list(zero.qvec) == [0, 0, 0, 0]
    assert all(v == 0.0 for v in zero.deq)


# ------------------------------------------------------------- sketches

def test_bloom_no_false_negatives_and_bounded_fpr(spark):
    from mcp_hubspot_spark.operators.sketch import (
        bloom_build,
        bloom_might_contain,
    )

    members = spark.range(1000).select(
        F.concat(F.lit("member-"), F.col("id")).alias("v")
    )
    words = bloom_build(members, "v", num_bits=1 << 14, num_hashes=5)
    # no false negatives — every inserted value probes true
    n_found = members.filter(bloom_might_contain(F.col("v"), words)).count()
    assert n_found == 1000
    # false-positive rate stays near theory (~1% at 10 bits/elem, k=5)
    others = spark.range(10_000).select(
        F.concat(F.lit("other-"), F.col("id")).alias("v")
    )
    n_fp = others.filter(bloom_might_contain(F.col("v"), words)).count()
    assert n_fp < 500, f"FPR {n_fp / 10_000:.3f} far above design point"


def test_bloom_prefilter_matches_exact_contamination(spark):
    """The Bloom pre-filter must not change the operator's output: exact
    two-phase (probe + confirming join) equals the plain broadcast join."""
    from mcp_hubspot_spark.operators.dedup import ngram_contamination
    from mcp_hubspot_spark.operators.sketch import (
        bloom_prefiltered_contamination,
    )

    docs = load_table(spark, SF, "documents")
    bench = docs.filter(F.col("doc_id") < 8).select("doc_id", "text")
    cand = docs.filter(
        (F.col("doc_id") >= 8) & (F.col("doc_id") < 80)
    ).select("doc_id", "text")
    # plant guaranteed contamination: candidate text ++ benchmark text
    planted = (
        cand.alias("c")
        .join(bench.alias("b"), F.col("c.doc_id") % 8 == F.col("b.doc_id"))
        .select(
            (F.col("c.doc_id") + 5000).alias("doc_id"),
            F.concat("c.text", F.lit(" "), "b.text").alias("text"),
        )
    )
    corpus = cand.unionByName(planted)
    exact = {
        tuple(r)
        for r in ngram_contamination(corpus, bench, n=5).collect()
    }
    via_bloom = {
        tuple(r)
        for r in bloom_prefiltered_contamination(corpus, bench, n=5).collect()
    }
    assert exact == via_bloom
    assert len(via_bloom) >= 60  # the planted rows all surface


def test_kmv_estimate_tolerance_and_partition_invariance(spark):
    from mcp_hubspot_spark.operators.sketch import kmv_distinct

    events = load_table(spark, SF, "events")
    est = {
        r.event_type: (r.n_sketch, r.est_distinct)
        for r in kmv_distinct(events, ["event_type"], "user_id", k=64).collect()
    }
    exact = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for g, ex in exact.items():
        n_sketch, e = est[g]
        if ex < 64:
            assert e == float(ex), (g, e, ex)  # small groups are exact
        else:
            # KMV rse ~ 1/sqrt(k-1) ≈ 12.6%; allow 4 sigma
            assert abs(e - ex) <= 0.5 * ex + 3, (g, e, ex)
    # sketch is data-determined, not partitioning-determined
    resharded = kmv_distinct(
        events.repartition(13, "event_id"), ["event_type"], "user_id", k=64
    )
    est2 = {r.event_type: (r.n_sketch, r.est_distinct) for r in resharded.collect()}
    assert est == est2


def test_dedup_lines_keep_first_global_invariant(spark):
    """After keep-first dedup, every distinct line survives EXACTLY once
    across the whole corpus, and the survivor is the first occurrence."""
    from mcp_hubspot_spark.operators.text import dedup_lines_keep_first

    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") < 30)
    corpus = docs.select(
        "doc_id",
        F.concat(
            F.lit("header\n"), "text", F.lit("\nfooter")
        ).alias("text"),
    )
    out = dedup_lines_keep_first(corpus)
    kept_lines = out.select(
        F.explode(F.split("cleaned_text", "\n")).alias("line")
    ).filter(F.col("line") != "")
    dup = kept_lines.groupBy("line").count().filter(F.col("count") > 1)
    assert dup.count() == 0
    # first-occurrence wins: doc 0 keeps header+footer, doc 1 loses both
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[0].n_removed == 0
    assert rows[1].n_removed == 2
    # partition invariance
    out2 = dedup_lines_keep_first(corpus.repartition(7, "doc_id"))
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, out2.collect()))


def test_bm25_ranks_term_rich_docs_and_is_partition_stable(spark):
    from mcp_hubspot_spark.operators.text import bm25_scores

    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") < 50)
    planted = spark.createDataFrame(
        [(9001, "spark window hash spark window hash spark"),
         (9002, "spark only here"),
         (9003, "nothing relevant at all")],
        "doc_id long, text string",
    )
    corpus = docs.select("doc_id", "text").unionByName(planted)
    scores = {r.doc_id: r.score for r in bm25_scores(corpus, ["spark", "window", "hash"]).collect()}
    assert 9003 not in scores  # zero-match docs are absent
    assert scores[9001] > scores[9002]
    # fixed-order fold => bit-identical across partitionings
    scores2 = {
        r.doc_id: r.score
        for r in bm25_scores(
            corpus.repartition(11, "doc_id"), ["spark", "window", "hash"]
        ).collect()
    }
    assert scores == scores2


def test_incremental_lsh_dedup_new_vs_corpus_only(spark):
    """Planted mutated copies must match their corpus source; clean new
    docs must not appear; and new×new duplicates must NOT pair with each
    other (only the new×old quadrant exists)."""
    from mcp_hubspot_spark.operators.dedup import incremental_lsh_dedup

    docs = load_table(spark, SF, "documents")
    corpus = docs.filter(F.col("doc_id") < 100).select("doc_id", "text")
    # two planted news per source doc — mutual near-dups of EACH OTHER too
    p1 = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat("text", F.lit(" aa bb")).alias("text"),
    )
    p2 = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 2000).alias("doc_id"),
        F.concat("text", F.lit(" cc dd")).alias("text"),
    )
    out = incremental_lsh_dedup(
        p1.unionByName(p2), corpus, num_perm=16, bands=8, min_jaccard=0.2
    )
    rows = {r.doc_id: r for r in out.collect()}
    # every planted new doc matches, and its best match is its source
    hit = [i for i in range(20) if (i + 1000) in rows and rows[i + 1000].best_match_id == i]
    assert len(hit) >= 18, f"recall too low: {len(hit)}"
    # matches only reference the corpus id range — never another new doc
    assert all(r.best_match_id < 100 for r in rows.values())


def test_python_udtf_lateral_sentence_split(spark):
    """§2.11 UDTF surface: lateral-joined sentence splitter fans each doc
    into ordered sentence rows."""
    from mcp_hubspot_spark.functions.table_functions import SplitSentences

    spark.udtf.register("split_sentences", SplitSentences)
    df = spark.createDataFrame(
        [(1, "One two. Three four five! Six?"), (2, ""), (3, "Solo")],
        "doc_id long, text string",
    )
    df.createOrReplaceTempView("udtf_docs")
    rows = spark.sql(
        """
        SELECT d.doc_id, s.sentence_idx, s.sentence, s.n_words
        FROM udtf_docs d, LATERAL split_sentences(d.text) s
        ORDER BY d.doc_id, s.sentence_idx
        """
    ).collect()
    got = [(r.doc_id, r.sentence_idx, r.sentence, r.n_words) for r in rows]
    assert got == [
        (1, 0, "One two.", 2),
        (1, 1, "Three four five!", 3),
        (1, 2, "Six?", 1),
        (3, 0, "Solo", 1),
    ]


def test_python_udtf_data_dependent_iteration(spark):
    from mcp_hubspot_spark.functions.table_functions import BisectRanges

    spark.udtf.register("bisect_ranges", BisectRanges)
    rows = spark.sql(
        "SELECT * FROM bisect_ranges(8, 5) ORDER BY step"
    ).collect()
    assert [(r.step, r.lo, r.hi) for r in rows] == [
        (0, 0, 8), (1, 5, 8), (2, 5, 6),
    ]


def test_profile_table_null_accounting(spark):
    from mcp_hubspot_spark.operators.profiling import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "b")],
        "x long, y string",
    )
    rows = {r.column_name: r for r in profile_table(df, ["x", "y"]).collect()}
    assert rows["x"].n_rows == 4 and rows["x"].n_non_null == 3
    assert rows["x"].n_distinct == 3 and rows["x"].min_value == "1"
    assert rows["y"].n_non_null == 3 and rows["y"].n_distinct == 2
    assert rows["y"].min_value == "a" and rows["y"].max_value == "b"


def test_hash_sample_quantiles_tolerance_and_invariance(spark):
    """The bottom-m hash sample estimate tracks the exact quantiles
    (~1/sqrt(m) deviation) and is independent of physical partitioning."""
    from mcp_hubspot_spark.operators.sketch import hash_sample_quantiles

    li = load_table(spark, SF, "lineitem")
    key = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    qs = [0.25, 0.5, 0.75, 0.9]
    est = {
        r.q: r.value
        for r in hash_sample_quantiles(li, key, "l_extendedprice", qs, m=1000).collect()
    }
    exact = dict(
        zip(
            qs,
            li.agg(
                F.expr(
                    "percentile(cast(l_extendedprice as double), array(0.25, 0.5, 0.75, 0.9))"
                )
            ).first()[0],
        )
    )
    for q in qs:
        # rank deviation ~ sqrt(q(1-q)/m): allow 5 sigma of VALUE spread
        # via a generous relative band on this smooth distribution
        assert abs(est[q] - exact[q]) / exact[q] < 0.15, (q, est[q], exact[q])
    est2 = {
        r.q: r.value
        for r in hash_sample_quantiles(
            li.repartition(17, "l_partkey"), key, "l_extendedprice", qs, m=1000
        ).collect()
    }
    assert est == est2


def test_resample_locf_semantics(spark):
    """Hand-built series: grid points carry the latest prior observation;
    same-timestamp ties resolve to the highest event_id; grid starts at
    the first aligned point at/after the first event (never-null)."""
    from datetime import datetime

    from mcp_hubspot_spark.operators.timeseries import resample_locf

    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 30), 10, 1.0),
            (1, datetime(2024, 1, 1, 1, 45), 11, 2.0),
            (1, datetime(2024, 1, 1, 1, 45), 12, 3.0),  # tie: id 12 wins
            (1, datetime(2024, 1, 1, 5, 0), 13, 4.0),   # ON a grid point
            (2, datetime(2024, 1, 1, 0, 10), 20, 9.0),
            (2, datetime(2024, 1, 1, 0, 50), 21, 8.0),  # span < 1h: no grid
        ],
        "user_id long, ts timestamp, event_id long, value double",
    )
    out = resample_locf(
        ev, step_s=3600
    ).orderBy("user_id", "grid_ts")
    rows = [(r.user_id, r.grid_ts.hour, r.locf_value) for r in out.collect()]
    assert rows == [
        (1, 1, 1.0),   # 01:00 <- event 00:30
        (1, 2, 3.0),   # 02:00 <- tie at 01:45 resolves to event_id 12
        (1, 3, 3.0),
        (1, 4, 3.0),
        (1, 5, 4.0),   # event exactly at 05:00 counts
    ]
    assert all(r.locf_value is not None for r in out.collect())
    out2 = resample_locf(ev.repartition(5, "event_id"), step_s=3600)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, out2.collect()))


def test_weighted_sample_matches_bruteforce_and_layout_invariant(spark):
    """A-ES selection is a pure function of (seed, id, weight): the chosen
    set equals a python brute-force of the same key formula, and survives
    any repartitioning. Higher-weight rows are sampled more often."""
    import hashlib
    import math as m

    from mcp_hubspot_spark.operators.sampling import weighted_sample

    rows = [(i, (i % 7) + 1) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, w long")

    def key(i, w):
        h = int(hashlib.md5(f"ws:{i}".encode()).hexdigest()[:15], 16)
        return m.log((h + 1) / float(1 << 60)) / w

    expect = sorted(
        ((key(i, w), i) for i, w in rows), reverse=True
    )[:40]
    expect_ids = sorted(i for _, i in expect)

    got = weighted_sample(df, "w", k=40, id_col="doc_id", seed="ws")
    assert sorted(r.doc_id for r in got.collect()) == expect_ids
    got2 = weighted_sample(
        df.repartition(13, "w"), "w", k=40, id_col="doc_id", seed="ws"
    )
    assert sorted(r.doc_id for r in got2.collect()) == expect_ids
    # weight-proportional inclusion: mean weight of the sample must
    # exceed the population mean (weights 1..7, uniform)
    mean_w = sum(r.w for r in got.collect()) / 40
    assert mean_w > sum(w for _, w in rows) / len(rows)
    # weight <= 0 rows carry no mass
    with_zero = spark.createDataFrame(
        rows + [(999, 0)], "doc_id long, w long"
    )
    got3 = weighted_sample(with_zero, "w", k=400, id_col="doc_id", seed="ws")
    assert 999 not in {r.doc_id for r in got3.collect()}


def test_cms_one_sided_error_and_bounded_size(spark):
    """Count-min guarantees estimate >= exact for every queried term, the
    sketch never exceeds depth*width cells, and cell totals conserve the
    stream mass (each occurrence lands in exactly one bucket per row)."""
    from mcp_hubspot_spark.operators.sketch import cms_build, cms_estimate

    tc = spark.createDataFrame(
        [(f"t{i}", (i % 13) + 1) for i in range(500)], "term string, cnt long"
    )
    sketch = cms_build(tc, depth=4, width=64, seed="x")
    cells = sketch.collect()
    assert len(cells) <= 4 * 64
    total = sum(r.cnt for r in tc.collect())
    per_row = {}
    for r in cells:
        per_row[r.row_idx] = per_row.get(r.row_idx, 0) + r.cell_count
    assert all(v == total for v in per_row.values())

    est = {
        r.term: r.cms_estimate
        for r in cms_estimate(sketch, tc, depth=4, width=64, seed="x").collect()
    }
    exact = {r.term: r.cnt for r in tc.collect()}
    assert all(est[t] >= exact[t] for t in exact)
    # a term absent from the stream still answers (possibly > 0 — CMS
    # error is one-sided), never negative
    ghost = spark.createDataFrame([("nope",)], "term string")
    g = cms_estimate(sketch, ghost, depth=4, width=64, seed="x").collect()
    assert g[0].cms_estimate >= 0


def test_temperature_mixture_rates_and_invariance(spark):
    """alpha < 1 flattens: the smallest group keeps rate 1.0 (fully
    retained), larger groups get strictly smaller keep-rates; membership
    is layout-invariant."""
    from mcp_hubspot_spark.operators.sampling import temperature_mixture

    rows = (
        [(i, "small") for i in range(20)]
        + [(1000 + i, "mid") for i in range(200)]
        + [(10_000 + i, "big") for i in range(2000)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_mixture(df, "lang", alpha=0.5, id_col="doc_id")
    rates = {
        r.lang: r.keep_rate for r in out.select("lang", "keep_rate").distinct().collect()
    }
    assert rates["small"] == 1.0
    assert rates["big"] < rates["mid"] < 1.0
    kept = out.groupBy("lang").count().collect()
    counts = {r.lang: r["count"] for r in kept}
    assert counts["small"] == 20  # rate 1 keeps everything
    # downsampling actually bites on the big group
    assert counts["big"] < 2000
    out2 = temperature_mixture(
        df.repartition(11, "doc_id"), "lang", alpha=0.5, id_col="doc_id"
    )
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in out2.collect()
    )


def test_semantic_dedup_drops_planted_twins_layout_invariant(spark):
    """Every planted near-twin (higher id, same cell as its base) is
    dropped; bases survive; assignment + keep decisions are a pure
    function of the data (layout-invariant)."""
    from mcp_hubspot_spark.operators.dedup import semantic_dedup
    from mcp_hubspot_spark.sources.catalog import load_table

    emb = (
        load_table(spark, "/root/testdata/sf0.001", "embeddings")
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
        .filter(F.col("vec_id") < 100)
    )
    twins = emb.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.size("embedding")),
            lambda i: F.when(
                i == 1, F.element_at(F.col("embedding"), i) + F.lit(0.01)
            ).otherwise(F.element_at(F.col("embedding"), i)),
        ).alias("embedding"),
    )
    corpus = emb.unionByName(twins)
    cents = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.filter(F.col("vec_id") < 4).collect()
    ]
    out = semantic_dedup(corpus, cents, min_cosine=0.999)
    rows = {r.vec_id: (r.cell_id, r.is_kept) for r in out.collect()}
    assert len(rows) == 200
    # a twin shares its base's cell (tiny perturbation) and carries the
    # higher id -> always dropped
    for vid in range(100):
        assert rows[vid + 10000][0] == rows[vid][0]
        assert rows[vid + 10000][1] is False
    # at threshold 0.999 distinct base vectors stay distinct
    assert all(rows[vid][1] for vid in range(100))
    out2 = semantic_dedup(
        corpus.repartition(7, "vec_id"), cents, min_cosine=0.999
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, out2.collect())
    )


def test_length_bucketed_batches_bounds_and_invariance(spark):
    """Each batch holds <= batch_size rows of one length bucket, pos is
    dense 0..n-1 within a batch, and the layout is a pure function of
    (seed, id, length)."""
    from mcp_hubspot_spark.operators.text import length_bucketed_batches

    rows = [(i, 2 ** (i % 8) + i % 5) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    out = length_bucketed_batches(df, "n", batch_size=16, id_col="doc_id")
    got = [(r.doc_id, r.len_bucket, r.batch_id, r.pos_in_batch)
           for r in out.collect()]
    assert len(got) == 400
    from collections import defaultdict
    batches = defaultdict(list)
    for _, bkt, bid, pos in got:
        batches[(bkt, bid)].append(pos)
    for (bkt, bid), ps in batches.items():
        assert len(ps) <= 16
        assert sorted(ps) == list(range(len(ps)))  # dense positions
    out2 = length_bucketed_batches(
        df.repartition(9, "n"), "n", batch_size=16, id_col="doc_id"
    )
    assert sorted(got) == sorted(
        (r.doc_id, r.len_bucket, r.batch_id, r.pos_in_batch)
        for r in out2.collect()
    )


def test_per_group_cap_bound_and_layout_invariance(spark):
    """At most k survivors per group, ranks dense 1..min(k, n_group), and
    the chosen subset is a pure function of (seed, id) — identical under
    any repartitioning — and equal to the window-rank formulation."""
    from mcp_hubspot_spark.operators.sampling import per_group_cap, split_bucket
    from pyspark.sql import Window, functions as F

    rows = [(i, f"g{i % 7}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = per_group_cap(df, "source", "doc_id", k=5, seed="t")
    got = [(r.source, r.doc_id, r.bucket, r.rank) for r in out.collect()]
    from collections import defaultdict
    per = defaultdict(list)
    for s, i, b, rk in got:
        per[s].append(rk)
    for s, rks in per.items():
        assert len(rks) <= 5
        assert sorted(rks) == list(range(1, len(rks) + 1))
    # equals the window-rank formulation (the semantics the oracle uses)
    w = Window.partitionBy("source").orderBy(
        split_bucket("doc_id", "t"), F.col("doc_id")
    )
    ref = (
        df.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .withColumn("bucket", split_bucket("doc_id", "t"))
        .select("source", "doc_id", "bucket", "rank")
    )
    assert sorted(got) == sorted(map(tuple, ref.collect()))
    # layout invariance
    out2 = per_group_cap(df.repartition(11, "doc_id"), "source", "doc_id",
                         k=5, seed="t")
    assert sorted(got) == sorted(map(tuple, out2.collect()))


def test_semantic_contamination_flags_planted_only(spark):
    """Planted near-copies of benchmark vectors are flagged against their
    source vector; unrelated corpus rows are not."""
    from mcp_hubspot_spark.operators.dedup import semantic_contamination
    import math

    def unit(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    bench = spark.createDataFrame(
        [(i, unit(i * 1.0)) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    # corpus: two near-copies of bench 1 (ids 100, 101), one far row (200)
    corpus = spark.createDataFrame(
        [
            (100, [math.cos(1.0) + 0.001, math.sin(1.0), 0.0, 0.0]),
            (101, [math.cos(1.002), math.sin(1.002), 0.0, 0.0]),
            (200, [0.0, 0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = semantic_contamination(corpus, bench, min_cosine=0.999)
    got = {r.vec_id: (r.bench_id, r.cosine) for r in out.collect()}
    assert set(got) == {100, 101}
    assert got[100][0] == 1 and got[100][1] >= 0.999
    assert got[101][0] == 1 and got[101][1] >= 0.999


def test_scd2_intervals_tile_and_current(spark):
    """Intervals per key tile the change timeline (each valid_to equals
    the next valid_from), exactly one open interval per key, and runs of
    the same state collapse to one row."""
    from mcp_hubspot_spark.operators.timeseries import scd2_intervals
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: A A B B A  -> intervals A, B, A
    for i, s in enumerate("AABBA"):
        rows.append((1, i, t0 + dt.timedelta(hours=i), s))
    # user 2: constant -> one interval
    for i, s in enumerate("CCC"):
        rows.append((2, 10 + i, t0 + dt.timedelta(hours=i), s))
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )
    out = scd2_intervals(df).orderBy("user_id", "valid_from_iso").collect()
    u1 = [r for r in out if r.user_id == 1]
    u2 = [r for r in out if r.user_id == 2]
    assert [r.state for r in u1] == ["A", "B", "A"]
    assert [r.state for r in u2] == ["C"]
    for seq in (u1, u2):
        assert sum(r.is_current for r in seq) == 1
        assert seq[-1].is_current and seq[-1].valid_to_iso.startswith("9999")
        for a, b in zip(seq, seq[1:]):
            assert a.valid_to_iso == b.valid_from_iso
    # layout invariance
    out2 = scd2_intervals(df.repartition(7, "event_id")).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_greedy_pack_docs_capacity_and_invariance(spark):
    """No bin exceeds capacity unless it holds a single oversized doc,
    every row is packed exactly once, bin ids are dense per shard, and
    the layout is physical-plan independent."""
    from mcp_hubspot_spark.operators.text import greedy_pack_docs

    rows = [(i, 100 + (i * 37) % 400) for i in range(200)]
    rows.append((999, 5000))  # oversized doc: own bin
    df = spark.createDataFrame(rows, "doc_id long, n long")
    out = greedy_pack_docs(df, "n", capacity=1000, n_shards=3, seed="t")
    got = [(r.doc_id, r.shard_id, r.bin_id) for r in out.collect()]
    assert len(got) == 201 and len({g[0] for g in got}) == 201
    lens = dict(rows)
    from collections import defaultdict
    fills = defaultdict(int)
    members = defaultdict(list)
    for doc, sh, b in got:
        fills[(sh, b)] += lens[doc]
        members[(sh, b)].append(doc)
    for (sh, b), total in fills.items():
        assert total <= 1000 or len(members[(sh, b)]) == 1
    for sh in {g[1] for g in got}:
        bins = sorted({b for _, s, b in got if s == sh})
        assert bins == list(range(len(bins)))  # dense per shard
    out2 = greedy_pack_docs(
        df.repartition(13, "doc_id"), "n", capacity=1000, n_shards=3, seed="t"
    )
    assert sorted(got) == sorted(
        (r.doc_id, r.shard_id, r.bin_id) for r in out2.collect()
    )


def test_dq_checks_counts_and_bounded_sample(spark):
    """Violation counts are exact, rates correct, the id sample is the k
    GLOBALLY smallest violating ids (two-phase merge), and results are
    layout-invariant."""
    from mcp_hubspot_spark.operators.profiling import dq_checks
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, i % 10) for i in range(100)], "id long, v long"
    )
    rules = [("v_under_7", F.col("v") < 7), ("v_nonneg", F.col("v") >= 0)]
    out = {r.rule: r for r in dq_checks(df, rules, "id", sample_k=4).collect()}
    assert out["v_under_7"].n_violations == 30
    assert abs(out["v_under_7"].violation_rate - 0.3) < 1e-9
    # smallest violating ids are 7, 8, 9, 17
    assert out["v_under_7"].sample_ids == ["17", "7", "8", "9"] or sorted(
        int(x) for x in out["v_under_7"].sample_ids
    ) == [7, 8, 9, 17]
    assert out["v_nonneg"].n_violations == 0
    assert out["v_nonneg"].sample_ids == []
    out2 = {
        r.rule: r
        for r in dq_checks(
            df.repartition(17, "id"), rules, "id", sample_k=4
        ).collect()
    }
    for k in out:
        assert out2[k].n_violations == out[k].n_violations
        assert sorted(out2[k].sample_ids) == sorted(out[k].sample_ids)


def test_referential_violations_finds_orphans(spark):
    from mcp_hubspot_spark.operators.profiling import referential_violations

    parent = spark.createDataFrame([(i,) for i in range(5)], "pk long")
    child = spark.createDataFrame(
        [(1, "a"), (4, "b"), (9, "c"), (9, "d"), (12, "e")],
        "fk long, payload string",
    )
    got = {
        (r.fk, r.n_rows)
        for r in referential_violations(child, parent, "fk", "pk").collect()
    }
    assert got == {(9, 2), (12, 1)}


def test_poisson_bootstrap_ci_sane_and_invariant(spark):
    """CI brackets the point estimate, is ordered, narrows with sample
    size, and is a pure function of (seed, ids) — layout-invariant."""
    from mcp_hubspot_spark.operators.sampling import poisson_bootstrap_ci

    rows = [(i, "big", float(100 + (i * 17) % 50)) for i in range(2000)]
    rows += [(10_000 + i, "small", float(100 + (i * 17) % 50)) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    out = {
        r.g: r
        for r in poisson_bootstrap_ci(
            df, "g", "v", id_col="id", n_replicas=64
        ).collect()
    }
    for g, r in out.items():
        assert r.ci_lo <= r.mean_value <= r.ci_hi, (g, r)
        assert r.ci_lo < r.ci_hi
    width = lambda r: r.ci_hi - r.ci_lo
    assert width(out["big"]) < width(out["small"])  # more data, tighter CI
    out2 = {
        r.g: r
        for r in poisson_bootstrap_ci(
            df.repartition(23, "id"), "g", "v", id_col="id", n_replicas=64
        ).collect()
    }
    for g in out:
        assert abs(out[g].ci_lo - out2[g].ci_lo) < 1e-9
        assert abs(out[g].ci_hi - out2[g].ci_hi) < 1e-9


def test_semantic_contamination_matmul_agrees_with_expr(spark):
    """The BLAS backend flags the same rows with the same best matches as
    the oracle-gated expression variant on clear-margin data."""
    from mcp_hubspot_spark.operators.dedup import (
        semantic_contamination,
        semantic_contamination_matmul,
    )
    from mcp_hubspot_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    bench = emb.filter(F.col("vec_id") < 25)
    planted = bench.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.size("embedding")),
            lambda i: F.when(
                i == 1, F.element_at(F.col("embedding"), i) + F.lit(0.05)
            ).otherwise(F.element_at(F.col("embedding"), i)),
        ).alias("embedding"),
    )
    corpus = emb.filter(F.col("vec_id") >= 25).unionByName(planted)
    e = {
        (r.vec_id, r.bench_id, round(r.cosine, 6))
        for r in semantic_contamination(corpus, bench, 0.9).collect()
    }
    m = {
        (r.vec_id, r.bench_id, round(r.cosine, 6))
        for r in semantic_contamination_matmul(corpus, bench, 0.9).collect()
    }
    assert e == m and len(e) == 25


def test_bpe_learn_merges_matches_python_reference(spark):
    """The distributed BPE trainer learns the same merge table as a
    plain-python greedy reference on a crafted corpus, and is
    layout-invariant."""
    from mcp_hubspot_spark.operators.text import bpe_learn_merges
    from collections import Counter

    texts = ["the cat sat", "the hat", "that cat", "the the the"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )

    def py_bpe(texts, k):
        seqs = [list(t.lower().replace(" ", "_")) for t in texts]
        merges = []
        for rank in range(1, k + 1):
            counts = Counter()
            for s in seqs:
                for a, b in zip(s, s[1:]):
                    counts[(a, b)] += 1
            if not counts:
                break
            # count desc, pair-string asc (the engine tie-break)
            (a, b), c = min(
                counts.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}")
            )
            merges.append((rank, a, b, c))
            out = []
            for s in seqs:
                ns = []
                for x in s:
                    if ns and ns[-1] == a and x == b:
                        ns[-1] = a + b
                    else:
                        ns.append(x)
                out.append(ns)
            seqs = out
        return merges

    expected = py_bpe(texts, 3)
    got = bpe_learn_merges(df, k=3)
    assert got == expected
    got2 = bpe_learn_merges(df.repartition(5, "doc_id"), k=3)
    assert got2 == expected


def test_dq_checks_null_predicate_counts_as_violation(spark):
    """A rule that evaluates to NULL (NULL input) counts as a violation —
    the safe quality-gate default; 3VL pass-through must be opted into
    with an explicit isNull() disjunct."""
    from mcp_hubspot_spark.operators.profiling import dq_checks
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, 100.0), (2, None), (3, 500.0)], "id long, price double"
    )
    out = {
        r.rule: r
        for r in dq_checks(
            df,
            [
                ("price_cap", F.col("price") <= 450.0),
                ("cap_or_null", F.col("price").isNull() | (F.col("price") <= 450.0)),
            ],
            "id",
        ).collect()
    }
    # NULL price violates the bare cap rule (ids 2 and 3)...
    assert out["price_cap"].n_violations == 2
    assert sorted(int(x) for x in out["price_cap"].sample_ids) == [2, 3]
    # ...but passes when the rule opts into NULL tolerance.
    assert out["cap_or_null"].n_violations == 1
    assert out["cap_or_null"].sample_ids == ["3"]


def test_dq_checks_rejects_unsafe_rule_names(spark):
    from mcp_hubspot_spark.operators.profiling import dq_checks
    from pyspark.sql import functions as F
    import pytest

    df = spark.createDataFrame([(1,)], "id long")
    for bad in ["has space", "quo'te", "back`tick", ""]:
        with pytest.raises(ValueError, match="rule name"):
            dq_checks(df, [(bad, F.col("id") > 0)], "id")


def test_profile_table_approx_matches_exact_within_rsd(spark):
    """The HLL++ profile twin: identical schema, n_distinct within the
    sketch tolerance of the exact profile, everything else exact."""
    from mcp_hubspot_spark.operators.profiling import (
        profile_table,
        profile_table_approx,
    )

    orders = load_table(spark, SF, "orders")
    cols = ["o_custkey", "o_orderstatus", "o_totalprice"]
    exact = {r.column_name: r for r in profile_table(orders, cols).collect()}
    approx = {
        r.column_name: r
        for r in profile_table_approx(orders, cols, rsd=0.02).collect()
    }
    assert set(exact) == set(approx)
    for c in cols:
        e, a = exact[c], approx[c]
        assert (a.n_rows, a.n_non_null, a.min_value, a.max_value) == (
            e.n_rows, e.n_non_null, e.min_value, e.max_value
        )
        assert abs(a.n_distinct - e.n_distinct) <= max(5, 0.1 * e.n_distinct)


def test_semantic_contamination_matmul_guards(spark):
    """Empty benchmark raises (never 'no contamination'); zero-norm
    benchmark rows yield cos=0 instead of NaN-poisoned argmax."""
    from mcp_hubspot_spark.operators.dedup import semantic_contamination_matmul
    import pytest

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    empty = corpus.filter("vec_id < 0")
    with pytest.raises(ValueError, match="benchmark is empty"):
        semantic_contamination_matmul(corpus, empty, 0.9)
    bench = spark.createDataFrame(
        [(10, [0.0, 0.0]), (11, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    got = {
        (r.vec_id, r.bench_id)
        for r in semantic_contamination_matmul(corpus, bench, 0.9).collect()
    }
    assert got == {(1, 11)}  # zero-norm bench row never matches, no NaN


def test_ordered_funnel_first_touch_semantics(spark):
    """Step order matters: a purchase BEFORE the first click does not
    count; one at/after it does. pct_of_first is anchored on step 1."""
    from mcp_hubspot_spark.operators.analytics import ordered_funnel

    rows = [
        # u1 completes the whole funnel in order
        (1, 1, "view"), (2, 1, "click"), (3, 1, "purchase"),
        # u2: purchase precedes the click -> stops at click
        (4, 2, "view"), (5, 2, "purchase"), (6, 2, "click"),
        # u3: never views -> counts nowhere
        (7, 3, "click"), (8, 3, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string"
    ).withColumn("ts", F.timestamp_seconds(F.col("event_id") * 60))
    got = {
        (r.step, r.event_type, r.n_users, r.pct_of_first)
        for r in ordered_funnel(df, ["view", "click", "purchase"]).collect()
    }
    assert got == {
        (1, "view", 2, 1.0),
        (2, "click", 2, 1.0),
        (3, "purchase", 1, 0.5),
    }


def test_transition_matrix_probabilities_sum_to_one(spark):
    from mcp_hubspot_spark.operators.analytics import transition_matrix

    events = load_table(spark, SF, "events")
    rows = transition_matrix(events).collect()
    assert all(r.n_transitions > 0 for r in rows)
    by_from = {}
    for r in rows:
        by_from.setdefault(r.from_type, 0.0)
        by_from[r.from_type] += r.p_transition
    for total in by_from.values():
        assert abs(total - 1.0) < 1e-4  # rounding of each term to 6dp


def test_deletion_neighborhood_pairs_exact_for_dist1(spark):
    """Blocking finds exactly the lev<=1 pairs a brute-force scan finds —
    substitution, insertion, and deletion shapes all covered."""
    from mcp_hubspot_spark.operators.dedup import deletion_neighborhood_pairs
    import itertools
    import pytest

    names = ["alpha", "alpba", "alph", "alphaa", "beta", "betta", "gamma"]
    df = spark.createDataFrame(
        list(enumerate(names)), "key long, name string"
    )
    got = {
        (r.key_a, r.key_b, r.edit_dist)
        for r in deletion_neighborhood_pairs(df, "key", "name").collect()
    }

    def lev(a, b):
        d = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, d[0] = d[0], i
            for j, cb in enumerate(b, 1):
                prev, d[j] = d[j], min(
                    d[j] + 1, d[j - 1] + 1, prev + (ca != cb)
                )
        return d[len(b)]

    want = {
        (i, j, lev(a, b))
        for (i, a), (j, b) in itertools.combinations(enumerate(names), 2)
        if lev(a, b) <= 1
    }
    assert got == want and len(want) >= 4
    with pytest.raises(ValueError, match="max_dist=1"):
        deletion_neighborhood_pairs(df, "key", "name", max_dist=2)


def test_semantic_dedup_matmul_agrees_with_expr(spark):
    """The BLAS SemDeDup backend keeps exactly the rows the oracle-gated
    expression variant keeps, cell-for-cell."""
    from mcp_hubspot_spark.operators.dedup import (
        semantic_dedup,
        semantic_dedup_matmul,
    )
    from mcp_hubspot_spark.operators.vector import train_centroids

    base = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # plant guaranteed near-dups: a perturbed copy of every 5th vector
    planted = base.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x + F.when(i == 0, 1e-4).otherwise(0.0)
        ).alias("embedding"),
    )
    emb = base.unionByName(planted)
    cents = [
        (int(r.cell_id), [float(x) for x in r.centroid])
        for r in train_centroids(base, 8).collect()
    ]
    e = {
        (r.vec_id, r.cell_id, r.is_kept)
        for r in semantic_dedup(emb, cents, min_cosine=0.98).collect()
    }
    m = {
        (r.vec_id, r.cell_id, r.is_kept)
        for r in semantic_dedup_matmul(emb, cents, min_cosine=0.98).collect()
    }
    assert e == m and len(e) == emb.count()
    # every planted copy lands in its original's cell and is dropped
    dropped = {v for v, _, k in e if not k}
    assert {v for v, _, _ in e if v >= 100000} <= dropped


def test_percentile_buckets_match_ntile_counts(spark):
    """The broadcast-cutoff bucket twin fills buckets like exact NTILE
    (within sketch tolerance) and never shuffles for the assignment."""
    from mcp_hubspot_spark.operators.analytics import percentile_buckets
    from pyspark.sql import Window

    spend = (
        load_table(spark, SF, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend"))
        .withColumn("spend", F.col("spend").cast("double"))
    )
    n = spend.count()
    exact = {
        r.q: r.c
        for r in spend.withColumn(
            "q", F.ntile(4).over(Window.orderBy("spend", "o_custkey"))
        )
        .groupBy("q")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    approx = {
        r.bucket: r.c
        for r in percentile_buckets(spend, "spend", 4)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert set(approx) == {1, 2, 3, 4}
    for b in exact:
        assert abs(approx[b] - exact[b]) <= max(5, 0.02 * n)


def test_triangle_count_known_graph(spark):
    """Hub-and-triangles graph: degree orientation still counts each
    triangle exactly once; duplicate/reversed/self-loop edges collapse."""
    from mcp_hubspot_spark.operators.graph import triangle_count

    edges = [
        # triangle 1-2-3, triangle 3-4-5, edge 5-6 (no triangle)
        (1, 2), (2, 3), (3, 1),
        (3, 4), (4, 5), (5, 3),
        (5, 6),
        # hub 0 connected to everything (adds triangles with each edge
        # among 1..6 that it closes: all 7 listed edges)
        (0, 1), (0, 2), (0, 3), (0, 4), (0, 5), (0, 6),
        # noise: duplicates, reversed, self-loop
        (2, 1), (1, 2), (4, 4),
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    row = triangle_count(df).collect()[0]
    assert (row.n_nodes, row.n_edges) == (7, 13)
    # triangles: {1,2,3}, {3,4,5}, and 0 with each of the 7 base edges
    assert row.n_triangles == 9


def test_new_operators_layout_invariance(spark):
    """Funnel counts, transition counts, and linkage pairs are identical
    under different physical partitionings — no operator leaks layout."""
    from mcp_hubspot_spark.operators.analytics import (
        ordered_funnel,
        transition_matrix,
    )
    from mcp_hubspot_spark.operators.dedup import deletion_neighborhood_pairs

    events = load_table(spark, SF, "events")
    cust = load_table(spark, SF, "customer").filter(F.col("c_custkey") < 200)
    for df, df2 in [
        (events, events.repartition(17, "event_type")),
    ]:
        a = sorted(map(tuple, ordered_funnel(df, ["view", "click", "purchase"]).collect()))
        b = sorted(map(tuple, ordered_funnel(df2, ["view", "click", "purchase"]).collect()))
        assert a == b
        a = sorted(map(tuple, transition_matrix(df).collect()))
        b = sorted(map(tuple, transition_matrix(df2).collect()))
        assert a == b
    a = sorted(map(tuple, deletion_neighborhood_pairs(cust, "c_custkey", "c_name").collect()))
    b = sorted(map(tuple, deletion_neighborhood_pairs(cust.repartition(13), "c_custkey", "c_name").collect()))
    assert a == b and len(a) > 0


def test_semantic_dedup_backends_agree_on_zero_vectors(spark):
    """Zero-norm embeddings are non-similar to everything in BOTH
    backends: the expression twin must not let a NaN cosine (0/0) pass
    the >= threshold under Spark's NaN-is-largest ordering."""
    from mcp_hubspot_spark.operators.dedup import (
        semantic_dedup,
        semantic_dedup_matmul,
    )

    rows = [
        (1, [0.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0]),  # second zero vector: the 0/0 pair
        (3, [1.0, 0.0, 0.0]),
        (4, [1.0, 1e-9, 0.0]),  # genuine near-dup of 3
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(0, [0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0])]
    e = {
        (r.vec_id, r.is_kept)
        for r in semantic_dedup(df, cents, min_cosine=0.99).collect()
    }
    m = {
        (r.vec_id, r.is_kept)
        for r in semantic_dedup_matmul(df, cents, min_cosine=0.99).collect()
    }
    assert e == m
    kept = {v for v, k in e if k}
    # both zero vectors survive (cos treated as 0); the near-dup drops
    assert kept == {1, 2, 3}


def test_percentile_buckets_null_values_get_null_bucket(spark):
    from mcp_hubspot_spark.operators.analytics import percentile_buckets

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)] + [(100, None), (101, None)],
        "id long, v double",
    )
    out = percentile_buckets(df, "v", 4).collect()
    by_id = {r.id: r.bucket for r in out}
    assert by_id[100] is None and by_id[101] is None
    non_null = [r.bucket for r in out if r.v is not None]
    assert set(non_null) == {1, 2, 3, 4}
    # NULLs did not inflate bucket 1
    assert sum(1 for b in non_null if b == 1) == 25


def test_dsir_log_weights_prefers_target_like_docs(spark):
    """DSIR importance weights: docs sharing the target slice's bigram
    vocabulary outscore docs from a disjoint vocabulary, the log-weight
    is an exact DECIMAL (partition-order independent), and every raw doc
    with at least one bigram gets a row."""
    from mcp_hubspot_spark.operators.sampling import dsir_log_weights

    target = spark.createDataFrame(
        [(100 + i, "alpha beta gamma delta " * 3) for i in range(5)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(0, "alpha beta gamma delta alpha beta"),   # target-like
         (1, "alpha beta something else entirely"),  # half-match
         (2, "zeta eta theta iota kappa mu")],       # disjoint
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_feats, float(r.log_weight_exact))
        for r in dsir_log_weights(raw, target, n_buckets=256).collect()
    }
    assert set(out) == {0, 1, 2}
    assert out[0][1] > out[1][1] > out[2][1]
    assert out[0][1] > 0 > out[2][1]

    # partition-order invariance: DECIMAL summation is exact, so a
    # different physical layout yields bit-identical weights
    again = {
        r.doc_id: (r.n_feats, float(r.log_weight_exact))
        for r in dsir_log_weights(
            raw.repartition(7), target.repartition(3), n_buckets=256
        ).collect()
    }
    assert again == out


def test_dsir_target_pred_equals_target_dataframe(spark):
    """The single-explode in-corpus form (target_pred) is exactly the
    two-frame form with the same slice as target, and passing both or
    neither is rejected."""
    import pytest as _pytest

    from mcp_hubspot_spark.operators.sampling import dsir_log_weights

    raw = spark.createDataFrame(
        [(i, f"word{i % 4} common text token{i % 3} tail") for i in range(40)],
        "doc_id long, text string",
    )
    pred = F.col("doc_id") % 4 == 0
    a = {
        r.doc_id: (r.n_feats, str(r.log_weight_exact))
        for r in dsir_log_weights(raw, target_pred=pred, n_buckets=128).collect()
    }
    b = {
        r.doc_id: (r.n_feats, str(r.log_weight_exact))
        for r in dsir_log_weights(
            raw, raw.filter(pred), n_buckets=128
        ).collect()
    }
    assert a == b
    with _pytest.raises(ValueError):
        dsir_log_weights(raw)
    with _pytest.raises(ValueError):
        dsir_log_weights(raw, raw, target_pred=pred)


def test_attribution_credits_hand_computed(spark):
    """Position-model attribution on a hand-checkable timeline: first /
    last go to the right touches (id tiebreak on equal ts), linear is
    1/n per touch, out-of-window and post-conversion touches get no
    credit."""
    from datetime import datetime

    from mcp_hubspot_spark.operators.analytics import attribution_credits

    def ev(eid, u, t, s):
        return (eid, u, datetime(2024, 1, 1 + t), s)

    events = spark.createDataFrame(
        [
            ev(1, 1, 0, "view"),      # in window, earliest -> first credit
            ev(2, 1, 2, "click"),     # in window, latest  -> last credit
            ev(3, 1, 5, "purchase"),  # conversion (window = 7 days)
            ev(4, 1, 6, "view"),      # AFTER conversion -> no credit
            ev(5, 2, 0, "view"),      # user 2: outside 7-day window
            ev(6, 2, 9, "click"),     # in window, only touch -> all credit
            ev(7, 2, 10, "purchase"),
            ev(8, 3, 12, "purchase"), # conversion with zero touches
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    rows = {
        (r.conv_id, r.touch_id): (
            r.first_credit,
            r.last_credit,
            float(r.linear_credit),
        )
        for r in attribution_credits(
            events, ["view", "click"], "purchase", 7 * 86_400 * 10**6
        ).collect()
    }
    assert rows == {
        (3, 1): (1, 0, 0.5),
        (3, 2): (0, 1, 0.5),
        (7, 6): (1, 1, 1.0),
    }


def test_copurchase_lift_hand_computed(spark):
    """4 baskets over items a/b/c: pair (a,b) in 3 baskets, (a,c) in 1,
    (b,c) in 1. lift(a,b) = P(ab)/(P(a)P(b)) = (3/4)/((4/4)*(3/4)) = 1.0
    — hand-checkable end to end, including the min-count filter and the
    duplicate-(basket,item) collapse."""
    from mcp_hubspot_spark.operators.analytics import copurchase_lift

    rows = [
        (1, "a"), (1, "b"),
        (2, "a"), (2, "b"), (2, "b"),  # dup (basket,item) collapses
        (3, "a"), (3, "b"), (3, "c"),
        (4, "a"),
    ]
    df = spark.createDataFrame(rows, "basket long, item string")
    out = {
        (r.item_a, r.item_b): r
        for r in copurchase_lift(
            df, "basket", "item", min_pair_count=1
        ).collect()
    }
    ab = out[("a", "b")]
    assert ab.pair_count == 3 and ab.count_a == 4 and ab.count_b == 3
    assert abs(ab.lift - 1.0) < 1e-9
    ac = out[("a", "c")]
    assert ac.pair_count == 1 and abs(ac.lift - 1.0) < 1e-9  # (1/4)/((4/4)(1/4))
    # min-count filter drops singleton pairs
    filtered = copurchase_lift(df, "basket", "item", min_pair_count=2)
    assert [(r.item_a, r.item_b) for r in filtered.collect()] == [("a", "b")]
    # max_basket_size guard: dropping basket 3 removes every c-pair
    capped = copurchase_lift(
        df, "basket", "item", min_pair_count=1, max_basket_size=2
    )
    assert ("a", "c") not in {
        (r.item_a, r.item_b) for r in capped.collect()
    }


def test_token_kl_divergence_hand_computed(spark):
    """Two slices: s1 = {x, y} uniform, s2 = {x} only; corpus = 3 tokens
    {x: 2, y: 1}. KL(s1) = .5*log2(.5/(2/3)) + .5*log2(.5/(1/3));
    KL(s2) = 1*log2(1/(2/3)). An all-corpus-identical slice has KL 0."""
    import math

    from mcp_hubspot_spark.operators.text import token_kl_divergence

    df = spark.createDataFrame(
        [("s1", "x y"), ("s2", "x")], "source string, text string"
    )
    out = {r.slice: r for r in token_kl_divergence(df, "source").collect()}
    want_s1 = 0.5 * math.log2(0.5 / (2 / 3)) + 0.5 * math.log2(0.5 / (1 / 3))
    want_s2 = math.log2(1 / (2 / 3))
    assert out["s1"].n_tokens == 2 and abs(out["s1"].kl_bits - round(want_s1, 6)) < 1e-9
    assert out["s2"].n_tokens == 1 and abs(out["s2"].kl_bits - round(want_s2, 6)) < 1e-9
    solo = spark.createDataFrame(
        [("only", "a b c a")], "source string, text string"
    )
    assert token_kl_divergence(solo, "source").first().kl_bits == 0.0


def test_psi_drift_identical_slices_zero_and_shift_positive(spark):
    """PSI of a slice against itself is exactly 0 in every bin; a mean
    shift produces a strictly positive total PSI. Bin populations come
    from the REFERENCE deciles, so n_ref is ~uniform by construction."""
    from mcp_hubspot_spark.operators.profiling import psi_drift

    ref = spark.createDataFrame(
        [(float(i),) for i in range(1000)], "value double"
    )
    same = psi_drift(ref, ref, "value", n_bins=10).collect()
    assert len(same) == 10
    assert all(r.psi_term == 0.0 and r.n_ref == r.n_cur for r in same)
    assert {r.bin for r in same} == set(range(1, 11))
    shifted = spark.createDataFrame(
        [(float(i) + 300.0,) for i in range(1000)], "value double"
    )
    drift = psi_drift(ref, shifted, "value", n_bins=10).collect()
    total = sum(r.psi_term for r in drift if r.psi_term is not None)
    assert total > 0.25  # "drifted" by the usual PSI convention
    # cur mass has left the low bins: vanished bins stay VISIBLE (full
    # outer join) with n_cur = 0 and a NULL psi_term — the strongest
    # drift signal must not be silently absent
    assert {r.bin for r in drift} == set(range(1, 11))
    vanished = [r for r in drift if r.n_cur == 0]
    assert vanished and all(
        r.psi_term is None and r.n_ref > 0 and r.p_cur == 0.0
        for r in vanished
    )
    assert all(r.psi_term is not None for r in drift if r.n_cur > 0)


def test_correlation_matrix_hand_computed(spark):
    """y = 2x exactly (corr 1), z = -x (corr -1), w independent-ish:
    the single-pass matrix returns every unordered pair once with
    col_a before col_b in the requested order."""
    from mcp_hubspot_spark.operators.profiling import correlation_matrix

    rows = [(float(i), 2.0 * i, -float(i)) for i in range(50)]
    df = spark.createDataFrame(rows, "x double, y double, z double")
    out = {
        (r.col_a, r.col_b): r.corr
        for r in correlation_matrix(df, ["x", "y", "z"]).collect()
    }
    assert set(out) == {("x", "y"), ("x", "z"), ("y", "z")}
    assert out[("x", "y")] == 1.0
    assert out[("x", "z")] == -1.0
    assert out[("y", "z")] == -1.0
    import pytest

    with pytest.raises(ValueError, match=">= 2 columns"):
        correlation_matrix(df, ["x"])


def test_seasonality_profile_hand_computed(spark):
    """Two cells: Sunday 00h (values 1, 3 → avg 2) and Monday 05h
    (value 8). Overall mean = 4; deviations are avg − overall. dow is
    Spark's 1=Sunday convention."""
    from mcp_hubspot_spark.operators.timeseries import seasonality_profile

    df = spark.createDataFrame(
        [
            ("2024-01-07 00:10:00", 1.0),   # Sunday
            ("2024-01-07 00:50:00", 3.0),   # Sunday
            ("2024-01-08 05:30:00", 8.0),   # Monday
        ],
        "ts string, value double",
    ).select(F.col("ts").cast("timestamp"), "value")
    out = {(r.dow, r.hod): r for r in seasonality_profile(df).collect()}
    assert set(out) == {(1, 0), (2, 5)}
    sun = out[(1, 0)]
    assert sun.n_events == 2 and sun.avg_value == 2.0
    assert sun.dev_from_overall == -2.0
    mon = out[(2, 5)]
    assert mon.n_events == 1 and mon.avg_value == 8.0
    assert mon.dev_from_overall == 4.0


def test_ranking_metrics_hand_computed(spark):
    """Query A: ranked rels [2, 0, 1] at k=3. DCG = 3/1 + 0 + 1/2 = 3.5;
    IDCG (rels 2,1,0) = 3 + 1/log2(3) ≈ 3.6309; MRR = 1 (rank 1
    relevant); precision@3 = 2/3. Query B has no relevant docs → all
    zeros (not NULL)."""
    import math

    from mcp_hubspot_spark.operators.analytics import ranking_metrics

    rows = [
        ("a", 1, 2.0), ("a", 2, 0.0), ("a", 3, 1.0),
        ("b", 1, 0.0), ("b", 2, 0.0),
        ("a", 4, 9.0),  # beyond k: ignored
    ]
    df = spark.createDataFrame(rows, "query_id string, rank int, rel double")
    out = {r.query: r for r in ranking_metrics(df, k=3).collect()}
    dcg = 3.0 + 0.0 + 1.0 / 2.0
    idcg = 3.0 + 1.0 / math.log2(3.0)
    assert abs(out["a"].ndcg_at_k - round(dcg / idcg, 6)) < 1e-9
    assert out["a"].mrr == 1.0
    assert abs(out["a"].precision_at_k - round(2 / 3, 6)) < 1e-9
    b = out["b"]
    assert (b.ndcg_at_k, b.mrr, b.precision_at_k) == (0.0, 0.0, 0.0)


def test_seasonal_anomalies_hand_computed(spark):
    """One Sunday-00h cell with values [10, 10, 10, 22]: mean 13,
    sample std 6 → the 22 scores z = 1.5 and tops the list; singleton
    and zero-variance cells are excluded entirely."""
    from mcp_hubspot_spark.operators.timeseries import seasonal_anomalies

    rows = [
        (1, "2024-01-07 00:01:00", 10.0),
        (2, "2024-01-07 00:02:00", 10.0),
        (3, "2024-01-07 00:03:00", 10.0),
        (4, "2024-01-07 00:04:00", 22.0),
        (5, "2024-01-08 09:00:00", 99.0),   # singleton cell: excluded
        (6, "2024-01-09 10:00:00", 5.0),    # zero-variance cell:
        (7, "2024-01-09 10:30:00", 5.0),    # excluded
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, value double"
    ).select("event_id", F.col("ts").cast("timestamp"), "value")
    out = seasonal_anomalies(df, k=10).collect()
    assert [r.event_id for r in out] == [4, 1, 2, 3]
    assert out[0].z_score == 1.5 and out[0].dow == 1 and out[0].hod == 0
    assert out[1].z_score == -0.5


def test_session_path_ngrams_hand_computed(spark):
    """One user, two sessions split by a >30 min gap: a>b>c occurs in
    session 1 only; the cross-boundary c>a>b gram is suppressed."""
    from mcp_hubspot_spark.operators.analytics import session_path_ngrams

    rows = [
        (1, "2024-01-01 10:00:00", 1, "a"),
        (1, "2024-01-01 10:05:00", 2, "b"),
        (1, "2024-01-01 10:10:00", 3, "c"),
        (1, "2024-01-01 12:00:00", 4, "a"),  # new session
        (1, "2024-01-01 12:01:00", 5, "b"),
        (1, "2024-01-01 12:02:00", 6, "c"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, event_type string"
    ).select("user_id", F.col("ts").cast("timestamp"), "event_id", "event_type")
    out = {r.path: r.n_occurrences for r in session_path_ngrams(df, n=3).collect()}
    assert out == {"a>b>c": 2, "b>c>a": 0} or out == {"a>b>c": 2}
    bigrams = {
        r.path: r.n_occurrences
        for r in session_path_ngrams(df, n=2).collect()
    }
    assert bigrams == {"a>b": 2, "b>c": 2}
    import pytest

    with pytest.raises(ValueError, match="n >= 2"):
        session_path_ngrams(df, n=1)


def test_skew_report_hand_computed(spark):
    """Keys a×6, b×2, NULL×2 over 10 rows with 3 distinct keys: mean
    load 10/3, so a's x_mean = 6/(10/3) = 1.8; NULL keys are a real
    'NULL' group; heaviest-first with key tiebreak."""
    from mcp_hubspot_spark.operators.profiling import skew_report

    rows = [("a",)] * 6 + [("b",)] * 2 + [(None,)] * 2
    df = spark.createDataFrame(rows, "k string")
    out = skew_report(df, "k", k=10).collect()
    assert [(r.key, r.n_rows) for r in out] == [
        ("a", 6), ("NULL", 2), ("b", 2)
    ]
    assert out[0].share == 0.6 and out[0].x_mean == 1.8
    assert out[1].share == 0.2 and out[1].x_mean == 0.6
    top1 = skew_report(df, "k", k=1).collect()
    assert [(r.key, r.n_rows) for r in top1] == [("a", 6)]


def test_psi_drift_approx_agrees_with_exact(spark):
    """The GK-sketch cutoff path (the >10^9-row scale form) agrees with
    the exact-percentile form: same bins, per-bin counts within the
    sketch tolerance, and a near-identical total score on both a
    no-drift and a shifted pair."""
    from mcp_hubspot_spark.operators.profiling import psi_drift

    ref = spark.createDataFrame(
        [(float(i % 997),) for i in range(5000)], "value double"
    )
    cur = spark.createDataFrame(
        [(float((i * 7) % 1100),) for i in range(5000)], "value double"
    )
    exact = {r.bin: r for r in psi_drift(ref, cur, "value", n_bins=10).collect()}
    approx = {
        r.bin: r
        for r in psi_drift(
            ref, cur, "value", n_bins=10, approx=True, accuracy=10_000
        ).collect()
    }
    assert set(exact) == set(approx) == set(range(1, 11))
    for b in exact:
        assert abs(exact[b].n_ref - approx[b].n_ref) <= 25  # 0.5% of slice
    total_e = sum(r.psi_term for r in exact.values())
    total_a = sum(r.psi_term for r in approx.values())
    assert abs(total_e - total_a) < 0.01
    same = psi_drift(ref, ref, "value", n_bins=10, approx=True).collect()
    assert all(r.psi_term == 0.0 for r in same)


def test_kmv_join_overlap_accuracy_and_exact_below_k(spark):
    """Planted overlap: A = 0..999, B = 500..1499 (true overlap 500,
    Jaccard 1/3). With k=64 the estimates land within ~25% of truth
    (the sketch's standard error band at k=64 is ~12%); with both
    sides below k the answer is EXACT."""
    from mcp_hubspot_spark.operators.sketch import kmv_join_overlap

    a = spark.createDataFrame([(i,) for i in range(1000)], "k long")
    b = spark.createDataFrame([(i,) for i in range(500, 1500)], "k long")
    r = kmv_join_overlap(a, b, key_a="k", k=64).first()
    assert r.n_a_sketch == 64 and r.n_b_sketch == 64
    assert abs(r.est_distinct_a - 1000) / 1000 < 0.25
    assert abs(r.est_overlap - 500) / 500 < 0.35
    assert abs(r.jaccard - 1 / 3) < 0.12

    small_a = spark.createDataFrame([(i,) for i in range(30)], "k long")
    small_b = spark.createDataFrame([(i,) for i in range(20, 50)], "k long")
    s = kmv_join_overlap(small_a, small_b, key_a="k", k=64).first()
    # union 50 < k: everything exact
    assert (s.est_distinct_a, s.est_distinct_b) == (30.0, 30.0)
    assert s.est_overlap == 10.0 and s.jaccard == 0.2

    disjoint = kmv_join_overlap(
        small_a,
        spark.createDataFrame([(i,) for i in range(100, 130)], "k long"),
        key_a="k",
        k=64,
    ).first()
    assert disjoint.jaccard == 0.0 and disjoint.est_overlap == 0.0


def test_round7_operators_empty_inputs(spark):
    """Degenerate-input behavior: every round-7 operator returns an
    empty (or zeroed) result on empty input instead of raising —
    the contract that makes them safe inside scheduled pipelines."""
    from mcp_hubspot_spark.operators.analytics import (
        copurchase_lift,
        ranking_metrics,
        session_path_ngrams,
    )
    from mcp_hubspot_spark.operators.profiling import psi_drift, skew_report
    from mcp_hubspot_spark.operators.sketch import kmv_join_overlap
    from mcp_hubspot_spark.operators.text import token_kl_divergence
    from mcp_hubspot_spark.operators.timeseries import (
        seasonal_anomalies,
        seasonality_profile,
    )

    assert copurchase_lift(
        spark.createDataFrame([], "basket long, item string"),
        "basket", "item",
    ).count() == 0
    empty_ev = spark.createDataFrame(
        [], "event_id long, ts timestamp, value double"
    )
    assert seasonal_anomalies(empty_ev).count() == 0
    assert seasonality_profile(empty_ev).count() == 0
    empty_v = spark.createDataFrame([], "value double")
    assert psi_drift(empty_v, empty_v, "value").count() == 0
    assert skew_report(
        spark.createDataFrame([], "k string"), "k"
    ).count() == 0
    assert token_kl_divergence(
        spark.createDataFrame([], "source string, text string"), "source"
    ).count() == 0
    assert ranking_metrics(
        spark.createDataFrame([], "query_id long, rank int, rel double")
    ).count() == 0
    assert session_path_ngrams(
        spark.createDataFrame(
            [], "user_id long, ts timestamp, event_id long, event_type string"
        )
    ).count() == 0
    # one empty sketch side: zeros, never a division error
    r = kmv_join_overlap(
        spark.createDataFrame([], "k long"),
        spark.createDataFrame([(1,)], "k long"),
        key_a="k",
    ).first()
    assert (r.n_a_sketch, r.jaccard, r.est_overlap) == (0, 0.0, 0.0)


def test_ks_drift_hand_computed(spark):
    """KS on a=[1..4] vs b=[3..6]: pooled ECDFs differ most at v=4
    (F_a=1, F_b=.5) -> 0.5. Identical slices -> exactly 0. Duplicate
    values merge on the distinct-value grid before the CDF (a=[1,1,2]
    vs b=[1,2,2] -> |2/3 - 1/3| = 1/3). An empty side yields a NULL
    statistic (never a raise, per the degenerate-input convention)."""
    from mcp_hubspot_spark.operators.profiling import ks_drift

    a = spark.createDataFrame([(float(x),) for x in (1, 2, 3, 4)], "v double")
    b = spark.createDataFrame([(float(x),) for x in (3, 4, 5, 6)], "v double")
    row = ks_drift(a, b, "v", n_buckets=4).collect()[0]
    assert (row.ks_stat, row.n_a, row.n_b) == (0.5, 4, 4)

    same = ks_drift(a, a, "v").collect()[0]
    assert same.ks_stat == 0.0

    a2 = spark.createDataFrame([(1.0,), (1.0,), (2.0,)], "v double")
    b2 = spark.createDataFrame([(1.0,), (2.0,), (2.0,)], "v double")
    assert ks_drift(a2, b2, "v").collect()[0].ks_stat == round(1 / 3, 6)

    empty = spark.createDataFrame([], "v double")
    row = ks_drift(a, empty, "v").collect()[0]
    assert row.ks_stat is None and row.n_a == 4 and row.n_b is None


def test_categorical_drift_hand_computed(spark):
    """2x2 table ref=(A:30,B:10), cur=(A:10,B:30): N=80, col totals 40/40,
    every expectation is 20, every cell is (10-20)^2/20 = 5 -> each
    category's chi2_term is 10 and the statistic is 20 (Cramer's V =
    sqrt(20/80) = 0.5). Identical slices give exactly 0 terms, and a
    NULL category is kept as a real category."""
    from mcp_hubspot_spark.operators.profiling import categorical_drift

    ref = spark.createDataFrame(
        [("A",)] * 30 + [("B",)] * 10, "c string"
    )
    cur = spark.createDataFrame(
        [("A",)] * 10 + [("B",)] * 30, "c string"
    )
    out = {r.category: r for r in categorical_drift(ref, cur, "c").collect()}
    assert out["A"].chi2_term == 10.0 and out["B"].chi2_term == 10.0
    assert (out["A"].n_ref, out["A"].n_cur) == (30, 10)
    assert out["A"].p_ref == 0.75 and out["A"].p_cur == 0.25

    same = categorical_drift(ref, ref, "c").collect()
    assert all(r.chi2_term == 0.0 for r in same)

    with_null = spark.createDataFrame(
        [("A",), (None,)], "c string"
    )
    rows = categorical_drift(ref, with_null, "c").collect()
    assert any(r.category is None and r.n_cur == 1 for r in rows)


def test_psi_drift_ignores_null_values(spark):
    """NULLs must not sink into bin 1 as false drift: identical value
    distributions where cur additionally carries NULLs score exactly 0
    in every bin (a null-RATE shift is categorical_drift's job)."""
    from mcp_hubspot_spark.operators.profiling import psi_drift

    ref = spark.createDataFrame(
        [(float(i % 100),) for i in range(1000)], "value double"
    )
    cur = spark.createDataFrame(
        [(float(i % 100),) for i in range(1000)]
        + [(None,)] * 500,
        "value double",
    )
    out = psi_drift(ref, cur, "value", n_bins=10).collect()
    assert len(out) == 10
    assert all(r.psi_term == 0.0 and r.n_ref == r.n_cur for r in out)


def test_categorical_drift_empty_slice_no_raise(spark):
    """An empty slice yields NULL fractions/terms (never an ANSI
    divide-by-zero) — same degenerate-input contract as ks_drift."""
    from mcp_hubspot_spark.operators.profiling import categorical_drift

    cur = spark.createDataFrame([("A",), ("B",)], "c string")
    empty = spark.createDataFrame([], "c string")
    rows = categorical_drift(empty, cur, "c").collect()
    assert len(rows) == 2
    assert all(
        r.n_ref == 0 and r.p_ref is None and r.chi2_term is None
        for r in rows
    )
    assert categorical_drift(empty, empty, "c").collect() == []


def test_session_path_ngrams_subsecond_gap_boundary(spark):
    """Gap sessionization must be microsecond-exact: a 1800.5 s gap
    between second-floored-equal-1800 timestamps SPLITS the session
    (a floor-to-seconds diff would keep it together and disagree with
    any fractional-epoch oracle)."""
    from datetime import datetime

    from mcp_hubspot_spark.operators.analytics import session_path_ngrams

    rows = [
        (1, datetime(2024, 1, 1, 0, 0, 0, 900_000), 1, "a"),
        (1, datetime(2024, 1, 1, 0, 0, 1, 0), 2, "b"),
        # 1800.5s after event 2: floor-seconds diff is exactly 1800
        # (not > 1800) but the true gap exceeds the threshold
        (1, datetime(2024, 1, 1, 0, 30, 1, 500_000), 3, "c"),
        (1, datetime(2024, 1, 1, 0, 30, 2, 0), 4, "d"),
        (1, datetime(2024, 1, 1, 0, 30, 3, 0), 5, "e"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, event_id long, event_type string"
    )
    got = {
        r.path: r.n_occurrences
        for r in session_path_ngrams(ev, n=3, gap_s=1800, k=10).collect()
    }
    # session 1 = [a, b] (too short for a trigram); session 2 = [c, d, e]
    assert got == {"c>d>e": 1}


def test_funnel_latency_ntz_input_and_quantile_labels(spark):
    """funnel_latency is type-generic: raw TIMESTAMP_NTZ input works
    (interval DIV, no session-timezone interpretation), latency is
    microsecond-exact, quantile labels round correctly (0.29 -> p29,
    not the float-truncated p28; 0.999 -> p99_9, distinct from 0.99),
    and duplicate labels raise instead of emitting ambiguous columns."""
    from datetime import datetime

    import pytest as _pytest

    from mcp_hubspot_spark.operators.analytics import funnel_latency

    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 0, 0), "view"),
            (1, datetime(2024, 1, 1, 2, 0, 0, 500_000), "purchase"),
        ],
        "user_id long, ts timestamp_ntz, event_type string",
    )
    df = funnel_latency(ev, "view", "purchase", quantiles=(0.29, 0.999))
    assert df.columns == [
        "n_converters", "p29_hours", "p99_9_hours", "mean_hours",
    ]
    row = df.collect()[0]
    assert row.n_converters == 1
    assert row.mean_hours == 2.0001  # 7200.5 s, microsecond-exact

    with _pytest.raises(ValueError, match="duplicate quantile labels"):
        funnel_latency(ev, "view", "purchase", quantiles=(0.99, 0.99))


def test_ks_drift_approx_agrees_with_exact(spark):
    """approx=True evaluates the sup only at row-weighted quantile
    cutoffs (the >distinct-value-scale path) — it must agree with the
    exact statistic within the grid resolution (max pooled row mass
    between adjacent cutoffs ~ 2/approx_bins) and keep the same
    totals and empty-side NULL contract."""
    from mcp_hubspot_spark.operators.profiling import ks_drift

    ref = spark.createDataFrame(
        [(float(i % 997) / 10.0,) for i in range(4000)], "value double"
    )
    cur = spark.createDataFrame(
        [(float((i * 7) % 997) / 10.0 + 5.0,) for i in range(3000)],
        "value double",
    )
    exact = ks_drift(ref, cur, "value").collect()[0]
    ap = ks_drift(
        ref, cur, "value", approx=True, approx_bins=256
    ).collect()[0]
    assert (ap.n_a, ap.n_b) == (exact.n_a, exact.n_b) == (4000, 3000)
    assert abs(ap.ks_stat - exact.ks_stat) <= 2.0 / 256 + 1e-6

    empty = spark.createDataFrame([], "value double")
    row = ks_drift(ref, empty, "value", approx=True).collect()[0]
    assert row.ks_stat is None and row.n_b is None


# ------------------------------------------ exact substring (token-span) ----


def _span_corpus(spark):
    return spark.createDataFrame(
        [
            (0, "a b c d e f g h i j unique zero tail"),
            (1, "x y a b c d e f g h i j z w q r s t"),
            (2, "p q a b c d e f g h i j m n a b c d e f g h i j"),
            (3, "totally different words here nothing shared at all"),
            (4, "rep one two three four five six rep one two three four five six end"),
        ],
        "doc_id long, text string",
    )


def test_repeated_spans_planted_maximal_spans(spark):
    """A planted 10-token span shared by docs 0/1/2 (twice in 2) must
    come back as MAXIMAL spans — one row per (pair, occurrence pair),
    never one row per matched shingle — with exact token offsets."""
    from mcp_hubspot_spark.operators.dedup import repeated_spans

    rows = {
        (r.doc_a, r.doc_b, r.a_start, r.b_start): (r.a_end, r.b_end, r.n_tokens)
        for r in repeated_spans(_span_corpus(spark), k=5).collect()
    }
    assert rows == {
        (0, 1, 0, 2): (9, 11, 10),
        (0, 2, 0, 2): (9, 11, 10),
        (0, 2, 0, 14): (9, 23, 10),
        (1, 2, 2, 2): (11, 11, 10),
        (1, 2, 2, 14): (11, 23, 10),
    }


def test_repeated_spans_layout_invariant_and_hash_path_agrees(spark):
    """Spans are a pure function of the corpus, not the partition layout;
    the xxhash64 shingle-key scale path returns the identical span set
    (no collisions at test scale — the 100 TB caveat is documented)."""
    from mcp_hubspot_spark.operators.dedup import repeated_spans

    docs = _span_corpus(spark)
    key = lambda r: (  # noqa: E731
        r.doc_a, r.doc_b, r.a_start, r.a_end, r.b_start, r.b_end, r.n_tokens
    )
    base = sorted(key(r) for r in repeated_spans(docs, k=5).collect())
    shuffled = sorted(
        key(r) for r in repeated_spans(docs.repartition(7), k=5).collect()
    )
    hashed = sorted(
        key(r)
        for r in repeated_spans(docs, k=5, hash_shingles=True).collect()
    )
    assert base == shuffled == hashed and len(base) == 5


def test_repeated_spans_min_tokens_and_max_df_cap(spark):
    """min_tokens drops short spans after the merge (a 10-token span
    survives min_tokens=10, dies at 11); max_df drops boilerplate
    shingles BEFORE the join (the planted span's shingles occur at 4
    positions corpus-wide, so max_df=3 erases every cross-doc match)."""
    from mcp_hubspot_spark.operators.dedup import repeated_spans

    docs = _span_corpus(spark)
    assert repeated_spans(docs, k=5, min_tokens=10).count() == 5
    assert repeated_spans(docs, k=5, min_tokens=11).count() == 0
    assert repeated_spans(docs, k=5, max_df=3).count() == 0
    assert repeated_spans(docs, k=5, max_df=4).count() == 5


def test_self_repeated_spans_within_doc_only(spark):
    """The within-doc variant finds doc 4's 7-token self-repeat and doc
    2's duplicated 10-token block, and NOTHING for unique docs; cross-doc
    sharing alone (docs 0/1) must not produce self rows."""
    from mcp_hubspot_spark.operators.dedup import self_repeated_spans

    rows = {
        (r.doc_id, r.a_start, r.a_end, r.b_start, r.b_end, r.n_tokens)
        for r in self_repeated_spans(_span_corpus(spark), k=5).collect()
    }
    assert rows == {(2, 2, 11, 14, 23, 10), (4, 0, 6, 7, 13, 7)}


def test_scrub_repeated_spans_keep_first_and_pass_through(spark):
    """Scrub removes every cross-doc repeated span from the LARGER
    doc_id (keep-first): doc 0 keeps its canonical copy, docs 1 and 2
    lose theirs (both occurrences in 2), untouched docs pass through
    verbatim with 0 removed — and overlapping removal intervals from
    different partners never double-count."""
    from mcp_hubspot_spark.operators.dedup import scrub_repeated_spans

    out = {
        r.doc_id: r
        for r in scrub_repeated_spans(_span_corpus(spark), k=5).collect()
    }
    assert len(out) == 5  # every input doc comes back
    assert out[0].clean_text == "a b c d e f g h i j unique zero tail"
    assert out[0].n_tokens_removed == 0
    assert out[1].clean_text == "x y z w q r s t"
    assert out[1].n_tokens_removed == 10
    assert out[2].clean_text == "p q m n"
    assert out[2].n_tokens_removed == 20 and out[2].n_tokens == 24
    assert out[3].n_tokens_removed == 0
    assert out[4].clean_text.startswith("rep one two")  # self-repeat kept
    assert out[4].n_tokens_removed == 0


def test_scrub_byte_faithful_preserves_original_whitespace(spark):
    """byte_faithful=True is the Lee-et-al cut: removed spans are
    sliced out as exact character ranges of the ORIGINAL text, and
    untouched docs pass through byte-identical — newlines, tabs and
    space runs intact (the default expression path whitespace-
    normalizes everything). Token accounting must agree with the
    default path on every doc."""
    from mcp_hubspot_spark.operators.dedup import scrub_repeated_spans

    shared = "a b c d e f g h i j"  # 10 tokens, k=5 span
    docs = spark.createDataFrame(
        [
            (0, f"{shared} unique\tzero\n\ntail  end"),
            (1, f"x  y\t{shared}\nz w"),
            (2, "untouched\ttext\n with   weird\nspacing"),
            (3, None),
            (4, ""),        # expression path counts [""] as 1 token —
            (5, "  \n\t "),  # the byte path must mirror the quirk
            # leading \t: split(trim, \s+) emits a zero-width leading
            # token (trim strips SPACES only), shifting every span
            # index by one — the byte cut must track that shift
            (6, f"\t{shared} own tail six"),
        ],
        "doc_id long, text string",
    )
    default = {
        r.doc_id: r for r in scrub_repeated_spans(docs, k=5).collect()
    }
    bf = {
        r.doc_id: r
        for r in scrub_repeated_spans(
            docs, k=5, byte_faithful=True
        ).collect()
    }
    assert set(bf) == {0, 1, 2, 3, 4, 5, 6}
    # keep-first: doc 0 untouched -> byte-identical including \t \n
    assert bf[0].clean_text == f"{shared} unique\tzero\n\ntail  end"
    # doc 1 loses the shared span's exact char range; everything
    # outside survives verbatim (the cut leaves the surrounding
    # whitespace where it was)
    assert bf[1].clean_text == "x  y\t\nz w"
    assert bf[2].clean_text == "untouched\ttext\n with   weird\nspacing"
    # NULL: byte path keeps NULL (the expression path returns "" — the
    # one documented divergence)
    assert bf[3].clean_text is None
    # empty / whitespace-only: byte-identical pass-through AND the
    # expression path's [""]-token quirk mirrored in the accounting
    assert bf[4].clean_text == "" and bf[5].clean_text == "  \n\t "
    # doc 6 (leading \t): the shared span sits at token indices 1-10
    # in the expression tokenizer; the byte cut must remove exactly
    # those characters, keeping the leading tab and the tail verbatim
    assert bf[6].clean_text == "\t own tail six"
    # accounting agrees with the expression path on non-null docs
    for i in (0, 1, 2, 4, 5, 6):
        assert bf[i].n_tokens == default[i].n_tokens
        assert bf[i].n_tokens_removed == default[i].n_tokens_removed
    # whitespace-collapsed, the two paths keep the same tokens (both
    # sides re-collapsed: the expression output can carry stray joins
    # around kept zero-width tokens, e.g. doc 6's " own tail six")
    for i in (0, 1, 2, 6):
        assert " ".join(bf[i].clean_text.split()) == " ".join(
            default[i].clean_text.split()
        )


# ------------------------------------------------- product quantization ----


def test_pq_encode_adc_exact_on_anchor_query(spark):
    """A query that IS one of the anchor vectors encodes to its own
    codes and gets ADC distance exactly 0.0 at rank 1 — the arithmetic
    identity that pins the encode/table/lookup plumbing."""
    from mcp_hubspot_spark.operators.vector import (
        pq_adc_topk,
        pq_anchor_codebooks,
        pq_encode,
    )

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    anchors = [
        [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    cbs = pq_anchor_codebooks(anchors, m=8)
    top = pq_adc_topk(pq_encode(emb, cbs), cbs, anchors[3], k=3).collect()
    assert top[0].vec_id == 3 and top[0].adc_distance == 0.0
    assert top[0].rank == 1


def test_pq_trained_recall_perfect_on_clustered_corpus(spark):
    """PQ's contract case: when each subvector genuinely comes from a
    small set of prototypes (clustered data), trained codebooks place
    every same-cluster vector at the same (minimal) ADC distance — the
    top-k are all true cluster-mates of the query, never a member of a
    far cluster. (Within the tied cluster the id tiebreak decides, so
    exact-jitter-level recall is NOT the contract — ties are.)"""
    import itertools

    from mcp_hubspot_spark.operators.vector import (
        pq_adc_topk,
        pq_encode,
        pq_train_codebooks,
    )

    protos = [[0.0, 0.0, 0.0, 0.0], [10.0] * 4, [20.0] * 4, [30.0] * 4]
    combos = list(itertools.product(range(4), repeat=2))
    rows = []
    for i in range(200):
        p = combos[i % 16]
        vec = []
        for mi in range(2):
            base = protos[p[mi]]
            vec += [b + ((i * 7 + mi) % 5) * 1e-3 for b in base]
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cbs = pq_train_codebooks(df, m=2, k=4, max_iter=10)
    codes = pq_encode(df, cbs)
    q = rows[17][1]  # cluster = ids with i % 16 == 1
    approx = pq_adc_topk(codes, cbs, q, k=5).collect()
    cluster = {i for i in range(200) if i % 16 == 1}
    assert {r.vec_id for r in approx} <= cluster
    assert 17 in {r.vec_id for r in approx}  # the query itself survives
    # all tied at the cluster's quantization residual
    assert len({round(r.adc_distance, 9) for r in approx}) == 1


@pytest.mark.slow
def test_pq_rerank_recovers_recall_on_random_corpus(spark):
    """The serving pattern on PQ's WORST case (near-random synthetic
    embeddings, no cluster structure): raw ADC ordering is poor, but the
    one-plan ADC-shortlist -> exact-rerank recovers most of the true
    top-10 while computing the exact fold on only `shortlist` rows."""
    from mcp_hubspot_spark.operators.vector import (
        knn,
        pq_encode,
        pq_search_rerank,
        pq_train_codebooks,
    )

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cbs = pq_train_codebooks(emb, m=8, k=16)
    codes = pq_encode(emb, cbs)
    q = [float(x) for x in emb.filter(F.col("vec_id") == 7).first().embedding]
    got = {
        r.vec_id
        for r in pq_search_rerank(codes, cbs, q, k=10, shortlist=50).collect()
    }
    exact = {r.vec_id for r in knn(emb, q, k=10).collect()}
    assert len(got & exact) >= 6  # 10% shortlist on unclustered data


def test_pq_encode_layout_invariant(spark):
    """Codes are a pure function of the vector and the codebooks — the
    partition layout must not move a single code."""
    from mcp_hubspot_spark.operators.vector import (
        pq_anchor_codebooks,
        pq_encode,
    )

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    anchors = [
        [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    cbs = pq_anchor_codebooks(anchors, m=8)
    a = {r.vec_id: list(r.pq_code) for r in pq_encode(emb, cbs).collect()}
    b = {
        r.vec_id: list(r.pq_code)
        for r in pq_encode(emb.repartition(13), cbs).collect()
    }
    assert a == b and len(a) == 500


def test_pq_encode_matmul_agrees_with_expression_path(spark):
    """The BLAS encoder (scale path for k=256 codebooks) must produce
    the exact code array the expression argmin produces — same
    first-minimum tiebreak, pinned on the shared test corpus."""
    from mcp_hubspot_spark.operators.vector import (
        pq_anchor_codebooks,
        pq_encode,
        pq_encode_matmul,
    )

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    anchors = [
        [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    cbs = pq_anchor_codebooks(anchors, m=8)
    a = {r.vec_id: list(r.pq_code) for r in pq_encode(emb, cbs).collect()}
    b = {
        r.vec_id: list(r.pq_code)
        for r in pq_encode_matmul(emb, cbs).collect()
    }
    assert a == b and len(a) == 500

    # Tie-margin guard: the BLAS path computes |s|²+|c|²−2·S@Cᵀ, which
    # is not bit-identical to the expression path's (s−c)² fold — a
    # near-tie between two codes could flip argmin between the encoders
    # if the corpus ever changes. Assert the best/second-best gap per
    # (row, subquantizer) clears the float error band by orders of
    # magnitude, so a silent flip cannot hide inside the agreement.
    import numpy as np

    V = np.array(
        [r.embedding for r in emb.orderBy("vec_id").collect()],
        dtype="float64",
    )
    CB = [np.asarray(cb, dtype="float64") for cb in cbs]
    sub = CB[0].shape[1]
    min_gap = float("inf")
    for mi, cb_arr in enumerate(CB):
        S = V[:, mi * sub : (mi + 1) * sub]
        d = ((S[:, None, :] - cb_arr[None, :, :]) ** 2).sum(axis=2)
        d.sort(axis=1)
        min_gap = min(min_gap, float((d[:, 1] - d[:, 0]).min()))
    assert min_gap > 1e-9, (
        f"near-tie (gap {min_gap:g}) between two PQ codes on the test "
        "corpus: the BLAS/expression argmin agreement is no longer "
        "numerically safe — use exact (s-c)^2 per candidate in "
        "pq_encode_matmul or change the corpus"
    )


@pytest.mark.slow
def test_ivf_pq_encode_fused_agrees_with_expression_path(spark):
    """The fused Arrow pass (rotation + cell assignment + residual + PQ
    encode in one mapInPandas) must reproduce the expression
    composition assign_cells_literal → residual_expr → pq_encode
    exactly — same cells, same codes, same probe-pruned row set — in
    both the raw and the Householder-rotated-residual constructions the
    registry queries use."""
    import numpy as np

    from mcp_hubspot_spark.operators.vector import (
        assign_cells_literal,
        ivf_pq_encode_fused,
        pq_anchor_codebooks,
        pq_encode,
        residual_expr,
    )

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    rows = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.filter(
            (F.col("vec_id") < 16) | F.col("vec_id").isin(20, 120, 220, 320)
        ).collect()
    }
    cents = [(cid, rows[cid]) for cid in (20, 120, 220, 320)]
    cbs = pq_anchor_codebooks([rows[i] for i in range(16)], m=8)

    # raw construction (ivf_pq_search shape), no probe prune
    exp = assign_cells_literal(emb, cents, metric="l2")
    exp = pq_encode(exp, cbs)
    a = {
        r.vec_id: (r.cell_id, list(r.pq_code)) for r in exp.collect()
    }
    fused = ivf_pq_encode_fused(
        emb, cents, cbs, residual=False, drop_vec=True
    )
    b = {
        r.vec_id: (r.cell_id, list(r.pq_code)) for r in fused.collect()
    }
    assert a == b and len(a) == 500

    # rotated-residual construction (pq_rotated_residual_search shape)
    # with probe pruning: fused output must equal the expression path
    # restricted to the probed cells
    u = rows[5]
    udot = sum(x * x for x in u)

    def _rot_py(x):
        d = sum(p * q for p, q in zip(u, x))
        s = 2 * d / udot
        return [xi - s * ui for xi, ui in zip(x, u)]

    un = np.asarray(u, dtype="float64")
    H = np.eye(len(u)) - (2.0 / udot) * np.outer(un, un)
    cents_r = [(cid, _rot_py(c)) for cid, c in cents]
    cbs_r = pq_anchor_codebooks([_rot_py(rows[i]) for i in range(16)], m=8)
    probe = [20, 220]

    from pyspark.sql import functions as SF_  # noqa: N812

    u_lit = F.array(*[F.lit(float(x)) for x in u])
    dot = F.aggregate(
        F.zip_with(u_lit, F.col("embedding"), lambda p, q: p * q),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    s = F.lit(2.0) * dot / F.lit(udot)
    df_rot = emb.select(
        "vec_id",
        F.zip_with(
            F.col("embedding"), u_lit, lambda p, q: p - s * q
        ).alias("embedding"),
    )
    exp_r = assign_cells_literal(df_rot, cents_r, metric="l2").filter(
        SF_.col("cell_id").isin(probe)
    )
    exp_r = pq_encode(
        exp_r.withColumn("_res", residual_expr("embedding", cents_r)),
        cbs_r,
        vec_col="_res",
    )
    ar = {
        r.vec_id: (r.cell_id, list(r.pq_code)) for r in exp_r.collect()
    }
    fused_r = ivf_pq_encode_fused(
        emb,
        cents_r,
        cbs_r,
        rotation=H.tolist(),
        residual=True,
        probe_cells=probe,
        drop_vec=True,
    )
    br = {
        r.vec_id: (r.cell_id, list(r.pq_code)) for r in fused_r.collect()
    }
    assert ar == br and len(ar) > 0


def test_pq_tie_margins_hold_at_driver_scale():
    """The PQ/IVF registry queries (ivf_pq_search,
    ivf_pq_residual_search, pq_rotated_search,
    pq_rotated_residual_search) run BLAS/numpy arithmetic — encode,
    cell assignment, and (for the rotated pair) the Householder
    rotation itself — while their oracles replay the EXPRESSION folds.
    Safe only while no (row, subquantizer) code pair and no (row, cell)
    assignment pair is nearly tied, on EVERY corpus the driver hashes
    (sf0.001 and sf0.01). Pure numpy, no Spark session."""
    import numpy as np
    import pyarrow.parquet as pq_  # noqa: N813

    for sf in ("sf0.001", "sf0.01"):
        tbl = pq_.read_table(
            f"/root/testdata/{sf}/embeddings.parquet",
            columns=["vec_id", "embedding"],
        ).to_pydict()
        by_id = dict(zip(tbl["vec_id"], tbl["embedding"]))
        V = np.asarray(
            [by_id[i] for i in sorted(by_id)], dtype="float64"
        )
        anchors = np.asarray([by_id[i] for i in range(16)], dtype="float64")
        cents = np.asarray(
            [by_id[i] for i in (20, 120, 220, 320)], dtype="float64"
        )
        d_cells = ((V[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d_cells, axis=1)
        resid = V - cents[assign]
        m, sub = 8, V.shape[1] // 8

        # Householder-rotated twins (pq_rotated_search /
        # pq_rotated_residual_search): rotate corpus/cents/anchors with
        # u = row 5, re-assign and re-residual in rotated space
        u = np.asarray(by_id[5], dtype="float64")
        H = np.eye(len(u)) - 2.0 * np.outer(u, u) / float(u @ u)
        Vr = V @ H.T
        cr = cents @ H.T
        ar = anchors @ H.T
        d_cells_r = ((Vr[:, None, :] - cr[None, :, :]) ** 2).sum(axis=2)
        assign_r = np.argmin(d_cells_r, axis=1)
        resid_r = Vr - cr[assign_r]

        def min_gap(X, A):
            g = float("inf")
            for mi in range(m):
                S = X[:, mi * sub : (mi + 1) * sub]
                C = A[:, mi * sub : (mi + 1) * sub]
                d = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                d.sort(axis=1)
                g = min(g, float((d[:, 1] - d[:, 0]).min()))
            return g

        for name, X, A in (
            ("raw", V, anchors),
            ("residual", resid, anchors),
            ("rotated", Vr, ar),
            ("rotated-residual", resid_r, ar),
        ):
            gap = min_gap(X, A)
            assert gap > 1e-9, (
                f"{name} PQ near-tie (gap {gap:g}) at {sf}: the matmul "
                "oracle agreement for the registry queries is unsafe"
            )

        # cell-assignment argmin margins (the fused Arrow path assigns
        # cells with |v|²+|c|²−2·V@Cᵀ while the oracle replays the
        # (v−c)² fold): best/second-best per row must clear float error
        for name, D in (("raw", d_cells), ("rotated", d_cells_r)):
            ds = np.sort(D, axis=1)
            gap = float((ds[:, 1] - ds[:, 0]).min())
            assert gap > 1e-9, (
                f"{name} IVF cell near-tie (gap {gap:g}) at {sf}: the "
                "fused assignment agreement is unsafe"
            )


def test_sign_pack_hamming_topk_exact_integer_contract(spark):
    """Binary quantization: sign_pack packs sign bits into 32-bit words
    (known vector -> known word values, Python twin agrees on every
    corpus row), and hamming_topk's XOR+popcount ranking reproduces a
    brute-force Python popcount over the whole corpus exactly — integer
    distances, no float anywhere."""
    from mcp_hubspot_spark.operators.vector import (
        hamming_topk,
        sign_pack,
        sign_pack_py,
    )

    tiny = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5, 0.0, -1.0, 3.0])],
        "vec_id long, embedding array<double>",
    )
    got = tiny.select(sign_pack("embedding", dim=6).alias("c")).first().c
    # bits 0,2,5 set (v>0; 0.0 is NOT set) -> 1 + 4 + 32 = 37, one word
    assert list(got) == [37] == sign_pack_py([1.0, -2.0, 0.5, 0.0, -1.0, 3.0])

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    rows = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.collect()
    }
    packed = emb.select(
        "vec_id", sign_pack("embedding", dim=64).alias("sign_code")
    )
    spark_codes = {
        int(r.vec_id): list(r.sign_code) for r in packed.collect()
    }
    py_codes = {i: sign_pack_py(v) for i, v in rows.items()}
    assert spark_codes == py_codes

    qvec = rows[7]
    got10 = [
        (r.vec_id, r.hamming)
        for r in hamming_topk(packed, qvec, k=10).collect()
    ]
    qc = sign_pack_py(qvec)
    brute = sorted(
        (
            sum(
                bin(a ^ b).count("1") for a, b in zip(code, qc)
            ),
            i,
        )
        for i, code in py_codes.items()
    )[:10]
    assert got10 == [(i, h) for h, i in brute]
    assert got10[0] == (7, 0)  # self-hit at Hamming 0


def test_hamming_topk_word_count_mismatch_fails_loud(spark):
    """A query packed at a different dim than the stored codes must
    RAISE, not silently rank mismatched rows last (element_at past the
    end -> NULL -> asc_nulls_last would bury the error)."""
    import pytest

    from mcp_hubspot_spark.operators.vector import hamming_topk, sign_pack

    df = spark.createDataFrame(
        [(1, [1.0] * 64), (2, [-1.0] * 64)],
        "vec_id long, embedding array<double>",
    )
    packed = df.select(
        "vec_id", sign_pack("embedding", dim=64).alias("sign_code")
    )
    with pytest.raises(Exception, match="words"):
        hamming_topk(packed, [1.0] * 32, k=1).collect()
    # matched dims keep working (guard adds 0)
    ok = hamming_topk(packed, [1.0] * 64, k=1).first()
    assert ok.vec_id == 1 and ok.hamming == 0


def test_hamming_topk_rerank_recovers_exact_order(spark):
    """Sign-shortlist + exact rerank: with the shortlist covering the
    whole corpus the output equals exact knn (rank/ids/distance/
    similarity), and at a small shortlist every returned id comes from
    the Hamming shortlist — the candidate-generator contract."""
    from mcp_hubspot_spark.operators.vector import (
        hamming_topk,
        hamming_topk_rerank,
        knn,
        sign_pack,
    )

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    n = emb.count()
    qvec = [
        float(x) for x in emb.filter(F.col("vec_id") == 7).first().embedding
    ]
    packed = emb.select(
        "vec_id", "embedding", sign_pack("embedding", dim=64).alias("sign_code")
    )
    got = [
        (r.rank, r.vec_id, round(r.distance, 9), round(r.similarity, 9))
        for r in hamming_topk_rerank(packed, qvec, k=5, shortlist=n).collect()
    ]
    want = [
        (r.rank, r.vec_id, round(r.distance, 9), round(r.similarity, 9))
        for r in knn(emb, qvec, k=5).collect()
    ]
    assert got == want
    small = hamming_topk_rerank(packed, qvec, k=5, shortlist=20).collect()
    shortlist_ids = {
        r.vec_id for r in hamming_topk(packed, qvec, k=20).collect()
    }
    assert {r.vec_id for r in small} <= shortlist_ids
    assert small[0].vec_id == 7  # self-hit survives any shortlist >= 1


@pytest.mark.slow
def test_opq_rotation_orthonormal_and_encode_paths_agree(spark):
    """Parametric OPQ (pq_train_opq_rotation): the learned matrix must
    be orthonormal (distances preserved — rotating is free w.r.t. ADC
    semantics), the expression-side rotate_expr must match numpy's
    V @ Rᵀ, and pq_encode(rotation=R) must produce the same codes as
    pq_encode_matmul(rotation=R) on the shared corpus — the OPQ twin of
    the plain agreement test above (their float paths differ: HOF fold
    vs BLAS; code agreement is what's pinned)."""
    import numpy as np

    from mcp_hubspot_spark.operators.vector import (
        pq_anchor_codebooks,
        pq_encode,
        pq_encode_matmul,
        pq_train_opq_rotation,
        rotate_expr,
    )

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    R = pq_train_opq_rotation(emb, m=8, sample_n=500)
    Rm = np.asarray(R)
    assert np.allclose(Rm @ Rm.T, np.eye(Rm.shape[0]), atol=1e-8)

    rows = emb.select(
        "vec_id", rotate_expr("embedding", R).alias("r"), "embedding"
    ).orderBy("vec_id").collect()
    V = np.asarray([r.embedding for r in rows], dtype="float64")
    got_rot = np.asarray([r.r for r in rows], dtype="float64")
    assert np.allclose(got_rot, V @ Rm.T, atol=1e-9)

    # codebooks from ROTATED anchors (rotation applied driver-side, the
    # same arithmetic family as the lookup tables)
    anchors = [
        [float(x) for x in (Rm @ np.asarray(r.embedding, dtype="float64"))]
        for r in emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    cbs = pq_anchor_codebooks(anchors, m=8)
    a = {
        r.vec_id: list(r.pq_code)
        for r in pq_encode(emb, cbs, rotation=R).collect()
    }
    b = {
        r.vec_id: list(r.pq_code)
        for r in pq_encode_matmul(emb, cbs, rotation=R).collect()
    }
    assert a == b and len(a) == 500


def test_mmr_rerank_diversifies_and_is_layout_invariant(spark):
    """Three near-identical high-relevance vectors + one orthogonal
    lower-relevance vector: plain relevance order is (1,2,3,4), but MMR
    at lam=0.5 must promote the orthogonal doc above the redundant
    twins after the first pick. Partition layout must not change any
    pick (single-group greedy is a pure function of the set)."""
    from mcp_hubspot_spark.operators.vector import mmr_rerank

    rows = [
        (1, 1.00, [1.0, 0.0, 0.0, 0.0]),
        (2, 0.99, [1.0, 0.001, 0.0, 0.0]),  # near-dup of 1
        (3, 0.98, [1.0, 0.002, 0.0, 0.0]),  # near-dup of 1
        (4, 0.50, [0.0, 1.0, 0.0, 0.0]),    # orthogonal
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, score double, embedding array<double>"
    )
    got = [
        r.doc_id
        for r in mmr_rerank(df, k=3, lam=0.5).orderBy("mmr_rank").collect()
    ]
    assert got[0] == 1  # max relevance first
    assert got[1] == 4  # diversity beats the redundant twins
    shuffled = [
        r.doc_id
        for r in mmr_rerank(df.repartition(5), k=3, lam=0.5)
        .orderBy("mmr_rank")
        .collect()
    ]
    assert got == shuffled


def test_mmr_rerank_tied_scores_and_k_clamp(spark):
    """All-equal relevance (rel01 := 1.0 for every row — the hi==lo
    guard) must not crash or divide by zero; k > n returns exactly n
    rows; first pick is the lowest id on full ties."""
    from mcp_hubspot_spark.operators.vector import mmr_rerank

    rows = [
        (7, 0.5, [1.0, 0.0]),
        (3, 0.5, [0.0, 1.0]),
        (9, 0.5, [1.0, 1.0]),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, score double, embedding array<double>"
    )
    got = mmr_rerank(df, k=10, lam=0.7).orderBy("mmr_rank").collect()
    assert [r.doc_id for r in got][0] == 3  # lowest id wins the tie
    assert len(got) == 3
    assert [r.mmr_rank for r in got] == [1, 2, 3]


def test_scrub_self_repeats_keeps_first_occurrence(spark):
    """Within-doc scrub: the later copy of a self-repeated span is cut,
    the first stays; overlapping repeats (3 copies) leave exactly one;
    docs without self-repeats pass through verbatim."""
    from mcp_hubspot_spark.operators.dedup import scrub_self_repeats

    docs = spark.createDataFrame(
        [
            (0, "nav one two three four body text nav one two three four tail"),
            (1, "a b c d e f g h"),
            (2, "x y z w x y z w x y z w"),  # 3 copies of a 4-token span
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in scrub_self_repeats(docs, k=4).collect()}
    assert out[0].clean_text == "nav one two three four body text tail"
    assert out[0].n_tokens_removed == 5
    assert out[1].clean_text == "a b c d e f g h"
    assert out[1].n_tokens_removed == 0
    assert out[2].clean_text == "x y z w"
    assert out[2].n_tokens_removed == 8


def test_cross_corpus_spans_and_decontamination_scrub(spark):
    """Span decontamination: a corpus doc embedding a benchmark passage
    gets exactly that span back as (doc, bench) evidence and loses ALL
    covered tokens in the scrub (no keep-first — both docs carrying the
    passage are scrubbed); clean docs pass through."""
    from mcp_hubspot_spark.operators.dedup import (
        cross_corpus_spans,
        scrub_contaminated_spans,
    )

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "bench_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "intro words the quick brown fox jumps over the lazy dog outro"),
            (2, "totally unrelated content nothing shared here at all"),
            (3, "the quick brown fox jumps over the lazy dog"),  # full copy
        ],
        "doc_id long, text string",
    )
    spans = {
        (r.doc_id, r.bench_id): (r.d_start, r.d_end, r.n_tokens)
        for r in cross_corpus_spans(docs, bench, k=5).collect()
    }
    assert spans == {(1, 100): (2, 10, 9), (3, 100): (0, 8, 9)}
    out = {
        r.doc_id: r
        for r in scrub_contaminated_spans(docs, bench, k=5).collect()
    }
    assert out[1].clean_text == "intro words outro"
    assert out[1].n_tokens_removed == 9
    assert out[2].n_tokens_removed == 0
    assert out[3].clean_text == "" and out[3].n_tokens_removed == 9


def test_mmr_rerank_string_ids(spark):
    """The applyInPandas output schema derives the id type from the
    input — string-keyed retrieval shortlists (URLs, doc hashes) must
    work, not just integral ids."""
    from mcp_hubspot_spark.operators.vector import mmr_rerank

    df = spark.createDataFrame(
        [
            ("u/a", 1.0, [1.0, 0.0]),
            ("u/b", 0.9, [1.0, 0.01]),
            ("u/c", 0.5, [0.0, 1.0]),
        ],
        "doc_id string, score double, embedding array<double>",
    )
    got = [r.doc_id for r in mmr_rerank(df, k=2, lam=0.5).orderBy("mmr_rank").collect()]
    assert got == ["u/a", "u/c"]  # diversity beats the near-dup twin


# ------------------------------------------------------------------ #
# round 10: hashed-feature classifier, blocklist, zipf fit            #
# ------------------------------------------------------------------ #


def test_classifier_join_and_expr_paths_agree(spark):
    """The broadcast-join serving path with the hash-seeded weight table
    must score identically to the zero-shuffle expression twin (same
    buckets, same weights, same mean/sigmoid)."""
    from mcp_hubspot_spark.operators.classifier import (
        classifier_score,
        classifier_score_expr,
        hashed_weight_table,
    )
    from mcp_hubspot_spark.workload import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    w = hashed_weight_table(spark, 4096, seed="s7")
    a = {
        r.doc_id: (r.n_toks, round(r.score, 9))
        for r in classifier_score(docs, w, num_buckets=4096).collect()
    }
    b = {
        r.doc_id: (r.n_toks, round(r.score, 9))
        for r in classifier_score_expr(
            docs, num_buckets=4096, seed="s7"
        ).collect()
    }
    assert a == b and len(a) == docs.count()


def test_classifier_missing_buckets_contribute_zero(spark):
    """Tokens hashing to buckets absent from the (sparse) weight table
    contribute weight 0 — a doc made entirely of unknown tokens scores
    exactly sigmoid(0) = 0.5."""
    from mcp_hubspot_spark.operators.classifier import classifier_score

    docs = spark.createDataFrame(
        [(1, "zzqx wvvk pqrm")], "doc_id long, text string"
    )
    empty_w = spark.createDataFrame([], "bucket long, weight double")
    row = classifier_score(docs, empty_w).first()
    assert row.n_toks == 3 and row.score == 0.5


def test_classifier_known_weights_exact_score(spark):
    """Hand-check the arithmetic: weight table built FROM the docs'
    actual buckets with fixed weights -> score == sigmoid(mean)."""
    import math

    from pyspark.sql import functions as F

    from mcp_hubspot_spark.operators.classifier import (
        classifier_score,
        hash_bucket,
    )

    docs = spark.createDataFrame([(1, "aa bb cc")], "doc_id long, text string")
    toks = spark.createDataFrame(
        [("aa", 0.3), ("bb", 0.6), ("cc", -0.3)], "tok string, weight double"
    )
    w = toks.select(hash_bucket(F.col("tok"), 4096).alias("bucket"), "weight")
    assert w.select("bucket").distinct().count() == 3  # no collisions
    row = classifier_score(docs, w).first()
    expect = 1.0 / (1.0 + math.exp(-((0.3 + 0.6 - 0.3) / 3.0)))
    assert row.n_toks == 3 and abs(row.score - expect) < 1e-12


def test_classifier_train_score_e2e(spark):
    """The train->serve loop: parameter-averaged SGD over hashed
    features must learn a planted vocabulary split (positives use one
    token pool, negatives another, shared filler in both) well enough
    to rank held-out docs near-perfectly, through the SAME
    classifier_score serving path the hash-seeded model uses."""
    from mcp_hubspot_spark.operators.classifier import (
        binary_auc,
        classifier_score,
        classifier_train,
    )

    pos_vocab = ["alpha", "beta", "gamma", "delta"]
    neg_vocab = ["omega", "psi", "chi", "phi"]
    filler = ["the", "a", "of", "scan"]
    rows = []
    for i in range(400):
        vocab = pos_vocab if i % 2 == 0 else neg_vocab
        # deterministic pseudo-text: signal + filler mixed by index
        words = [
            vocab[(i + j) % len(vocab)] if j % 2 == 0
            else filler[(i * 3 + j) % len(filler)]
            for j in range(8)
        ]
        rows.append((i, " ".join(words), i % 2 == 0 and 1 or 0))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, label int"
    ).repartition(8)
    train = docs.filter(F.col("doc_id") % 4 < 2)  # half train, half test
    test = docs.filter(F.col("doc_id") % 4 >= 2)
    w = classifier_train(train, num_buckets=1024, epochs=2, lr=0.5)
    assert w.columns == ["bucket", "weight"]
    scored = classifier_score(test, w, num_buckets=1024).join(
        test.select("doc_id", "label"), "doc_id"
    )
    row = binary_auc(scored).first()
    assert row.n_pos == 100 and row.n_neg == 100
    assert row.auc > 0.99, row.auc


def test_classifier_train_shuffle_mode(spark):
    """shuffle=True reorders examples by xxhash64(id, seed): training
    must stay deterministic for a fixed seed (same weights on rerun)
    and still learn the planted split through the serving path."""
    from mcp_hubspot_spark.operators.classifier import (
        binary_auc,
        classifier_score,
        classifier_train,
    )

    rows = [
        (
            i,
            " ".join(
                (["alpha", "beta"] if i % 2 == 0 else ["omega", "psi"])
                + ["the", "scan"]
            ),
            1 if i % 2 == 0 else 0,
        )
        for i in range(200)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, label int"
    ).repartition(8)
    w1 = {
        (r.bucket): round(r.weight, 12)
        for r in classifier_train(
            docs, num_buckets=1024, epochs=1, shuffle=True, seed=7
        ).collect()
    }
    w2 = {
        (r.bucket): round(r.weight, 12)
        for r in classifier_train(
            docs, num_buckets=1024, epochs=1, shuffle=True, seed=7
        ).collect()
    }
    assert w1 == w2 and w1  # deterministic for a fixed seed
    wdf = classifier_train(
        docs, num_buckets=1024, epochs=1, shuffle=True, seed=7
    )
    scored = classifier_score(docs, wdf, num_buckets=1024).join(
        docs.select("doc_id", "label"), "doc_id"
    )
    assert binary_auc(scored).first().auc > 0.99


@pytest.mark.slow
def test_classifier_calibration_grid_separates(spark):
    """The r12 calibration grid on the shadow-confounder task
    (calibration_task): AVERAGING GRANULARITY is the knob that governs
    convergence — 4 epochs at 1 partition must beat 1 epoch at 1
    partition AND 4 epochs at 16 partitions by clear margins (local
    SGD decorrelates the shadow tokens only within a partition), while
    shuffling at a FIXED partition count moves AUC at noise level.
    The shuffle path must also PRESERVE the input partition count:
    r11's unparameterized repartitionByRange let AQE coalesce the
    shuffle to one partition, silently serializing training — before
    the fix the last assertion failed with shuffled ~0.67 vs 0.47.
    Reference AUCs (numpy-replicated): P=1 e1 0.511, P=1 e4 0.671,
    P=16 e1 0.463, P=16 e4 0.471, P=16 e4 shuffled 0.471."""
    from mcp_hubspot_spark.operators.classifier import (
        binary_auc,
        calibration_task,
        classifier_score,
        classifier_train,
    )

    base = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), (F.col("id") % 30) + 9),
                lambda k: F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("id").cast("string"),
                            k.cast("string"),
                        )
                    ),
                    1,
                    2,
                ),
            ),
        ).alias("text"),
    )
    task = calibration_task(base)
    tr = task.filter(F.col("doc_id") % 2 == 0).repartition(16)
    te = task.filter(F.col("doc_id") % 2 == 1)
    nb = 1 << 16

    def auc_of(**kw):
        w = classifier_train(tr, num_buckets=nb, lr=0.25, **kw)
        sc = classifier_score(te, w, num_buckets=nb).join(
            te.select("doc_id", "label"), "doc_id"
        )
        return float(binary_auc(sc).first().auc)

    p1e1 = auc_of(epochs=1, num_parts=1)
    p1e4 = auc_of(epochs=4, num_parts=1)
    p16e4 = auc_of(epochs=4, num_parts=16)
    p16e4s = auc_of(epochs=4, num_parts=16, shuffle=True)
    p16e4s_inherit = auc_of(epochs=4, shuffle=True)  # inherits 16
    assert p1e4 > p1e1 + 0.05        # epochs separate at P=1
    assert p1e4 > p16e4 + 0.10       # granularity separates at 4 epochs
    assert abs(p16e4s - p16e4) < 0.02   # order is noise-level at fixed P
    assert abs(p16e4s_inherit - p16e4) < 0.02  # no AQE collapse to P=1


def test_binary_auc_hand_check(spark):
    """Mann-Whitney arithmetic by hand, including the tie convention:
    scores [.9 .8 .8 .1] with labels [1 1 0 0] -> pairs: pos .9 beats
    both negs (2), pos .8 beats .1 (1) and ties .8 (0.5) -> U = 3.5,
    AUC = 3.5 / (2*2) = 0.875."""
    from mcp_hubspot_spark.operators.classifier import binary_auc

    df = spark.createDataFrame(
        [(0.9, 1), (0.8, 1), (0.8, 0), (0.1, 0)], "score double, label int"
    )
    row = binary_auc(df).first()
    assert (row.n_pos, row.n_neg) == (2, 2)
    assert abs(row.auc - 0.875) < 1e-12


def test_blocklist_expr_and_join_paths_agree(spark):
    """The literal arrays_overlap flag and the broadcast-join hit set
    must mark exactly the same documents."""
    from mcp_hubspot_spark.operators.text import (
        blocklist_flag_expr,
        blocklist_hits,
    )
    from mcp_hubspot_spark.workload import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    phrases = ["table table", "fast fast", "scan slow fast"]
    flagged = {
        r.doc_id
        for r in blocklist_flag_expr(docs, phrases)
        .filter("is_blocked")
        .collect()
    }
    hit = {r.doc_id for r in blocklist_hits(docs, phrases).collect()}
    assert flagged == hit and hit  # non-trivial on the test corpus


def test_blocklist_literal_and_join_reports_agree_row_for_row(spark):
    """The round-13 in-scan array_intersect report (literal path) must
    equal the explode+broadcast-join report exactly — same ids, same
    n_hits, same first_hit — including multi-length phrase sets."""
    from mcp_hubspot_spark.operators.text import blocklist_hits
    from mcp_hubspot_spark.workload import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    phrases = [
        "table table",
        "fast fast",
        "scan slow fast",
        "the line sort",
        "value table part",
    ]
    lit_rows = {
        (r.doc_id, r.n_hits, r.first_hit)
        for r in blocklist_hits(docs, phrases).collect()
    }
    join_rows = {
        (r.doc_id, r.n_hits, r.first_hit)
        for r in blocklist_hits(docs, phrases, max_literals=0).collect()
    }
    assert lit_rows == join_rows and lit_rows  # non-trivial corpus


def test_blocklist_scrub_removes_exactly_the_hits(spark):
    from mcp_hubspot_spark.operators.text import blocklist_hits, blocklist_scrub
    from mcp_hubspot_spark.workload import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    phrases = ["table table", "fast fast"]
    n_hits = blocklist_hits(docs, phrases).count()
    kept = blocklist_scrub(docs, phrases)
    assert kept.count() == docs.count() - n_hits
    hit_ids = {r.doc_id for r in blocklist_hits(docs, phrases).collect()}
    assert not {r.doc_id for r in kept.select("doc_id").collect()} & hit_ids


def test_blocklist_phrase_normalization_and_validation(spark):
    """Ragged whitespace in a phrase normalizes to the corpus tokenizer's
    single-space join; degenerate blocklists fail loud."""
    import pytest

    from mcp_hubspot_spark.operators.text import blocklist_hits

    docs = spark.createDataFrame(
        [(1, "a table table z"), (2, "no hits here")],
        "doc_id long, text string",
    )
    got = blocklist_hits(docs, ["  table \t table "]).collect()
    assert [(r.doc_id, r.n_hits, r.first_hit) for r in got] == [
        (1, 1, "table table")
    ]
    with pytest.raises(ValueError):
        blocklist_hits(docs, ["   "])
    with pytest.raises(ValueError):
        blocklist_hits(docs, docs.selectExpr("text AS phrase"))  # no lengths


def test_blocklist_flag_join_agrees_with_literal(spark):
    """The O(1)-plan join flag must mark exactly the docs the literal
    arrays_overlap flag marks (same is_blocked column, same rows)."""
    from mcp_hubspot_spark.operators.text import (
        blocklist_flag_expr,
        blocklist_flag_join,
    )
    from mcp_hubspot_spark.workload import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    phrases = ["table table", "fast fast", "scan slow fast"]
    lit = {
        (r.doc_id, r.is_blocked)
        for r in blocklist_flag_expr(docs, phrases)
        .select("doc_id", "is_blocked")
        .collect()
    }
    joined = {
        (r.doc_id, r.is_blocked)
        for r in blocklist_flag_join(docs, phrases)
        .select("doc_id", "is_blocked")
        .collect()
    }
    assert lit == joined and any(b for _, b in lit)


def test_blocklist_literal_wall_auto_switch(spark):
    """Past BLOCKLIST_LITERAL_MAX_PHRASES, blocklist_flag routes to the
    join path (no O(N) literal array in the plan) and blocklist_hits
    skips the literal prefilter — the ADC auto-switch pattern at the
    text tier. Results are identical either side of the cap."""
    import io
    from contextlib import redirect_stdout

    from mcp_hubspot_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "a table table z"), (2, "no hits here")],
        "doc_id long, text string",
    )
    phrases = ["table table", "fast fast", "qq zz"]

    def plan_of(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    wide = T.blocklist_flag(docs, phrases, max_literals=2)  # over cap
    narrow = T.blocklist_flag(docs, phrases, max_literals=10)  # under
    assert "arrays_overlap" not in plan_of(wide)
    assert "arrays_overlap" in plan_of(narrow)
    assert (
        {(r.doc_id, r.is_blocked) for r in wide.collect()}
        == {(r.doc_id, r.is_blocked) for r in narrow.collect()}
        == {(1, True), (2, False)}
    )
    # blocklist_hits drops its in-scan literal report past the cap
    # (O(1)-plan join instead) but reports the same hits
    over = T.blocklist_hits(docs, phrases, max_literals=2)
    assert "array_intersect" not in plan_of(over)
    got_over = [(r.doc_id, r.n_hits, r.first_hit) for r in over.collect()]
    under = T.blocklist_hits(docs, phrases)
    assert "array_intersect" in plan_of(under)
    assert got_over == [
        (r.doc_id, r.n_hits, r.first_hit) for r in under.collect()
    ] == [(1, 1, "table table")]


def test_zipf_fit_exact_power_law(spark):
    """Terms with freq = 60/rank lie exactly on ln(f) = ln(60) - ln(r):
    slope -1, r2 = 1, intercept ln(60)."""
    import math

    freqs = {"w1": 60, "w2": 30, "w3": 20, "w4": 15, "w5": 12, "w6": 10}
    text = " ".join(t for t, n in freqs.items() for _ in range(n))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")

    from mcp_hubspot_spark.operators.profiling import zipf_fit

    row = zipf_fit(docs).first()
    assert row.n_terms == 6
    assert row.zipf_slope == -1.0 and row.r2 == 1.0
    assert row.zipf_intercept == round(math.log(60.0), 4)


def test_heaps_fit_exact_linear_growth(spark):
    """A corpus where every token is globally unique has V(N) = N
    exactly, so the log-log OLS is beta=1, K=1, r2=1 with no float
    slack (x == y at every checkpoint)."""
    docs = spark.createDataFrame(
        [(i, " ".join(f"t{i}_{j}" for j in range(5))) for i in range(64)],
        "doc_id long, text string",
    )
    from mcp_hubspot_spark.operators.profiling import heaps_fit

    row = heaps_fit(docs, checkpoints=8).first()
    assert row.n_checkpoints == 8
    assert row.heaps_beta == 1.0 and row.heaps_k == 1.0 and row.r2 == 1.0


def test_heaps_fit_flattens_on_closed_vocab(spark):
    """The template-corpus signal: a closed vocabulary saturates V, so
    beta ~ 0 (every checkpoint sees the same vocab)."""
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(64)],
        "doc_id long, text string",
    )
    from mcp_hubspot_spark.operators.profiling import heaps_fit

    row = heaps_fit(docs, checkpoints=8).first()
    assert row.heaps_beta == 0.0 and row.heaps_k == 3.0


def test_heaps_fit_empty_corpus_raises(spark):
    """heaps_fit runs a small driver job to place its checkpoints; an
    empty corpus must fail loud, not TypeError on int(None)."""
    import pytest

    from mcp_hubspot_spark.operators.profiling import heaps_fit

    docs = spark.createDataFrame([], "doc_id long, text string")
    with pytest.raises(ValueError, match="empty"):
        heaps_fit(docs, checkpoints=8)


def test_text_family_case_folds(spark):
    """blocklist / classifier / zipf must lowercase before matching or
    hashing — the same fold as phrase_occurrences, TextIndex, and the
    SQL oracles' tokenizer (lower() inside _duck_tokens). Previously
    these matched case-sensitively and parity held only because the
    fixture corpus is all-lowercase."""
    from pyspark.sql import functions as F

    from mcp_hubspot_spark.operators.classifier import classifier_score_expr
    from mcp_hubspot_spark.operators.profiling import zipf_fit
    from mcp_hubspot_spark.operators.text import (
        blocklist_flag_expr,
        blocklist_hits,
    )

    docs = spark.createDataFrame(
        [(1, "a Table TABLE z"), (2, "no hits here")],
        "doc_id long, text string",
    )
    # mixed-case text AND mixed-case phrase both fold
    assert blocklist_flag_expr(docs, ["TABLE table"]).filter(
        "is_blocked"
    ).count() == 1
    got = blocklist_hits(docs, ["Table TABLE"]).collect()
    assert [(r.doc_id, r.n_hits, r.first_hit) for r in got] == [
        (1, 1, "table table")
    ]
    # DataFrame blocklists fold their phrase column the same way
    bl = spark.createDataFrame([("Table TABLE",)], "phrase string")
    got_df = blocklist_hits(docs, bl, lengths=[2]).collect()
    assert [(r.doc_id, r.n_hits) for r in got_df] == [(1, 1)]
    # classifier: case variants of a token land in one bucket
    pair = spark.createDataFrame(
        [(1, "Spark TABLE"), (2, "spark table")], "doc_id long, text string"
    )
    scores = {
        r.doc_id: r.score for r in classifier_score_expr(pair).collect()
    }
    assert scores[1] == scores[2]
    # zipf: "The"/"the" fold to ONE term (2 distinct, not 3)
    z = zipf_fit(
        spark.createDataFrame(
            [(1, "The the the zebra")], "doc_id long, text string"
        )
    ).first()
    assert z.n_terms == 2


def test_bm25_scores_case_folds_like_batch_twin(spark):
    """bm25_scores must lowercase its query terms exactly like
    bm25_topk_batch (ADVICE r11: the batch twin folded but the
    one-query path did not, so bm25_scores(["Spark"]) matched nothing
    while the batch matched) — folded in the shared _bm25_contrib so
    the fixed-order fold stays bit-identical across the family."""
    from mcp_hubspot_spark.operators.text import bm25_scores, bm25_topk_batch

    docs = spark.createDataFrame(
        [(1, "spark window spark"), (2, "spark only"), (3, "none here")],
        "doc_id long, text string",
    )
    upper = {r.doc_id: r.score for r in bm25_scores(docs, ["Spark", "WINDOW"]).collect()}
    lower = {r.doc_id: r.score for r in bm25_scores(docs, ["spark", "window"]).collect()}
    assert upper == lower and set(lower) == {1, 2}
    batch = {
        r.doc_id: r.score
        for r in bm25_topk_batch(docs, {"q": ["Spark", "WINDOW"]}, k=10).collect()
    }
    assert batch == upper  # bit-identical, mixed case included


def test_binary_auc_single_class_fails_loud(spark):
    """A single-class input makes AUC undefined; the n_pos*n_neg
    division would return null, which a metrics harness records
    silently (ADVICE r11) — the operator must raise instead."""
    import pytest
    from mcp_hubspot_spark.operators.classifier import binary_auc

    pos_only = spark.createDataFrame(
        [(0.9, 1), (0.2, 1)], "score double, label int"
    )
    with pytest.raises(Exception, match="single class"):
        binary_auc(pos_only).first()
    neg_only = spark.createDataFrame(
        [(0.9, 0), (0.2, 0)], "score double, label int"
    )
    with pytest.raises(Exception, match="single class"):
        binary_auc(neg_only).first()


def test_blocklist_dataframe_phrases_whitespace_normalize(spark):
    """DataFrame blocklists must collapse irregular whitespace the same
    way the list path's _norm_phrase does — grams are joined with
    single spaces, so an unnormalized stored phrase silently never
    matches (ADVICE r11)."""
    from mcp_hubspot_spark.operators.text import blocklist_hits

    docs = spark.createDataFrame(
        [(1, "a table table z"), (2, "no hits here")],
        "doc_id long, text string",
    )
    bl = spark.createDataFrame(
        [("  Table \t  TABLE ",)], "phrase string"
    )
    got = blocklist_hits(docs, bl, lengths=[2]).collect()
    assert [(r.doc_id, r.n_hits) for r in got] == [(1, 1)]
