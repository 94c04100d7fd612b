"""Vector search operators (SURVEY §2.9 V1-V7, §2.6 O3/O4).

The reference's search path: embed query → exact L2 search per daily FAISS
partition with k=min(k, ntotal) → concat → global ascending sort → take k →
rank + ``similarity = 1 - distance/2`` (reference
``faiss_manager.py:254-296``, ``utils.py:100-108``).

Spark-first translation: the query vector is a broadcast literal, the
distance is a JVM-side higher-order-function expression over the embedding
array (no Python in the hot path), and the per-partition-top-k + global
merge is exactly what ``orderBy(dist).limit(k)`` compiles to
(TakeOrderedAndProject). The distance scan is embarrassingly parallel and
never shuffles more than k rows per partition — that is the property that
holds at 100 TB.

Scale paths beyond brute force:
  * ``ivf_topk`` — inverted-file search: rows pre-assigned to their nearest
    centroid; a query probes only ``nprobe`` cells → partition pruning on
    the cell id.
  * ``embedding_neardup_pairs`` in operators.dedup — random-hyperplane LSH.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import const_double_array, const_long_array, memo_expr
from .topk import grouped_top_k, ranked_top_k, top_k


def _vec_lit(vec: Sequence[float]) -> Column:
    # SQL-text literal: F.lit converts a list at ~0.4 ms/element in the
    # driver; array(...) text parses ~free and repr keeps doubles exact
    return const_double_array(vec)


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product via zip_with + aggregate (no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_squared(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def knn(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_cols: Sequence[str] = ("vec_id",),
    metric: str = "l2",
) -> DataFrame:
    """Exact brute-force k-NN (reference V4/O3/O4, faiss_manager.py:254-296).

    Output: id cols + ``distance`` + 1-based ``rank`` + ``similarity``
    (= 1 - d²/2, valid for L2² on unit-norm vectors — reference
    utils.py:105; for metric="cosine", similarity is the cosine itself and
    distance = 1 - cosine).

    Physical plan: parallel distance scan → per-partition top-k heap →
    driver merge of k rows/partition (TakeOrderedAndProject) — the same
    two-phase merge the reference hand-codes across its daily indexes. The
    k=min(k, ntotal) clamp (faiss_manager.py:275) is implicit: limit never
    over-returns.
    """
    # the query is a plan-time literal: fold its norm once driver-side
    # (same double arithmetic as the Spark fold) instead of per row
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec))
    dist, sim = _knn_exprs(F.col(vec_col), _vec_lit(query_vec), F.lit(qn), metric)
    scored = df.select(*id_cols, dist.alias("distance"))
    # deterministic boundary: tiebreak on the first id column. Nulls LAST:
    # a null/mismatched-dim embedding yields NULL distance, and Spark's
    # default asc ordering would put it at rank 1 of every search.
    return ranked_top_k(
        scored,
        _nearest_first(id_cols[0]),
        k,
        [*id_cols, "distance", sim.alias("similarity")],
    )


def _knn_exprs(
    v: Column, q: Column, q_norm: Column, metric: str
) -> tuple[Column, Column]:
    """(distance, similarity) of vector ``v`` to query ``q`` of norm
    ``q_norm``: L2² and 1 - d²/2, or 1 - cosine and the cosine. The
    similarity reads the column aliased ``distance``."""
    if metric == "l2":
        return l2_squared(v, q), F.lit(1.0) - F.col("distance") / F.lit(2.0)
    if metric == "cosine":
        dist = F.lit(1.0) - dot(v, q) / (l2_norm(v) * q_norm)
        return dist, F.lit(1.0) - F.col("distance")
    raise ValueError(f"unknown metric: {metric}")


def _nearest_first(id_col: str, dist_col: str = "distance") -> list[Column]:
    """The (distance ASC NULLS LAST, id ASC) order every nearest-first
    top-k ranks by."""
    return [F.col(dist_col).asc_nulls_last(), F.col(id_col).asc()]


def knn_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Many queries at once: broadcast the (small) query set, score the
    cross product JVM-side, per-query top-k via window rank. The fact side
    is scanned ONCE for all queries — never materialize n×q pairs through a
    shuffle; only k rows per (query, partition) survive the window filter.
    For huge query sets, switch to block matmul via grouped pandas UDF
    (SURVEY §7 hardest-problems #1).
    """
    pairs = df.crossJoin(F.broadcast(queries))
    dist = l2_squared(F.col(vec_col), F.col(query_vec_col))
    scored = pairs.select(
        F.col(query_id_col),
        F.col(id_col),
        dist.alias("distance"),
    )
    return grouped_top_k(
        scored, [query_id_col], _nearest_first(id_col), k
    ).select(
        query_id_col,
        "rank",
        id_col,
        "distance",
        (F.lit(1.0) - F.col("distance") / 2.0).alias("similarity"),
    )


def knn_batch_matmul(
    df: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Large-query-batch k-NN via Arrow-batched block matmul
    (SURVEY §7 hardest-problems #1: the grouped-pandas scale path).

    ``knn_batch`` keeps the distance arithmetic in JVM expressions — right
    for a handful of queries. Past ~100 queries the per-row HOF loop loses
    to BLAS: here every executor gets the (q, d) query matrix once
    (closure-captured ≈ broadcast), computes the full distance block
    ``|v|² + |q|² − 2·V@Qᵀ`` per Arrow batch with numpy, and emits only
    the LOCAL top-k rows per query per partition. The global reduce then
    ranks ≤ k·q·n_partitions candidate rows — the same two-phase merge as
    single-query kNN, so the shuffle never carries the n×q cross product.
    """
    import numpy as np

    qids = [int(q) for q, _ in queries]
    Q = np.asarray([v for _, v in queries], dtype="float64")

    def score(batches):
        q_sq = (Q**2).sum(axis=1)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            ids = pdf[id_col].to_numpy()
            d2 = (V**2).sum(axis=1)[:, None] + q_sq[None, :] - 2.0 * (V @ Q.T)
            kk = min(k, len(ids))
            import pandas as pd

            out = []
            for j, qid in enumerate(qids):
                col = d2[:, j]
                # lexsort matches the global (distance asc, id asc) order so
                # ties at the kth distance keep the same winner the JVM
                # expression path picks — argpartition alone would drop an
                # arbitrary tied candidate
                top = np.lexsort((ids, col))[:kk]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            id_col: ids[top],
                            "distance": col[top],
                        }
                    )
                )
            yield pd.concat(out)

    local = df.select(id_col, vec_col).mapInPandas(
        score, schema=f"query_id long, {id_col} long, distance double"
    )
    return grouped_top_k(
        local, ["query_id"], [F.col("distance").asc(), F.col(id_col).asc()], k
    ).select("query_id", "rank", id_col, "distance")


def centroid_agg(vec_col: str = "embedding"):
    """Grouped-agg pandas UDF: element-wise mean of an embedding column
    (SURVEY §2.11 — the custom-distance-aggregate extension surface).

    A built-in can't express "mean of array<double> element-wise" without
    exploding dim× rows through the shuffle; the grouped-agg UDF reduces
    each group to ONE dim-length vector with numpy, map-side per group.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG: type-hint inference has no spelling for a
    # Series→array-scalar aggregate signature
    @pandas_udf("array<double>", PandasUDFType.GROUPED_AGG)
    def _centroid(v: pd.Series):
        M = np.stack(v.to_numpy()).astype("float64")
        return [float(x) for x in M.mean(axis=0)]

    return _centroid(F.col(vec_col))


def _cell_distance(
    a: Column, b: Column, metric: str, b_norm: float | None = None
) -> Column:
    # the one distance both the assignment and the probe use, so cell
    # geometry and probing always agree; cosine is expressed as the
    # 1-cos distance (same ordering knn(metric="cosine") ranks by).
    # When ``b`` is a plan-time literal the caller passes its norm as
    # ``b_norm`` so the per-row expression skips one whole array fold —
    # same double arithmetic (Python's left-to-right sum matches the
    # fold order), strictly fewer codegen'd ops per row.
    if metric == "l2":
        return l2_squared(a, b)
    if metric == "cosine":
        if b_norm is not None:
            return F.lit(1.0) - dot(a, b) / (l2_norm(a) * F.lit(float(b_norm)))
        return F.lit(1.0) - cosine_similarity(a, b)
    raise ValueError(f"unknown metric: {metric}")


def assign_cells(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id: str = "cell_id",
    centroid_vec: str = "centroid",
    metric: str = "l2",
) -> DataFrame:
    """IVF build step: tag every row with its nearest centroid id.

    Centroids are broadcast (k << n); the argmin is min-of-struct
    (distance, cell_id) grouped by the row id — deterministic tiebreak,
    partial aggregation map-side, and the vectors themselves never shuffle
    (only id→cell assignments do). At 100 TB the output would be written
    ``partitionBy(cell_id)`` so queries prune cells at the file level;
    with literal centroids the argmin can instead be a pure expression
    (zero shuffle) — see assign_cells_literal.
    """
    pairs = df.select(id_col, vec_col).crossJoin(F.broadcast(centroids))
    d = _cell_distance(F.col(vec_col), F.col(centroid_vec), metric)
    best = (
        pairs.select(id_col, F.struct(d.alias("_d"), F.col(centroid_id)).alias("_c"))
        .groupBy(id_col)
        .agg(F.min("_c").alias("_best"))
        .select(id_col, F.col("_best").getField(centroid_id).alias(centroid_id))
    )
    return df.join(best, id_col)


def assign_cells_literal(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    centroid_id: str = "cell_id",
    metric: str = "l2",
) -> DataFrame:
    """Expression-side IVF assignment: centroids as literals → per-row
    argmin with NO shuffle at all (the scale path when k is small enough
    to inline, which it always is — k <= a few thousand). ``metric``
    picks the same ``_cell_distance`` geometry the probe side ranks
    cells by, so assignment and probing always agree (for cosine the
    KMeans mean centroids are non-unit, so 1-cos and L2-on-normalized
    can pick DIFFERENT nearest cells — the two sides must share one)."""
    import math

    v = F.col(vec_col)
    scored = F.array(
        *[
            F.struct(
                _cell_distance(
                    v,
                    _vec_lit(vec),
                    metric,
                    # centroid norms are plan-time constants: fold them
                    # driver-side once instead of per row per centroid
                    b_norm=(
                        math.sqrt(sum(float(x) * float(x) for x in vec))
                        if metric == "cosine"
                        else None
                    ),
                ).alias("_d"),
                F.lit(int(cid)).alias(centroid_id),
            )
            for cid, vec in centroids
        ]
    )
    return df.withColumn(
        centroid_id, F.array_min(scored).getField(centroid_id)
    )


def train_centroids(
    df: DataFrame,
    n_cells: int,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
) -> DataFrame:
    """IVF centroid training: k-means in the driver on a bounded sample,
    as FAISS trains in-process (reference ``faiss_manager.py:12-33``).

    The sample is the first ``min(256 * n_cells, LOCAL_READ_MAX_BYTES //
    (8 * dim))`` non-null rows in ``(xxhash64(v), v)`` order, collected in
    one Spark job: 256 rows per centroid is FAISS's
    ``max_points_per_centroid`` (centroid quality converges long before
    the corpus is seen), the byte cap bounds driver memory as
    ``local_serve`` does, and a hash order depends only on the rows, so
    the centroids do not move with the input's partitioning. Training is
    :func:`_kmeans` (seeded k-means++, ``max_iter`` Lloyd steps). The
    corpus-scale half, assigning every row, stays a Spark pass.

    Returns a ``(cell_id, centroid)`` DataFrame (a local relation) for
    assign_cells/ivf_topk, cell ids 0..n-1 in order. Empty input raises
    ``ValueError``.
    """
    import pyarrow as pa

    from ..local_serve import LOCAL_READ_MAX_BYTES

    rows = df.where(F.col(vec_col).isNotNull()).select(
        F.col(vec_col).cast("array<double>").alias("_v")
    )
    first = rows.select(F.size("_v").alias("d")).first()
    if first is None:
        raise ValueError("train_centroids: empty input")
    dim = int(first["d"])
    cap = min(256 * n_cells, LOCAL_READ_MAX_BYTES // (8 * max(dim, 1)))
    sample = (
        rows.orderBy(F.xxhash64("_v"), "_v").limit(cap).toArrow().column("_v")
    )
    flat = sample.combine_chunks().flatten().to_numpy(zero_copy_only=False)
    if flat.size != len(sample) * dim:
        raise ValueError(f"train_centroids: vectors are not all {dim}-d")
    cents = _kmeans(flat.reshape(len(sample), dim), n_cells, seed, max_iter)
    return df.sparkSession.createDataFrame(pa.table({
        "cell_id": pa.array(range(n_cells), pa.int32()),
        "centroid": pa.array(list(cents), pa.list_(pa.float64())),
    }))


def _kmeans(X, k: int, seed: int, max_iter: int):
    """L2 k-means of the rows of ``X`` (n x d float64) into ``k``
    centroids (a k x d array, row = cell id): k-means++ seeding from
    ``np.random.default_rng(seed)``, then up to ``max_iter`` Lloyd steps,
    stopping once the centroids stop moving. A cell that loses every
    point keeps its previous centroid; with fewer distinct rows than
    ``k`` the seeding repeats rows, so some cells stay empty."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n = len(X)
    xx = np.einsum("ij,ij->i", X, X)
    C = np.empty((k, X.shape[1]))
    C[0] = X[rng.integers(n)]
    d2 = ((X - C[0]) ** 2).sum(axis=1)
    for j in range(1, k):
        total = d2.sum()
        pick = rng.choice(n, p=d2 / total) if total > 0 else rng.integers(n)
        C[j] = X[pick]
        d2 = np.minimum(d2, ((X - C[j]) ** 2).sum(axis=1))
    # rows per argmin block: the n x k distance block stays ~32 MB
    chunk = max(1, (1 << 22) // k)
    for _ in range(max_iter):
        cc = np.einsum("ij,ij->i", C, C)
        labels = np.concatenate([
            np.argmin(xx[s : s + chunk, None] - 2.0 * (X[s : s + chunk] @ C.T) + cc, 1)
            for s in range(0, n, chunk)
        ])
        counts = np.bincount(labels, minlength=k)
        sums = np.zeros_like(C)
        np.add.at(sums, labels, X)
        new = C.copy()
        full = counts > 0
        new[full] = sums[full] / counts[full, None]
        if np.array_equal(new, C):
            break
        C = new
    return C


def ivf_topk(
    df_with_cells: DataFrame,
    centroids: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 1,
    vec_col: str = "embedding",
    id_cols: Sequence[str] = ("vec_id",),
    centroid_id: str = "cell_id",
    centroid_vec: str = "centroid",
    metric: str = "l2",
) -> DataFrame:
    """IVF search: find the nprobe nearest centroids to the query (tiny,
    local), then brute-force k-NN inside those cells only. With the table
    partitioned by cell_id this is partition pruning — the scan reads
    nprobe/k_cells of the data."""
    q = _vec_lit(query_vec)
    probe_cells = (
        centroids.select(
            F.col(centroid_id),
            _cell_distance(F.col(centroid_vec), q, metric).alias("_d"),
        )
        .orderBy(F.col("_d").asc(), F.col(centroid_id).asc())
        .limit(nprobe)
        .select(centroid_id)
    )
    pruned = df_with_cells.join(
        F.broadcast(probe_cells), on=centroid_id, how="left_semi"
    )
    return knn(
        pruned, query_vec, k=k, vec_col=vec_col, id_cols=id_cols,
        metric=metric,
    )


def rp_sign_matrix(
    d_in: int, d_out: int, seed: str = "rp"
) -> list[list[int]]:
    """Deterministic ±1 sign matrix for random projection (Achlioptas
    2003: sign entries satisfy the JL lemma like Gaussians do). Derived
    from md5 at PLAN time — row-independent constants, reproducible in
    any engine (the oracle embeds the same literals), zero per-row
    hashing."""
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[:15], 16
            )
            % 2
            == 0
            else -1
            for i in range(d_in)
        ]
        for j in range(d_out)
    ]


def random_sign_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    d_in: int = 64,
    d_out: int = 8,
    seed: str = "rp",
    exploded: bool = True,
    out_col: str = "proj",
) -> DataFrame:
    """Dimensionality reduction by random sign projection — the standard
    shrink-before-ANN step at scale (project 768-d to 64-d, bucket/search
    in the small space, re-rank survivors in the original space). Output
    is EXPLODED to (id, dim_idx, value) scalar rows so downstream engines
    compare element-wise without nested-array float semantics.

    Plan shape: the sign matrix is a literal baked into the expression —
    a pure scan-stage projection, zero shuffle, codegen'd JVM-side. Each
    output dim is one ordered fold (aggregate over zip_with), so float
    summation order is fixed left-to-right and engine-reproducible. For
    very large d_in*d_out (>~50k literals) the expression tree gets heavy
    to compile — switch to the Arrow/numpy matmul pattern
    (``knn_batch_matmul``) there; the semantics stay identical.
    """
    signs = rp_sign_matrix(d_in, d_out, seed)
    scale = 1.0 / math.sqrt(d_out)
    vec = F.col(vec_col)

    def proj(j: int) -> Column:
        s = const_double_array(signs[j])
        return F.aggregate(
            F.zip_with(vec, s, lambda x, sg: x.cast("double") * sg),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ) * F.lit(scale)

    if not exploded:
        # array form for downstream distance math; elements ROUNDED like
        # the exploded form so any cross-engine ranking built on these
        # projections starts from bit-identical inputs
        arr = F.array(*[F.round(proj(j), 4) for j in range(d_out)])
        return df.select(F.col(id_col), arr.alias(out_col))
    pairs = F.array(
        *[
            F.struct(
                F.lit(j).cast("long").alias("dim_idx"),
                F.round(proj(j), 4).alias("value"),
            )
            for j in range(d_out)
        ]
    )
    return df.select(
        F.col(id_col), F.explode(pairs).alias("_p")
    ).select(id_col, F.col("_p.dim_idx"), F.col("_p.value"))


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_col: str = "qvec",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: q = clamp(x/scale) with
    scale = max|x|/127. Returns id + q_col (array<tinyint>) + scale_col.

    The 100 TB motivation: embeddings dominate row width in vector
    pipelines; int8 cuts every embedding shuffle/spill/store 4× with
    ~0.4% max relative error per component — the standard trade in
    IVF/PQ systems (quantized store + exact re-rank of the short list).

    Engine-reproducible by construction: the rounding is floor(r + 0.5)
    (identical in DuckDB; SQL round() half-away/half-even semantics vary),
    and the scale guard makes the all-zero vector quantize to zeros
    instead of dividing by zero. Pure scan-stage projection, no shuffle.
    """
    vec = F.col(vec_col)
    max_abs = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    scale = F.greatest(max_abs, F.lit(1e-30)) / F.lit(127.0)
    q = F.transform(
        vec,
        lambda x: F.greatest(
            F.least(
                F.floor(x.cast("double") / F.col(scale_col) + F.lit(0.5)),
                F.lit(127),
            ),
            F.lit(-127),
        ).cast("tinyint"),
    )
    return df.withColumn(scale_col, scale).withColumn(q_col, q)


def dequantize_embeddings(
    df: DataFrame,
    q_col: str = "qvec",
    scale_col: str = "q_scale",
    out_col: str = "embedding",
) -> DataFrame:
    """Inverse of ``quantize_embeddings``: x̂ = q * scale (float array)."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(q_col), lambda q: (q.cast("double") * F.col(scale_col)).cast("float")
        ),
    )


# -------------------------------------------------- product quantization ----
# PQ is the 100 TB ANN answer the int8 path above only gestures at: int8
# is 4x; PQ with m sub-codebooks of 2^b codes stores dim*32 bits of
# float as m*b bits (64-dim float32 -> 8 bytes at m=8, b=8: 32x). Search
# uses asymmetric distance (ADC): the query precomputes an m x k lookup
# table of subvector distances ONCE driver-side, and every row's
# approximate distance is m table lookups + adds — a pure codegen
# expression, no per-row float folds at all. This is the FAISS IVFPQ
# serving form (reference faiss_manager.py builds flat L2 indexes; PQ is
# the beyond-reference scale path) composed Spark-first: codes are a
# plain array<int> column, so they persist in parquet next to cell_id
# and survive the same partition pruning ivf_topk uses.


def pq_anchor_codebooks(
    anchors: list[list[float]], m: int
) -> list[list[list[float]]]:
    """Deterministic codebooks from k anchor vectors (k-means INIT only,
    no iterations): codebook[mi][c] = subvector mi of anchor c. Quality
    is below trained k-means (use :func:`pq_train_codebooks` for real
    serving) but the construction is pure arithmetic on named rows, so a
    SQL oracle can replay encoding + ADC bit-for-bit — the same trick
    quantized_embedding_error uses to stay hash-checkable."""
    dim = len(anchors[0])
    assert dim % m == 0, f"dim {dim} not divisible by m {m}"
    sub = dim // m
    return [
        [[float(x) for x in a[mi * sub : (mi + 1) * sub]] for a in anchors]
        for mi in range(m)
    ]


def pq_train_codebooks(
    df: DataFrame,
    m: int,
    k: int,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
) -> list[list[list[float]]]:
    """Real PQ training: one MLlib KMeans per subvector (m sequential
    fits — m is 8-16, each fit is one MLlib job on the subvector
    column). At 100 TB pass a sample of the corpus (codebook centroids
    converge long before the corpus is seen), encode the full table in
    one expression pass.

    RECALL CLIFF: codebooks trained on RAW flat vectors measured
    recall@10 0.1125 on the decaying-spectrum corpus vs 0.625 with the
    OPQ pre-rotation at identical serving cost — when calling this
    directly (outside IvfIndex, whose flat builds default to OPQ),
    train a rotation with
    :func:`pq_train_opq_rotation` and pass it to encode/search unless
    you are deliberately measuring the raw floor."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    base = df.select(F.col(vec_col).cast("array<double>").alias("_v"))
    # cache the projection: the first() probe + the m KMeans fits would
    # otherwise re-scan the source m+1 times
    base = base.cache()
    try:
        first = base.first()
        if first is None:
            raise ValueError("pq_train_codebooks: empty input")
        dim = len(first["_v"])
        assert dim % m == 0, f"dim {dim} not divisible by m {m}"
        sub = dim // m
        out = []
        for mi in range(m):
            train = base.select(
                array_to_vector(F.slice("_v", mi * sub + 1, sub)).alias(
                    "features"
                )
            )
            model = KMeans(k=k, seed=seed + mi, maxIter=max_iter).fit(train)
            out.append(
                [[float(x) for x in c] for c in model.clusterCenters()]
            )
        return out
    finally:
        base.unpersist()


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    rotation: list[list[float]] | None = None,
) -> DataFrame:
    """Encode every row to its m nearest-subcentroid codes — one
    expression-side argmin per subvector with the codebooks inlined as
    literals (the assign_cells_literal shape): ZERO shuffle, whole-stage
    codegen, deterministic min-(distance, code) tiebreak. Output column
    is array<int> length m. With ``rotation`` (a d x d orthogonal
    matrix, see :func:`pq_train_opq_rotation`) the vector is rotated
    expression-side first — the OPQ pre-transform; codebooks must then
    have been trained on rotated vectors. Omitting the rotation on
    correlated/unbalanced dimensions is a measured recall cliff — see
    :func:`pq_train_codebooks`."""
    v = F.col(vec_col)
    if rotation is not None:
        v = rotate_expr(v, rotation)
    sub = len(codebooks[0][0])
    codes = []
    for mi, cb in enumerate(codebooks):
        subvec = F.slice(v, mi * sub + 1, sub)
        scored = F.array(
            *[
                F.struct(
                    l2_squared(subvec, _vec_lit(c)).alias("_d"),
                    F.lit(ci).alias("_c"),
                )
                for ci, c in enumerate(cb)
            ]
        )
        codes.append(F.array_min(scored).getField("_c"))
    return df.withColumn(code_col, F.array(*codes))


def _adc_table(
    codebooks: list[list[list[float]]], query_vec: Sequence[float]
) -> list[list[float]]:
    """The m x k query distance table, folded driver-side with
    left-to-right Python float sums — the ONE table construction every
    ADC path (raw, residual per-cell, and their oracles' replays)
    shares."""
    sub = len(codebooks[0][0])
    return [
        [
            sum(
                (float(q) - float(c)) ** 2
                for q, c in zip(query_vec[mi * sub : (mi + 1) * sub], cent)
            )
            for cent in cb
        ]
        for mi, cb in enumerate(codebooks)
    ]


def _residual_tables(
    codebooks: list[list[list[float]]],
    query_vec: Sequence[float],
    probed_cents: list[tuple[int, list[float]]],
) -> list[list[list[float]]]:
    """One :func:`_adc_table` per probed cell, of the query's residual
    from that cell's centroid, in probed order."""
    return [
        _adc_table(
            codebooks, [float(q) - float(c) for q, c in zip(query_vec, cent)]
        )
        for _, cent in probed_cents
    ]


def _adc_expr(
    codebooks: list[list[list[float]]],
    query_vec: Sequence[float],
    code_col: str,
) -> Column:
    """The shared ADC distance expression: fold the m x k query
    distance table driver-side (bounded) and inline it as a 2-D literal
    for :func:`_adc_lookup` — the one definition both PQ serving paths
    rank by."""
    table = const_double_array(_adc_table(codebooks, query_vec), depth=2)
    return _adc_lookup(table, code_col, len(codebooks))


def _adc_lookup(table: Column, code_col: str, m: int) -> Column:
    """A row's ADC distance from its m x k query ``table``: m element_at
    lookups chained by explicit left-to-right adds (no float fold per
    row, fully codegen'd) — shared by the raw and both residual paths."""
    import functools
    import operator as op

    code = F.col(code_col)
    return functools.reduce(
        op.add,
        [
            F.element_at(
                F.element_at(table, mi + 1), F.element_at(code, mi + 1) + 1
            )
            for mi in range(m)
        ],
    )


def pq_adc_topk(
    df_codes: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: Sequence[float],
    k: int = 10,
    id_cols: Sequence[str] = ("vec_id",),
    code_col: str = "pq_code",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the m x n_codes distance
    table is folded driver-side (bounded: m*k doubles) and inlined as a
    2-D literal, so each row's distance is m element_at lookups chained
    by explicit left-to-right adds — no float fold per row, fully
    codegen'd, then TakeOrderedAndProject merges per-partition top-k.
    Output (rank, ids..., adc_distance): the distance is the PQ
    approximation (named so callers don't mistake it for exact L2);
    rerank the top-k' with exact distances when recall matters."""
    dist = _adc_expr(codebooks, query_vec, code_col)
    scored = df_codes.select(*id_cols, dist.alias("adc_distance"))
    return ranked_top_k(scored, _nearest_first(id_cols[0], "adc_distance"), k)


def pq_search_rerank(
    df_codes: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: Sequence[float],
    k: int = 10,
    shortlist: int = 100,
    vec_col: str = "embedding",
    id_cols: Sequence[str] = ("vec_id",),
    code_col: str = "pq_code",
) -> DataFrame:
    """The standard PQ serving pattern in ONE plan: ADC shortlists
    ``shortlist`` candidates (cheap table lookups over every row), then
    the exact L2 fold reranks only those — no collect, no second job;
    the shortlist stage is a TakeOrderedAndProject carrying the
    embedding column, so the expensive exact distance runs on
    ``shortlist`` rows total. On unclustered corpora (PQ's worst case)
    this recovers most of the exact top-k that raw ADC ordering loses.
    The exact stage is :func:`knn` over the shortlist, so the output is
    knn's (rank, ids, distance, similarity)."""
    adc = _adc_expr(codebooks, query_vec, code_col)
    short = top_k(
        df_codes.select(*id_cols, vec_col, adc.alias("_adc")),
        _nearest_first(id_cols[0], "_adc"),
        shortlist,
    )
    return knn(short, query_vec, k, vec_col, id_cols)


def pq_encode_matmul(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    rotation: list[list[float]] | None = None,
    drop_vec: bool = False,
) -> DataFrame:
    """BLAS twin of :func:`pq_encode` for real codebook sizes: at
    k=256 codes the expression argmin is a ~2k-element struct array per
    row — past the codegen limits, interpreted, slow. Here each Arrow
    batch computes the (n, k) subvector-distance block
    ``|s|² + |c|² − 2·S@Cᵀ`` per subquantizer with numpy and takes the
    row argmin (first-minimum = lowest code, the same tiebreak as the
    expression path; agreement is pinned by pytest on the shared test
    corpus, with a tie-margin guard so a silent near-tie flip cannot
    hide). One mapInPandas pass, no shuffle — same contract as
    pq_encode, ~100x at k=256. ``rotation`` applies the OPQ
    pre-transform (``V @ Rᵀ``) before encoding — BLAS matmul here vs
    the expression path's left-to-right fold differ only in float
    rounding, which the same tie-margin guard covers."""
    import numpy as np

    m = len(codebooks)
    sub = len(codebooks[0][0])
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    CB = [np.asarray(cb, dtype="float64") for cb in codebooks]
    R = (
        np.asarray(rotation, dtype="float64")
        if rotation is not None
        else None
    )
    # never .add() onto df.schema — that mutates the DataFrame's cached
    # python-side schema and desyncs it from the JVM plan
    out_fields = [
        f for f in df.schema.fields if not (drop_vec and f.name == vec_col)
    ]
    out_schema = StructType(
        out_fields + [StructField(code_col, ArrayType(IntegerType()))]
    )
    out_cols = [f.name for f in out_fields]

    def enc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            if R is not None:
                V = V @ R.T
            codes = np.empty((len(pdf), m), dtype="int32")
            for mi in range(m):
                S = V[:, mi * sub : (mi + 1) * sub]
                C = CB[mi]
                d = (
                    (S**2).sum(axis=1)[:, None]
                    + (C**2).sum(axis=1)[None, :]
                    - 2.0 * (S @ C.T)
                )
                codes[:, mi] = np.argmin(d, axis=1)
            out = pdf[out_cols].copy()
            out[code_col] = [list(map(int, row)) for row in codes]
            yield out

    return df.mapInPandas(enc, schema=out_schema)


def ivf_pq_encode_fused(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    cell_col: str = "cell_id",
    rotation: list[list[float]] | None = None,
    residual: bool = True,
    probe_cells: Sequence[int] | None = None,
    drop_vec: bool = False,
) -> DataFrame:
    """The whole IVFPQ build chain — optional OPQ rotation, coarse-cell
    argmin assignment, optional residual subtraction, PQ encode — in ONE
    Arrow pass. The expression-side composition (rotate_expr /
    assign_cells_literal / residual_expr / pq_encode) inlines the
    rotation tree into every per-cell and per-code distance struct after
    projection collapse, so Catalyst plans/optimizes a multi-megabyte
    expression whose cost dwarfs the data compute on anything but a
    huge corpus; here the plan is one MapInPandas node and the per-row
    work is four BLAS calls per batch.

    Numeric contract: assignment is argmin over ``centroids`` sorted by
    cell id (first-minimum = lowest id, the assign_cells_literal
    tiebreak) and encoding is the pq_encode_matmul argmin; both compute
    |s|^2+|c|^2-2*S@C^T, which differs from the expression/oracle fold
    only in float rounding — safe exactly while no (row, cell) or
    (row, subquantizer) distance pair is nearly tied, which the
    tie-margin pytests assert on every corpus the driver hashes.

    ``probe_cells`` drops non-probed rows inside the pass (before the
    encode work and the Arrow return trip). ``drop_vec`` omits the
    vector column from the output — mapInPandas is a pruning barrier,
    so callers that only need (ids, cell, codes) should set it rather
    than ship the vectors back through Arrow.
    """
    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StructField,
        StructType,
    )

    cents_sorted = sorted(
        ((int(cid), c) for cid, c in centroids), key=lambda t: t[0]
    )
    cell_ids = np.asarray([cid for cid, _ in cents_sorted], dtype="int64")
    C = np.asarray([c for _, c in cents_sorted], dtype="float64")
    CB = [np.asarray(cb, dtype="float64") for cb in codebooks]
    m = len(codebooks)
    sub = len(codebooks[0][0])
    R = np.asarray(rotation, dtype="float64") if rotation is not None else None
    keep = (
        np.asarray(sorted(int(p) for p in probe_cells), dtype="int64")
        if probe_cells is not None
        else None
    )

    out_fields = [f for f in df.schema.fields if not (drop_vec and f.name == vec_col)]
    out_schema = StructType(
        out_fields
        + [
            StructField(cell_col, IntegerType()),
            StructField(code_col, ArrayType(IntegerType())),
        ]
    )
    out_cols = [f.name for f in out_fields]

    def enc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            if R is not None:
                V = V @ R.T
            d_cell = (
                (V**2).sum(axis=1)[:, None]
                + (C**2).sum(axis=1)[None, :]
                - 2.0 * (V @ C.T)
            )
            assign = np.argmin(d_cell, axis=1)
            cells = cell_ids[assign]
            out = pdf[out_cols].copy()
            if keep is not None:
                mask = np.isin(cells, keep)
                if not mask.any():
                    continue
                out = out.iloc[mask].copy()
                V = V[mask]
                assign = assign[mask]
                cells = cells[mask]
            X = V - C[assign] if residual else V
            codes = np.empty((len(X), m), dtype="int32")
            for mi in range(m):
                S = X[:, mi * sub : (mi + 1) * sub]
                Cm = CB[mi]
                d = (
                    (S**2).sum(axis=1)[:, None]
                    + (Cm**2).sum(axis=1)[None, :]
                    - 2.0 * (S @ Cm.T)
                )
                codes[:, mi] = np.argmin(d, axis=1)
            out[cell_col] = [int(c) for c in cells]
            out[code_col] = [list(map(int, row)) for row in codes]
            yield out

    return df.mapInPandas(enc, schema=out_schema)


def sign_pack(vec, dim: int, bits_per_word: int = 32) -> Column:
    """Binary (sign) quantization: pack ``sign(v_i) > 0`` bits into an
    array<long> of ceil(dim/bits_per_word) words — 32x compression over
    float32 at bits_per_word=32 and the coarsest member of the
    quantization family (JL/int8/PQ are the finer knobs). Packing is a
    SUM of distinct powers of two per word (identical to bitwise OR for
    distinct bits, and ANSI-safe at <= 31-bit shifts on every engine a
    SQL oracle might run) — one aggregate fold per word, zero shuffle,
    whole-stage codegen. Hamming distance over packed words
    approximates angular distance (Charikar 2002 — the same hyperplane
    family embedding_neardup_lsh banding uses, here axis-aligned for
    oracle replayability; rotate first via rotate_expr for the random-
    hyperplane form).

    Construction (a ~220 ms py4j HOF chain at dim=64) is memoized on
    the column NAME + every parameter — see ``memo_expr``. Only string
    inputs are memoized (plan-bound Columns render like ``F.col`` but
    resolve against one DataFrame — see minhash_signature)."""
    if isinstance(vec, Column):
        return _build_sign_pack(vec, dim, bits_per_word)
    return memo_expr(
        ("sign_pack", vec, dim, bits_per_word),
        lambda: _build_sign_pack(F.col(vec), dim, bits_per_word),
    )


def _build_sign_pack(v: Column, dim: int, bits_per_word: int) -> Column:
    n_words = (dim + bits_per_word - 1) // bits_per_word
    words = []
    for w in range(n_words):
        lo = w * bits_per_word
        n_bits = min(bits_per_word, dim - lo)
        # one zip_with+aggregate HOF per word (~15 py4j calls) instead
        # of a per-bit when/element_at chain (~40 calls PER BIT — the
        # old form cost ~1.2 s of driver round-trips per build at
        # dim=64). Value-identical: integer sum of the same distinct
        # powers of two, left-to-right; a NULL vector folds to NULL
        # here where the per-bit chain gave 0, so coalesce restores
        # the exact old contract. A short vector zip_with-pads with
        # NULL elements whose when() contributes 0 — same as the old
        # element_at-past-end NULLs.
        masks = const_long_array(1 << i for i in range(n_bits))
        word = F.aggregate(
            F.zip_with(
                F.slice(v, lo + 1, n_bits),
                masks,
                lambda x, m: F.when(x > 0, m).otherwise(
                    F.lit(0).cast("long")
                ),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        words.append(F.coalesce(word, F.lit(0).cast("long")))
    return F.array(*words)


def _chain_add(cols: list[Column]) -> Column:
    """Left-to-right chained adds (matches SQL list_sum / Python sum —
    the fold-order family every oracle-replayed expression uses)."""
    import functools
    import operator as op

    return functools.reduce(op.add, cols)


def sign_pack_py(vec: Sequence[float], bits_per_word: int = 32) -> list[int]:
    """Driver-side twin of :func:`sign_pack` for query vectors."""
    dim = len(vec)
    n_words = (dim + bits_per_word - 1) // bits_per_word
    out = []
    for w in range(n_words):
        lo = w * bits_per_word
        word = 0
        for i in range(min(bits_per_word, dim - lo)):
            if float(vec[lo + i]) > 0:
                word += 1 << i
        out.append(word)
    return out


def _hamming_expr(
    query_vec: Sequence[float], code_col: str, bits_per_word: int = 32
) -> Column:
    """The shared Hamming-distance expression over sign-packed codes:
    per row, XOR each word against the packed query literal and
    bit_count — pure integer codegen, with a per-row word-count guard
    that fails LOUD on a dimension mismatch (query packed at a
    different dim/bits_per_word than the stored codes): element_at
    past the end would return NULL, bit_count would propagate it, and
    the mismatched row would silently sort LAST via asc_nulls_last
    instead of erroring. assert_true returns NULL when the check
    passes, so the coalesce adds 0 and the distance is unchanged —
    one integer compare per row, still whole-stage codegen."""
    q = sign_pack_py(query_vec, bits_per_word)
    code = F.col(code_col)
    ham = _chain_add(
        [
            F.bit_count(
                F.element_at(code, w + 1).bitwiseXOR(
                    F.lit(int(qw)).cast("long")
                )
            ).cast("long")
            for w, qw in enumerate(q)
        ]
    )
    guard = F.assert_true(
        F.size(code) == F.lit(len(q)),
        F.concat(
            F.lit(
                f"hamming distance: query packs to {len(q)} words "
                f"(dim {len(query_vec)} @ {bits_per_word} bits/word) "
                f"but stored {code_col} has "
            ),
            F.size(code).cast("string"),
            F.lit(" words"),
        ),
    )
    return ham + F.coalesce(guard.cast("long"), F.lit(0))


def hamming_topk(
    df_packed: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    id_cols: Sequence[str] = ("vec_id",),
    code_col: str = "sign_code",
    bits_per_word: int = 32,
) -> DataFrame:
    """Top-k by Hamming distance over sign-packed codes: per row, XOR
    each word against the packed query literal and bit_count — pure
    integer codegen, ~2 instructions per word at scale (the scan reads
    n_words longs per row, never the embedding), then
    TakeOrderedAndProject. Integer distances make the result exactly
    hash-checkable (no float rounding anywhere). Output
    (rank, ids..., hamming); rerank the top-k' against exact distances
    when angular precision matters — the same refinement contract as
    PQ serving (:func:`hamming_topk_rerank` is that composition in one
    plan)."""
    ham = _hamming_expr(query_vec, code_col, bits_per_word)
    scored = df_packed.select(*id_cols, ham.alias("hamming"))
    return ranked_top_k(scored, _nearest_first(id_cols[0], "hamming"), k)


def hamming_topk_rerank(
    df_packed: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    shortlist: int = 100,
    vec_col: str = "embedding",
    id_cols: Sequence[str] = ("vec_id",),
    code_col: str = "sign_code",
    bits_per_word: int = 32,
) -> DataFrame:
    """The binary-quantization serving pattern in ONE plan (the
    :func:`pq_search_rerank` contract at the coarsest tier): the
    integer Hamming scan shortlists ``shortlist`` candidates over the
    packed sign codes — XOR+popcount per row, the cheapest possible
    candidate generator — then the exact L2 fold reranks only those.
    No collect, no second job; the shortlist stage is a
    TakeOrderedAndProject carrying the embedding column, so the
    expensive exact distance runs on ``shortlist`` rows total. Sign
    bits only preserve ANGULAR order (Charikar 2002), so recall comes
    from the rerank — recall@k rises with shortlist exactly as PQ's
    does (SCALE recall rows). The exact stage is :func:`knn` over the
    shortlist, so the output is knn's (rank, ids, distance,
    similarity)."""
    ham = _hamming_expr(query_vec, code_col, bits_per_word)
    short = top_k(
        df_packed.select(*id_cols, vec_col, ham.alias("_ham")),
        _nearest_first(id_cols[0], "_ham"),
        shortlist,
    )
    return knn(short, query_vec, k, vec_col, id_cols)


def rotate_expr(vec, rotation: list[list[float]]) -> Column:
    """Expression-side orthogonal rotation ``R @ v`` of an array column
    (the OPQ pre-transform): the d x d matrix is inlined as a 2-D
    literal and each output element is one zip_with-multiply +
    left-to-right aggregate fold — a HOF expression tree of size O(d),
    not O(d²), so it stays compilable at d=64+. ZERO shuffle, no
    Python. Float caveat: the fold order differs from BLAS matmul in
    the low bits; code agreement between the two encode paths is pinned
    by the tie-margin test, not bit-identity of the rotation itself."""
    v = vec if isinstance(vec, Column) else F.col(vec)
    rlit = const_double_array(rotation, depth=2)
    idx = F.sequence(F.lit(1), F.lit(len(rotation)))
    return F.transform(
        idx,
        lambda i: F.aggregate(
            F.zip_with(
                v, F.element_at(rlit, i.cast("int")), lambda a, b: a * b
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def pq_train_opq_rotation(
    df: DataFrame,
    m: int,
    vec_col: str = "embedding",
    sample_n: int = 10_000,
    seed: int = 42,
) -> list[list[float]]:
    """Parametric OPQ rotation (Ge et al. 2014, OPQ-P): when subvector
    dimensions are correlated, plain PQ wastes codebook entropy — the
    standard fix is an orthogonal rotation learned so the m subspaces
    carry BALANCED variance with decorrelated dims. This is the
    eigen-allocation construction: eigendecompose the sampled
    covariance (one driver-side d x d problem — d is 64-1024, trivial),
    then greedily deal eigenvectors (largest eigenvalue first) to the
    subspace with the smallest variance PRODUCT that still has a free
    slot. Returns R (d x d, rows orthonormal) for
    ``pq_encode(..., rotation=R)``; train codebooks on rotated vectors.

    Scale shape: ONE bounded sample collect (sample_n rows x d doubles)
    + numpy eigh on the driver; the corpus itself is never shuffled or
    collected; one counting scan sizes the sample fraction. The
    full-table rotation happens later,
    inside the encode pass (expression or BLAS), so OPQ adds zero extra
    Spark jobs to encoding."""
    import numpy as np

    dim_row = df.select(F.size(vec_col).alias("d")).first()
    if dim_row is None:
        raise ValueError("pq_train_opq_rotation: empty input")
    d = int(dim_row["d"])
    assert d % m == 0, f"dim {d} not divisible by m {m}"
    fraction = min(1.0, (sample_n * 1.2) / max(df.count(), 1))
    sample = (
        df.select(F.col(vec_col).cast("array<double>").alias("_v"))
        .sample(fraction=fraction, seed=seed)
        .limit(sample_n)
        .collect()
    )  # bounded: ≤ sample_n rows of d doubles
    X = np.asarray([r["_v"] for r in sample], dtype="float64")
    X = X - X.mean(axis=0, keepdims=True)
    cov = (X.T @ X) / max(len(X) - 1, 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1]
    evals, evecs = evals[order], evecs[:, order]
    # greedy balanced allocation: log-domain products, largest first
    sub = d // m
    bucket_log = [0.0] * m
    bucket_slots = [sub] * m
    buckets: list[list[int]] = [[] for _ in range(m)]
    eps = 1e-12
    for ei in range(d):
        free = [b for b in range(m) if bucket_slots[b] > 0]
        tgt = min(free, key=lambda b: (bucket_log[b], b))
        buckets[tgt].append(ei)
        bucket_log[tgt] += float(np.log(max(evals[ei], eps)))
        bucket_slots[tgt] -= 1
    perm = [ei for b in buckets for ei in b]
    # R rows = permuted eigenvectors: (R @ v)[i] = evec_{perm[i]} · v,
    # so consecutive sub-dims of the rotated vector form one subspace
    R = evecs[:, perm].T
    return [[float(x) for x in row] for row in R]


def residual_expr(
    vec,
    cent_rows: list[tuple[int, list[float]]],
    cell_col: str = "cell_id",
) -> Column:
    """Expression-side IVF residual ``v − centroid[cell_id]``: the
    centroid table is inlined as two parallel literals (ids + vectors),
    the row's centroid is one array_position + element_at, and the
    subtraction is a zip_with — ZERO shuffle, no Python, no join. This
    is the residual-encoding half of real IVFPQ (FAISS encodes the
    offset from the assigned coarse centroid, which concentrates the
    subvector distributions and buys recall at equal m on clustered
    corpora)."""
    v = vec if isinstance(vec, Column) else F.col(vec)
    ids = const_long_array(cid for cid, _ in cent_rows)
    cents = const_double_array([c for _, c in cent_rows], depth=2)
    pos = F.array_position(ids, F.col(cell_col).cast("long"))
    anchor = F.element_at(cents, pos.cast("int"))
    return F.zip_with(v, anchor, lambda a, b: a - b)


def pq_adc_topk_residual(
    df_codes: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: Sequence[float],
    probed_cents: list[tuple[int, list[float]]],
    k: int = 10,
    id_cols: Sequence[str] = ("vec_id",),
    code_col: str = "pq_code",
    cell_col: str = "cell_id",
) -> DataFrame:
    """Residual-IVFPQ serving: ADC top-k where every probed cell gets
    its OWN query table built from the query RESIDUAL (q − centroid of
    that cell) — codes were trained/encoded on residuals, so the lookup
    table must be too. The nprobe tables of m x k doubles fold
    driver-side (bounded) into ONE 3-D literal indexed by the row's
    cell position (array_position on the probed-id literal), so the
    per-row distance stays m element_at lookups + adds regardless of
    nprobe — a when-chain per cell would copy the m-lookup chain nprobe
    times and blow the expression tree (measured 3.7x slower at
    nprobe=8). Still zero Python, still TakeOrderedAndProject."""
    if not probed_cents:
        raise ValueError("pq_adc_topk_residual: no probed cells")
    # [cell][m][code] in probed order
    t3 = const_double_array(
        _residual_tables(codebooks, query_vec, probed_cents), depth=3
    )
    probe_ids = const_long_array(cid for cid, _ in probed_cents)
    cell_pos = F.array_position(
        probe_ids, F.col(cell_col).cast("long")
    ).cast("int")
    dist = _adc_lookup(F.element_at(t3, cell_pos), code_col, len(codebooks))
    scored = df_codes.select(*id_cols, dist.alias("adc_distance"))
    return ranked_top_k(scored, _nearest_first(id_cols[0], "adc_distance"), k)


def pq_adc_topk_residual_join(
    df_codes: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: Sequence[float],
    probed_cents: list[tuple[int, list[float]]],
    k: int = 10,
    id_cols: Sequence[str] = ("vec_id",),
    code_col: str = "pq_code",
    cell_col: str = "cell_id",
) -> DataFrame:
    """Broadcast-join twin of :func:`pq_adc_topk_residual`, and the
    SERVING default above tiny probes: the literal path's plan grows with
    nprobe·m·k (at 200k rows, 17.4 s vs the join's 9.5 s at 2048 doubles).
    The tables become a tiny nprobe-row DataFrame broadcast-joined on
    ``cell_col`` — plan size O(1) in nprobe·k, the per-row cost still m
    element_at lookups + adds on the joined table column, and the
    broadcast ships nprobe·m·k doubles ONCE per executor instead of
    once per plan copy. Same output contract (same ``_adc_table``
    construction and fold order — identical distances, agreement-pinned
    by pytest); ``IvfIndex.search_pq`` picks between the twins by table
    size, keeping the literal only at/below
    ``IvfIndex.ADC_LITERAL_MAX_DOUBLES`` (512) where the two are within
    host noise (and for SQL-oracle replayability)."""
    if not probed_cents:
        raise ValueError("pq_adc_topk_residual_join: no probed cells")
    tdf = df_codes.sparkSession.createDataFrame(
        [
            (int(cid), table)
            for (cid, _), table in zip(
                probed_cents,
                _residual_tables(codebooks, query_vec, probed_cents),
            )
        ],
        "_adc_cell long, _adc_tab array<array<double>>",
    )
    joined = df_codes.join(
        F.broadcast(tdf),
        F.col(cell_col).cast("long") == F.col("_adc_cell"),
        "inner",
    )
    dist = _adc_lookup(F.col("_adc_tab"), code_col, len(codebooks))
    scored = joined.select(*id_cols, dist.alias("adc_distance"))
    return ranked_top_k(scored, _nearest_first(id_cols[0], "adc_distance"), k)


def mmr_rerank(
    candidates: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    id_col: str = "doc_id",
    score_col: str = "score",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance re-rank of a BOUNDED candidate set
    (Carbonell & Goldstein 1998) — the diversity pass over a fused
    retrieval shortlist (hybrid RRF top-N): greedily pick the candidate
    maximizing ``lam * rel01 − (1 − lam) * max_cos_to_selected``, where
    rel01 is the min-max-normalized relevance within the set (1.0 when
    all scores tie) and ties break on the lowest id. Output one row per
    pick: (id, mmr_rank, mmr_score).

    Scale shape: MMR is inherently sequential in k and quadratic in the
    candidate count, so it ONLY ever runs on an already-reduced
    shortlist (N ≲ a few hundred — here via one single-group
    applyInPandas task; the upstream top-N reduction is the distributed
    part). The arithmetic is pure left-to-right Python floats, NOT
    numpy — bounded N makes BLAS pointless and exact fold order lets
    the DuckDB oracle replay every selection bit-for-bit.
    """
    import math

    import pandas as pd  # noqa: F401

    one_minus = 1 - lam

    def _dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    def _cos(a, b):
        na = math.sqrt(_dot(a, a))
        nb = math.sqrt(_dot(b, b))
        return _dot(a, b) / (na * nb) if na > 0 and nb > 0 else 0.0

    def greedy(pdf):
        import pandas as pd

        rows = sorted(
            pdf.to_dict("records"), key=lambda r: r[id_col]
        )
        vals = [float(r[score_col]) for r in rows]
        lo, hi = min(vals), max(vals)
        rng = hi - lo

        def rel01(r):
            return 1.0 if rng == 0 else (float(r[score_col]) - lo) / rng

        selected: list = []
        remaining = list(rows)
        out = []
        while remaining and len(selected) < k:
            best, best_key = None, None
            for r in remaining:
                # max over ALL sims, unclamped (a negative max-sim is a
                # diversity BONUS, same as SQL greatest()); 0.0 only for
                # the empty first-pick set
                ms = (
                    max(
                        _cos(list(r[vec_col]), list(s[vec_col]))
                        for s in selected
                    )
                    if selected
                    else 0.0
                )
                sc = lam * rel01(r) - one_minus * ms
                key = (-sc, r[id_col])
                if best is None or key < best_key:
                    best, best_key = r, key
            selected.append(best)
            remaining.remove(best)
            out.append((best[id_col], len(selected), -best_key[0]))
        return pd.DataFrame(
            out, columns=[id_col, "mmr_rank", "mmr_score"]
        )

    # derive the id type from the input — retrieval shortlists are often
    # keyed by string ids, and a hardcoded `long` would fail (or coerce)
    # at Arrow conversion time
    id_type = candidates.schema[id_col].dataType.simpleString()
    return (
        candidates.select(id_col, score_col, vec_col)
        .withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(
            greedy,
            schema=f"{id_col} {id_type}, mmr_rank int, mmr_score double",
        )
    )
