"""Driver-local answers for small serving reads.

``IvfIndex.search``, ``TextIndex.search`` and ``VectorStore.search`` each
prune their input to a few partition directories (the probed cells, the
query-term posting buckets, the retained days). When those files are
small, a Spark job costs far more than the work: every request pays the
job floor (~0.3 s on 4 cores) to score a few thousand rows. This module
answers such a read in the driver instead: pyarrow reads only the needed
columns of exactly the files the Spark plan would prune to, numpy scores
and ranks them, and the top-k comes back as an Arrow-backed DataFrame. A
small Arrow input is a ``LocalRelation``, so collecting it runs no job.

The stores keep their own layout, recovery, tombstone and retention
logic; this module holds only what the three reads share. Which path
answers depends on the input alone (:func:`use_local`): no ``where``
predicate and at most :data:`LOCAL_READ_MAX_BYTES` of files. Everything
else keeps the Spark plan, which is also the reference the parity tests
compare against. A batch read is the single read run once per query
(:func:`batch`), so each query takes the path its own read would.

The arithmetic replays the Spark expressions bit for bit:

- distances fold left to right over the dimension, one column at a time
  (``acc = acc + x``), as ``aggregate(zip_with(...), 0.0, +)`` does;
  numpy's ``sum`` adds pairwise and can reorder near-ties;
- a row whose embedding is null, holds a null, or has a length other
  than the query's gets a null distance (``zip_with`` pads the shorter
  side with nulls) and ranks last, after any NaN distance;
- logarithms go through ``java.lang.StrictMath.log``, the function
  Spark's ``log`` evaluates; libm's ``log`` differs from it in the last
  bit for about one argument in five;
- :func:`spark_round` is Spark's ``round`` on a double: HALF_UP on the
  shortest decimal that prints the double.

No state survives a request: each read lists and reads its files anew,
so a store stays safe to mutate between reads.
"""

from __future__ import annotations

import logging
import math
import os
from collections.abc import Iterable, Sequence
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Read bound of the driver-local path, in bytes of parquet on disk.
# Measured on a 4-core / 15 GB host, local[4], IVF search over probed
# cells of 64-d double vectors, p50 local vs Spark: 4.7 MiB 0.07 vs
# 0.60 s, 47 MiB 0.43 vs 0.95 s, 94 MiB 0.82 vs 1.52 s, 141 MiB 1.21 vs
# 1.89 s. The local path won at every size measured, so no crossover
# was reached below 141 MiB; the bound is set by driver memory instead.
# A local read peaked at ~3.5x its file bytes (189 MiB RSS for 47 MiB),
# so 64 MiB keeps one request under ~250 MiB of driver memory.
LOCAL_READ_MAX_BYTES = 64 * 1024 * 1024

log = logging.getLogger(__name__)


def data_files(dirs: Iterable) -> list[str]:
    """The parquet data files directly under ``dirs`` (sorted per
    directory), skipping the hidden and ``_``-prefixed names Spark's file
    index skips too."""
    out: list[str] = []
    for d in dirs:
        if not os.path.isdir(d):
            continue
        out += sorted(
            os.path.join(d, f)
            for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
    return out


def use_local(what: str, files: Sequence[str], where=None) -> bool:
    """Whether the driver-local path answers a read of ``files``: no
    ``where`` predicate and at most :data:`LOCAL_READ_MAX_BYTES`. Logs
    one DEBUG line naming the path and the bytes it reads."""
    nbytes = sum(os.path.getsize(f) for f in files)
    local = where is None and nbytes <= LOCAL_READ_MAX_BYTES
    log.debug(
        "%s: %s path, %d bytes in %d files",
        what, "local" if local else "spark", nbytes, len(files),
    )
    return local


def read(
    files: Sequence[str],
    columns: Sequence[str],
    *,
    cast: dict[str, pa.DataType] | None = None,
    partition_cols: Sequence[str] = (),
) -> pa.Table | None:
    """``columns`` of every file, concatenated, or None without files.
    ``cast`` converts columns per file (files appended at different times
    may store a float or a double vector); each ``partition_cols`` name
    becomes an int32 column holding the file's ``<name>=<value>``
    directory value, as Spark's partition discovery infers it."""
    parts = []
    for f in files:
        t = read_file(f, columns)
        for name, typ in (cast or {}).items():
            i = t.schema.get_field_index(name)
            t = t.set_column(i, name, t.column(i).cast(typ))
        for name in partition_cols:
            t = t.append_column(
                name, pa.array(np.full(t.num_rows, _partition_value(f, name), np.int32))
            )
        parts.append(t)
    return pa.concat_tables(parts, promote_options="permissive") if parts else None


def read_file(path: str, columns: Sequence[str]) -> pa.Table:
    """One parquet file's ``columns`` (never any other)."""
    return pq.ParquetFile(path).read(columns=list(columns))


def _partition_value(path: str, name: str) -> int:
    for part in reversed(os.path.normpath(path).split(os.sep)):
        if part.startswith(name + "="):
            return int(part.split("=", 1)[1])
    raise ValueError(f"{path} is not under a {name}= directory")


def schema_of(root, columns: Sequence[str]) -> pa.Schema | None:
    """The Arrow schema of ``columns`` in the first data file under
    ``root`` (None without one): the types an empty answer carries,
    read from one footer, as Spark infers a table's schema."""
    for d, subdirs, _names in os.walk(root):
        subdirs[:] = sorted(s for s in subdirs if not s.startswith((".", "_")))
        for f in data_files([d]):
            s = pq.read_schema(f)
            return pa.schema([s.field(c) for c in columns])
    return None


# ----------------------------------------------------------- distances


def vectors(col, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """``(X, valid)``: the list column as an (n, dim) float64 matrix and
    the mask of rows that hold exactly ``dim`` non-null values. Invalid
    rows are zero in ``X``; their distance is null."""
    arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    n = len(arr)
    lengths = pc.list_value_length(arr).fill_null(-1).to_numpy()
    flat = arr.flatten()
    values = flat.cast(pa.float64()).to_numpy(zero_copy_only=False)
    inner_null = (
        flat.is_null().to_numpy(zero_copy_only=False) if flat.null_count else None
    )
    valid = lengths == dim
    if valid.all():
        X = values.reshape(n, dim)
        if inner_null is not None:
            valid = ~inner_null.reshape(n, dim).any(axis=1)
    else:
        X = np.zeros((n, dim))
        if valid.any():
            starts = np.concatenate(([0], np.cumsum(np.maximum(lengths, 0))[:-1]))
            idx = starts[valid][:, None] + np.arange(dim)
            X[valid] = values[idx]
            if inner_null is not None:
                valid[valid] = ~inner_null[idx].any(axis=1)
    if not valid.all():
        X = np.where(valid[:, None], X, 0.0)
    return X, valid


def _fold(X: np.ndarray, q: Sequence[float] | None, term) -> np.ndarray:
    """``0.0 + term(x_0, q_0) + term(x_1, q_1) + ...`` per row, left to
    right: the order Spark's ``aggregate`` adds in (``q`` None: the row
    against itself). Rows go in cache-sized blocks, each transposed so
    a column is contiguous."""
    out = np.empty(len(X))
    block = 8192
    for s in range(0, len(X), block):
        cols = np.ascontiguousarray(X[s : s + block].T)
        acc = np.zeros(cols.shape[1])
        for j, c in enumerate(cols):
            acc += term(c, c if q is None else float(q[j]))
        out[s : s + block] = acc
    return out


def l2_squared(X: np.ndarray, q: Sequence[float]) -> np.ndarray:
    def sq(x, y):
        d = x - y
        d *= d
        return d

    return _fold(X, q, sq)


def dot(X: np.ndarray, q: Sequence[float] | None) -> np.ndarray:
    return _fold(X, q, lambda x, y: x * y)


def knn_scores(
    X: np.ndarray, valid: np.ndarray, q: Sequence[float], metric: str
) -> tuple[np.ndarray, np.ndarray]:
    """``(distance, similarity)`` as ``operators.vector.knn`` computes
    them; rows outside ``valid`` are null there. Cosine folds the query
    norm in Python as ``knn`` does; a zero norm raises, as Spark's ANSI
    division does."""
    if metric == "l2":
        dist = l2_squared(X, q)
        return dist, 1.0 - dist / 2.0
    if metric != "cosine":
        raise ValueError(f"unknown metric: {metric}")
    qn = math.sqrt(sum(float(x) * float(x) for x in q))
    denom = np.sqrt(dot(X, None)) * qn
    if (denom[valid] == 0.0).any():
        raise ArithmeticError("[DIVIDE_BY_ZERO] zero-norm vector in a cosine search")
    with np.errstate(divide="ignore", invalid="ignore"):
        dist = 1.0 - dot(X, q) / denom
    return dist, 1.0 - dist


# -------------------------------------------------------------- top-k


def dense_key(col) -> np.ndarray:
    """Order-preserving int codes 0..n-1 of a column's distinct values,
    nulls first, as Spark's ``asc`` orders them (strings by UTF-8
    bytes)."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    ranks = pc.rank(
        col, sort_keys="ascending", null_placement="at_start", tiebreaker="dense"
    )
    return ranks.to_numpy().astype(np.int64) - 1


def top_k(
    values: np.ndarray, ids, k: int, *, null=None, descending: bool = False
) -> np.ndarray:
    """Row indices of the first ``k`` rows ordered by ``values`` (rows in
    the ``null`` mask last, NaN after every number as Spark orders it),
    then by id ascending."""
    null = np.zeros(len(values), bool) if null is None else null
    v = np.where(null, 0.0, -values if descending else values)
    return np.lexsort([dense_key(ids), v, null])[: max(0, int(k))]


def rank_column(n: int) -> pa.Array:
    """``row_number()`` over ``n`` already-ordered rows."""
    return pa.array(np.arange(1, n + 1, dtype=np.int32))


def nullable(values: np.ndarray, null: np.ndarray) -> pa.Array:
    """A float64 Arrow array, null where ``null`` is set."""
    return pa.array(values, type=pa.float64(), mask=null)


# ---------------------------------------------------------- arithmetic


def strict_log(spark, x: float) -> float:
    """``java.lang.StrictMath.log(x)``: what Spark's ``log`` returns."""
    return float(spark.sparkContext._jvm.java.lang.StrictMath.log(float(x)))


def spark_round(x: float, scale: int) -> float:
    """Spark's ``round(x, scale)`` on a double: the decimal ``x`` prints
    as, rounded HALF_UP (Spark parses ``Double.toString``; Python's
    ``repr`` prints the same digits for every RRF value
    ``test_local_serve`` enumerates)."""
    if x != x or x in (float("inf"), float("-inf")):
        return x
    return float(
        Decimal(repr(x)).quantize(Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP)
    )


# --------------------------------------------------------------- wrap

RANK = pa.field("rank", pa.int32(), nullable=False)


def arrow_type(result, column: str) -> pa.DataType:
    """The Arrow type of ``column`` in a read's answer."""
    if isinstance(result, pa.Table):
        return result.schema.field(column).type
    from pyspark.sql.pandas.types import to_arrow_type

    return to_arrow_type(result.schema[column].dataType)


def _nullable(t: pa.DataType) -> pa.DataType:
    """``t`` with every field below it nullable."""
    if pa.types.is_struct(t):
        return pa.struct([pa.field(f.name, _nullable(f.type)) for f in t])
    if pa.types.is_list(t):
        return pa.list_(_nullable(t.value_type))
    if pa.types.is_large_list(t):
        return pa.large_list(_nullable(t.value_type))
    if pa.types.is_map(t):
        return pa.map_(t.key_type, _nullable(t.item_type))
    return t


def answer(spark, result):
    """The DataFrame a read returns: a Spark path's plan as is, a local
    path's Arrow table wrapped (its schema, nullability included, is the
    Spark path's).

    PySpark rebuilds a nested column whose children are nested (say
    ``array<struct<..., array<string>>>``) with nullable fields, then
    refuses to cast it back to fields declared not null. Such a table
    is wrapped with every nested field nullable; top-level nullability
    and all values are kept."""
    if not isinstance(result, pa.Table):
        return result
    try:
        return spark.createDataFrame(result)
    except pa.ArrowTypeError:
        relaxed = pa.schema([f.with_type(_nullable(f.type)) for f in result.schema])
        return spark.createDataFrame(result.cast(relaxed))


def batch(spark, queries: Sequence[tuple], serve, qid_type: pa.DataType):
    """Many reads as one DataFrame: ``serve(query)`` per ``(query_id,
    query)`` pair, each taking its own path, the answers concatenated
    behind a leading ``query_id`` column of ``qid_type``. A Spark
    answer is a top-k, so its ``toArrow()`` holds at most k rows.
    Raises ``ValueError`` for an empty batch or a repeated id."""
    if not queries:
        raise ValueError("empty query batch")
    ids = [qid for qid, _ in queries]
    if len(set(ids)) != len(ids):
        raise ValueError(f"repeated query id in {ids}")
    parts = []
    for qid, query in queries:
        t = serve(query)
        t = t if isinstance(t, pa.Table) else t.toArrow()
        qids = pa.array([qid] * t.num_rows, qid_type)
        parts.append(t.add_column(0, "query_id", qids))
    return answer(spark, pa.concat_tables(parts, promote_options="permissive"))


def rows(result, columns: Sequence[str]) -> list[tuple]:
    """``columns`` of a read's answer as tuples, in answer order: the
    local table's values, or the Spark plan collected."""
    if isinstance(result, pa.Table):
        return list(zip(*(result.column(c).to_pylist() for c in columns)))
    return [tuple(r) for r in result.select(*columns).collect()]
