"""Similarity search over embedding columns (array<float>).

Two paths:
- brute-force cosine top-k: exact baseline; one pass over the data, no
  shuffle for the scoring itself (the query vector is a literal folded
  into the plan / a broadcast), one narrow top-k reduction.
- LSH-bucketed ANN (random hyperplanes): the scale path — bucket id is
  computed scan-side, candidates come from the query's bucket (+
  optional multi-probe), exact cosine re-rank only within candidates.

All vector math runs in column kernels (`kernel.arrow_kernel`, Arrow
batches in and out) over NumPy — vectorized ACROSS rows (one C-loop
per dimension, not per element) but accumulated SEQUENTIALLY across
dimensions, so every row's dot/norm is computed with the exact IEEE op
order of the sequential fold it replaced: results are bit-for-bit
unchanged and oracle-comparable.

Why not pure SQL expressions: higher-order lambdas
(aggregate/zip_with/transform) are interpreted per element with
boxing; flat element_at chains codegen, but at 64 dims a projection's
generated method exceeds janino's 64 KB limit, codegen fails, and the
giant tree is interpreted — measured slower than the lambdas. An Arrow
batch through NumPy does ~dim vectorized ops per thousand-row batch
and is the 100 TB scan path.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType

from ..kernel import arrow_kernel, column, view
from .dedup import bucket_pairs


def _matrix(arr: pa.ListArray) -> np.ndarray:
    """A batch of array<float> rows -> (n, dim) float64 matrix (exact
    widen). A null row or element, or rows of different lengths, raise
    ValueError: a bare reshape would silently regroup the values."""
    values = arr.flatten()
    if arr.null_count or values.null_count:
        raise ValueError(f"{arr.null_count + values.null_count} nulls in a batch of vectors")
    lengths = np.diff(view(arr.offsets))
    if (lengths != lengths[0]).any():
        raise ValueError(f"vector rows of lengths {lengths.min()}..{lengths.max()} in one batch")
    return view(values).astype(np.float64).reshape(len(arr), int(lengths[0]))


def _seq_sum(M: np.ndarray) -> np.ndarray:
    """Row sums of M added column by column, left to right: the IEEE op
    order of a sequential fold over dims. Every dot product, norm and
    distance of the scoring kernels and of their driver-side query
    twins is this sum of an elementwise product, so the two sides agree
    to the bit."""
    acc = np.zeros(M.shape[0])
    for j in range(M.shape[1]):
        acc = acc + M[:, j]
    return acc


def _vec(query: list[float]) -> np.ndarray:
    """A driver-side query as a (1, dim) float64 row (exact widen)."""
    return np.array([[float(v) for v in query]], dtype=np.float64)


def cosine_col(vec_col, query: list[float]):
    """Cosine(vector column, literal query) as an Arrow-batched Column."""
    q = _vec(query)
    qn = np.sqrt(_seq_sum(q * q))

    def cos(v):
        V = _matrix(v)
        return column(_seq_sum(V * q) / (np.sqrt(_seq_sum(V * V)) * qn))

    return arrow_kernel(lambda: cos, DoubleType())(vec_col)


def cosine_pair_col(a_col, b_col):
    """Cosine(vector column, vector column) as an Arrow-batched Column."""

    def cos(a, b):
        A, B = _matrix(a), _matrix(b)
        return column(_seq_sum(A * B) / (np.sqrt(_seq_sum(A * A)) * np.sqrt(_seq_sum(B * B))))

    return arrow_kernel(lambda: cos, DoubleType())(a_col, b_col)


def brute_force_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_ids: tuple = (),
    payload_cols: tuple = (),
) -> DataFrame:
    """Exact cosine top-k. The orderBy+limit compiles to TakeOrdered —
    a per-partition top-k then a single driver merge, not a full sort.
    `payload_cols` names extra columns to carry through (none by
    default — the input only needs `id_col` and `vec_col`)."""
    if exclude_ids:
        # before scoring: the kernel's non-deterministic mark keeps a
        # filter on the scored relation from reaching the scan
        df = df.where(~F.col(id_col).isin(list(exclude_ids)))
    cols = [F.col(id_col), *[F.col(c) for c in payload_cols]]
    scored = df.select(*cols, cosine_col(F.col(vec_col), query).alias("_cos"))
    return (
        scored.orderBy(F.desc("_cos"), F.col(id_col))
        .limit(k)
        .select(id_col, *payload_cols)
    )


def hyperplane_bucket(vec_col, planes: list[list[float]]):
    """LSH bucket id: bit h = sign(dot(v, plane_h)). Planes are literal
    numpy rows closed over the kernel — deterministic, no state.
    Per-plane dots use the sequential-over-dims order, matching the
    fold."""
    P = [_vec(p) for p in planes]

    def bucket_of(v):
        V = _matrix(v)
        bucket = np.zeros(V.shape[0], dtype=np.int64)
        for h, plane in enumerate(P):
            bucket |= (_seq_sum(V * plane) > 0).astype(np.int64) << h
        return column(bucket.astype(np.int32))

    return arrow_kernel(lambda: bucket_of, IntegerType())(vec_col)


def make_planes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (driver-side, seeded)."""
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def _query_bucket(query: list[float], planes: list[list[float]]) -> int:
    """Driver-side bucket id of a query vector: the sign rule AND the
    summation order of :func:`hyperplane_bucket`, so a query that is
    itself a stored row probes that row's bucket even when a dot is
    within rounding of zero."""
    dots = _seq_sum(np.array(planes, dtype=np.float64) * _vec(query))
    return sum(1 << h for h, d in enumerate(dots) if d > 0)


def lsh_ann_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 6,
    seed: int = 42,
    payload_cols: tuple = (),
) -> DataFrame:
    """ANN: restrict exact scoring to vectors in the query's hyperplane
    bucket. Scans the corpus and evaluates the bucket kernel on every
    row per query."""
    dim = len(query)
    planes = make_planes(dim, n_planes, seed)
    qbucket = _query_bucket(query, planes)
    bucketed = df.withColumn("_bucket", hyperplane_bucket(F.col(vec_col), planes))
    cands = bucketed.where(F.col("_bucket") == qbucket)
    return brute_force_topk(cands, query, k, vec_col, id_col, payload_cols=payload_cols)


def lsh_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.45,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Scale path for embedding near-dup: bucket by random hyperplanes,
    pair WITHIN buckets only (:func:`dedup.bucket_pairs`), exact cosine
    re-check. One equi-join on bucket id instead of an all-pairs
    product. Recall < 1 by construction (cross-bucket pairs are
    missed); raise recall with fewer planes or multiple plane sets
    (union of bucketings).

    The bucketed (id, v, bucket) relation is eagerly localCheckpointed
    once, here: ``hyperplane_bucket`` is marked nondeterministic (so
    pushed filters can't duplicate it), and ``bucket_pairs`` needs a
    deterministic input. Both join sides then scan the same stored partitions,
    so the bucket kernel runs ONCE per call, and AQE picks broadcast
    when a side fits and sort-merge at corpus scale."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = make_planes(dim, n_planes, seed)
    bucketed = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        hyperplane_bucket(F.col(vec_col), planes).alias("bucket"),
    ).localCheckpoint(eager=True)
    return (
        bucket_pairs(bucketed, ("bucket",), None, carry=("v",))
        .withColumn("cos", cosine_pair_col(F.col("v_a"), F.col("v_b")))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 4).alias("cosine"))
    )


def kmeans_centroids(
    x: np.ndarray, n_centroids: int = 16, iters: int = 10, seed: int = 42
) -> list[list[float]]:
    """Deterministic seeded k-means (fixed iterations) over a float64
    sample matrix — the shared IVF-quantizer core, also used to bake
    identical centroid literals into the DuckDB oracle."""
    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(cent)):
            members = x[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent.tolist()


def train_ivf_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    sample: int = 2000,
    iters: int = 10,
    seed: int = 42,
) -> list[list[float]]:
    """Driver-side k-means on a sample: the IVF coarse quantizer.
    Deterministic (seeded init, fixed iterations; the sample is the
    file-order row prefix, so any reader reproduces it). At 100 TB you
    train once on a sample and persist the centroids with the table."""
    rows = df.select(vec_col).limit(sample).collect()
    x = np.array([list(r[0]) for r in rows], dtype=np.float64)
    return kmeans_centroids(x, n_centroids, iters, seed)


def ivf_assign(vec_col, centroids: list[list[float]]):
    """Nearest-centroid id (argmin over squared distances; centroids are
    driver-side constants closed over a column kernel). Computed
    scan-side — at scale, write it as a partition column for pruned
    probes. Per-centroid distances use the sequential-over-dims order
    (matches a fold); np.argmin picks the first minimum, so ties pick
    the lowest centroid id — same semantics as a strict < fold."""
    C = [_vec(c) for c in centroids]

    def cell_of(v):
        V = _matrix(v)
        dists = np.empty((V.shape[0], len(C)))
        for i, c in enumerate(C):
            D = V - c
            dists[:, i] = _seq_sum(D * D)
        return column(np.argmin(dists, axis=1).astype(np.int32))

    return arrow_kernel(lambda: cell_of, IntegerType())(vec_col)


def ivf_ann_topk(
    df: DataFrame,
    query: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    payload_cols: tuple = (),
) -> DataFrame:
    """IVF probe: exact cosine top-k restricted to the n_probe nearest
    centroid cells of the query (distances summed like
    :func:`ivf_assign`'s)."""
    D = np.array(centroids, dtype=np.float64) - _vec(query)
    order = np.argsort(_seq_sum(D * D))
    probe = set(int(i) for i in order[:n_probe])
    assigned = df.withColumn("_cell", ivf_assign(F.col(vec_col), centroids))
    cands = assigned.where(F.col("_cell").isin(list(probe)))
    return brute_force_topk(cands, query, k, vec_col, id_col, payload_cols=payload_cols)


def cosine_pairs(
    df: DataFrame,
    threshold: float = 0.45,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """All pairs above a cosine threshold (embedding near-dup). Exact
    all-pairs — only for validation scale or within LSH buckets; the
    100 TB path is lsh bucket self-join (same hyperplane trick)."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine_pair_col(F.col("va"), F.col("vb")))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 4).alias("cosine"))
    )
