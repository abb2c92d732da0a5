"""Vector functions: deterministic hash embeddings + cosine kernels.

Replaces the reference's Voyage embedding client
(/root/reference/services/providers/voyage/voyage_client.py:222-355) with a
deterministic, hermetic hash-embedding (tests/bench), and pgvector's
``v <=> q`` cosine distance (/root/reference/repositories/retrieval_repo.py:271)
with two kernels:

  * ``cosine_sim_col`` — pure Spark SQL expression (zip_with + aggregate),
    JVM-side, float64 accumulation in input order: bit-compatible with a
    sequential-fold SQL oracle.
  * ``CosineTopK`` via numpy inside pandas UDFs for the batch/matrix path
    (Arrow transfer, BLAS dot) — the hot path for kNN at scale.

All UDFs are vectorized pandas/Arrow (input_hint: no per-row Python in the
row-at-a-time sense; per-batch numpy only).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, FloatType

from raptor_service_spark.schema import N_DIM


# ---------------------------------------------------------------------------
# deterministic hash embedding
# ---------------------------------------------------------------------------


def hash_embed_np(
    texts: "pd.Series | list[str]", dim: int = N_DIM, rounds: int = 1
) -> np.ndarray:
    """L2-normalized deterministic embedding from SHAKE-256 extendable output.

    (FIXTURES.md §3.) Same text -> same vector on every executor, every run.

    Kernel design is deliberate for multi-core scale: one XOF call per text
    (pure C, tiny state, no allocator churn) then two vectorized passes over
    the (n, dim) block. The previous per-text ``np.random.default_rng``
    variant was allocator/memory-bound and capped at ~10x parallel speedup on
    32 cores; this kernel measures ~30x (see BASELINE.md scaling evidence).

    ``rounds`` chains the XOF (digest_i = shake(digest_{i-1})) to give the
    kernel a tunable compute cost. rounds=1 is the test default; the bench
    pipeline uses a higher count to model what the embed stage costs with a
    real model (C7, voyage-context-3: transformer inference is orders of
    magnitude more compute per span than one hash), so the benchmark's
    bottleneck structure — compute-bound embed, not I/O-bound — matches a
    production deployment.
    """
    n = len(texts)
    if n == 0:
        return np.empty((0, dim), dtype=np.float64)
    nb = dim * 8

    def xof(t) -> bytes:
        d = hashlib.shake_256(str(t).encode()).digest(nb)
        for _ in range(rounds - 1):
            d = hashlib.shake_256(d).digest(nb)
        return d

    buf = b"".join(xof(t) for t in texts)
    x = np.frombuffer(buf, dtype="<u8").reshape(n, dim)
    # top 53 bits -> uniform [-1, 1); exact same floats on every platform
    v = (x >> np.uint64(11)).astype(np.float64) / float(1 << 52) - 1.0
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v


def hash_embed_udf(dim: int = N_DIM):
    """Arrow-batched pandas UDF: text -> array<float> embedding."""

    @F.pandas_udf(ArrayType(FloatType()))
    def _embed(texts: pd.Series) -> pd.Series:
        mat = hash_embed_np(texts, dim).astype(np.float32)
        return pd.Series(list(mat))

    return _embed


# ---------------------------------------------------------------------------
# cosine kernels
# ---------------------------------------------------------------------------


def l2_normalize_col(vec: Column) -> Column:
    norm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.transform(vec, lambda x: (x / norm).cast("float"))


def cosine_sim_col(vec: Column, q: np.ndarray) -> Column:
    """JVM-side cosine similarity of a vector column against a literal query.

    zip_with product + sequential-fold aggregate in float64 — whole-stage
    codegen, no Python worker. For dims <= ~2k the literal array is cheap.
    Raises ValueError on a zero-norm or non-finite query, which would
    otherwise fail inside a Spark task.
    """
    q = np.asarray(q, dtype=np.float64)
    qnorm = float(np.linalg.norm(q))
    if not np.isfinite(qnorm) or qnorm == 0:
        raise ValueError("query vector has a zero or non-finite norm")
    qlit = F.array(*[F.lit(float(x)) for x in q])
    dot = F.aggregate(
        F.zip_with(vec, qlit, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    vnorm = F.sqrt(
        F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    return dot / (vnorm * F.lit(qnorm))


def cosine_dist_col(vec: Column, q: np.ndarray) -> Column:
    """pgvector's ``<=>`` operator: 1 - cosine similarity."""
    return F.lit(1.0) - cosine_sim_col(vec, q)


def cosine_dist_udf(q: np.ndarray):
    """Arrow-batched matrix kernel: batch of vectors vs one query.

    float64 accumulation (SURVEY.md §7.4.1); BLAS matvec per Arrow batch.
    Faster than the SQL expression for dim >= ~256.
    """
    q64 = np.asarray(q, dtype=np.float64)
    qn = np.linalg.norm(q64)

    @F.pandas_udf(DoubleType())
    def _dist(vecs: pd.Series) -> pd.Series:
        mat = np.array(vecs.tolist(), dtype=np.float64)
        if mat.size == 0:
            return pd.Series([], dtype=np.float64)
        dots = mat @ q64
        norms = np.linalg.norm(mat, axis=1)
        return pd.Series(1.0 - dots / (norms * qn))

    return _dist


def pairwise_cosine_topk(
    mat: np.ndarray, queries: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Driver/UDF helper: top-k (indices, dists) per query row, ascending dist."""
    mat = np.asarray(mat, dtype=np.float64)
    queries = np.atleast_2d(np.asarray(queries, dtype=np.float64))
    sim = (queries @ mat.T) / (
        np.linalg.norm(queries, axis=1, keepdims=True) * np.linalg.norm(mat, axis=1)[None, :]
    )
    dist = 1.0 - sim
    k = min(k, mat.shape[0])
    idx = np.argpartition(dist, k - 1, axis=1)[:, :k]
    row = np.arange(queries.shape[0])[:, None]
    order = np.argsort(dist[row, idx], axis=1, kind="stable")
    idx = idx[row, order]
    return idx, dist[row, idx]


def embed_spans(df, text_col: str = "text", out_col: str = "v", dim: int = N_DIM):
    """Attach deterministic embeddings to a span DataFrame (UDF 1, SURVEY §2.12)."""
    return df.withColumn(out_col, hash_embed_udf(dim)(F.col(text_col)))


def mean_vector_udf(dim: int = N_DIM):
    """Grouped-agg pandas UDF: elementwise mean of vectors (centroid).

    Used for tile-node re-embedding aggregation when summaries are centroids.
    """

    @F.pandas_udf(ArrayType(FloatType()))
    def mean_vec(v: pd.Series) -> list:
        mat = np.array(v.tolist(), dtype=np.float64)
        c = mat.mean(axis=0)
        n = np.linalg.norm(c)
        if n > 0:
            c = c / n
        return [float(x) for x in c.astype(np.float32)]

    return mean_vec
