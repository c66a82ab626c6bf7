"""Optimized Product Quantization (OPQ) — learned rotation before PQ.

FAISS-family superset surface (``faiss::OPQMatrix`` feeding
``IndexPQ`` — the reference's flat index has no compressed tier at
all, /root/reference/include/faiss-metal/MetalIndexFlat.h:47): plain
PQ quantizes fixed d/m-dim slices, so correlated dimensions that span
slice boundaries waste codebook entropy. OPQ (Ge et al., CVPR 2013,
"Optimized Product Quantization") learns an orthogonal rotation R by
alternating two steps on a training sample:

1. fix R → train PQ codebooks on the rotated sample, assign codes;
2. fix the codes' reconstructions Y → solve the orthogonal Procrustes
   problem R* = argmin‖XRᵀ − Y‖_F (one d×d SVD).

Training is the repo's standard trainer discipline: ``train_sample``
hash-thresholded rows to the driver, numpy there (d×d SVD is trivial
for embedding dims), NEVER an iteration over the corpus. The corpus
only ever sees the learned R once, as an Arrow-batched matmul
projection (one BLAS GEMM per batch — the same boundary the kNN gemm
path uses); everything downstream (encode, ADC search, refine) is the
existing oracle-tested PQ machinery operating in the rotated space.
Rotations preserve L2, so distances and ranks returned by
``opq_search`` are directly comparable to plain-PQ output — just more
accurate for the same m bytes/vector (pinned by test: OPQ
reconstruction MSE ≤ plain PQ on cross-slice-correlated data).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .pq import KSUB, train_books_np


def _assign_np(Xr: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, d) rotated sample → (n, m) uint8 codes (host-side, train only)."""
    m, _, dsub = books.shape
    codes = np.empty((len(Xr), m), dtype=np.uint8)
    for j in range(m):
        Xj = Xr[:, j * dsub : (j + 1) * dsub]
        C = books[j]
        cn = (C * C).sum(1)
        codes[:, j] = (cn[None, :] - 2.0 * (Xj @ C.T)).argmin(1)
    return codes


def _reconstruct_np(codes: np.ndarray, books: np.ndarray) -> np.ndarray:
    m, _, dsub = books.shape
    out = np.empty((len(codes), m * dsub), dtype=np.float64)
    for j in range(m):
        out[:, j * dsub : (j + 1) * dsub] = books[j][codes[:, j]]
    return out


def opq_train(
    vectors: DataFrame,
    m: int,
    iters: int = 8,
    pq_iters: int = 4,
    id_col: str = "id",
    vec_col: str = "vec",
    sample_size: int = 16384,
    seed_rotation: np.ndarray | None = None,
    nbits: int = 8,
) -> tuple[np.ndarray, np.ndarray]:
    """Alternating OPQ training on a driver-side sample. Returns
    ``(R, books)``: R is (d, d) orthogonal (vectors rotate as x → Rx),
    books is the PQ codebook tensor (m, 2^nbits, d/m) trained in
    rotated space. Deterministic for fixed inputs (Procrustes SVD on the exact
    sample; init R = identity unless ``seed_rotation`` is given)."""
    from .pq import _check_nbits
    from .similarity import _train_sample_matrix

    X = _train_sample_matrix(vectors, id_col, vec_col, sample_size)
    ksub = _check_nbits(nbits)
    if len(X) < ksub:
        raise ValueError(f"need ≥ {ksub} training vectors, got {len(X)}")
    d = X.shape[1]
    R = np.eye(d) if seed_rotation is None else np.asarray(seed_rotation, np.float64)
    books = None
    for _ in range(iters):
        Xr = X @ R.T
        books = train_books_np(Xr, m, pq_iters, ksub=ksub)
        Y = _reconstruct_np(_assign_np(Xr, books), books)
        # orthogonal Procrustes: min_A ‖XA − Y‖_F with A = Rᵀ
        U, _, Vt = np.linalg.svd(X.T @ Y)
        R = (U @ Vt).T
    # final codebooks consistent with the final R
    books = train_books_np(X @ R.T, m, pq_iters, ksub=ksub)
    return R, books


def rotate_col(vec: Column | str, R: np.ndarray) -> Column:
    """array<float/double> → rotated array<double>: one numpy GEMM per
    Arrow batch (R rides the closure — broadcast by construction)."""
    Rt = np.ascontiguousarray(np.asarray(R, np.float64).T)

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def rot(s: pd.Series) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype=object)
        X = np.stack(s.to_numpy()).astype(np.float64)
        return pd.Series(list(X @ Rt))

    return rot(F.col(vec) if isinstance(vec, str) else vec)


def opq_rotate(
    df: DataFrame, R: np.ndarray, id_col: str = "id", vec_col: str = "vec"
) -> DataFrame:
    return df.select(
        F.col(id_col).cast("long").alias("id"), rotate_col(vec_col, R).alias("vec")
    )


def opq_encode(
    vectors: DataFrame,
    R: np.ndarray,
    books: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """(id, vec) → (id, code: BINARY(m)) in rotated space — the stored
    index form (same layout as pq_encode)."""
    from .pq import pq_encode

    return pq_encode(opq_rotate(vectors, R, id_col, vec_col), books)


def opq_search(
    codes: DataFrame,
    R: np.ndarray,
    books: np.ndarray,
    queries: DataFrame,
    k: int,
    metric: str = "l2",
    qid_col: str = "qid",
    qvec_col: str = "vec",
) -> DataFrame:
    """ADC top-k over OPQ codes: queries rotate once (they are the
    broadcast side), then the existing pq_search runs unchanged in
    rotated space — L2 is rotation-invariant, so distances/ranks are
    comparable with plain PQ."""
    from .pq import pq_search

    q = opq_rotate(queries, R, qid_col, qvec_col).select(
        F.col("id").alias(qid_col), F.col("vec").alias(qvec_col)
    )
    return pq_search(codes, books, q, k, metric, qid_col=qid_col, qvec_col=qvec_col)


def opq_range_search(
    codes: DataFrame,
    R: np.ndarray,
    books: np.ndarray,
    queries: DataFrame,
    radius: float,
    metric: str = "l2",
    qid_col: str = "qid",
    qvec_col: str = "vec",
) -> DataFrame:
    """ADC radius filter over OPQ codes — faiss ``IndexPreTransform``
    forwards ``range_search`` through the transform chain to the
    sub-index, and L2 is rotation-invariant, so the radius means the
    same thing in rotated space. Same unordered (qid, label, distance)
    contract as ``pq_range_search``."""
    from .pq import pq_range_search

    q = opq_rotate(queries, R, qid_col, qvec_col).select(
        F.col("id").alias(qid_col), F.col("vec").alias(qvec_col)
    )
    return pq_range_search(
        codes, books, q, radius, metric, qid_col=qid_col, qvec_col=qvec_col
    )


def opq_reconstruct_np(
    codes: np.ndarray, R: np.ndarray, books: np.ndarray
) -> np.ndarray:
    """Decode codes back to the ORIGINAL space: x̂ = Rᵀ · decode(code)."""
    return _reconstruct_np(codes, books) @ np.asarray(R, np.float64)
