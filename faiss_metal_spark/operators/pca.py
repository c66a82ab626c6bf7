"""PCA dimensionality reduction — faiss ``PCAMatrix`` / ``VectorTransform``.

FAISS-family superset surface: faiss ships ``PCAMatrix(d_in, d_out)``
(train on a sample, then ``apply`` projects every vector) and
``NormalizationTransform`` as pre-transforms chained before an index
(``IndexPreTransform``). The reference's flat index has no transform
stage at all (/root/reference/include/faiss-metal/MetalIndexFlat.h:47);
this module supplies the equivalents Spark-first, because a training-
data pipeline compresses its embedding columns constantly (3072-d →
256-d before ANN indexing is the standard shape).

Training is the repo's standard trainer discipline (``train_sample``
hash-thresholded rows to the driver, one d×d eigendecomposition there —
trivial for embedding dims); the corpus only ever sees the learned
components ONCE, as an Arrow-batched GEMM projection (the same
boundary the kNN gemm path and OPQ's rotate use). Both are pure
projections: one scan, zero shuffles.

Like faiss PCAMatrix:
- components come from the eigendecomposition of the sample covariance
  (descending eigenvalue order, mean-centered);
- ``apply`` maps x → W(x − μ); ``reverse`` (≙ faiss reverse_transform)
  maps back via Wᵀy + μ — exact iff d_out = d_in, least-squares
  reconstruction otherwise;
- optional ``whiten`` divides each component by √eigenvalue
  (faiss's eigen_power = −0.5).

Pinned by tests/test_pca.py: orthonormal components, projection ≡
numpy PCA on the sample, reconstruction MSE ≤ dropped-eigenvalue
energy, distributed apply ≡ host apply, and the normalize transform's
unit norms.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions.vector import sqnorm


def pca_train(
    vectors: DataFrame,
    d_out: int,
    id_col: str = "id",
    vec_col: str = "vec",
    sample_size: int = 16384,
    whiten: bool = False,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Train a PCA projection on a sample — faiss ``PCAMatrix::train``.

    Returns ``(mean (d,), components (d_out, d), eigvals (d,))``;
    components are orthonormal rows in descending-eigenvalue order
    (scaled by λ^-1/2 when ``whiten`` — then rows are orthogonal, not
    unit). Deterministic for fixed input: ``eigh`` of the exact sample
    covariance with a sign convention (largest-|coef| coordinate of
    each component is made positive, the sklearn/LAPACK-stable choice).
    """
    from .similarity import _train_sample_matrix

    X = _train_sample_matrix(vectors, id_col, vec_col, sample_size)
    n, d = X.shape
    if not (1 <= d_out <= d):
        raise ValueError(f"d_out must be in [1, {d}], got {d_out}")
    if n < 2:
        raise ValueError(f"need ≥ 2 training vectors, got {n}")
    mu = X.mean(axis=0)
    Xc = X - mu
    cov = (Xc.T @ Xc) / (n - 1)
    eigvals, eigvecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(eigvals)[::-1]
    eigvals = np.maximum(eigvals[order], 0.0)
    W = eigvecs[:, order].T[:d_out]  # (d_out, d) orthonormal rows
    # deterministic sign: flip each component so its largest-|coef|
    # coordinate is positive (eigh's signs are arbitrary)
    flips = np.sign(W[np.arange(d_out), np.abs(W).argmax(axis=1)])
    flips[flips == 0] = 1.0
    W = W * flips[:, None]
    if whiten:
        W = W / np.sqrt(np.maximum(eigvals[:d_out], 1e-12))[:, None]
    return mu, W, eigvals


def pca_apply_np(X: np.ndarray, mean: np.ndarray, components: np.ndarray) -> np.ndarray:
    """(n, d) → (n, d_out) host-side apply — faiss PCAMatrix::apply."""
    return (np.asarray(X, np.float64) - mean) @ components.T


def pca_reverse_np(Y: np.ndarray, mean: np.ndarray, components: np.ndarray) -> np.ndarray:
    """(n, d_out) → (n, d) least-squares reconstruction — faiss
    ``reverse_transform`` (exact iff d_out = d and no whitening)."""
    return np.asarray(Y, np.float64) @ components + mean


def pca_project_col(vec: Column | str, mean: np.ndarray, components: np.ndarray) -> Column:
    """array<float/double> → projected array<float>: one numpy GEMM per
    Arrow batch (μ and W ride the closure — broadcast by construction).
    Output is float: the projection feeds storage/ANN tiers, which all
    ingest fp32 (faiss applies transforms in float too)."""
    mu = np.asarray(mean, np.float64)
    Wt = np.ascontiguousarray(np.asarray(components, np.float64).T)

    @pandas_udf(T.ArrayType(T.FloatType()))
    def proj(s: pd.Series) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype=object)
        X = np.stack(s.to_numpy()).astype(np.float64)
        return pd.Series(list(((X - mu) @ Wt).astype(np.float32)))

    return proj(F.col(vec) if isinstance(vec, str) else vec)


def pca_apply(
    df: DataFrame, mean: np.ndarray, components: np.ndarray,
    id_col: str = "id", vec_col: str = "vec",
) -> DataFrame:
    """Distributed apply: (id, vec d) → (id, vec d_out). Pure
    projection — one scan, zero shuffles; partitioning preserved."""
    return df.select(
        F.col(id_col).cast("long").alias("id"),
        pca_project_col(vec_col, mean, components).alias("vec"),
    )


class PreTransformIndex:
    """≙ ``faiss::IndexPreTransform`` — bind a trained PCA to an inner
    index so QUERIES go through the identical transform the stored
    vectors did (the footgun this class exists to remove: searching raw
    queries against a projected table returns garbage silently).

    ``inner`` is anything with the engine's search surface (VectorTable,
    IDMapVectorTable, any derived tier exposing ``search``); build one
    with :func:`pretransform_table` to project + index in one call.
    """

    def __init__(self, mean: np.ndarray, components: np.ndarray, inner):
        self.mean = np.asarray(mean, np.float64)
        self.components = np.asarray(components, np.float64)
        self.inner = inner

    @property
    def d_in(self) -> int:
        return self.components.shape[1]

    @property
    def ntotal(self) -> int:
        return self.inner.ntotal

    @property
    def spark(self):
        return self.inner.spark

    def search(self, queries: DataFrame, k: int, qid_col: str = "qid",
               qvec_col: str = "vec", **kw) -> DataFrame:
        projected = queries.select(
            F.col(qid_col).alias("qid"),
            pca_project_col(qvec_col, self.mean, self.components).alias("vec"),
        )
        return self.inner.search(projected, k, **kw)

    def search_numpy(self, x: np.ndarray, k: int, **kw):
        x = np.asarray(x, np.float32)
        if x.ndim != 2 or x.shape[1] != self.d_in:
            raise ValueError(f"expected (n, {self.d_in}) array, got {x.shape}")
        y = pca_apply_np(x, self.mean, self.components).astype(np.float32)
        return self.inner.search_numpy(y, k, **kw)


def pretransform_table(
    vectors: DataFrame,
    d_out: int,
    spark=None,
    id_col: str = "id",
    vec_col: str = "vec",
    metric: str = "l2",
    sample_size: int = 16384,
    whiten: bool = False,
) -> PreTransformIndex:
    """Train PCA on the table, project it, and wrap the projected flat
    index — the ``IndexPreTransform(PCAMatrix, IndexFlat)`` one-liner.
    The projection runs once over the corpus (zero shuffles); queries
    are projected per batch inside :meth:`PreTransformIndex.search`."""
    from ..vector_table import VectorTable

    spark = spark or vectors.sparkSession
    mean, W, _ = pca_train(
        vectors, d_out, id_col=id_col, vec_col=vec_col, sample_size=sample_size,
        whiten=whiten,
    )
    projected = pca_apply(vectors, mean, W, id_col=id_col, vec_col=vec_col)
    inner = VectorTable(
        spark, d=d_out, metric=metric,
        df=projected.select(
            "id", F.col("vec"), sqnorm(F.col("vec")).alias("norm_sq")
        ),
    )
    return PreTransformIndex(mean, W, inner)


def normalize_col(vec: Column | str, eps: float = 0.0) -> Column:
    """L2-normalize — faiss ``NormalizationTransform`` (norm=2), as a
    pure Catalyst HOF (no Python): x → x/‖x‖₂, zero vectors pass
    through unchanged (faiss divides only when norm > 0)."""
    v = F.col(vec) if isinstance(vec, str) else vec
    nrm = F.sqrt(sqnorm(v) + F.lit(float(eps)))
    return F.when(
        nrm > 0, F.transform(v, lambda x: (x.cast("double") / nrm).cast("float"))
    ).otherwise(v.cast("array<float>"))


def normalize_vectors(
    df: DataFrame, id_col: str = "id", vec_col: str = "vec"
) -> DataFrame:
    """Distributed NormalizationTransform: (id, vec) → unit-norm vec."""
    return df.select(
        F.col(id_col).cast("long").alias("id"),
        normalize_col(vec_col).alias("vec"),
    )


def random_rotation(d_in: int, d_out: int | None = None, seed: int = 42) -> np.ndarray:
    """Orthonormal random rotation rows — faiss ``RandomRotationMatrix``.

    Returns ``components (d_out, d_in)`` to plug into the same
    ``pca_apply`` / :class:`PreTransformIndex` machinery with a zero
    mean: QR of a seeded Gaussian with the R-diagonal sign fix, so the
    distribution is Haar and the result deterministic per seed. With
    ``d_out = d_in`` the map is an isometry (L2 distances and kNN
    results preserved exactly up to float rounding) — faiss uses it to
    decorrelate dimensions ahead of PQ/SQ the way OPQ does, minus the
    training.

    ``d_out > d_in`` is the dimension-EXPANDING form faiss's
    ``IndexLSH(rotate_data=true)`` uses when nbits > d: draw a Haar
    rotation in the larger ``d_out`` space and keep its first ``d_in``
    columns — rows are unit-norm but no longer mutually orthogonal
    (there are only d_in orthogonal directions available), which is
    exactly the faiss behavior."""
    d_out = d_in if d_out is None else d_out
    if d_out <= 0 or d_in <= 0:
        raise ValueError(f"need positive dims, got d_in={d_in}, d_out={d_out}")
    big = max(d_in, d_out)
    rng = np.random.default_rng(seed)
    A = rng.normal(size=(big, big))
    Q, R = np.linalg.qr(A)
    Q = Q * np.sign(np.diag(R))  # unique, uniform over O(big)
    return np.ascontiguousarray(Q.T[:d_out, :d_in])


def remap_dimensions(d_in: int, out_dims) -> np.ndarray:
    """Dimension selection/padding rows — faiss
    ``RemapDimensionsTransform``.

    ``out_dims`` lists, per output coordinate, the input coordinate to
    copy (or −1 for a zero pad — faiss's "uniform" spreading uses −1
    fills too). Returns a 0/1 ``components (len(out_dims), d_in)``
    matrix for the shared apply path, so remapping composes with
    indexes and storage tiers like every other transform."""
    out_dims = list(out_dims)
    W = np.zeros((len(out_dims), d_in), np.float64)
    for i, j in enumerate(out_dims):
        if j == -1:
            continue
        if not 0 <= j < d_in:
            raise ValueError(f"out_dims[{i}]={j} outside [0, {d_in})")
        W[i, j] = 1.0
    return W


def itq_rotation(
    vectors: DataFrame,
    nbits: int,
    id_col: str = "id",
    vec_col: str = "vec",
    sample_size: int = 16384,
    iters: int = 50,
    seed: int = 42,
) -> tuple[np.ndarray, np.ndarray]:
    """ITQ — Iterative Quantization (Gong et al., CVPR 2011; faiss
    ``ITQMatrix`` / binary factory ``"ITQ<n>,LSH"``): learn the rotation
    of the PCA-projected data that MINIMIZES the binarization error
    ‖B − VR‖², so the sign bits preserve locality far better than a
    random rotation on correlated data.

    Training is O(sample) on the driver (the faiss discipline shared by
    every trainer here): PCA to ``nbits`` dims (the centering matters —
    sign bits of uncentered data collapse), then the classic alternation
    — B = sign(VR); R = UVᵀ from the SVD of VᵀB (the Procrustes step).
    Returns ``(mean (d,), components (nbits, d))`` = Rᵀ·W_pca ready for
    the shared :func:`pca_apply` / :class:`PreTransformIndex` /
    ``LSHIndex`` machinery. Deterministic per (data, seed).
    """
    mean, W, _ = pca_train(
        vectors, nbits, id_col=id_col, vec_col=vec_col, sample_size=sample_size
    )
    from .similarity import _train_sample_matrix

    X = _train_sample_matrix(vectors, id_col, vec_col, sample_size)
    V = (X - mean) @ W.T  # (n, nbits) PCA-projected, centered

    rng = np.random.default_rng(seed)
    A = rng.normal(size=(nbits, nbits))
    Q, Rm = np.linalg.qr(A)
    R = Q * np.sign(np.diag(Rm))
    for _ in range(iters):
        B = np.sign(V @ R)
        B[B == 0] = 1.0
        U, _, Vt = np.linalg.svd(V.T @ B, full_matrices=False)
        R = U @ Vt
    return mean, np.ascontiguousarray(R.T @ W)


class NormTransformIndex:
    """≙ ``faiss::IndexPreTransform(NormalizationTransform, inner)`` —
    the ``index_factory("L2norm,<inner>")`` prefix: the stored table was
    L2-normalized before the inner tier was built, so queries MUST pass
    through the identical normalization (the same silent-garbage footgun
    :class:`PreTransformIndex` removes, for the nonlinear transform the
    linear wrapper cannot express). ``reverse_transform`` of faiss's
    NormalizationTransform is the identity (the norm is not recorded),
    so ``reconstruct`` returns the inner (normalized) vector — same
    honest lossiness as upstream (faiss/VectorTransform.cpp, the
    NormalizationTransform::reverse_transform no-op).
    """

    def __init__(self, inner, d_in: int | None = None):
        self.inner = inner
        self._d_in = int(d_in) if d_in is not None else int(inner.d)

    @property
    def d_in(self) -> int:
        return self._d_in

    @property
    def ntotal(self) -> int:
        return self.inner.ntotal

    @property
    def spark(self):
        return self.inner.spark

    def search(self, queries: DataFrame, k: int, qid_col: str = "qid",
               qvec_col: str = "vec", **kw) -> DataFrame:
        normed = queries.select(
            F.col(qid_col).alias("qid"),
            normalize_col(qvec_col).alias("vec"),
        )
        return self.inner.search(normed, k, **kw)

    def search_numpy(self, x: np.ndarray, k: int, **kw):
        x = np.atleast_2d(np.asarray(x, np.float64))
        if x.shape[1] != self.d_in:
            raise ValueError(f"expected (n, {self.d_in}) array, got {x.shape}")
        nrm = np.sqrt((x * x).sum(1, keepdims=True))
        y = np.divide(x, nrm, out=x.copy(), where=nrm > 0).astype(np.float32)
        return self.inner.search_numpy(y, k, **kw)

    def reconstruct(self, key: int) -> np.ndarray:
        return self.inner.reconstruct(key)
