"""Product quantization (PQ) — FAISS ``IndexPQ`` semantics, Spark-first.

Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor Search"
(TPAMI 2011). The reference engine compresses storage along the element
axis only (FP32→FP16/BF16, 2×; SURVEY §1.2,
/root/reference/src/MetalIndexFlat.mm:192-256); PQ extends the same
storage-compression axis much further: split each d-dim vector into
``m`` subspaces, vector-quantize each against a 256-entry codebook, and
store one byte per subspace — e.g. 128-dim FP32 512 B → 16 B at m=16.
That is the compression level at which a 100 TB embedding corpus
becomes cheap to cache and shuffle.

Scale shape mirrors the flat kNN path exactly:

- **train** on a deterministic driver-side sample (like
  ``ivf_train_centroids`` — training is O(sample), encoding is the
  distributed part);
- **encode** is one scan of the shared encode driver
  ``knn._encode_scan`` (no shuffle, zero-copy buffer-view decode),
  emitting BINARY codes that ride every downstream
  cache/shuffle/parquet at m bytes;
- **search** broadcasts per-query ADC lookup tables (nq·m·256 doubles —
  query-batch-sized, never corpus-sized) and streams the code table
  through ``knn.flat_scan`` — the flat float search's own driver, here
  with the ``adc_scan`` kernel: running per-partition top-k, then the
  shared partial/final ``_finalize`` merge. Distances are sums of m
  table gathers (``_lut_gather``) — no decode, no FP vector ever
  reconstructed in the hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .knn import (
    _PARTIAL_SCHEMA,
    ScanKernel,
    _arrow_i64,
    _arrow_matrix,
    _encode_rows,
    _encode_scan,
    _finalize,
    flat_scan,
)
from .similarity import _ivf_encode, _ivf_prologue, _train_sample_matrix

KSUB = 256  # 8-bit codes, the FAISS default and the only size stored in 1 byte


def _arrow_codes(arr) -> np.ndarray:
    """(n, m) uint8 view of an Arrow BinaryArray of fixed-width PQ
    codes — same zero-copy discipline as the kNN vector decode."""
    bufs = arr.buffers()
    n = len(arr)
    offs = np.frombuffer(bufs[1], np.int32, count=n + 1, offset=arr.offset * 4)
    return np.frombuffer(bufs[2], np.uint8)[offs[0] : offs[-1]].reshape(n, -1)


def _binary_array(codes: np.ndarray):
    """Arrow BinaryArray over an (n, m) uint8 code matrix without
    materializing n Python bytes objects."""
    import pyarrow as pa

    n, width = codes.shape
    offs = np.arange(0, (n + 1) * width, width, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.binary(),
        n,
        [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(codes.tobytes())],
    )

CODE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("code", T.BinaryType(), False),
    ]
)


def _check_dims(d: int, m: int) -> int:
    if d % m != 0:
        raise ValueError(f"d={d} not divisible by m={m}")
    return d // m


def _check_nbits(nbits: int) -> int:
    """2^nbits codewords; 1..8 keeps one uint8 code per subspace (the
    stored layout is one byte per sub-code at every width — the scan is
    LUT-gather-bound, and the SQ tier owns the true bit-packed layout;
    faiss packs nbits<8 codes, a storage-layout divergence, not a
    semantic one)."""
    if not 1 <= int(nbits) <= 8:
        raise ValueError(f"nbits must be in 1..8, got {nbits}")
    return 1 << int(nbits)


def pq_train(
    vectors: DataFrame,
    m: int,
    id_col: str = "id",
    vec_col: str = "vec",
    sample_size: int = 16384,
    iters: int = 10,
    nbits: int = 8,
) -> np.ndarray:
    """Train per-subspace codebooks → ``(m, 2^nbits, d/m)`` float64.

    Deterministic: sample = ``train_sample`` hash-thresholded rows
    (O(n) driver merge, stable across partitionings), init = first 256
    sample rows per subspace, Lloyd iterations with the ``‖c‖²−2xc``
    decomposition (same trainer discipline as ``ivf_train_centroids``:
    train on a sample, never on the corpus).
    """
    X = _train_sample_matrix(vectors, id_col, vec_col, sample_size)
    return train_books_np(X, m, iters, ksub=_check_nbits(nbits))


def train_books_np(
    X: np.ndarray, m: int, iters: int = 10, ksub: int = KSUB
) -> np.ndarray:
    """Per-subspace Lloyd's on a host sample → ``(m, ksub, d/m)``.
    ``ksub`` = 2^nbits codewords per subspace (faiss ProductQuantizer
    nbits; 256 = the 8-bit default). Every consumer reads the codebook
    width from ``codebooks.shape``, so narrower codes flow through
    encode / ADC / decode / IO unchanged."""
    n, d = X.shape
    dsub = _check_dims(d, m)
    if n < ksub:
        raise ValueError(f"need ≥ {ksub} training vectors, got {n}")
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for j in range(m):
        Xj = X[:, j * dsub : (j + 1) * dsub]
        C = Xj[:ksub].copy()
        for _ in range(iters):
            cn = (C * C).sum(1)
            assign = (cn[None, :] - 2.0 * (Xj @ C.T)).argmin(1)
            # vectorized centroid update (scatter-add + count); empty
            # clusters keep their previous centroid
            sums = np.zeros((ksub, dsub), dtype=np.float64)
            np.add.at(sums, assign, Xj)
            counts = np.bincount(assign, minlength=ksub).astype(np.float64)
            nz = counts > 0
            C[nz] = sums[nz] / counts[nz, None]
        books[j] = C
    # FAISS stores codebooks in FP32 (ProductQuantizer::centroids is
    # std::vector<float>); rounding to FP32-representable values keeps
    # float64 math downstream while making decode→FP32→encode bit-exact
    return books.astype(np.float32).astype(np.float64)


def _check_pack4(ksub: int, pack4: bool) -> None:
    if pack4 and ksub != 16:
        raise ValueError(f"pack4 requires nbits=4 codebooks, got ksub={ksub}")


def _code_array(codes: np.ndarray, pack4: bool = False):
    """The stored BINARY code column of an (n, m) uint8 code matrix —
    two codes per byte with ``pack4`` (the fast-scan layout)."""
    return _binary_array(pq_pack4_np(codes) if pack4 else codes)


def pq_encode(
    vectors: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vec",
    pack4: bool = False,
) -> DataFrame:
    """Encode to ``(id, code BINARY)`` — one scan, no shuffle, m bytes
    per vector through every downstream stage (⌈m/2⌉ bytes with
    ``pack4`` — the fast-scan layout, requires nbits=4 codebooks)."""
    _, ksub, _ = codebooks.shape
    _check_pack4(ksub, pack4)

    def enc(books, V, batch):
        return [batch.column("id"), _code_array(pq_assign_np(V, books), pack4)]

    return _encode_scan(
        _encode_rows(vectors, id_col, vec_col), codebooks, enc, CODE_SCHEMA
    )


def pq_assign_np(X: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """(n, d) float → (n, m) uint8 nearest-codeword assignment — the
    ONE statement of PQ encoding (argmin over ‖x_j − c‖² via the
    cn − 2·X@Cᵀ decomposition, first-index tie-break), shared by
    ``pq_encode``, ``ivfpq_encode`` (on residuals) and
    ``PQIndex.sa_encode`` so the assignment can never drift."""
    m, ksub, dsub = codebooks.shape
    codes = np.empty((len(X), m), dtype=np.uint8)
    for j in range(m):
        Xj = X[:, j * dsub : (j + 1) * dsub]
        cn = (codebooks[j] * codebooks[j]).sum(1)
        codes[:, j] = (cn[None, :] - 2.0 * (Xj @ codebooks[j].T)).argmin(1)
    return codes


def pq_decode_np(codes: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """Reconstruct ``(n, d)`` float64 from ``(n, m)`` uint8 codes — the
    lossy inverse (≙ IndexPQ::reconstruct)."""
    m, _, dsub = codebooks.shape
    return np.concatenate(
        [codebooks[j][codes[:, j]] for j in range(m)], axis=1
    )


# ---------------------------------------------------------------------------
# 4-bit fast-scan layout (faiss IndexPQFastScan / IndexIVFPQFastScan,
# factory "PQ<m>x4fs" / "IVF<n>,PQ<m>x4fs" —
# faiss/IndexPQFastScan.h, faiss/impl/pq4_fast_scan.h): two 4-bit codes
# per stored byte. faiss's layout additionally interleaves blocks of 32
# codes so AVX2/NEON register shuffles can gather 32 LUT entries per
# instruction — a REGISTER layout, meaningless off-SIMD; the parts that
# matter at engine level are (a) storage/scan bytes halve vs
# one-code-per-byte nbits=4, and (b) the ADC inner loop does ONE gather
# per stored byte via a fused 256-entry pair table instead of two
# 16-entry nibble gathers. Search math is IDENTICAL to plain nbits=4
# ADC — packing is layout, pinned by tests/test_pq_fastscan.py.
# ---------------------------------------------------------------------------


def pq_pack4_np(codes: np.ndarray) -> np.ndarray:
    """(n, m) uint8 4-bit codes → (n, ⌈m/2⌉) packed bytes: even
    subspace in the LOW nibble, odd subspace in the HIGH nibble. Odd
    m packs a zero high nibble into the last byte (faiss rounds M up
    to even with a dummy subquantizer)."""
    codes = np.asarray(codes, dtype=np.uint8)
    n, m = codes.shape
    if codes.size and int(codes.max()) > 15:
        raise ValueError("pack4 requires 4-bit codes (values < 16)")
    if m % 2:
        codes = np.concatenate([codes, np.zeros((n, 1), np.uint8)], axis=1)
    return (codes[:, 0::2] | (codes[:, 1::2] << 4)).astype(np.uint8)


def pq_unpack4_np(packed: np.ndarray, m: int) -> np.ndarray:
    """Inverse of :func:`pq_pack4_np`: (n, ⌈m/2⌉) bytes → (n, m)
    4-bit codes (drops the zero pad nibble when m is odd)."""
    packed = np.asarray(packed, dtype=np.uint8)
    out = np.empty((len(packed), packed.shape[1] * 2), dtype=np.uint8)
    out[:, 0::2] = packed & 0x0F
    out[:, 1::2] = packed >> 4
    return out[:, :m]


def _fuse_lut4(lut: np.ndarray) -> np.ndarray:
    """(nq, m, 16) per-subspace ADC tables → (nq, ⌈m/2⌉, 256) fused
    byte tables: ``fused[q, p, b] = lut[q, 2p, b & 15] +
    lut[q, 2p+1, b >> 4]`` — one gather per stored byte, the numpy
    analog of fast-scan's register-resident LUT pairs. Odd m: the
    last byte's virtual high nibble contributes 0."""
    nq, m, ksub = lut.shape
    if ksub != 16:
        raise ValueError(
            f"fast-scan needs 16-entry (nbits=4) tables, got ksub={ksub}"
        )
    if m % 2:
        lut = np.concatenate([lut, np.zeros((nq, 1, 16), lut.dtype)], axis=1)
    b = np.arange(256)
    return lut[:, 0::2, b & 15] + lut[:, 1::2, b >> 4]


def _decode_frame(
    codes: DataFrame, decode_np, codebooks: np.ndarray, id_col: str = "id"
) -> DataFrame:
    """Distributed decode ``(id, vec ARRAY<FLOAT>)`` of a code table:
    ``decode_np(codes (n, m) uint8, codebooks)`` per Arrow batch — one
    ``mapInArrow`` scan, no shuffle."""
    spark = codes.sparkSession
    bc = spark.sparkContext.broadcast(codebooks)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("vec", T.ArrayType(T.FloatType()), False),
        ]
    )

    def dec(batches):
        import pyarrow as pa

        books = bc.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            C = _arrow_codes(batch.column("code"))
            V = decode_np(C, books).astype(np.float32)
            n, d = V.shape
            offs = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
            vec_arr = pa.ListArray.from_arrays(offs, pa.array(V.ravel()))
            yield pa.record_batch(
                [pa.array(_arrow_i64(batch.column(id_col))), vec_arr],
                names=["id", "vec"],
            )

    return codes.mapInArrow(dec, schema)


def pq_reconstruct(
    codes: DataFrame, codebooks: np.ndarray, id_col: str = "id"
) -> DataFrame:
    """Distributed decode: ``(id, vec ARRAY<FLOAT>)`` from the code
    table (for rerank stages that need approximate float vectors)."""
    return _decode_frame(codes, pq_decode_np, codebooks, id_col)


def _adc_lut(Q: np.ndarray, codebooks: np.ndarray, metric: str) -> np.ndarray:
    """(nq, m, ksub) ADC lookup tables. l2: ‖q_j − c‖² computed as a
    direct squared difference — not the ‖q‖²+‖c‖²−2qc decomposition —
    so a query exactly on a codebook point gets distance exactly 0 (no
    cancellation residue); the LUT is query-batch-sized, so the extra
    temp over BLAS is irrelevant next to the code-table scan."""
    m, ksub, dsub = codebooks.shape
    nq = len(Q)
    lut = np.empty((nq, m, ksub), dtype=np.float64)
    for j in range(m):
        Qj = Q[:, j * dsub : (j + 1) * dsub]
        if metric == "l2":
            diff = Qj[:, None, :] - codebooks[j][None, :, :]
            lut[:, j, :] = np.einsum("ijk,ijk->ij", diff, diff)
        else:
            lut[:, j, :] = Qj @ codebooks[j].T
    return lut


def _lut_gather(lut: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """(nq, n) sums Σ_j ``lut[:, j, codes[:, j]]`` — one (nq, ksub)
    table gather per stored code byte, accumulated in byte order: the
    ADC / additive inner loop of every code scan, flat and IVF."""
    D = np.zeros((lut.shape[0], len(codes)), dtype=np.float64)
    for j in range(lut.shape[1]):
        D += lut[:, j, :][:, codes[:, j]]
    return D


def adc_scan(
    codebooks: np.ndarray, metric: str = "l2", packed4: bool = False
) -> ScanKernel:
    """The ADC kernel of :func:`~.knn.flat_scan` over a ``(id, code)``
    table (faiss ``IndexPQ``'s scanner): the driver builds the (nq, m,
    ksub) lookup tables once — fused to (nq, ⌈m/2⌉, 256) byte tables
    with ``packed4`` — and each Arrow batch sums one gather per stored
    code byte. The LUT is what broadcasts — 256× larger per query than
    the raw query matrix the float path broadcasts — so it meets the
    broadcast ceiling, checked before it is built."""
    m, ksub, dsub = codebooks.shape

    def prepare(Q: np.ndarray) -> np.ndarray:
        from .knn import _MAX_BROADCAST_ELEMS

        if Q.shape[1] != m * dsub:
            raise ValueError(f"query dim {Q.shape[1]} != m·dsub {m * dsub}")
        lut_elems = len(Q) * (((m + 1) // 2) * 256 if packed4 else m * ksub)
        if lut_elems > _MAX_BROADCAST_ELEMS:
            raise ValueError(
                f"ADC LUT too large to broadcast ({lut_elems} elems > "
                f"{_MAX_BROADCAST_ELEMS}); use smaller query batches"
            )
        lut = _adc_lut(Q, codebooks, metric)
        return _fuse_lut4(lut) if packed4 else lut

    def score(lut, batch) -> np.ndarray:
        # l2 table entries are sums of squares, so no clamp is needed
        return _lut_gather(lut, _arrow_codes(batch.column("code")))

    return ScanKernel(score, prepare, metric=metric)


def pq_range_search(
    codes: DataFrame,
    codebooks: np.ndarray,
    queries: DataFrame,
    radius: float,
    metric: str = "l2",
    qid_col: str = "qid",
    qvec_col: str = "vec",
) -> DataFrame:
    """All codes whose ASYMMETRIC (ADC) distance passes the radius —
    faiss ``IndexPQ::range_search``. Keep rule matches the float
    operator: l2 keeps ``distance < radius`` (strict), ip keeps
    ``distance > radius``. Returns (qid, label, distance), unordered —
    no rank, no sentinel rows.

    Physical shape mirrors the flat range_search: one ``mapInArrow``
    scan of the code table with the broadcast (qids, LUT) pair, each
    Arrow batch emitting its passing pairs — no merge stage, no
    shuffle; output volume is bounded by the radius, not nq·n."""
    if metric not in ("l2", "ip"):
        raise ValueError(f"pq_range_search supports l2/ip, got {metric!r}")
    return flat_scan(
        codes, queries, adc_scan(codebooks, metric), radius=float(radius),
        qid_col=qid_col, qvec_col=qvec_col,
    )


def pq_search(
    codes: DataFrame,
    codebooks: np.ndarray,
    queries: DataFrame,
    k: int,
    metric: str = "l2",
    qid_col: str = "qid",
    qvec_col: str = "vec",
    packed4: bool = False,
) -> DataFrame:
    """ADC top-k over the code table (≙ IndexPQ::search).

    Per query and subspace, the distance to each of the 256 centroids
    is precomputed into a lookup table; a stored vector's asymmetric
    distance is the sum of m gathers — queries stay full-precision,
    stored vectors stay 1 byte/subspace, and no vector is ever decoded.
    L2 sums per-subspace squared distances exactly; IP sums per-subspace
    dot products exactly (both decompose over the subspace partition).
    Result contract matches ``knn_search`` (rank order, sentinel pad).

    ``packed4``: the fast-scan layout (≙ IndexPQFastScan::search) —
    codes carry two 4-bit sub-codes per byte and the per-subspace
    16-entry tables fuse into per-byte-position 256-entry tables, so
    the scan does ⌈m/2⌉ gathers per stored byte string. Identical
    distances to the unpacked nbits=4 path by construction.
    """
    if metric not in ("l2", "ip"):
        raise ValueError(f"pq_search supports l2/ip, got {metric!r}")
    return flat_scan(
        codes, queries, adc_scan(codebooks, metric, packed4), k=k,
        qid_col=qid_col, qvec_col=qvec_col,
    )


# ---------------------------------------------------------------------------
# IVF-PQ: residual-quantized inverted file (≙ FAISS IndexIVFPQ) — the
# composition that carries corpus-scale ANN: the coarse quantizer prunes
# the scan to nprobe cells (partition pruning on disk), the PQ codes of
# the RESIDUAL v − centroid(cell) keep per-vector storage at m bytes,
# and residuals quantize far better than raw vectors because the coarse
# step has already removed most of the variance.
# ---------------------------------------------------------------------------


def ivfpq_build(
    vectors: DataFrame,
    n_cells: int,
    m: int,
    id_col: str = "id",
    vec_col: str = "vec",
    sample_size: int = 16384,
    iters: int = 10,
    nbits: int = 8,
    pack4: bool = False,
    centroids: np.ndarray | None = None,
    assigner=None,
):
    """Train coarse + residual quantizers and encode the corpus.

    Returns ``(centroids (n_cells, d), codebooks (m, 2^nbits, d/m),
    codes DataFrame (id, cell, code BINARY))``. Training is O(sample)
    on the driver (both quantizers, through the shared
    ``similarity._ivf_prologue``), encoding is one scan: assign cell,
    subtract its centroid, PQ-encode the residual — no shuffle.
    ``centroids``/``assigner`` (r12): pre-trained coarse centroids and
    an approximate assigner (the graph coarse quantizer) — the
    residual books then train on the SAME assignment the codes use.
    """
    centroids, assigned, R = _ivf_prologue(
        vectors, n_cells, id_col, vec_col, sample_size, iters,
        centroids=centroids, assigner=assigner,
    )
    books = train_books_np(R, m, iters, ksub=_check_nbits(nbits))
    codes_df = ivfpq_encode(
        assigned, centroids, books, id_col=id_col, vec_col=vec_col, pack4=pack4
    )
    return centroids, books, codes_df


IVFPQ_CODE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("cell", T.IntegerType(), False),
        T.StructField("code", T.BinaryType(), False),
    ]
)


def ivfpq_encode(
    assigned: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vec",
    pack4: bool = False,
) -> DataFrame:
    """PQ-encode residuals ``v − centroid(cell)`` of a cell-assigned
    table → ``(id, cell, code BINARY)``. One scan, no shuffle; usable
    with trained OR externally fixed quantizers (the oracle-check path
    searches against fixed literal codebooks, the discipline of
    /root/reference/tests/test_metal_flat.mm:72-122). ``pack4`` stores
    the fast-scan two-codes-per-byte layout (nbits=4 only)."""
    _, ksub, _ = codebooks.shape
    _check_pack4(ksub, pack4)

    def code(books, R, C, cells):
        return [_code_array(pq_assign_np(R, books), pack4)]

    return _ivf_encode(
        assigned, centroids, codebooks, code, IVFPQ_CODE_SCHEMA, id_col, vec_col
    )


def ivfpq_write(codes: DataFrame, path: str) -> None:
    """Persist the IVFPQ code table: parquet partitioned by cell, so the
    probe filter in :func:`ivfpq_search` prunes partitions at scan time
    (same inverted-list layout discipline as ``ivf_write``)."""
    codes.write.mode("overwrite").partitionBy("cell").parquet(path)


def pq_scan(
    centroids: np.ndarray,
    codebooks: np.ndarray,
    ht: int | None = None,
    packed4: bool = False,
):
    """The residual-ADC scan kernel of the PQ inverted file (faiss
    ``IndexIVFPQ``'s scanner) for :func:`~.similarity.probe_scan`.

    ‖q − v‖² ≈ ‖(q − c) − decode(code)‖² decomposes over subspaces of
    the per-cell residual r = q − c, so each cell group builds its own
    (queries-probing-it × m × ksub) lookup tables and sums m gathers
    per stored code. ``packed4`` fuses them into per-byte 256-entry
    tables over the fast-scan layout; ``ht`` gates candidates at
    STRICTLY < ht Hamming bits between the query's own residual code
    and each stored code (rejects leave as +inf and drop after the
    partial top-k). The stored code width is checked hard: a
    packed4/layout mismatch raises instead of gathering a prefix."""
    m, ksub, dsub = codebooks.shape
    if packed4:
        if ksub != 16:
            raise ValueError(
                f"packed4 requires nbits=4 codebooks, got ksub={ksub}"
            )
        if ht is not None:
            raise ValueError(
                "packed4 (fast-scan) has no polysemous gate (faiss "
                "IndexIVFPQFastScan parity); use the unpacked IVFPQ tier"
            )
    width = (m + 1) // 2 if packed4 else m
    htv = None if ht is None else int(ht)

    def prepare(Q: np.ndarray):
        if Q.shape[1] != m * dsub:
            raise ValueError(f"query dim {Q.shape[1]} != m·dsub {m * dsub}")
        return centroids, codebooks

    def score(state, Q, qidx, cell, pdf: pd.DataFrame) -> np.ndarray:
        C, books = state
        R = Q[qidx] - C[cell]  # (nq_c, d) per-cell query residuals
        lut = _adc_lut(R, books, "l2")
        if packed4:
            lut = _fuse_lut4(lut)  # (nq_c, ⌈m/2⌉, 256) fused tables
        codes = np.frombuffer(
            b"".join(pdf["code"].tolist()), dtype=np.uint8
        ).reshape(len(pdf), width)
        D = _lut_gather(lut, codes)
        np.maximum(D, 0.0, out=D)
        if htv is not None:
            # polysemous gate: XOR + popcount per byte position
            qc = pq_assign_np(R, books)
            pop = np.array([bin(i).count("1") for i in range(256)], np.int64)
            ham = np.zeros_like(D, dtype=np.int64)
            for j in range(m):
                ham += pop[np.bitwise_xor(qc[:, j][:, None], codes[:, j][None, :])]
            D[ham >= htv] = np.inf
        return D

    return ScanKernel(score, prepare, gated=htv is not None)


def ivfpq_search(
    codes: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    queries: DataFrame,
    k: int,
    nprobe: int,
    qid_col: str = "qid",
    qvec_col: str = "vec",
    ht: int | None = None,
    probe_cells=None,
    max_codes: int | None = None,
    packed4: bool = False,
) -> DataFrame:
    """Probe nprobe cells, residual-ADC within each (L2).

    ``packed4``: codes carry the fast-scan two-4-bit-codes-per-byte
    layout (≙ IndexIVFPQFastScan::search) — each cell's residual LUT
    fuses into per-byte 256-entry tables and the in-cell scan gathers
    once per stored byte. Distances identical to unpacked nbits=4.
    Incompatible with ``ht`` (faiss fast-scan has no polysemous gate).

    ``max_codes``: faiss ``SearchParametersIVF::max_codes`` on the PQ
    inverted file — same pre-list check as ``ivf_search`` (probe cells
    kept in ranking order while the running scanned-code count stays
    under the bound; the crossing list still scans in full; at least
    one list always does). Costs one bounded nlist-row cell-count job
    per call when set.

    ‖q − v‖² ≈ ‖(q − c) − decode(code)‖² decomposes over subspaces of
    the per-cell residual r = q − c, so each cell group builds its own
    (queries-probing-it × m × 256) lookup tables from the broadcast
    query batch and sums m gathers per stored code — the scan is pruned
    to probed cells (partition pruning when the code table is written
    ``partitionBy("cell")``), storage stays m bytes/vector, and a
    query's candidates come only from its own probed cells (the same
    per-cell contract as ``ivf_search``). Returns min(k, probed rows)
    real results per query.

    ``ht``: faiss IndexIVFPQ polysemous filter — within each probed
    cell the query's own RESIDUAL code gates candidates at STRICTLY
    < ht Hamming bits before they rank (faiss admits ``hd <
    polysemous_ht``; accept-all is ``ht = m·nbits + 1``; train the
    books with
    ``polysemous_train`` first for the gate to be meaningful; returned
    distances stay exact ADC). The mask applies to the per-cell ADC
    matrix (candidate sets here are already cell-pruned, so the LUT
    build dominates — the flat tier's survivor-gather variant lives in
    ``operators/polysemous.py``).
    """
    from .similarity import probe_scan

    return probe_scan(
        codes, queries, pq_scan(centroids, codebooks, ht=ht, packed4=packed4),
        nprobe, centroids=centroids, k=k, probe_cells=probe_cells,
        max_codes=max_codes, qid_col=qid_col, qvec_col=qvec_col,
    )


def ivfpq_range_search(
    codes: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    queries: DataFrame,
    radius: float,
    nprobe: int,
    qid_col: str = "qid",
    qvec_col: str = "vec",
) -> DataFrame:
    """faiss ``IndexIVFPQ::range_search``: the residual-ADC radius
    filter over the ``nprobe`` probed cells — keep rule ``distance <
    radius`` (strict, L2 only like :func:`ivfpq_search`); exact w.r.t.
    the ADC approximation within cell coverage (full probe visits
    every cell), a subset under partial probes, never a false
    positive. Returns (qid, label, distance), unordered — no rank, no
    sentinel rows, no ``_finalize`` merge: each probed cell group
    emits its passing pairs directly, so output volume is bounded by
    the radius."""
    from .similarity import probe_scan

    return probe_scan(
        codes, queries, pq_scan(centroids, codebooks), nprobe,
        centroids=centroids, radius=radius, qid_col=qid_col,
        qvec_col=qvec_col,
    )


def refine_search(
    vectors: DataFrame,
    codes: DataFrame,
    codebooks: np.ndarray,
    queries: DataFrame,
    k: int,
    refine_factor: int = 4,
    metric: str = "l2",
    id_col: str = "id",
    vec_col: str = "vec",
    qid_col: str = "qid",
    qvec_col: str = "vec",
) -> DataFrame:
    """Two-stage retrieval — FAISS ``IndexRefineFlat`` semantics: ADC
    search over the compressed codes fetches ``k·refine_factor``
    candidates, then the full-precision vectors rescore exactly those
    candidates and the top-k is re-ranked on exact distances. Same
    result contract as ``knn_search`` (rank order, sentinel pad; the
    reference's flat index has no compressed tier at all —
    /root/reference/include/faiss-metal/MetalIndexFlat.h:47 subclasses
    faiss::Index directly — so this is superset surface).

    This is THE 100 TB retrieval shape: the corpus-sized scan touches m
    bytes/vector (the code table); full-precision vectors are read only
    for the nq·k·refine_factor candidate rows, fetched through a
    broadcast semi-join on the candidate ids — the big table is never
    shuffled, and AQE keeps the probe side broadcast-sized by
    construction (candidates ≪ corpus).
    """
    from ..functions.vector import cosine_sim, dot, l2sq
    from .knn import _finalize

    if metric not in ("l2", "ip"):
        raise ValueError(f"refine_search supports l2/ip, got {metric!r}")
    cand = (
        pq_search(
            codes, codebooks, queries, k * refine_factor, metric,
            qid_col=qid_col, qvec_col=qvec_col,
        )
        .where(F.col("label") >= 0)
        .select("qid", "label")
    )
    vv = vectors.select(
        F.col(id_col).cast("long").alias("label"), F.col(vec_col).alias("_vvec")
    )
    qq = queries.select(
        F.col(qid_col).cast("long").alias("qid"), F.col(qvec_col).alias("_qvec")
    )
    dist = (
        l2sq(F.col("_qvec"), F.col("_vvec"))
        if metric == "l2"
        else dot(F.col("_qvec"), F.col("_vvec"))
    )
    rescored = (
        F.broadcast(cand)
        .join(vv, "label")
        .join(F.broadcast(qq), "qid")
        .select("qid", "label", dist.alias("distance"))
    )
    return _finalize(qq.select("qid"), rescored, k, metric)


# ---------------------------------------------------------------------------
# IVFPQR — faiss IndexIVFPQR: IVFPQ first stage + an m_refine-byte
# REFINE PQ trained on the second-level residual (what the first PQ
# failed to encode). Search probes the IVFPQ tier for k·k_factor ADC
# candidates, then re-ranks ONLY those candidates on the two-level
# reconstruction centroid + decode1 + decode2 — the faiss semantics
# (IndexIVFPQR.cpp: search_preassigned re-ranks via refine codes),
# with refine cost bounded by nq·k·k_factor rows regardless of corpus
# size. The reference engine has no compressed tier at all
# (/root/reference/include/faiss-metal/MetalIndexFlat.h:47) — superset.
# ---------------------------------------------------------------------------


IVFPQR_CODE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("cell", T.IntegerType(), False),
        T.StructField("code", T.BinaryType(), False),
        T.StructField("code2", T.BinaryType(), False),
    ]
)


def ivfpqr_encode(
    assigned: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    refine_books: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """Two-level encode in ONE scan, no shuffle: r = v − centroid(cell),
    code = PQ1(r), code2 = PQ2(r − decode1(code)) →
    ``(id, cell, code BINARY, code2 BINARY)``."""

    def code(books, R, C, cells):
        books_, rbooks_ = books
        codes = pq_assign_np(R, books_)
        codes2 = pq_assign_np(R - pq_decode_np(codes, books_), rbooks_)
        return [_binary_array(codes), _binary_array(codes2)]

    return _ivf_encode(
        assigned, centroids, (codebooks, refine_books), code, IVFPQR_CODE_SCHEMA,
        id_col, vec_col,
    )


def _pqr_train_np(R: np.ndarray, m: int, m_refine: int, iters: int = 10):
    """IVFPQR's codebook training on the sample residuals ``R`` →
    ``(books, refine_books)``: the refine PQ trains on what the first
    one missed (faiss IndexIVFPQR::train)."""
    books = train_books_np(R, m, iters)
    R2 = R - pq_decode_np(pq_assign_np(R, books), books)
    return books, train_books_np(R2, m_refine, iters)


def ivfpqr_build(
    vectors: DataFrame,
    n_cells: int,
    m: int,
    m_refine: int,
    id_col: str = "id",
    vec_col: str = "vec",
    sample_size: int = 16384,
    iters: int = 10,
):
    """Train coarse + residual + REFINE quantizers and encode the corpus.

    Returns ``(centroids, codebooks (m,256,d/m), refine_books
    (m_refine,256,d/m_refine), codes DataFrame)``. All three trainers
    run on the same O(sample) driver-side sample (the faiss discipline:
    IndexIVFPQR::train trains the refine PQ on the residual-of-residual
    of its own training set); encoding is one distributed scan.
    """
    centroids, assigned, R = _ivf_prologue(
        vectors, n_cells, id_col, vec_col, sample_size, iters
    )
    books, refine_books = _pqr_train_np(R, m, m_refine, iters)
    codes_df = ivfpqr_encode(
        assigned, centroids, books, refine_books, id_col=id_col, vec_col=vec_col
    )
    return centroids, books, refine_books, codes_df


def ivfpqr_search(
    codes: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    refine_books: np.ndarray,
    queries: DataFrame,
    k: int,
    nprobe: int = 8,
    k_factor: int = 4,
    qid_col: str = "qid",
    qvec_col: str = "vec",
) -> DataFrame:
    """IVFPQ ADC probe for ``k·k_factor`` candidates, then re-rank on
    the two-level reconstruction (faiss ``IndexIVFPQR::search``; its
    default k_factor is 4 too). L2 only, like the IVFPQ tier.

    Scale shape: stage 1 is the partition-pruned per-cell ADC scan;
    stage 2 touches exactly nq·k·k_factor candidate code rows, fetched
    by broadcast semi-join on the candidate ids — the code table is
    never shuffled and never decoded corpus-wide.
    """
    cand = (
        ivfpq_search(
            codes, centroids, codebooks, queries, k * k_factor, nprobe,
            qid_col=qid_col, qvec_col=qvec_col,
        )
        .where(F.col("label") >= 0)
        .select("qid", "label")
    )
    rows = codes.select(
        F.col("id").alias("label"), "cell", "code", "code2"
    )
    qq = queries.select(
        F.col(qid_col).cast("long").alias("qid"), F.col(qvec_col).alias("_qvec")
    )
    joined = F.broadcast(cand).join(rows, "label").join(F.broadcast(qq), "qid")

    spark = codes.sparkSession
    bc = spark.sparkContext.broadcast((centroids, codebooks, refine_books))

    def rerank(batches):
        import pyarrow as pa

        C_, books_, rbooks_ = bc.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            qids = _arrow_i64(batch.column("qid"))
            labels = _arrow_i64(batch.column("label"))
            cells = batch.column("cell").to_numpy(zero_copy_only=False)
            c1 = _arrow_codes(batch.column("code"))
            c2 = _arrow_codes(batch.column("code2"))
            Q_ = _arrow_matrix(batch.column("_qvec"), "array", np.float64)
            rec = C_[cells] + pq_decode_np(c1, books_) + pq_decode_np(c2, rbooks_)
            diff = Q_ - rec
            dist = np.einsum("ij,ij->i", diff, diff)
            yield pa.record_batch(
                [pa.array(qids), pa.array(labels), pa.array(dist)],
                names=["qid", "label", "distance"],
            )

    rescored = joined.mapInArrow(rerank, _PARTIAL_SCHEMA)
    return _finalize(qq.select("qid"), rescored, k, "l2")
