"""Residual quantization (RQ) — faiss ``IndexResidualQuantizer``.

Additive quantization's greedy member (Chen/Guan/Wang, "Approximate
Nearest Neighbor Search by Residual Vector Quantization", 2010; faiss
``ResidualQuantizer`` with the default greedy training, beam_size=1):
M sequential stages, each a FULL-WIDTH 256-entry codebook trained on
what the previous stages failed to encode; a vector's code is the
stage-wise argmin chain and its reconstruction the SUM of the chosen
codewords. Where PQ slices the space (independent subspaces), RQ
stacks it (sequential residuals) — same m bytes/vector, usually lower
reconstruction error on correlated data because every stage sees all
dimensions. The reference engine has no compressed tier at all
(/root/reference/include/faiss-metal/MetalIndexFlat.h:47) — superset.

Scale shape is the PQ discipline exactly:

- **train** O(sample) on the driver (stage-wise k-means on residuals);
- **encode** one scan of the shared encode driver ``knn._encode_scan``
  (one ``mapInArrow`` pass, no shuffle), emitting
  ``(id, code BINARY (M bytes), recn DOUBLE)`` — ``recn`` = ‖Σ c_m‖²
  precomputed at encode time, the term that makes search LUT-only;
- **search** uses the additive identity
  ‖q − Σ c_m‖² = ‖q‖² − 2·Σ_m ⟨q, c_m[code_m]⟩ + ‖Σ c_m‖²:
  broadcast nq×M×256 inner-product LUTs (query-batch-sized, like the
  ADC tables), M gathers + the stored ``recn`` per row — no decode,
  no FP vector reconstructed in the hot path; the ``lut_scan`` kernel
  of the shared ``knn.flat_scan`` driver (per-partition partial top-k
  → the shared ``_finalize`` merge).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .knn import ScanKernel, _encode_rows, _encode_scan, flat_scan
from .pq import (
    _arrow_codes,
    _check_pack4,
    _code_array,
    _decode_frame,
    _fuse_lut4,
    _lut_gather,
    train_books_np,
)
from .similarity import _ivf_encode, _ivf_prologue, _train_sample_matrix


def rq_train_np(
    X: np.ndarray, m: int, iters: int = 10, ksub: int = 256
) -> np.ndarray:
    """Greedy stage-wise RQ training on a host sample → ``(m, ksub,
    d)``. Stage j's k-means sees the sample's residual after stages
    0..j−1 — the faiss greedy RQ trainer (beam_size=1). ``ksub`` is
    2^nbits (16 for the 4-bit fast-scan stages)."""
    R = np.asarray(X, np.float64).copy()
    books = []
    for _ in range(m):
        bj = train_books_np(R, 1, iters, ksub=ksub)[0]  # full-width stage
        codes = _stage_assign(R, bj)
        R = R - bj[codes]
        books.append(bj)
    return np.stack(books)


def rq_train(
    vectors: DataFrame,
    m: int,
    id_col: str = "id",
    vec_col: str = "vec",
    sample_size: int = 16384,
    iters: int = 10,
    nbits: int = 8,
) -> np.ndarray:
    """Greedy stage-wise training → codebooks ``(m, 2^nbits, d)`` (each
    stage full-width); O(sample) on the driver like the PQ trainer."""
    X = _train_sample_matrix(vectors, id_col, vec_col, sample_size)
    return _addq_train_np(X, m, None, iters, nbits)


def _stage_assign(X: np.ndarray, book: np.ndarray) -> np.ndarray:
    """argmin‖x − c‖² over one stage's 256 codewords (cn − 2xc
    decomposition, first-index ties — the shared assign arithmetic)."""
    cn = (book * book).sum(1)
    return (cn[None, :] - 2.0 * (X @ book.T)).argmin(1)


def rq_icm_refine_np(
    X: np.ndarray, codebooks: np.ndarray, codes: np.ndarray, sweeps: int = 1
) -> np.ndarray:
    """Iterated-conditional-modes refinement of RQ codes — the encode
    move of faiss's LocalSearchQuantizer (ICM) applied to the residual
    codebooks: for each stage in turn, holding the other stages fixed,
    re-pick the codeword minimizing the TOTAL reconstruction error.
    Pure coordinate descent, so per-vector error is monotonically
    non-increasing sweep over sweep — a stronger guarantee than beam
    search (which can only re-order prefixes). Vectorized per stage:
    the stage's target is ``x − Σ_{m≠j} c_m``, one argmin over the
    stage book."""
    X = np.atleast_2d(np.asarray(X, np.float64))
    codes = np.array(codes, dtype=np.uint8, copy=True)
    m = len(codebooks)
    rec = rq_decode_np(codes, codebooks)
    for _ in range(int(sweeps)):
        for j in range(m):
            # target for stage j = x minus every OTHER stage's codeword
            tgt = X - rec + codebooks[j][codes[:, j]]
            cj = _stage_assign(tgt, codebooks[j])
            rec += codebooks[j][cj] - codebooks[j][codes[:, j]]
            codes[:, j] = cj
    return codes


def rq_assign_np(
    X: np.ndarray, codebooks: np.ndarray, beam: int = 1, icm_sweeps: int = 0
) -> np.ndarray:
    """(n, d) float → (n, m) uint8 sequential stage codes — the ONE
    statement of RQ encoding, shared by the distributed encode and the
    host codec so assignment can never drift.

    ``beam`` ≙ faiss ``ResidualQuantizer::max_beam_size``: at each
    stage keep the ``beam`` best partial chains by TRUE residual energy
    (recomputed, not accumulated — no cancellation drift), expand each
    against all codewords, re-select. ``beam=1`` is the greedy faiss
    default-trainer chain (fast path, bit-identical to the historical
    encode); larger beams trade encode FLOPs for reconstruction error.
    Ties break on first index at every selection (stable sorts), so the
    output is deterministic.

    ``icm_sweeps`` > 0 post-refines the chain with
    :func:`rq_icm_refine_np` (LSQ's ICM encode move) — composable with
    any beam width; per-vector error never increases."""
    X = np.atleast_2d(np.asarray(X, np.float64))
    m = len(codebooks)
    if beam <= 1:
        R = X.copy()
        codes = np.empty((len(X), m), dtype=np.uint8)
        for j in range(m):
            cj = _stage_assign(R, codebooks[j])
            codes[:, j] = cj
            R = R - codebooks[j][cj]
        if icm_sweeps:
            codes = rq_icm_refine_np(X, codebooks, codes, icm_sweeps)
        return codes
    n, d = X.shape
    ksub = codebooks.shape[1]
    B = min(int(beam), ksub)
    if n == 0:
        return np.empty((0, m), dtype=np.uint8)
    # stage 0: best B single-stage prefixes per vector
    c0 = codebooks[0]
    cn0 = (c0 * c0).sum(1)
    e0 = (X * X).sum(1)[:, None] + cn0[None, :] - 2.0 * (X @ c0.T)
    sel = np.argsort(e0, axis=1, kind="stable")[:, :B]  # (n, B)
    codes_acc = np.zeros((n, B, m), dtype=np.uint8)
    codes_acc[:, :, 0] = sel
    res = X[:, None, :] - c0[sel]  # (n, B, d)
    errs = (res * res).sum(2)
    for j in range(1, m):
        cj = codebooks[j]
        cnj = (cj * cj).sum(1)
        cand = errs[:, :, None] + cnj[None, None, :] - 2.0 * (res @ cj.T)
        flat = cand.reshape(n, B * ksub)
        sel2 = np.argsort(flat, axis=1, kind="stable")[:, :B]  # (n, B)
        parent = sel2 // ksub
        code_k = (sel2 % ksub).astype(np.uint8)
        codes_acc = np.take_along_axis(
            codes_acc, parent[:, :, None], axis=1
        )
        codes_acc[:, :, j] = code_k
        res = np.take_along_axis(res, parent[:, :, None], axis=1) - cj[code_k]
        errs = (res * res).sum(2)
    best = codes_acc[:, 0, :]
    if icm_sweeps:
        best = rq_icm_refine_np(X, codebooks, best, icm_sweeps)
    return best


def rq_decode_np(codes: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """(n, m) uint8 → (n, d) float64 codeword SUM (the additive
    inverse; ≙ IndexResidualQuantizer::reconstruct)."""
    codes = np.atleast_2d(codes)
    out = np.zeros((len(codes), codebooks.shape[2]), np.float64)
    for j in range(len(codebooks)):
        out += codebooks[j][codes[:, j]]
    return out


RQ_CODE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("code", T.BinaryType(), False),
        T.StructField("recn", T.DoubleType(), False),
    ]
)


def _additive_code(books, X, beam: int, icm_sweeps: int, pack4: bool, offset=None):
    """The additive codec's encode of rows ``X`` → its ``[code, recn]``
    columns: ``recn`` = ‖reconstruction (+ ``offset``, the centroids of
    a by-residual IVF code)‖², precomputed so search never decodes;
    packing is layout, ``recn`` reflects the unpacked codes."""
    import pyarrow as pa

    codes = addq_assign_np(X, books, beam=beam, icm_sweeps=icm_sweeps)
    full = addq_decode_np(codes, books)
    if offset is not None:
        full = full + offset
    return [_code_array(codes, pack4), pa.array((full * full).sum(1))]


def _additive_encode(vectors, codebooks, id_col, vec_col, beam, icm_sweeps, pack4):
    """``rq_encode`` / ``prq_encode``: the additive codec through the
    ``knn._encode_scan`` driver → ``(id, code, recn)``."""

    def enc(books, V, batch):
        return [batch.column("id"), *_additive_code(books, V, beam, icm_sweeps, pack4)]

    return _encode_scan(
        _encode_rows(vectors, id_col, vec_col), codebooks, enc, RQ_CODE_SCHEMA
    )


def rq_encode(
    vectors: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vec",
    beam: int = 1,
    icm_sweeps: int = 0,
    pack4: bool = False,
) -> DataFrame:
    """One-scan encode → ``(id, code BINARY, recn DOUBLE)``; ``recn``
    = ‖reconstruction‖², precomputed here so search never decodes.
    ``beam``/``icm_sweeps`` forward to :func:`rq_assign_np` (faiss
    max_beam_size / LSQ ICM refinement). ``pack4`` stores the
    fast-scan two-codes-per-byte layout (nbits=4 stages only; faiss
    IndexResidualQuantizerFastScan — ``recn`` still reflects the full
    unpacked reconstruction, packing is layout)."""
    _check_pack4(codebooks.shape[1], pack4)
    return _additive_encode(
        vectors, codebooks, id_col, vec_col, beam, icm_sweeps, pack4
    )


def rq_search(
    codes: DataFrame,
    codebooks: np.ndarray,
    queries: DataFrame,
    k: int,
    qid_col: str = "qid",
    qvec_col: str = "vec",
    packed4: bool = False,
) -> DataFrame:
    """Asymmetric top-k over RQ codes via the additive identity
    (see module docstring) — distances are EXACTLY
    ‖q − reconstruction‖² in float64, so results match a
    decode-then-score oracle to rounding. L2 only (the faiss RQ
    default metric). Returns (qid, rank, label, distance).

    ``packed4``: the fast-scan layout (faiss
    IndexResidualQuantizerFastScan) — codes carry two 4-bit stage
    codes per byte and the per-stage 16-entry inner-product LUTs fuse
    into per-byte 256-entry tables, so the scan gathers once per
    stored byte. The fused gather sums the SAME inner products
    pair-associated, so distances match the unpacked nbits=4 path to
    summation-order ulp (labels identical: equal code chains fuse to
    bit-equal sums)."""
    return flat_scan(
        codes, queries, lut_scan(codebooks, packed4), k=k,
        qid_col=qid_col, qvec_col=qvec_col,
    )


def _check_lut_broadcast(lut: np.ndarray) -> None:
    """Same ceiling discipline as pq.py: the LUT is nq·m·256 doubles —
    past the ceiling it would OOM an executor, so raise with the
    chunked_queries remedy instead."""
    from .knn import _MAX_BROADCAST_ELEMS

    if lut.size > _MAX_BROADCAST_ELEMS:
        raise ValueError(
            f"ADC LUT too large to broadcast ({lut.size} elems > "
            f"{_MAX_BROADCAST_ELEMS}); use smaller query batches "
            f"(see operators.chunked.chunked_queries)"
        )


def _check_code_width(codes: np.ndarray, width: int) -> None:
    """Hard width check: stale/mismatched codebooks must raise, not
    gather a prefix of each code silently while ``recn`` reflects the
    full reconstruction."""
    if codes.shape[1] != width:
        raise ValueError(
            f"stored code width {codes.shape[1]} != codebook "
            f"stages {width}: codes/codebooks mismatch"
        )


def _additive_distance(qn: np.ndarray, ip: np.ndarray, recn: np.ndarray) -> np.ndarray:
    """‖q − r‖² = ‖q‖² − 2⟨q, r⟩ + ‖r‖² from the gathered inner
    products ``ip`` and the stored ``recn`` = ‖r‖², clamped at 0."""
    D = qn[:, None] - 2.0 * ip + recn[None, :]
    np.maximum(D, 0.0, out=D)
    return D


def lut_scan(codebooks: np.ndarray, packed4: bool = False) -> ScanKernel:
    """The additive-LUT kernel of :func:`~.knn.flat_scan` over an
    ``(id, code, recn)`` table — RQ ``(m, ksub, d)`` or PRQ ``(ns, m,
    ksub, dsub)`` codebooks (the disjoint-block identity makes PRQ the
    same scan with a block-diagonal table). The driver builds the (nq,
    m_total, ksub) inner-product LUT once (``packed4``: fused per-byte
    tables over the fast-scan layout), validated against the query dim
    and the broadcast ceiling; each Arrow batch checks the stored code
    width and sums one gather per code byte plus ``recn``. Partial
    top-k by (distance, label) lexsort: quantized reconstructions
    collide heavily (≤ ksub^m distinct code chains), so tie groups
    routinely exceed k and an arbitrary-member argpartition would drop
    the labels the deterministic final merge is bound to keep."""

    def prepare(Q: np.ndarray):
        lut = addq_lut(Q, codebooks)  # validates the query dim
        if packed4:
            if codebooks.ndim == 4 and codebooks.shape[2] != 16:
                raise ValueError(
                    f"packed4 requires nbits=4 codebooks, got ksub={codebooks.shape[2]}"
                )
            lut = _fuse_lut4(lut)
        _check_lut_broadcast(lut)
        return (Q * Q).sum(1), lut

    def score(state, batch) -> np.ndarray:
        qn, lut = state
        codes = _arrow_codes(batch.column("code"))
        _check_code_width(codes, lut.shape[1])
        recn = batch.column("recn").to_numpy(zero_copy_only=True)
        return _additive_distance(qn, _lut_gather(lut, codes), recn)

    return ScanKernel(score, prepare, lexsort=True)


# ---------------------------------------------------------------------------
# Product residual quantization (PRQ) — faiss IndexProductResidualQuantizer
# (factory "PRQ<nsplits>x<Msub>x8"): split the d dims into nsplits disjoint
# coordinate blocks and run an INDEPENDENT residual quantizer per block
# (faiss ProductAdditiveQuantizer — each sub-quantizer trains/encodes on its
# slice).  Because the blocks are disjoint coordinates, the L2 identity
# decomposes exactly:  ‖q − r‖² = ‖q‖² − 2·Σ_s⟨q_s, r_s⟩ + Σ_s‖r_s‖²,
# so search is the SAME LUT-gather ADC scan as RQ with a block-diagonal
# (nq, nsplits·Msub, 256) table — one shared kernel (``lut_scan``) on the
# shared flat driver (``knn.flat_scan``).
# The reference engine has no compressed tier at all
# (/root/reference/include/faiss-metal/MetalIndexFlat.h:47) — superset.
# ---------------------------------------------------------------------------


def prq_train(
    vectors: DataFrame,
    nsplits: int,
    m: int,
    id_col: str = "id",
    vec_col: str = "vec",
    sample_size: int = 16384,
    iters: int = 10,
    nbits: int = 8,
) -> np.ndarray:
    """One driver-side sample, one greedy RQ trainer per coordinate
    block → codebooks ``(nsplits, m, 2^nbits, dsub)``."""
    X = _train_sample_matrix(vectors, id_col, vec_col, sample_size)
    d = X.shape[1]
    if d % nsplits:
        raise ValueError(f"d={d} not divisible by nsplits={nsplits}")
    if not 1 <= int(nbits) <= 8:
        raise ValueError(f"nbits must be 1..8, got {nbits}")
    ksub = 1 << int(nbits)
    dsub = d // nsplits
    return np.stack(
        [
            rq_train_np(X[:, s * dsub : (s + 1) * dsub], m, iters, ksub=ksub)
            for s in range(nsplits)
        ]
    )


def prq_assign_np(
    X: np.ndarray, codebooks: np.ndarray, beam: int = 1, icm_sweeps: int = 0
) -> np.ndarray:
    """(n, d) float → (n, nsplits·m) uint8: each block encoded by its own
    sub-RQ (faiss ProductAdditiveQuantizer::compute_codes — the beam /
    ICM discipline applies PER BLOCK, matching the faiss sub-quantizer
    loop, not a joint beam over the concatenated chain)."""
    X = np.atleast_2d(np.asarray(X, np.float64))
    ns, m, _, dsub = codebooks.shape
    if X.shape[1] != ns * dsub:
        raise ValueError(f"expected (n, {ns * dsub}) array, got {X.shape}")
    out = np.empty((len(X), ns * m), dtype=np.uint8)
    for s in range(ns):
        out[:, s * m : (s + 1) * m] = rq_assign_np(
            X[:, s * dsub : (s + 1) * dsub], codebooks[s],
            beam=beam, icm_sweeps=icm_sweeps,
        )
    return out


def prq_decode_np(codes: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """(n, nsplits·m) uint8 → (n, d): per-block codeword sums concatenated."""
    codes = np.atleast_2d(codes)
    ns, m, _, dsub = codebooks.shape
    return np.concatenate(
        [
            rq_decode_np(codes[:, s * m : (s + 1) * m], codebooks[s])
            for s in range(ns)
        ],
        axis=1,
    )


def prq_encode(
    vectors: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vec",
    beam: int = 1,
    icm_sweeps: int = 0,
    pack4: bool = False,
) -> DataFrame:
    """One-scan encode → ``(id, code BINARY (nsplits·m bytes), recn
    DOUBLE)`` — the RQ encode shape with per-block assignment.
    ``pack4`` stores the fast-scan two-codes-per-byte layout (nbits=4
    blocks only; faiss IndexProductResidualQuantizerFastScan — pairs
    pack in stored-byte order straight across block boundaries, the
    same flattened (ns·m)-chain the LUT fusion pairs)."""
    _check_pack4(codebooks.shape[2], pack4)
    return _additive_encode(
        vectors, codebooks, id_col, vec_col, beam, icm_sweeps, pack4
    )


def prq_search(
    codes: DataFrame,
    codebooks: np.ndarray,
    queries: DataFrame,
    k: int,
    qid_col: str = "qid",
    qvec_col: str = "vec",
    packed4: bool = False,
) -> DataFrame:
    """Asymmetric top-k over PRQ codes — block-diagonal LUTs feeding the
    shared RQ gather scan; distances are exactly ‖q − reconstruction‖²
    in float64 (the disjoint-block identity above). ``packed4``: the
    fast-scan layout (faiss IndexProductResidualQuantizerFastScan) —
    adjacent 4-bit stages of the flattened (ns·m) chain fuse into
    per-byte 256-entry tables exactly as in :func:`rq_search`; the
    inner products are linear, so pairing across a block boundary sums
    the same reals pair-associated (labels identical, distances to
    summation-order ulp)."""
    return flat_scan(
        codes, queries, lut_scan(codebooks, packed4), k=k,
        qid_col=qid_col, qvec_col=qvec_col,
    )


def rq_range_search(
    codes: DataFrame,
    codebooks: np.ndarray,
    queries: DataFrame,
    radius: float,
    qid_col: str = "qid",
    qvec_col: str = "vec",
) -> DataFrame:
    """faiss ``IndexResidualQuantizer::range_search`` (inherited from
    IndexFlatCodes): all stored codes whose exact asymmetric distance
    ‖q − reconstruction‖² is strictly under ``radius`` — unordered
    (qid, label, distance), same contract as the flat operator."""
    return flat_scan(
        codes, queries, lut_scan(codebooks), radius=float(radius),
        qid_col=qid_col, qvec_col=qvec_col,
    )


def prq_range_search(
    codes: DataFrame,
    codebooks: np.ndarray,
    queries: DataFrame,
    radius: float,
    qid_col: str = "qid",
    qvec_col: str = "vec",
) -> DataFrame:
    """Product form of :func:`rq_range_search` (faiss
    IndexProductResidualQuantizer::range_search) — block-diagonal LUTs,
    same scan."""
    return flat_scan(
        codes, queries, lut_scan(codebooks), radius=float(radius),
        qid_col=qid_col, qvec_col=qvec_col,
    )


# ---------------------------------------------------------------------------
# IVF additive quantizers — faiss IndexIVFResidualQuantizer /
# IndexIVFLocalSearchQuantizer and their product forms
# (IndexIVFProductResidualQuantizer / IndexIVFProductLocalSearchQuantizer;
# factory "IVF<n>,RQ<m>x8", "IVF<n>,LSQ<m>x8", "IVF<n>,PRQ<ns>x<m>x8",
# "IVF<n>,PLSQ<ns>x<m>x8").  Composition of the two proven pieces: the
# coarse IVF cell machinery (operators/similarity.py — train/assign/
# probe-map/partition-pruned scan) and the additive LUT arithmetic above.
# Default faiss behavior is by_residual=True: each vector's additive code
# encodes (x − centroid(cell)), so the full reconstruction is
# centroid + Σ c_m and the L2 identity extends with ONE extra per-cell
# term:  ‖q − full‖² = ‖q‖² − 2(⟨q, centroid⟩ + Σ_m ⟨q, c_m⟩) + ‖full‖².
# The inner-product LUTs ⟨q, c_mk⟩ are CELL-INDEPENDENT (unlike IVFPQ's
# squared-difference tables), so one global (nq, m_total, ksub) table
# broadcast serves every probed cell; only the scalar ⟨q, centroid⟩ is
# per-cell.  ‖full‖² is precomputed at encode time into ``recn`` — the
# scan never decodes a vector.  by_residual=False stores plain additive
# codes of x (cells only gate WHICH rows scan), making full-probe search
# bit-identical to the flat RQ/PRQ tier under shared codebooks.
# Scale shape: training O(sample) on the driver; encode one mapInArrow
# scan, no shuffle; search scans only probed cells (partition-pruned when
# the code table persists partitionBy("cell")) with per-cell partial
# top-k → the shared _finalize merge.
# ---------------------------------------------------------------------------


def addq_assign_np(
    X: np.ndarray, codebooks: np.ndarray, beam: int = 1, icm_sweeps: int = 0
) -> np.ndarray:
    """Additive assignment dispatched on the codebook rank: ``(m, ksub,
    d)`` → RQ stage chain, ``(ns, m, ksub, dsub)`` → per-block PRQ."""
    if codebooks.ndim == 3:
        return rq_assign_np(X, codebooks, beam=beam, icm_sweeps=icm_sweeps)
    return prq_assign_np(X, codebooks, beam=beam, icm_sweeps=icm_sweeps)


def addq_decode_np(codes: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """Additive decode dispatched on the codebook rank (see
    :func:`addq_assign_np`)."""
    if codebooks.ndim == 3:
        return rq_decode_np(codes, codebooks)
    return prq_decode_np(codes, codebooks)


def addq_m_total(codebooks: np.ndarray) -> int:
    """Stored bytes per vector: m for RQ, ns·m for PRQ."""
    if codebooks.ndim == 3:
        return len(codebooks)
    return codebooks.shape[0] * codebooks.shape[1]


def addq_is4(codebooks: np.ndarray) -> bool:
    """True when every stage is a 4-bit (16-entry) book — the
    fast-scan packing precondition, either codebook rank."""
    return (codebooks.ndim == 3 and codebooks.shape[1] == 16) or (
        codebooks.ndim == 4 and codebooks.shape[2] == 16
    )


def addq_lut(Q: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """Query/codeword inner-product LUTs ``(nq, m_total, ksub)`` — one
    slab per stored code byte; full-width for RQ, block-diagonal for
    PRQ (the disjoint-coordinate identity)."""
    if codebooks.ndim == 3:
        if Q.shape[1] != codebooks.shape[2]:
            raise ValueError(
                f"query dim {Q.shape[1]} != codebook dim {codebooks.shape[2]}"
            )
        return np.einsum("qd,mkd->qmk", Q, codebooks)
    ns, m, ksub, dsub = codebooks.shape
    if Q.shape[1] != ns * dsub:
        raise ValueError(f"query dim {Q.shape[1]} != codebook dim {ns * dsub}")
    lut = np.empty((len(Q), ns * m, ksub), np.float64)
    for s in range(ns):
        Qs = Q[:, s * dsub : (s + 1) * dsub]
        lut[:, s * m : (s + 1) * m, :] = np.einsum("qd,mkd->qmk", Qs, codebooks[s])
    return lut


IVFRQ_CODE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("cell", T.IntegerType(), False),
        T.StructField("code", T.BinaryType(), False),
        T.StructField("recn", T.DoubleType(), False),
    ]
)


def _addq_train_np(
    X: np.ndarray, m: int, nsplits: int | None, iters: int, nbits: int
) -> np.ndarray:
    """Additive codebook training on the sample rows ``X``
    (``rq_train`` / the IVF additive builders): one full-width residual
    quantizer (``nsplits=None``) or one per coordinate block."""
    if not 1 <= int(nbits) <= 8:
        raise ValueError(f"nbits must be 1..8, got {nbits}")
    ksub = 1 << int(nbits)
    if nsplits is None:
        return rq_train_np(X, m, iters, ksub=ksub)
    d = X.shape[1]
    if d % nsplits:
        raise ValueError(f"d={d} not divisible by nsplits={nsplits}")
    dsub = d // nsplits
    return np.stack(
        [
            rq_train_np(X[:, s * dsub : (s + 1) * dsub], m, iters, ksub=ksub)
            for s in range(nsplits)
        ]
    )


def ivfrq_build(
    vectors: DataFrame,
    n_cells: int,
    m: int,
    nsplits: int | None = None,
    id_col: str = "id",
    vec_col: str = "vec",
    sample_size: int = 16384,
    iters: int = 10,
    beam: int = 1,
    icm_sweeps: int = 0,
    by_residual: bool = True,
    nbits: int = 8,
    pack4: bool = False,
    centroids: np.ndarray | None = None,
    assigner=None,
):
    """Train coarse + additive quantizers and encode the corpus.

    Returns ``(centroids (n_cells, d), codebooks, codes DataFrame (id,
    cell, code BINARY, recn DOUBLE))``. ``nsplits=None`` trains one
    full-width residual quantizer (faiss IVF+RQ/LSQ); an int trains an
    independent per-coordinate-block quantizer (IVF+PRQ/PLSQ).
    ``nbits``/``pack4``: 4-bit stages stored two per byte — the faiss
    IndexIVFAdditiveQuantizerFastScan layout (RQ form only).
    Training is O(sample) on the driver (both quantizers, through the
    shared ``similarity._ivf_prologue``; the additive stages train on
    the sample's COARSE residuals when ``by_residual``, matching faiss's
    default), encoding is one scan — no shuffle."""
    centroids, assigned, X = _ivf_prologue(
        vectors, n_cells, id_col, vec_col, sample_size, iters,
        centroids=centroids, assigner=assigner, by_residual=by_residual,
    )
    books = _addq_train_np(X, m, nsplits, iters, nbits)
    codes = ivfrq_encode(
        assigned, centroids, books, id_col=id_col, vec_col=vec_col,
        beam=beam, icm_sweeps=icm_sweeps, by_residual=by_residual,
        pack4=pack4,
    )
    return centroids, books, codes


def ivfrq_encode(
    assigned: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vec",
    beam: int = 1,
    icm_sweeps: int = 0,
    by_residual: bool = True,
    pack4: bool = False,
) -> DataFrame:
    """Additive-encode a cell-assigned table → ``(id, cell, code, recn)``
    in one scan. ``recn`` = ‖FULL reconstruction‖² (centroid included
    when ``by_residual``) — the term that keeps search LUT-only.
    ``pack4`` stores the fast-scan two-codes-per-byte layout (4-bit RQ
    stages only; recn still reflects the unpacked reconstruction)."""
    if pack4 and not addq_is4(codebooks):
        raise ValueError(
            "pack4 requires nbits=4 additive codebooks ((m, 16, d) RQ "
            f"or (ns, m, 16, dsub) PRQ); got shape {codebooks.shape}"
        )

    def code(books, X, C, cells):
        offset = C[cells] if by_residual else None
        return _additive_code(books, X, beam, icm_sweeps, pack4, offset)

    return _ivf_encode(
        assigned, centroids, codebooks, code, IVFRQ_CODE_SCHEMA, id_col, vec_col,
        by_residual=by_residual,
    )


def additive_scan(
    centroids: np.ndarray,
    codebooks: np.ndarray,
    by_residual: bool = True,
    packed4: bool = False,
):
    """The additive-LUT scan kernel of the IVF additive file (faiss
    ``IndexIVFAdditiveQuantizer``'s scanner) for
    :func:`~.similarity.probe_scan`: distances are EXACTLY ‖q − full
    reconstruction‖² via the extended additive identity (module
    section header) — one cell-independent (nq, m_total, ksub)
    inner-product LUT for the whole batch (validated against the
    query dim and the broadcast cap on the driver), plus the per-cell
    scalar ⟨q, centroid(cell)⟩ when ``by_residual``. ``packed4``: the
    fast-scan layout, fused per-byte LUTs over packed 4-bit codes.
    Partial top-k by (distance, label) lexsort — additive codes
    collide heavily, the same argument as the flat kernel
    :func:`lut_scan`, whose width check, gather and distance identity
    this kernel shares."""

    def prepare(Q: np.ndarray):
        lut = addq_lut(Q, codebooks)  # validates the query dim
        if packed4:
            if not addq_is4(codebooks):
                raise ValueError(
                    "packed4 requires nbits=4 additive codebooks ((m, 16, d) "
                    f"RQ or (ns, m, 16, dsub) PRQ); got shape {codebooks.shape}"
                )
            lut = _fuse_lut4(lut)
        _check_lut_broadcast(lut)
        return centroids, lut, (Q * Q).sum(1)

    def score(state, Q, qidx, cell, pdf):
        C, lut, qn = state
        codes = np.frombuffer(
            b"".join(pdf["code"].tolist()), dtype=np.uint8
        ).reshape(len(pdf), -1)
        _check_code_width(codes, lut.shape[1])
        ip = _lut_gather(lut[qidx], codes)
        if by_residual:
            # the one per-cell scalar: <q, centroid(cell)> per query
            ip += (Q[qidx] @ C[cell])[:, None]
        return _additive_distance(qn[qidx], ip, pdf["recn"].to_numpy(np.float64))

    return ScanKernel(score, prepare, lexsort=True)


def ivfrq_search(
    codes: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    queries: DataFrame,
    k: int,
    nprobe: int,
    qid_col: str = "qid",
    qvec_col: str = "vec",
    by_residual: bool = True,
    probe_cells=None,
    max_codes: int | None = None,
    packed4: bool = False,
) -> DataFrame:
    """Probe ``nprobe`` cells, additive-LUT ADC within each (L2 only,
    the faiss IVF-additive metric). Distances are EXACTLY
    ‖q − full reconstruction‖² in float64 via the extended additive
    identity (module section header), so results match a
    decode-then-score oracle to rounding.

    ``probe_cells`` / ``max_codes`` follow the ivfpq_search contract
    (caller-supplied probe hook; faiss SearchParametersIVF::max_codes
    whole-list pre-check). ``packed4``: the fast-scan layout (faiss
    IndexIVFAdditiveQuantizerFastScan) — fused per-byte LUTs over
    packed 4-bit RQ codes, distances ≡ unpacked to pair-association
    ulp. Scan cost is probed cells only; the LUT broadcast is
    query-batch-sized and shared across cells."""
    from .similarity import probe_scan

    return probe_scan(
        codes, queries,
        additive_scan(centroids, codebooks, by_residual, packed4=packed4),
        nprobe, centroids=centroids, k=k, probe_cells=probe_cells,
        max_codes=max_codes, qid_col=qid_col, qvec_col=qvec_col,
    )


def ivfrq_range_search(
    codes: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    queries: DataFrame,
    radius: float,
    nprobe: int,
    qid_col: str = "qid",
    qvec_col: str = "vec",
    by_residual: bool = True,
    probe_cells=None,
) -> DataFrame:
    """faiss ``IndexIVFAdditiveQuantizer`` range_search: the additive
    radius filter over the probed cells — strict ``distance < radius``
    (L2), exact w.r.t. the code approximation within cell coverage,
    subset under partial probes, never a false positive. Unordered
    (qid, label, distance); each probed cell group emits its passing
    pairs directly, so output volume is bounded by the radius."""
    from .similarity import probe_scan

    return probe_scan(
        codes, queries, additive_scan(centroids, codebooks, by_residual),
        nprobe, centroids=centroids, radius=radius, probe_cells=probe_cells,
        qid_col=qid_col, qvec_col=qvec_col,
    )


def rq_reconstruct(
    codes: DataFrame, codebooks: np.ndarray, id_col: str = "id"
) -> DataFrame:
    """Distributed additive decode: ``(id, vec ARRAY<FLOAT>)`` from the
    code table — the RQ/PRQ twin of ``pq.pq_reconstruct`` (one
    ``mapInArrow`` scan, no shuffle), for rerank stages that need
    approximate float vectors (e.g. a ``Refine(RQ4x8)`` tier)."""
    return _decode_frame(codes, addq_decode_np, codebooks, id_col)
