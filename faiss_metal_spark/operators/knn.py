"""Brute-force kNN search — the engine's core operator.

Logical semantics (what the reference computes): a theta cross product
``queries × vectors`` under an L2²/IP/cosine distance expression,
followed by per-query top-k, with FAISS result conventions
(/root/reference/src/MetalIndexFlat.mm:313-401):

- ``k`` clamped to ``ntotal``; ranks beyond ``min(k, ntotal)`` padded
  with sentinel distance (+inf for L2, −inf for IP/cosine-sim ordering)
  and label −1.
- Empty index or empty query batch → all-sentinel rows, no error.
- Output sorted best-first per query, rank 0..k−1.

Physical strategies (the §4 planner, chosen by ``method='auto'``):

``gemm``  — the scale path, analog of the reference's simdgroup-GEMM +
  two-phase top-k select (/root/reference/shaders/simdgroup_gemm.metal,
  block_select.metal), run by ``flat_scan`` — the one scan-and-merge
  driver every exhaustive search shares (float here, PQ ADC in pq.py,
  additive LUTs in rq.py) — with the ``gemm_scan`` kernel. Queries are
  small by contract (like the build side of a broadcast join):
  collected to a numpy (nq×d) matrix and broadcast to every executor.
  A single ``mapInArrow`` pass over the vector partitions computes
  per-Arrow-batch distance blocks with BLAS (``Q @ V.T``, one
  ``_metric_block`` epilogue) and folds them into a *running*
  per-partition top-k (``_topk_fold``) —
  the full (nq×nv) distance matrix is never materialized, which is
  exactly the reference's fused_l2_topk strategy
  (/root/reference/shaders/fused_l2_topk.metal:19-124) generalized to
  every input size. Each partition emits ≤ nq·k candidate rows, so the
  only shuffle moves O(num_partitions · nq · k) rows into the final
  merge — Spark's partial+final aggregation shape, identical in
  structure to block_select's phase-1 local top-k + phase-2 merge.

``sql``   — fully declarative crossJoin + higher-order-function distance
  + window rank. Slow (O(nq·nv) shuffled rows) but trivially correct and
  Catalyst-visible end-to-end; it is the in-engine oracle, analog of the
  reference's direct Σ(q−v)² small-input kernel
  (/root/reference/shaders/l2_norm_f16.metal:74-123).

At 100 TB scale the ``gemm`` path is the only sane choice: it does one
scan of the vector table (no shuffle of vector data at all), Python
workers see Arrow batches zero-copy, and distance math is C-speed BLAS.
The broadcast ceiling on queries (default 100k × d) matches Spark's own
broadcast-join discipline; larger query sets should use
``knn_join`` (block-partitioned both sides — see similarity.py).

The write side has one driver too: ``_encode_scan`` runs every
distributed encode (PQ/RQ/PRQ codes, their IVF forms, IVF/IMI cell
assignment) as one broadcast of the codec's frozen state plus one
``mapInArrow`` pass.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from dataclasses import dataclass
from typing import Literal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..functions.vector import cosine_sim, dot, l1dist, l2sq, sqnorm

Metric = Literal["l2", "ip", "cosine", "l1"]

# Result schema of every kNN search (FIXTURES.md "Expected-output schema").
RESULT_SCHEMA = T.StructType(
    [
        T.StructField("qid", T.LongType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("label", T.LongType(), False),
        T.StructField("distance", T.DoubleType(), False),
    ]
)

_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("qid", T.LongType(), False),
        T.StructField("label", T.LongType(), False),
        T.StructField("distance", T.DoubleType(), False),
    ]
)

# Range results are unordered (qid, label, distance) rows — the
# partial-candidate shape, no rank.
RANGE_SCHEMA = _PARTIAL_SCHEMA

# Broadcast-side ceiling for the gemm path, in floats (≈ 64 MB of FP64).
_MAX_BROADCAST_ELEMS = 8_000_000

# Final-merge bound: above parts·k candidate structs per query, insert a
# salted partial merge so no single task collects an unbounded array.
_PREMERGE_PARTS_K = 65_536
_PREMERGE_SALT = 64

# Broadcast the packed merge side only below this nq·k (≈ 16-byte
# structs → well under Spark's 8 GB broadcast ceiling with margin).
_BROADCAST_MERGE_ELEMS = 8_000_000


def _sentinel(metric: Metric) -> float:
    # L2/L1: smaller is better → pad +inf. IP/cosine: larger → pad −inf.
    return math.inf if metric in ("l2", "l1") else -math.inf


def _better_is_min(metric: Metric) -> bool:
    return metric in ("l2", "l1")


# Below this row count the declarative path beats paying the Python
# worker round-trip — the analog of the reference's direct-kernel gate
# for nv ≤ 256 (/root/reference/src/MetalDistance.mm:237-253), scaled
# to where Spark's crossJoin+window actually crosses over.
_SMALL_NV = 1024


def knn_search(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    metric: Metric = "l2",
    method: Literal["auto", "gemm", "sql"] = "auto",
    id_col: str = "id",
    vec_col: str = "vec",
    qid_col: str = "qid",
    qvec_col: str = "vec",
    nv_hint: int | None = None,
    vec_format: str = "array",
    norm_col: str | None = None,
    compute: Literal["auto", "f32", "f64"] = "auto",
    queries_host: tuple | None = None,
) -> DataFrame:
    """Top-k nearest neighbors of each query row among the vector rows.

    Returns a DataFrame (qid, rank, label, distance) — rank 0..k−1
    best-first, sentinel-padded per FAISS semantics. Distances: squared
    L2 (no sqrt — FAISS convention), raw inner product, or cosine
    *similarity* depending on ``metric``.

    ``method='auto'`` picks the physical strategy (SURVEY §4): the gemm
    path by default; the declarative sql path when ``nv_hint`` says the
    vector side is tiny (counting would cost a job, so the caller
    supplies the hint — a real deployment knows its table sizes).

    ``queries_host=(qids, Q)`` (r14): host-array queries for callers
    that already hold them in numpy (``search_numpy``). Skips both the
    query-DataFrame build and the query collect round-trip —
    the collect is a whole Spark job whose ~0.4 s scheduling floor
    dominated every sub-second grid config (BENCH_GRID method notes),
    and it only re-materializes arrays the caller had. gemm path only
    (``queries`` may be None); values identical to the DataFrame path
    by construction — same (qids, Q) reach the same kernel.
    """
    if k <= 0:
        raise ValueError("k must be positive")  # ≙ MetalIndexFlat.mm:321
    if metric not in ("l2", "ip", "cosine", "l1"):
        raise ValueError(f"unknown metric {metric!r}")

    vcols, use_norms = _vector_cols(id_col, vec_col, norm_col, metric)
    if queries_host is not None:
        if method == "sql":
            raise ValueError("queries_host requires the gemm path")
        method = "gemm"
    elif method == "auto":
        method = "sql" if (nv_hint is not None and nv_hint <= _SMALL_NV) else "gemm"
    if vec_format != "array" and method != "gemm":
        raise ValueError("compact binary vector storage requires the gemm path")

    if method == "gemm":
        return flat_scan(
            vectors, queries,
            gemm_scan(metric, vec_format, use_norms, _compute_dtype(compute)),
            columns=vcols, k=k, qid_col=qid_col, qvec_col=qvec_col,
            queries_host=queries_host,
        )
    q = queries.select(
        F.col(qid_col).cast("long").alias("qid"), F.col(qvec_col).alias("qvec")
    )
    candidates = _sql_candidates(vectors.select(*vcols[:2]), q, k, metric)
    return _finalize(q, candidates, k, metric)


def _vector_cols(
    id_col: str, vec_col: str, norm_col: str | None, metric: Metric
) -> tuple[list, bool]:
    """The (id, vec[, norm_sq]) columns a float search scans, and
    whether they carry the norms.

    Precomputed-norm numerics (MetalIndexFlat.mm:258-268): a quantized
    table's L2/cosine decomposition uses norms from the UNQUANTIZED
    fp32 input, threaded in via ``norm_col``; without it the gemm path
    recomputes norms from the stored vectors (identical for fp32)."""
    vcols = [F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec")]
    use_norms = norm_col is not None and metric in ("l2", "cosine")
    if use_norms:
        vcols.append(F.col(norm_col).cast("double").alias("norm_sq"))
    return vcols, use_norms


# ---------------------------------------------------------------------------
# sql path — declarative crossJoin + HOF distance + window rank
# ---------------------------------------------------------------------------


def _distance_expr(metric: Metric, qvec: str, vvec: str):
    if metric == "l2":
        return l2sq(qvec, vvec)
    if metric == "ip":
        return dot(qvec, vvec)
    if metric == "l1":
        return l1dist(qvec, vvec)
    return cosine_sim(qvec, vvec)


def _sql_candidates(v: DataFrame, q: DataFrame, k: int, metric: Metric) -> DataFrame:
    asc = _better_is_min(metric)
    dist = _distance_expr(metric, "qvec", "vec").alias("distance")
    joined = F.broadcast(q).crossJoin(v).select("qid", F.col("id").alias("label"), dist)
    order = [F.col("distance").asc(), F.col("label").asc()] if asc else [
        F.col("distance").desc(),
        F.col("label").asc(),
    ]
    w = Window.partitionBy("qid").orderBy(*order)
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "label", "distance")
    )


# ---------------------------------------------------------------------------
# flat scan — broadcast query state, single scan, per-partition running top-k
# ---------------------------------------------------------------------------


def _compute_dtype(compute: str):
    """``compute`` → the accumulator dtype of every float GEMM path.

    ``auto`` = float32, the reference's accumulator width
    (simdgroup_gemm.metal:13-14) — sgemm runs at 2× dgemm FLOPS with
    half the memory traffic, which at 100 TB is the difference between
    the right plan and a 2-4× slower one (measured 1.8-3.6× on the 768d
    grid keys). ``f64`` is the opt-in exactness mode for oracle-grade
    hash comparisons (DuckDB computes in double); callers that diff
    against a float64 oracle pin ``compute="f64"`` explicitly."""
    if compute == "auto":
        compute = "f32"
    if compute not in ("f32", "f64"):
        raise ValueError(f"unknown compute {compute!r} (auto/f32/f64)")
    return np.float64 if compute == "f64" else np.float32


def _collect_queries(q: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(qids, float64 Q) of a selected (qid, qvec) query frame.

    Queries are the broadcast side: small by contract, like a dim table.
    Collect cost scales with the query table's partition count, not its
    rows: a 100-row batch created from a Python list is a pickled RDD
    over defaultParallelism partitions (~350 ms of task scheduling on
    local[32]). Callers that build query batches in Python should go
    through ``spark.createDataFrame(pandas_df)`` — Arrow packs it into
    one JVM-side batch and this collect is a single cheap task."""
    pdf = q.toPandas()
    qids = pdf["qid"].to_numpy(np.int64)
    if len(pdf) == 0:
        return qids, np.zeros((0, 0), np.float64)
    return qids, np.stack(pdf["qvec"].to_numpy()).astype(np.float64)


def _query_state(Q: np.ndarray, dtype):
    """The broadcast query state of a float scan: ``(Q, ‖q‖²)`` cast
    ONCE on the driver — the f32 default halves the broadcast bytes and
    saves every task a fresh astype copy. Norms are computed in f64
    first, THEN cast (identical values to a per-task cast of the f64
    matrix). The query matrix is what broadcasts, so its size meets the
    broadcast ceiling here."""
    if Q.size > _MAX_BROADCAST_ELEMS:
        raise ValueError(
            f"query batch too large to broadcast ({Q.size} elems); "
            "use knn_join for large-nq workloads"
        )
    return Q.astype(dtype, copy=False), (Q * Q).sum(axis=1).astype(dtype, copy=False)


def _arrow_matrix(arr, vec_format: str, dtype=np.float64) -> np.ndarray:
    """View one Arrow vector column as an (n, d) ``dtype`` matrix.

    Decode happens HERE, inside the same Python stage as the GEMM —
    compact rows cross the JVM boundary at 2 bytes per element (the
    bandwidth the reference's FP16 storage buys,
    /root/reference/README.md Features) and never exist as float arrays
    outside this function. Zero-copy by construction: both the
    ``list<float>`` child values buffer and the BINARY data buffer are
    single contiguous runs (fixed d per table), so the matrix is a
    numpy view of the Arrow buffer — no per-row Python objects, no
    byte-join copy. The only copy left is the dtype widening the math
    itself requires (fp16/bf16 → float32 sgemm operands, matching the
    reference's float32 accumulators,
    /root/reference/shaders/simdgroup_gemm.metal:13-14).
    """
    n = len(arr)
    if vec_format == "array":
        offs = arr.offsets.to_numpy()
        flat = arr.values.to_numpy(zero_copy_only=True)
        return flat[offs[0] : offs[-1]].reshape(n, -1).astype(dtype, copy=False)
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], np.int32, count=n + 1, offset=arr.offset * 4)
    data = np.frombuffer(bufs[2], np.uint8)[offs[0] : offs[-1]]
    if vec_format == "fp16_binary":
        return data.view(np.float16).reshape(n, -1).astype(dtype, copy=False)
    if vec_format == "bf16_binary":
        u = data.view(np.uint16).reshape(n, -1).astype(np.uint32) << 16
        return u.view(np.float32).astype(dtype, copy=False)
    raise ValueError(f"unknown vec_format {vec_format!r}")


def _arrow_i64(arr) -> np.ndarray:
    """int64 Arrow column → numpy view (non-null by table contract)."""
    return arr.to_numpy(zero_copy_only=True)


def _metric_block(metric: Metric, G: np.ndarray, qn, vn) -> np.ndarray:
    """The metric epilogue over one GEMM block ``G = Q·Vᵀ`` with the
    squared norms ``qn`` (queries) and ``vn`` (vectors): l2 = qn + vn −
    2G clamped at 0 (the reference's fused epilogue), cosine = G over
    the norm product (0 where a norm is 0), ip = G. Split from the GEMM
    so one ``G`` can serve several metrics (``knn_search_multi``)."""
    if metric == "l2":
        D = qn[:, None] + vn[None, :] - 2.0 * G
        np.maximum(D, 0.0, out=D)
        return D
    if metric == "cosine":
        denom = np.sqrt(qn)[:, None] * np.sqrt(vn)[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            return np.where(denom > 0, G / denom, 0.0)
    return G


def _distances(metric: Metric, Q: np.ndarray, V: np.ndarray, qn=None, vn=None):
    """(nq, n) ``metric`` distances of ``Q`` to ``V`` in their dtype —
    BLAS ``Q @ V.T`` (the reference's GEMM kernel family) plus
    :func:`_metric_block`, norms recomputed when not supplied. l1 has no
    GEMM decomposition: direct |q−v| broadcast, O(nq·n·d) bounded by
    the caller's block."""
    if metric == "l1":
        return np.abs(Q[:, None, :] - V[None, :, :]).sum(axis=-1)
    if metric == "ip":
        return Q @ V.T
    return _metric_block(
        metric, Q @ V.T,
        (Q * Q).sum(axis=1) if qn is None else qn,
        (V * V).sum(axis=1) if vn is None else vn,
    )


def _topk_fold(best, D: np.ndarray, labels: np.ndarray, k: int, lexsort: bool = False):
    """Fold one (nq, n) block of distances ``D`` (smaller is better —
    callers negate max-metrics) with its (n,) ``labels`` into the
    running per-query top-k ``best`` = (distances, labels), or start it
    from ``None``. Returns the new ≤ k-wide pair, unordered unless
    ``lexsort``: then by (distance, label), so every member of a tie
    group the final merge must keep survives (additive codes collide
    heavily, ≤ ksub^m distinct code chains)."""
    lab = np.broadcast_to(labels, D.shape)
    if best is not None:
        D = np.concatenate([best[0], D], axis=1)
        lab = np.concatenate([best[1], lab], axis=1)
    if lexsort:
        idx = np.lexsort((lab, D), axis=1)[:, :k]
    elif D.shape[1] > k:
        idx = np.argpartition(D, k - 1, axis=1)[:, :k]
    else:
        idx = np.argsort(D, axis=1)
    return np.take_along_axis(D, idx, axis=1), np.take_along_axis(lab, idx, axis=1)


def _no_state(Q: np.ndarray) -> None:
    return None


@dataclass(frozen=True)
class ScanKernel:
    """A codec's scan: how the stored rows of one batch score against
    the query batch. Two drivers run kernels — :func:`flat_scan` (the
    whole table, one Arrow batch at a time) and
    :func:`~.similarity.probe_scan` (the IVF cells a query probes, the
    role of faiss's ``InvertedListScanner``):

    - ``score``: on the executors. ``flat_scan`` calls
      ``score(state, batch) -> D``, the (nq, batch rows) distances of
      every query to one Arrow record batch; ``probe_scan`` calls
      ``score(state, Q, qidx, cell, pdf) -> D``, the (len(qidx),
      len(pdf)) distances of the probing queries ``Q[qidx]`` to one
      cell group's stored rows;
    - ``prepare(Q) -> state``: driver-side, once per query batch; its
      state rides the one broadcast, so large arrays (query matrix,
      codebooks, LUTs, centroids) live there and never in ``score``'s
      pickled closure. It raises on a batch the codec cannot score,
      and holds the broadcast ceiling of what it broadcasts;
    - ``metric``: top-k direction, ``_finalize`` order and radius keep
      rule (L2/L1 keep ``distance < radius``, IP/cosine ``>``);
    - ``lexsort``: partial top-k by (distance, label) lexsort instead
      of argpartition (additive codes collide heavily);
    - ``gated``: drop non-finite distances after the partial top-k (a
      gate's rejects, e.g. the polysemous filter; ``probe_scan`` only);
    - ``range_schema``: the radius path's result schema."""

    score: Callable
    prepare: Callable = _no_state
    metric: str = "l2"
    lexsort: bool = False
    gated: bool = False
    range_schema: object = RANGE_SCHEMA


def gemm_scan(
    metric: Metric, vec_format: str = "array", use_norms: bool = False,
    dtype=np.float64,
) -> ScanKernel:
    """The float kernel of :func:`flat_scan`: ``metric`` distances of the
    broadcast query matrix (cast to ``dtype``) to each Arrow batch's
    ``vec`` column, decoded in the same Python stage as the GEMM
    (``_arrow_matrix``: array / fp16_binary / bf16_binary). With
    ``use_norms`` the l2/cosine epilogue reads the batch's stored fp32
    ``norm_sq`` column (the reference's precomputed-norm policy) instead
    of recomputing norms from the stored, possibly quantized, values."""

    def prepare(Q: np.ndarray):
        return _query_state(Q, dtype)

    def score(state, batch) -> np.ndarray:
        Q, qn = state
        V = _arrow_matrix(batch.column("vec"), vec_format, dtype)
        vn = (
            batch.column("norm_sq").to_numpy(zero_copy_only=True).astype(dtype, copy=False)
            if use_norms
            else None
        )
        return _distances(metric, Q, V, qn, vn)

    return ScanKernel(score, prepare, metric=metric)


def flat_scan(
    rows: DataFrame,
    queries: DataFrame | None,
    kernel: ScanKernel,
    *,
    k: int | None = None,
    radius: float | None = None,
    qid_col: str = "qid",
    qvec_col: str = "vec",
    queries_host: tuple | None = None,
    columns: list | None = None,
) -> DataFrame:
    """The flat scan-and-merge driver (faiss ``IndexFlatCodes::search``
    / ``range_search``): every exhaustive search in the engine — float
    (:func:`gemm_scan`), PQ ADC (``pq.adc_scan``) and additive LUT
    (``rq.lut_scan``) — is this one function with its codec's
    :class:`ScanKernel`. The kernel is called as ``score(state, batch)``
    on each Arrow record batch of ``rows`` (which carry an ``id``
    label column) — or of their ``columns`` projection, taken here so
    the premerge gate counts partitions on the caller's own frame:
    pyspark caches a frame's ``.rdd``, while a fresh projection's
    re-plans and, under AQE, runs any shuffle in its lineage as jobs.
    The IVF driver ``probe_scan`` calls the same record's
    ``score(state, Q, qidx, cell, pdf)`` per cell group instead.

    1. Collect the query batch once — or take ``queries_host=(qids,
       Q)``, host arrays the caller already holds (``search_numpy``):
       that skips the query-DataFrame build and a whole collect job
       (~0.4 s scheduling floor per call). An empty batch returns an
       empty result of the right schema.
    2. ``kernel.prepare(Q)`` on the driver (refusals, broadcast ceiling).
    3. ONE broadcast of (qids, state): each ``sparkContext.broadcast`` is
       a driver round-trip on every search call.
    4. One ``mapInArrow`` pass over ``rows``: per Arrow batch a distance
       block, never the full (nq × n) matrix.
    5. With ``k``: a running per-partition top-k (the reference's
       fused_l2_topk streaming select), ≤ nq·k rows per partition, then
       ``_finalize`` against a LocalRelation of the collected qids —
       block_select's phase-2 merge, sentinel-padded to exactly k rows.
       Two-level merge gate: past parts·k ≈ 64k structs per query the
       single final collect_list becomes the straggler (50k partitions
       × k=100 = 5M structs in one task at cluster scale), so a salted
       partial merge caps it at ``_PREMERGE_SALT``·k first — the same
       partial/final shape block_select applies within a partition,
       applied once more ACROSS partitions. With ``radius``: each batch
       emits its passing (qid, label, distance) pairs unordered — no
       merge stage, zero shuffles, output bounded by the radius."""
    spark = rows.sparkSession
    if queries_host is not None:
        qids = np.asarray(queries_host[0], dtype=np.int64)
        Q = np.asarray(queries_host[1], dtype=np.float64)
        if Q.ndim != 2 or len(qids) != len(Q):
            raise ValueError("queries_host must be (qids, (nq, d) matrix)")
    else:
        qids, Q = _collect_queries(
            queries.select(
                F.col(qid_col).cast("long").alias("qid"),
                F.col(qvec_col).alias("qvec"),
            )
        )
    if len(qids) == 0:
        return spark.createDataFrame(
            [], RESULT_SCHEMA if radius is None else kernel.range_schema
        )
    bc = spark.sparkContext.broadcast((qids, kernel.prepare(Q)))
    # the task closures hold the kernel's parts, never the kernel:
    # ``prepare`` may close over codebooks
    score, lexsort = kernel.score, kernel.lexsort
    want_min = _better_is_min(kernel.metric)
    sign = 1.0 if want_min else -1.0  # minimize sign·distance

    def emit(batches):
        import pyarrow as pa

        qids_, state = bc.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            D = score(state, batch)
            qi, vi = np.nonzero(D < radius if want_min else D > radius)
            if len(qi):
                yield pa.record_batch(
                    [
                        pa.array(qids_[qi]),
                        pa.array(_arrow_i64(batch.column("id"))[vi]),
                        pa.array(D[qi, vi].astype(np.float64)),
                    ],
                    names=["qid", "label", "distance"],
                )

    def partial_topk(batches):
        import pyarrow as pa

        qids_, state = bc.value
        best = None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            D = score(state, batch)
            best = _topk_fold(
                best, sign * D, _arrow_i64(batch.column("id")), k, lexsort
            )
        if best is not None:
            best_d, best_l = best
            yield pa.record_batch(
                [
                    pa.array(np.repeat(qids_, best_d.shape[1])),
                    pa.array(best_l.ravel()),
                    pa.array((sign * best_d).ravel().astype(np.float64)),
                ],
                names=["qid", "label", "distance"],
            )

    scan = rows if columns is None else rows.select(*columns)
    if radius is not None:
        return scan.mapInArrow(emit, kernel.range_schema)
    candidates = scan.mapInArrow(partial_topk, _PARTIAL_SCHEMA)
    salt = None
    try:
        parts = rows.rdd.getNumPartitions()
    except Exception:  # pragma: no cover — exotic plans; skip the gate
        parts = None
    if parts is not None and parts * k > _PREMERGE_PARTS_K:
        salt = _PREMERGE_SALT
    return _finalize(None, candidates, k, kernel.metric, premerge_salt=salt, qids=qids)


# ---------------------------------------------------------------------------
# encode scan — broadcast frozen codec state, one scan, no shuffle
# ---------------------------------------------------------------------------


def _encode_rows(
    vectors: DataFrame, id_col: str, vec_col: str, *extra: str
) -> DataFrame:
    """The ``(id long, vec, *extra)`` input of every ``(id, …)``
    encoder: the id is cast here, once, so an int id column encodes
    exactly like a long one (every output schema declares it long)."""
    return vectors.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec"), *extra
    )


def _encode_scan(
    rows: DataFrame, state, encode: Callable, schema: T.StructType,
    vec_col: str = "vec",
) -> DataFrame:
    """The encode driver (faiss ``sa_encode`` / ``add`` against FROZEN
    trained state): every distributed encode in the engine — PQ, IVFPQ,
    IVFPQR, RQ, PRQ, IVFRQ, and the IVF/IMI cell assignments — is this
    one function with its codec's ``encode``. The caller runs its
    refusals first; then:

    1. ONE broadcast of the codec's frozen ``state`` (codebooks,
       centroids, assigner);
    2. one ``mapInArrow`` pass over ``rows`` — no shuffle, no action,
       so streaming frames encode too — that skips empty batches and
       views ``vec_col`` as a float64 matrix ``V`` (``_arrow_matrix``);
    3. per batch, ``encode(state, V, batch)`` returns the output
       columns in ``schema`` order."""
    bc = rows.sparkSession.sparkContext.broadcast(state)
    names = schema.names  # the closure ships names, not the schema

    def run(batches):
        import pyarrow as pa

        st = bc.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            V = _arrow_matrix(batch.column(vec_col), "array", np.float64)
            yield pa.record_batch(encode(st, V, batch), names=names)

    return rows.mapInArrow(run, schema)


# ---------------------------------------------------------------------------
# final merge + sentinel padding
# ---------------------------------------------------------------------------


def _finalize(
    q: DataFrame, candidates: DataFrame, k: int, metric: Metric,
    premerge_salt: int | None = None, qids: np.ndarray | None = None,
    pad: bool = True, distance_cast: str | None = None,
) -> DataFrame:
    """Merge partial candidates, rank, and pad to exactly k rows per qid.

    One shuffle total: candidates groupBy(qid) → collect (≤ parts·k
    structs per group) → array_sort → sentinel-pad → posexplode. The
    query table left-joins in (broadcast — it is the small side by the
    gemm path's contract) so empty-index and k>ntotal cases still emit
    all-sentinel rows — semantics of
    /root/reference/src/MetalIndexFlat.mm:328-334,387-399. Replaces the
    previous rank-scaffold construction, which cost two extra shuffles
    (window rank + scaffold equi-join) for the same result.

    With ``premerge_salt`` set, a salted partial merge first reduces
    each (qid, producing-partition mod salt) slice to its own top-k, so
    the final per-qid collect sees ≤ salt·k structs no matter how many
    scan partitions exist — the price is one extra (bounded) shuffle,
    paid only above the parts·k gate in ``knn_search``.

    ``pad=False`` is the binary-tier contract (IndexBinaryFlat /
    IndexBinaryIVF / IndexBinaryHash): emit min(k, candidates) rows per
    qid with NO sentinel padding — the scaffold join and pad concat are
    skipped entirely (``q`` may be None). ``distance_cast`` optionally
    casts the output distance column (Hamming distances are ``long``).
    The sort/merge machinery — one shuffle, (distance, label) tie-break,
    salted premerge — is identical, so every tier shares one contract.
    """
    asc = _better_is_min(metric)
    sent = float(_sentinel(metric))
    # sort key: minimize skey; struct comparison is field-lexicographic,
    # so (skey, label) gives distance-then-label ordering
    skey = F.col("distance") if asc else -F.col("distance")
    if premerge_salt:
        sgn = 1.0 if asc else -1.0
        partial = (
            candidates.withColumn(
                "_salt", F.pmod(F.spark_partition_id(), F.lit(premerge_salt))
            )
            .groupBy("qid", "_salt")
            .agg(
                F.slice(
                    F.array_sort(
                        F.collect_list(
                            F.struct(skey.alias("s"), F.col("label").alias("l"))
                        )
                    ),
                    1,
                    k,
                ).alias("_top")
            )
        )
        candidates = partial.select(
            "qid", F.explode("_top").alias("_e")
        ).select(
            "qid",
            F.col("_e.l").alias("label"),
            (F.col("_e.s") * F.lit(sgn)).alias("distance"),
        )
    packed = candidates.groupBy("qid").agg(
        F.array_sort(
            F.collect_list(F.struct(skey.alias("s"), F.col("label").alias("l")))
        ).alias("_cand")
    )
    sign = 1.0 if asc else -1.0
    if not pad:
        # binary-tier contract: min(k, candidates) rows per qid, no
        # sentinels, no scaffold — one groupBy shuffle total (plus the
        # bounded salted premerge when gated on).
        dcol = F.col("_c.s") * F.lit(sign)
        if distance_cast:
            dcol = dcol.cast(distance_cast)
        return (
            packed.select(
                "qid", F.posexplode(F.slice(F.col("_cand"), 1, k)).alias("_r", "_c")
            ).select(
                "qid",
                F.col("_r").cast("int").alias("rank"),
                F.col("_c.l").alias("label"),
                dcol.alias("distance"),
            )
        )

    padarr = F.array_repeat(
        F.struct(F.lit(None).cast("double").alias("s"), F.lit(-1).cast("long").alias("l")),
        k,
    )
    topk = F.slice(F.concat(F.col("_cand"), padarr), 1, k)
    # packed is nq-scale after the groupBy (one row per qid) —
    # broadcast it explicitly so the scaffold join is a
    # BroadcastHashJoin, never a SortMergeJoin (an SMJ here adds two
    # sorts + an exchange for a join whose build side fits in memory).
    # Gated on nq·k: an extreme batch (1M low-d queries × k=1000 is
    # ~16 GB of structs) must fall back to the planner's choice instead
    # of a hard broadcast failure. When the caller already collected
    # the qids (gemm path), the scaffold is a LocalRelation — no tasks
    # re-scan the query table just to enumerate its keys.
    if qids is not None:
        # q is None on the queries_host fast path — any session works
        # for a LocalRelation scaffold
        scaffold = (q if q is not None else candidates).sparkSession.createDataFrame(
            pd.DataFrame({"qid": np.asarray(qids, dtype=np.int64)}),
            schema="qid long",
        )
        small = len(qids) * k <= _BROADCAST_MERGE_ELEMS
    else:
        # sql path: q itself was broadcast upstream, so nq is modest —
        # gate on k alone
        scaffold = q.select("qid")
        small = k <= 10_000
    out = (
        scaffold
        .join(F.broadcast(packed) if small else packed, "qid", "left")
        .select("qid", F.posexplode(F.coalesce(topk, padarr)).alias("_r", "_c"))
        .select(
            "qid",
            F.col("_r").cast("int").alias("rank"),
            F.col("_c.l").alias("label"),
            F.coalesce(F.col("_c.s") * F.lit(sign), F.lit(sent)).alias("distance"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# multi-metric search — all metrics from ONE scan / one GEMM per batch
# ---------------------------------------------------------------------------

_MULTI_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("metric", T.StringType(), False),
        T.StructField("qid", T.LongType(), False),
        T.StructField("label", T.LongType(), False),
        T.StructField("distance", T.DoubleType(), False),
    ]
)


def knn_search_multi(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    metrics: tuple[Metric, ...] = ("l2", "ip", "cosine", "l1"),
    id_col: str = "id",
    vec_col: str = "vec",
    qid_col: str = "qid",
    qvec_col: str = "vec",
    compute: Literal["auto", "f32", "f64"] = "auto",
) -> DataFrame:
    """Top-k under SEVERAL metrics from one scan of the vector table.

    (metric, qid, rank, label, distance) — per-metric semantics equal
    to ``knn_search``. One GEMM per Arrow batch yields G = Q·Vᵀ, from
    which l2 (qn + vn − 2G), ip (G) and cosine (G normalized) all
    derive; only l1 needs its own |q − v| kernel. Four independent
    searches would scan the table four times for the same G — this is
    the fused form (the reference computes each metric as a distinct
    kernel dispatch over the same resident buffer,
    /root/reference/src/MetalDistance.mm; one scan is Spark's analog of
    buffer residency).
    """
    for m in metrics:
        if m not in ("l2", "ip", "cosine", "l1"):
            raise ValueError(f"unknown metric {m!r}")
    if k <= 0:
        raise ValueError("k must be positive")
    v = vectors.select(F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec"))
    q = queries.select(
        F.col(qid_col).cast("long").alias("qid"), F.col(qvec_col).alias("qvec")
    )
    qids, Q = _collect_queries(q)
    nq = len(qids)
    spark = v.sparkSession
    metrics = tuple(metrics)

    if nq == 0:
        out = spark.createDataFrame([], RESULT_SCHEMA)
        return out.withColumn("metric", F.lit("")).select(
            "metric", "qid", "rank", "label", "distance"
        )

    dtype = _compute_dtype(compute)
    bc = spark.sparkContext.broadcast((qids, _query_state(Q, dtype)))
    need_gemm = any(m != "l1" for m in metrics)
    need_vn = "l2" in metrics or "cosine" in metrics

    def partial_topk(batches):
        import pyarrow as pa

        qids_, (Q_, qn) = bc.value
        signs = {m: 1.0 if _better_is_min(m) else -1.0 for m in metrics}
        state = dict.fromkeys(metrics)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            V = _arrow_matrix(batch.column("vec"), "array", dtype)
            labels = _arrow_i64(batch.column("id"))
            G = (Q_ @ V.T) if need_gemm else None
            vn = (V * V).sum(axis=1) if need_vn else None
            for m in metrics:
                D = _distances(m, Q_, V) if m == "l1" else _metric_block(m, G, qn, vn)
                state[m] = _topk_fold(state[m], signs[m] * D, labels, k)
        mcol, qcol, lcol, dcol = [], [], [], []
        for m in metrics:
            if state[m] is None:
                continue
            best_d, best_l = state[m]
            n_have = best_d.shape[1]
            mcol.extend([m] * (len(qids_) * n_have))
            qcol.append(np.repeat(qids_, n_have))
            lcol.append(best_l.ravel())
            dcol.append((signs[m] * best_d).ravel())
        if mcol:
            yield pa.record_batch(
                [
                    pa.array(mcol),
                    pa.array(np.concatenate(qcol)),
                    pa.array(np.concatenate(lcol)),
                    pa.array(np.concatenate(dcol).astype(np.float64)),
                ],
                names=["metric", "qid", "label", "distance"],
            )

    candidates = v.mapInArrow(partial_topk, _MULTI_PARTIAL_SCHEMA)

    # per-row finalize expressions (asc-ness is a COLUMN here, not a
    # python constant — the only difference from _finalize)
    asc = F.col("metric").isin("l2", "l1")
    skey = F.when(asc, F.col("distance")).otherwise(-F.col("distance"))
    packed = candidates.groupBy("metric", "qid").agg(
        F.array_sort(
            F.collect_list(F.struct(skey.alias("s"), F.col("label").alias("l")))
        ).alias("_cand")
    )
    pad = F.array_repeat(
        F.struct(F.lit(None).cast("double").alias("s"), F.lit(-1).cast("long").alias("l")),
        k,
    )
    topk = F.slice(F.concat(F.col("_cand"), pad), 1, k)
    # qids are already collected — a LocalRelation scaffold avoids
    # re-scanning the query table just to enumerate (metric, qid) keys
    scaffold = spark.createDataFrame(
        pd.DataFrame({"qid": np.asarray(qids, dtype=np.int64)}), schema="qid long"
    ).withColumn("metric", F.explode(F.array(*[F.lit(m) for m in metrics])))
    sent = F.when(asc, F.lit(math.inf)).otherwise(F.lit(-math.inf))
    sign = F.when(asc, F.lit(1.0)).otherwise(F.lit(-1.0))
    return (
        scaffold.join(
            F.broadcast(packed)
            if nq * k * len(metrics) <= _BROADCAST_MERGE_ELEMS
            else packed,
            ["metric", "qid"],
            "left",
        )
        .select("metric", "qid", F.posexplode(F.coalesce(topk, pad)).alias("_r", "_c"))
        .select(
            "metric",
            "qid",
            F.col("_r").cast("int").alias("rank"),
            F.col("_c.l").alias("label"),
            F.coalesce(F.col("_c.s") * sign, sent).alias("distance"),
        )
    )


def range_search(
    vectors: DataFrame,
    queries: DataFrame,
    radius: float,
    metric: Metric = "l2",
    method: Literal["auto", "gemm", "sql"] = "auto",
    id_col: str = "id",
    vec_col: str = "vec",
    qid_col: str = "qid",
    qvec_col: str = "vec",
    nv_hint: int | None = None,
    vec_format: str = "array",
    compute: Literal["auto", "f32", "f64"] = "auto",
    norm_col: str | None = None,
) -> DataFrame:
    """All neighbors within ``radius`` of each query — FAISS
    ``Index::range_search`` semantics, which the reference inherits but
    never implements (no override in
    /root/reference/include/faiss-metal/MetalIndexFlat.h — the faiss
    base class throws); this engine supports it as part of the strict
    superset. Keep rule matches CPU FAISS: L2 keeps ``distance <
    radius`` (strict), IP keeps ``distance > radius``; the l1/cosine
    extensions follow their metric's better-direction. Returns
    (qid, label, distance), unordered — no rank, no sentinel rows.

    Physical shape: unlike top-k there is NO merge stage — the gemm
    path is one scan of the vector table with a broadcast query batch,
    each Arrow batch emitting its passing pairs; zero shuffles, output
    volume bounded by the radius, not by nq·nv. The sql path is the
    declarative twin (crossJoin + HOF distance + filter) that Catalyst
    plans as BroadcastNestedLoopJoin.

    ``norm_col``: the stored fp32 norms of a quantized table, exactly as
    in ``knn_search`` — both run the same kernel, so a pair both return
    carries the same distance.
    """
    if metric not in ("l2", "ip", "cosine", "l1"):
        raise ValueError(f"unknown metric {metric!r}")
    want_min = _better_is_min(metric)

    vcols, use_norms = _vector_cols(id_col, vec_col, norm_col, metric)
    if method == "auto":
        method = "sql" if (nv_hint is not None and nv_hint <= _SMALL_NV) else "gemm"
    if vec_format != "array" and method != "gemm":
        raise ValueError("compact binary vector storage requires the gemm path")

    if method == "sql":
        q = queries.select(
            F.col(qid_col).cast("long").alias("qid"), F.col(qvec_col).alias("qvec")
        )
        dist = _distance_expr(metric, "qvec", "vec").alias("distance")
        pairs = (
            F.broadcast(q)
            .crossJoin(vectors.select(*vcols[:2]))
            .select("qid", F.col("id").alias("label"), dist)
        )
        pred = F.col("distance") < radius if want_min else F.col("distance") > radius
        return pairs.where(pred)

    return flat_scan(
        vectors, queries,
        gemm_scan(metric, vec_format, use_norms, _compute_dtype(compute)),
        columns=vcols, radius=radius, qid_col=qid_col, qvec_col=qvec_col,
    )
