"""Similarity-search operators beyond broadcastable brute force.

The reference engine is a single-node flat index (SURVEY §0); these are
the horizontal-scale paths a 100 TB corpus needs:

- ``ann_lsh_search``   — random-hyperplane LSH: bucket both sides on
  sign-bit signatures, equi-join buckets, exact rerank inside buckets.
  Sub-linear candidate generation; the bucket join is an ordinary
  shuffle-hash join on a small int key. Bucketing is *integer-exact*
  (vectors quantized to floor(x·1000), integer plane entries) so the
  DuckDB oracle reproduces bucket membership bit-for-bit — determinism
  is part of the operator contract, not a test convenience.
- ``knn_join_blocked`` — exact kNN join when BOTH sides are too large
  to broadcast: block-nested-loop over (query-block × vector-block)
  grid cells, local GEMM top-k per cell, global merge. Shuffle volume
  is nv·BQ + nq·BV rows (each side replicated by the other's block
  count), not nq·nv.
- ``ivf_build/ivf_search`` — inverted-file ANN: k-means cells, probe
  the nprobe nearest cells per query. Written ``partitionBy("cell")``
  the probe filter becomes parquet partition pruning — the scan never
  touches non-probed cells, which is the IVF promise expressed in
  Spark's own storage layout. Every IVF search in the engine runs the
  one driver ``probe_scan`` with its codec's ``ScanKernel``; every cell
  assignment and IVF encode runs the encode driver ``knn._encode_scan``,
  and every fused IVF builder trains through one ``_ivf_prologue``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..functions.vector import cosine_sim
from .knn import (
    _PARTIAL_SCHEMA,
    RESULT_SCHEMA,
    ScanKernel,
    _compute_dtype,
    _distances,
    _encode_rows,
    _encode_scan,
    _finalize,
    _topk_fold,
)

# ---------------------------------------------------------------------------
# Random-hyperplane LSH (cosine)
# ---------------------------------------------------------------------------

# Quantization scale for integer-exact bucket signatures.
_LSH_SCALE = 1000


def lsh_planes(d: int, num_planes: int, num_tables: int, seed: int = 7) -> np.ndarray:
    """Deterministic integer hyperplanes, shape (tables, planes, d).

    Integer entries (−3..3) keep the signed projection exact in 64-bit
    arithmetic, so any engine computes identical bucket ids.
    """
    rng = np.random.default_rng(seed)
    return rng.integers(-3, 4, size=(num_tables, num_planes, d)).astype(np.int64)


def _quantized(vec_col: Column) -> Column:
    """floor(x·1000) per element as BIGINT — exact, engine-agnostic."""
    return F.transform(vec_col, lambda x: F.floor(x.cast("double") * F.lit(1000.0)))


def _bucket_expr(qcol: Column, plane: np.ndarray) -> Column:
    """Packed sign bits of integer projections onto one table's planes."""
    acc = None
    for p, row in enumerate(plane):
        lits = F.array(*[F.lit(int(w)) for w in row])
        proj = F.aggregate(
            F.zip_with(qcol, lits, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda s, x: s + x,
        )
        term = F.when(proj > 0, F.lit(2**p)).otherwise(F.lit(0))
        acc = term if acc is None else acc + term
    return acc.cast("long")


def lsh_buckets(
    df: DataFrame,
    planes: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vec",
    n_flip: int = 0,
) -> DataFrame:
    """(id, table, bucket) — one row per (row, table). IDS ONLY: the
    vector payload deliberately does not ride through the bucket
    explode/join — at corpus scale that would shuffle the whole
    embedding table once per hash table. Callers join candidates back
    to the vector table for the exact rerank.

    Bucket ids for ALL tables are computed in one Arrow-batched integer
    matmul: quantize the batch to int64, multiply by the (d × T·P)
    stacked plane matrix, pack sign bits. Integer arithmetic is exact,
    so bucket ids are bit-identical to the per-row Catalyst expression
    (``_bucket_expr``, kept as the oracle-shaped reference form) and to
    the SQL oracle — at T·P·d ≈ 768 multiplies per row the BLAS batch
    beats per-row HOF evaluation by an order of magnitude.

    ``n_flip`` > 0 adds MULTIPROBE rows (Lv et al., VLDB 2007): per
    (row, table), also the ``n_flip`` buckets obtained by flipping the
    sign bit whose projection has the smallest margin |proj| (ties by
    plane index — deterministic, and the integer projections make the
    margin order engine-exact too). Query-side multiprobe buys the
    recall of more hash tables without re-bucketing the corpus — the
    standard memory/recall trade at index scale.
    """
    import pandas as pd
    from pyspark.sql import types as T_

    n_tables, n_planes, d = planes.shape
    # (d, T·P) int64 — broadcast once per executor
    P = planes.reshape(n_tables * n_planes, d).T.copy()
    bc = df.sparkSession.sparkContext.broadcast(P)
    pows = (2 ** np.arange(n_planes, dtype=np.int64))

    out_schema = T_.StructType(
        [
            T_.StructField("id", T_.LongType()),
            T_.StructField("tbl", T_.IntegerType()),
            T_.StructField("bucket", T_.LongType()),
        ]
    )

    def bucketize(batches):
        import pyarrow as pa

        from .knn import _arrow_i64, _arrow_matrix

        Pl = bc.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            V = _arrow_matrix(batch.column("_v"), "array", np.float64)
            Vq = np.floor(V * 1000.0).astype(np.int64)
            proj = Vq @ Pl  # (n, T·P) exact int64
            proj3 = proj.reshape(len(V), n_tables, n_planes)
            bits = proj3 > 0
            buckets = (bits * pows).sum(axis=2)  # (n, T)
            ids = _arrow_i64(batch.column("_id"))
            out_ids = [np.repeat(ids, n_tables)]
            out_tbl = [np.tile(np.arange(n_tables, dtype=np.int32), len(V))]
            out_bkt = [buckets.ravel()]
            if n_flip > 0:
                # planes ranked by margin |proj| ascending, ties by
                # plane index (stable sort) — flip the j-th least
                # confident bit for probe j
                order = np.argsort(np.abs(proj3), axis=2, kind="stable")
                for j in range(min(n_flip, n_planes)):
                    flip = pows[order[:, :, j]]  # (n, T)
                    out_ids.append(np.repeat(ids, n_tables))
                    out_tbl.append(
                        np.tile(np.arange(n_tables, dtype=np.int32), len(V))
                    )
                    out_bkt.append((buckets ^ flip).ravel())
            yield pa.record_batch(
                [
                    pa.array(np.concatenate(out_ids)),
                    pa.array(np.concatenate(out_tbl)),
                    pa.array(np.concatenate(out_bkt)),
                ],
                names=["id", "tbl", "bucket"],
            )

    src = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    return src.mapInArrow(bucketize, out_schema)


def ann_lsh_search(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    planes: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vec",
    qid_col: str = "qid",
    qvec_col: str = "vec",
    n_probes: int = 1,
) -> DataFrame:
    """Approximate cosine top-k via bucket join + exact rerank.

    Returns (qid, rank, label, distance=cosine sim) for candidates only
    — queries whose buckets are empty yield fewer than k rows (no
    sentinel padding; this is the approximate path, ``knn_search`` is
    the exact one). Candidates found in multiple tables are deduped
    before the rerank so each pair is scored once. ``n_probes`` > 1
    enables query-side multiprobe (the n_probes−1 least-confident sign
    bits flip per table — see :func:`lsh_buckets`): more candidates,
    higher recall, corpus bucketing untouched.

    Shuffle discipline: the bucket join moves (id, tbl, bucket) triples
    only — never vectors. The deduped candidate pair set (≪ corpus) then
    equi-joins back to the vector table for the exact rerank, and the
    query vectors (small by contract) broadcast in.
    """
    vb = lsh_buckets(vectors, planes, id_col, vec_col)
    qb = lsh_buckets(
        queries, planes, qid_col, qvec_col, n_flip=max(0, n_probes - 1)
    ).withColumnRenamed("id", "qid")

    cand_ids = (
        qb.join(vb, ["tbl", "bucket"])
        .select(F.col("qid"), F.col("id").alias("label"))
        .dropDuplicates(["qid", "label"])
    )
    cand = cand_ids.join(
        vectors.select(
            F.col(id_col).cast("long").alias("label"), F.col(vec_col).alias("vvec")
        ),
        "label",
    ).join(
        F.broadcast(
            queries.select(
                F.col(qid_col).cast("long").alias("qid"), F.col(qvec_col).alias("qvec")
            )
        ),
        "qid",
    )
    scored = cand.select(
        "qid", "label", cosine_sim("qvec", "vvec").alias("distance")
    )
    w = Window.partitionBy("qid").orderBy(F.col("distance").desc(), F.col("label").asc())
    return (
        scored.withColumn("rank", (F.row_number().over(w) - 1).cast("int"))
        .where(F.col("rank") < k)
        .select("qid", "rank", "label", "distance")
    )


# ---------------------------------------------------------------------------
# Blocked exact kNN join (both sides large)
# ---------------------------------------------------------------------------


def knn_join_blocked(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "l2",
    num_qblocks: int = 4,
    num_vblocks: int = 4,
    id_col: str = "id",
    vec_col: str = "vec",
    qid_col: str = "qid",
    qvec_col: str = "vec",
    compute: str = "auto",
) -> DataFrame:
    """Exact kNN join without broadcasting either side.

    Each (qb, vb) grid cell receives its query block and vector block
    (rows carry a ``role`` tag through one shuffle), computes a local
    BLAS top-k, and the per-cell winners merge in a final window — the
    same partial+final shape as ``knn_search``'s gemm path, with the
    broadcast replaced by bounded replication: vectors are sent to BQ
    cells and queries to BV cells, so memory per task is
    (nq/BQ + nv/BV)·d and total shuffle is nq·BV + nv·BQ rows.

    ``compute='auto'`` = float32 (like ``knn_search``) — and here the
    width matters TWICE: the replicated vectors ride the grid shuffle
    as ``array<float>`` instead of ``array<double>``, halving the
    operator's dominant cost (nq·BV + nv·BQ vector copies on the wire)
    on top of the sgemm win. ``compute='f64'`` restores double for
    oracle-grade exactness.
    """
    if metric not in ("l2", "ip", "cosine"):
        raise ValueError(f"unknown metric {metric!r}")
    dt = _compute_dtype(compute)
    wire = "array<float>" if dt is np.float32 else "array<double>"
    spark = vectors.sparkSession
    want_min = metric == "l2"

    qblocks = spark.range(num_qblocks).select(F.col("id").cast("int").alias("qb"))
    vblocks = spark.range(num_vblocks).select(F.col("id").cast("int").alias("vb"))

    v = vectors.select(
        F.lit("v").alias("role"),
        F.col(id_col).cast("long").alias("rid"),
        F.col(vec_col).cast(wire).alias("rvec"),
        F.pmod(F.col(id_col), F.lit(num_vblocks)).cast("int").alias("vb"),
    ).crossJoin(qblocks)
    q = queries.select(
        F.lit("q").alias("role"),
        F.col(qid_col).cast("long").alias("rid"),
        F.col(qvec_col).cast(wire).alias("rvec"),
        F.pmod(F.col(qid_col), F.lit(num_qblocks)).cast("int").alias("qb"),
    ).crossJoin(vblocks)

    both = v.select("qb", "vb", "role", "rid", "rvec").unionByName(
        q.select("qb", "vb", "role", "rid", "rvec")
    )

    sign = 1.0 if want_min else -1.0

    def cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        qm = pdf[pdf["role"] == "q"]
        vm = pdf[pdf["role"] == "v"]
        if len(qm) == 0 or len(vm) == 0:
            return _no_pairs()
        Q = np.stack(qm["rvec"].to_numpy()).astype(dt, copy=False)
        V = np.stack(vm["rvec"].to_numpy()).astype(dt, copy=False)
        best_d, best_l = _topk_fold(
            None, sign * _distances(metric, Q, V), vm["rid"].to_numpy(np.int64), k
        )
        qids = np.repeat(qm["rid"].to_numpy(np.int64), best_l.shape[1])
        return pd.DataFrame(
            {"qid": qids, "label": best_l.ravel(), "distance": (sign * best_d).ravel()}
        )

    cand_schema = T.StructType(
        [
            T.StructField("qid", T.LongType()),
            T.StructField("label", T.LongType()),
            T.StructField("distance", T.DoubleType()),
        ]
    )
    candidates = both.groupBy("qb", "vb").applyInPandas(
        lambda key, pdf: cell_topk(pdf), cand_schema
    )
    qid_df = queries.select(F.col(qid_col).cast("long").alias("qid"))
    return _finalize(qid_df, candidates, k, metric)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN
# ---------------------------------------------------------------------------


def train_sample(
    df: DataFrame,
    sample_size: int,
    id_col: str = "id",
    extra_cols: tuple[str, ...] = (),
) -> pd.DataFrame:
    """Deterministic bounded trainer sample without a parts·n driver merge.

    ``orderBy(id).limit(n)`` compiles to TakeOrdered — one pass, but the
    driver merge still sees parts·n rows (50k partitions × 16k sample =
    800M rows of driver traffic at cluster scale). Instead: one count,
    then a hash-threshold filter that admits ~2n rows (md5 of the id —
    content-independent, stable across runs/partitionings/engines, the
    ``hash_split`` discipline), then an exact top-n by (hash, id) over
    only the admitted rows — TakeOrdered's driver merge is now O(n).
    The admitted count concentrates hard around 2n (Chernoff: admitting
    < n at 2n expected is ~e^{-n/4}), so the sample is always full.
    """
    n_total = df.count()
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    base = df.select(
        F.col(id_col).alias(id_col), *extra_cols, h.alias("_h")
    )
    if n_total > 2 * sample_size:
        bound = int((2.0 * sample_size / n_total) * float(1 << 32))
        base = base.where(F.col("_h") < F.lit(bound))
    return base.orderBy("_h", id_col).limit(sample_size).drop("_h").toPandas()


def _train_sample_matrix(
    vectors: DataFrame, id_col: str, vec_col: str, sample_size: int
) -> np.ndarray:
    """The ``train_sample`` rows of ``vectors`` as a float64 matrix —
    what every driver-side trainer fits on."""
    pdf = train_sample(
        vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
        sample_size,
        extra_cols=("vec",),
    )
    return np.stack(pdf["vec"].to_numpy()).astype(np.float64)


def ivf_train_centroids(
    vectors: DataFrame,
    n_cells: int,
    vec_col: str = "vec",
    id_col: str = "id",
    sample_size: int = 16384,
    iters: int = 10,
    spherical: bool = False,
    return_obj: bool = False,
):
    """Deterministic k-means centroids from a hash-thresholded sample.

    The sample comes from ``train_sample`` (md5-threshold filter, O(n)
    driver merge — stable across runs, partitionings and engines); init
    is the first n_cells sample rows; Lloyd iterations run on the driver
    (the sample is small by construction — training is O(sample),
    assignment is the distributed part).

    ``spherical`` renormalizes centroids to unit L2 after every update
    (faiss ``Kmeans(spherical=True)``; with unit centroids the
    ``‖c‖²−2x·c`` assignment is exactly max-inner-product order).
    ``return_obj`` returns ``(C, obj)`` where ``obj[i]`` is the total
    squared error Σ‖x−c(x)‖² over the training sample at iteration i
    (faiss ``Kmeans.obj``, measured on its train set — here the
    bounded sample, which is the O(sample) 100 TB-safe contract).
    """
    X = _train_sample_matrix(vectors, id_col, vec_col, sample_size)
    if len(X) < n_cells:
        raise ValueError(f"need ≥ {n_cells} vectors to train, got {len(X)}")
    C = X[:n_cells].copy()
    if spherical:
        nrm = np.linalg.norm(C, axis=1)
        C = C / np.where(nrm == 0.0, 1.0, nrm)[:, None]
    xn = (X * X).sum(1) if return_obj else None
    obj = []
    for _ in range(iters):
        # ‖c‖² − 2x·c decomposition (‖x‖² constant per row): one
        # (sample × cells) matrix instead of the (sample × cells × d)
        # broadcast — the same form ivf_assign uses, so trainer and
        # assigner tie-break identically. 16384×256×1536 fits in <2 GB.
        cn = (C * C).sum(1)
        Dm = cn[None, :] - 2.0 * (X @ C.T)
        assign = Dm.argmin(1)
        if return_obj:
            err = Dm[np.arange(len(X)), assign] + xn
            obj.append(float(np.maximum(err, 0.0).sum()))
        for c in range(n_cells):
            m = assign == c
            if m.any():
                C[c] = X[m].mean(0)
        if spherical:
            nrm = np.linalg.norm(C, axis=1)
            C = C / np.where(nrm == 0.0, 1.0, nrm)[:, None]
    return (C, obj) if return_obj else C


def ivf_assign(
    vectors: DataFrame,
    centroids: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vec",
    assigner=None,
) -> DataFrame:
    """Add a ``cell`` column = nearest centroid id (one scan, no
    shuffle). ``assigner`` (r12): an optional picklable object with
    ``assign_np((n, d)) -> (n,) cells`` replacing the exact argmin —
    the graph coarse quantizer hook (faiss IndexHNSWFlat-as-quantizer;
    operators/coarse.py), which makes per-vector assign cost
    independent of nlist. The distributed plan is identical either
    way: the ``knn._encode_scan`` driver over every input column."""
    out_schema = T.StructType(
        list(vectors.schema.fields) + [T.StructField("cell", T.IntegerType())]
    )

    def assign(state, V, batch):
        import pyarrow as pa

        C, asg = state
        if asg is not None:
            cell = np.asarray(asg.assign_np(V), np.int32)
        else:
            # argmin ‖v−c‖² = argmin ‖c‖²−2v·c (‖v‖² constant/row)
            cn = (C * C).sum(1)
            cell = (cn[None, :] - 2.0 * (V @ C.T)).argmin(1).astype(np.int32)
        return list(batch.columns) + [pa.array(cell)]

    return _encode_scan(
        vectors, (centroids, assigner), assign, out_schema, vec_col=vec_col
    )


def _residual(V: np.ndarray, centroids: np.ndarray, cells: np.ndarray) -> np.ndarray:
    """``v − centroid(cell)`` — what a by-residual IVF codec encodes,
    on the stored rows (:func:`_ivf_encode`) and on the training sample
    (:func:`_ivf_prologue`) alike."""
    return V - centroids[cells]


def _ivf_prologue(
    vectors: DataFrame,
    n_cells: int,
    id_col: str = "id",
    vec_col: str = "vec",
    sample_size: int = 16384,
    iters: int = 10,
    centroids: np.ndarray | None = None,
    assigner=None,
    by_residual: bool = True,
):
    """The training prologue of every fused IVF builder (``ivfpq_build``
    / ``ivfpqr_build`` / ``ivfrq_build`` and their tiers): train the
    coarse centroids (or take ``centroids``), assign through
    ``assigner`` when given, draw the cell-tagged ``train_sample`` and
    form its residuals — so the codebooks train on the SAME assignment
    the codes use. Returns ``(centroids, assigned, X)``: the lazy
    cell-assigned frame and the codebook training matrix, the sample's
    residuals (its vectors unless ``by_residual``)."""
    if centroids is None:
        centroids = ivf_train_centroids(
            vectors, n_cells, vec_col=vec_col, id_col=id_col,
            sample_size=sample_size, iters=iters,
        )
    assigned = ivf_assign(
        vectors, centroids, id_col=id_col, vec_col=vec_col, assigner=assigner
    )
    sample = train_sample(
        assigned.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), "cell"),
        sample_size,
        extra_cols=("vec", "cell"),
    )
    V = np.stack(sample["vec"].to_numpy()).astype(np.float64)
    if by_residual:
        V = _residual(V, centroids, sample["cell"].to_numpy(np.int64))
    return centroids, assigned, V


def _ivf_encode(
    assigned: DataFrame,
    centroids: np.ndarray,
    state,
    code,
    schema: T.StructType,
    id_col: str = "id",
    vec_col: str = "vec",
    by_residual: bool = True,
) -> DataFrame:
    """An IVF codec's encode of a cell-assigned table through the
    ``knn._encode_scan`` driver: ``(id, cell, *code(state, X, C,
    cells))`` per batch, where ``X`` is the residual ``v −
    centroid(cell)`` (``v`` itself unless ``by_residual``) and
    ``state`` the codec's frozen books, broadcast with the centroids."""

    def enc(st, V, batch):
        import pyarrow as pa

        C, books = st
        cells = batch.column("cell").to_numpy(zero_copy_only=True)
        X = _residual(V, C, cells) if by_residual else V
        return [
            batch.column("id"),
            pa.array(cells.astype(np.int32, copy=False)),
            *code(books, X, C, cells),
        ]

    return _encode_scan(
        _encode_rows(assigned, id_col, vec_col, "cell"), (centroids, state), enc, schema
    )


def ivf_write(assigned: DataFrame, path: str) -> None:
    """Persist the inverted file: parquet partitioned by cell, so probe
    filters prune partitions at scan time (the IVF 'inverted list')."""
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path)



def cell_size_map(frame, max_codes):
    """Per-cell inverted-list sizes for the faiss max_codes pre-list
    check, read by :func:`probe_scan`. Returns {} when the bound is
    off; validates the bound once here."""
    if max_codes is None:
        return {}
    if int(max_codes) <= 0:
        raise ValueError("max_codes must be positive when set")
    return {
        int(r["cell"]): int(r["n"])
        for r in frame.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def build_probe_map(probe, max_codes=None, cell_sizes=None):
    """cell → local indices of the queries that probe it, with the
    faiss ``SearchParametersIVF::max_codes`` pre-list cut (``if
    (max_codes && nscan >= max_codes) break`` — the crossing list still
    scans in full, the first list always does). Negative cells are the
    faiss -1 skip-slot sentinel. The probe map of :func:`probe_scan`."""
    cell_to_qidx: dict[int, list[int]] = {}
    sizes = cell_sizes or {}
    for i, cells_i in enumerate(probe):
        nscan = 0
        for c in cells_i:
            if c < 0:
                continue
            if max_codes is not None and nscan >= int(max_codes):
                break
            nscan += sizes.get(int(c), 0)
            cell_to_qidx.setdefault(int(c), []).append(i)
    return cell_to_qidx


def _no_pairs() -> pd.DataFrame:
    return pd.DataFrame({"qid": [], "label": [], "distance": []}).astype(
        {"qid": np.int64, "label": np.int64, "distance": np.float64}
    )


def probe_scan(
    lists: DataFrame,
    queries: DataFrame,
    kernel: ScanKernel,
    nprobe: int,
    *,
    centroids: np.ndarray | None = None,
    k: int | None = None,
    radius: float | None = None,
    probe_cells=None,
    max_codes: int | None = None,
    id_col: str = "id",
    qid_col: str = "qid",
    qvec_col: str = "vec",
) -> DataFrame:
    """The IVF probe-and-scan driver (faiss ``IndexIVF::search`` /
    ``range_search``): a coarse quantizer picks each query's cells, the
    inverted ``lists`` (rows with a ``cell`` column) are scanned only
    there, and the codec's :class:`ScanKernel` scores each cell group.
    Every IVF operator and tier searches through this one function.

    1. Collect the query batch once (an empty batch returns an empty
       result of the right schema).
    2. Rank probe cells: ``probe_cells`` — a hook marked ``by_qid`` is
       called as ``(Q, qids)`` so it can align caller-supplied per-query
       assignments (search_preassigned), a plain hook as ``(Q)`` (IMI,
       the graph coarse quantizer) — else the exact L2 order against
       ``centroids`` (faiss probes L2-nearest cells for every metric).
       A negative cell is the faiss -1 skip slot.
    3. ``max_codes`` (faiss ``SearchParametersIVF::max_codes``): keep
       probe cells in ranking order only while the codes scanned so far
       stay under the bound — the crossing list still scans in full, at
       least the first list always does (whole-list granularity, one
       bounded nlist-row count job per call when set).
    4. ONE broadcast of (qids, Q, cell → query indices, kernel state).
    5. A plain ``cell isin`` prune — partition pruning on a
       ``partitionBy("cell")`` store — then ``groupBy("cell")
       .applyInPandas``: each cell group scores exactly the queries
       that probed it, so a dense foreign cell never crowds out a
       sparse probed one.
    6. With ``k``: a per-cell partial top-k merged by ``_finalize``,
       min(k, probed rows) real results per query. With ``radius``:
       each cell emits its passing (qid, label, distance) pairs
       unordered — every vector lives in one cell, so nothing merges
       and there is no finalize shuffle."""
    spark = queries.sparkSession
    cell_sizes = cell_size_map(lists, max_codes)
    qpdf = queries.select(
        F.col(qid_col).cast("long").alias("qid"), F.col(qvec_col).alias("qvec")
    ).toPandas()
    if len(qpdf) == 0:
        schema = RESULT_SCHEMA if radius is None else kernel.range_schema
        return spark.createDataFrame([], schema)
    qids = qpdf["qid"].to_numpy(np.int64)
    Q = np.stack(qpdf["qvec"].to_numpy()).astype(np.float64)
    state = kernel.prepare(Q)
    if probe_cells is None:
        cn = (centroids * centroids).sum(1)
        probe = (cn[None, :] - 2.0 * (Q @ centroids.T)).argsort(1, kind="stable")
    elif getattr(probe_cells, "by_qid", False):
        probe = np.asarray(probe_cells(Q, qids))
    else:
        probe = np.asarray(probe_cells(Q))
    cell_to_qidx = build_probe_map(probe[:, :nprobe], max_codes, cell_sizes)
    bc = spark.sparkContext.broadcast(
        (
            qids, Q,
            {c: np.asarray(ix, dtype=np.int64) for c, ix in cell_to_qidx.items()},
            state,
        )
    )
    # the task closure holds the kernel's parts, never the kernel:
    # ``prepare`` may close over codebooks and centroids
    score, metric, lexsort, gated = (
        kernel.score, kernel.metric, kernel.lexsort, kernel.gated
    )
    want_min = metric in ("l2", "l1")
    sign = 1.0 if want_min else -1.0
    r = None if radius is None else float(radius)

    def scan_cell(key, pdf):
        qids_, Q_, c2q, state_ = bc.value
        cell = int(key[0])
        qidx = c2q.get(cell)
        if qidx is None or len(pdf) == 0:
            return _no_pairs()
        D = score(state_, Q_, qidx, cell, pdf)
        labels = pdf[id_col].to_numpy(np.int64)
        if r is not None:
            qi, vi = np.nonzero(D < r if want_min else D > r)
            return pd.DataFrame(
                {"qid": qids_[qidx][qi], "label": labels[vi], "distance": D[qi, vi]}
            )
        best_d, best_l = _topk_fold(None, sign * D, labels, k, lexsort)
        out = pd.DataFrame(
            {
                "qid": np.repeat(qids_[qidx], best_l.shape[1]),
                "label": best_l.ravel(),
                "distance": (sign * best_d).ravel(),
            }
        )
        return out[np.isfinite(out["distance"].to_numpy())] if gated else out

    subset = lists.where(F.col("cell").isin([int(c) for c in sorted(cell_to_qidx)]))
    if r is not None:
        return subset.groupBy("cell").applyInPandas(scan_cell, kernel.range_schema)
    candidates = subset.groupBy("cell").applyInPandas(scan_cell, _PARTIAL_SCHEMA)
    qdf = queries.select(F.col(qid_col).cast("long").alias("qid"))
    # merge per-cell winners; drop the sentinel padding — the contract
    # here (approximate path) is min(k, probed rows) real results
    return _finalize(qdf, candidates, k, metric).where(F.col("label") >= 0)


def decode_scan(metric: str = "l2", vec_col: str = "vec", decode=None) -> ScanKernel:
    """The flat/decode kernel: exact ``metric`` (l2 / ip / cosine / l1)
    between the probing queries and a cell's rows as floats —
    ``decode(pdf) -> (n, d)`` for a coded list (faiss
    ``IndexIVFScalarQuantizer`` scores codes in-list the same way),
    else ``vec_col`` read as a float array column."""
    if metric not in ("l2", "ip", "cosine", "l1"):
        raise ValueError(f"unknown metric {metric!r}")

    def score(_state, Q, qidx, _cell, pdf: pd.DataFrame) -> np.ndarray:
        Qs = Q[qidx]
        V = (
            decode(pdf)
            if decode is not None
            else np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        )
        return _distances(metric, Qs, V)

    # ivf_range_search has always declared nullable result columns
    return ScanKernel(
        score, metric=metric, range_schema="qid long, label long, distance double"
    )


def ivf_search(
    assigned: DataFrame,
    centroids: np.ndarray,
    queries: DataFrame,
    k: int,
    nprobe: int,
    metric: str = "l2",
    id_col: str = "id",
    vec_col: str = "vec",
    qid_col: str = "qid",
    qvec_col: str = "vec",
    decode=None,
    probe_cells=None,
    max_codes: int | None = None,
) -> DataFrame:
    """Probe the nprobe nearest cells per query, exact search within.

    ``probe_cells``: optional ``(Q) -> (nq, ≥nprobe) int`` cell-ranking
    override (see :func:`probe_scan`) — the IMI hook.

    ``max_codes``: faiss ``SearchParametersIVF::max_codes`` — bound the
    stored entries scanned per query: probe cells are kept in ranking
    order only while the running scan count stays under the bound (the
    crossing list still scans in full; at least one list always does —
    the exact faiss pre-list check at this engine's whole-list
    granularity). Costs one bounded nlist-row cell-count job per call
    when set.

    ``decode``: optional callable ``pdf -> (n, d) float64`` that turns a
    cell group's stored rows into the float matrix to score (used by
    the SQ-coded inverted file, :class:`~..compact_index.IVFSQIndex` —
    faiss ``IndexIVFScalarQuantizer`` scores codes in-list the same
    way). Default reads ``vec_col`` as a float array column.

    The cell filter is a plain ``isin`` — on a cell-partitioned table it
    becomes partition pruning; in memory it's still a single scan that
    skips non-candidate rows before any distance math.

    Search runs PER CELL (``groupBy("cell").applyInPandas``): each cell
    group scores exactly the queries that probed it (per-query probe map
    broadcast to the executors), takes a local top-k, and the per-cell
    winners merge in the same partial/final shape as ``knn_search``.
    A query's candidates therefore come only from its own probed cells —
    a dense foreign cell can never crowd out a sparse probed one — and
    each query gets exactly min(k, |probed rows|) results.
    nprobe = n_cells degrades gracefully to exact search.
    """
    return probe_scan(
        assigned, queries, decode_scan(metric, vec_col, decode), nprobe,
        centroids=centroids, k=k, probe_cells=probe_cells,
        max_codes=max_codes, id_col=id_col, qid_col=qid_col,
        qvec_col=qvec_col,
    )


def ivf_range_search(
    assigned: DataFrame,
    centroids: np.ndarray,
    queries: DataFrame,
    radius: float,
    nprobe: int,
    metric: str = "l2",
    id_col: str = "id",
    vec_col: str = "vec",
    qid_col: str = "qid",
    qvec_col: str = "vec",
    decode=None,
    probe_cells=None,
) -> DataFrame:
    """All probed neighbors within ``radius`` — faiss
    ``IndexIVF::range_search``: the same nprobe coarse probe as
    :func:`ivf_search`, then a radius FILTER instead of a top-k, so
    results are exact over the probed cells (faiss's contract: range
    recall is bounded by cell coverage, nprobe = n_cells degrades to
    the exact flat answer). Keep rule matches CPU faiss and the flat
    ``range_search``: L2/L1 keep ``distance < radius`` strict, IP and
    cosine keep ``distance > radius``.

    Returns (qid, label, distance) UNORDERED, no rank / sentinels —
    the flat range_search contract. Physical shape: one pruned scan
    (cell ``isin`` → partition pruning on an ``ivf_write`` store), the
    per-cell Arrow stage emits passing pairs directly; with each vector
    living in exactly ONE cell there is nothing to merge, so unlike
    ``ivf_search`` there is no finalize shuffle at all — output volume
    is bounded by the radius, not nq·nv.
    """
    return probe_scan(
        assigned, queries, decode_scan(metric, vec_col, decode), nprobe,
        centroids=centroids, radius=radius, probe_cells=probe_cells,
        id_col=id_col, qid_col=qid_col, qvec_col=qvec_col,
    )


# ---------------------------------------------------------------------------
# IMI — faiss MultiIndexQuantizer coarse quantizer (index_factory
# "IMI2x<b>"): the cell id is the PRODUCT of two independent b-bit
# sub-quantizers over the two dim-halves, giving 2^(2b) cells from two
# 2^b k-means trainings (the trick that makes 65k+ cells trainable
# from the same O(sample) budget as 256). Probe ranking sums the two
# per-half distance tables — nq·2^(2b) adds over two nq·2^b GEMMs,
# never a full-width distance per cell.
# ---------------------------------------------------------------------------


def imi_train(
    vectors: DataFrame,
    b: int,
    d: int,
    id_col: str = "id",
    vec_col: str = "vec",
    sample_size: int = 16384,
    iters: int = 10,
):
    """Train the two half-space sub-quantizers → (C0, C1), each
    (2^b, d//2). Two O(sample) trainings, one sampled scan each."""
    if d % 2 != 0:
        raise ValueError(f"IMI needs even d, got {d}")
    if b > 8:
        raise ValueError(f"IMI2x{b} ranks 4^{b} cells per query — keep b ≤ 8")
    dh = d // 2
    h0 = vectors.select(
        F.col(id_col).alias("id"), F.slice(F.col(vec_col), 1, dh).alias("vec")
    )
    h1 = vectors.select(
        F.col(id_col).alias("id"),
        F.slice(F.col(vec_col), dh + 1, dh).alias("vec"),
    )
    C0 = ivf_train_centroids(h0, 2**b, sample_size=sample_size, iters=iters)
    C1 = ivf_train_centroids(h1, 2**b, sample_size=sample_size, iters=iters)
    return C0, C1


def imi_assign(
    vectors: DataFrame,
    C0: np.ndarray,
    C1: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """(id, vec, cell) with cell = a0·|C1| + a1 (the faiss
    MultiIndexQuantizer composite id) — one Arrow scan, no shuffle."""
    dh = C0.shape[1]

    def assign(state, V, batch):
        import pyarrow as pa

        C0_, C1_ = state
        cn0 = (C0_ * C0_).sum(1)
        cn1 = (C1_ * C1_).sum(1)
        a0 = (cn0[None, :] - 2.0 * (V[:, :dh] @ C0_.T)).argmin(1)
        a1 = (cn1[None, :] - 2.0 * (V[:, dh:] @ C1_.T)).argmin(1)
        cell = (a0 * len(C1_) + a1).astype(np.int32)
        return [batch.column("id"), batch.column("vec"), pa.array(cell)]

    rows = _encode_rows(vectors, id_col, vec_col)
    schema = T.StructType.fromDDL("id long, vec array<float>, cell int")
    return _encode_scan(rows, (C0, C1), assign, schema)


def imi_probe_cells(C0: np.ndarray, C1: np.ndarray):
    """``probe_cells`` hook for :func:`ivf_search`: rank ALL composite
    cells by d0(q, C0[i]) + d1(q, C1[j]) — the sum decomposition the
    product quantizer admits (two small GEMMs + a broadcast add), ties
    by ascending cell id (stable argsort over the flattened table)."""
    dh = C0.shape[1]
    cn0 = (C0 * C0).sum(1)
    cn1 = (C1 * C1).sum(1)

    def probe(Q: np.ndarray) -> np.ndarray:
        d0 = cn0[None, :] - 2.0 * (Q[:, :dh] @ C0.T)
        d1 = cn1[None, :] - 2.0 * (Q[:, dh:] @ C1.T)
        S = (d0[:, :, None] + d1[:, None, :]).reshape(len(Q), -1)
        return S.argsort(1, kind="stable")

    return probe
