"""Product-quantization semantics: exactness on codebook points, ADC ≡
decoded-distance equivalence, recall against the exact kNN oracle, and
the compression contract."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from faiss_metal_spark.operators.knn import knn_search
from faiss_metal_spark.operators.pq import (
    pq_decode_np,
    pq_encode,
    pq_reconstruct,
    pq_search,
    pq_train,
)


def vectors_df(spark, V):
    return spark.createDataFrame(
        pd.DataFrame({"id": range(len(V)), "vec": [v.tolist() for v in V]}),
        schema="id long, vec array<float>",
    )


def queries_df(spark, Q):
    return spark.createDataFrame(
        pd.DataFrame({"qid": range(len(Q)), "vec": [q.tolist() for q in Q]}),
        schema="qid long, vec array<float>",
    )


@pytest.fixture(scope="module")
def trained(spark):
    """Clustered data (PQ's intended regime) + trained codebooks."""
    rng = np.random.default_rng(11)
    centers = rng.normal(0, 5, size=(32, 16)).astype(np.float32)
    V = (centers[rng.integers(0, 32, 2000)] + rng.normal(0, 0.3, (2000, 16))).astype(
        np.float32
    )
    vdf = vectors_df(spark, V).persist()
    books = pq_train(vdf, m=4, sample_size=1024, iters=8)
    codes = pq_encode(vdf, books).persist()
    return V, vdf, books, codes


def test_codebook_shape_and_code_bytes(trained):
    V, vdf, books, codes = trained
    assert books.shape == (4, 256, 4)
    rows = codes.limit(5).collect()
    assert all(len(r["code"]) == 4 for r in rows)  # m bytes per vector


def test_roundtrip_bounded_and_reconstruct(spark, trained):
    """Decoded vectors approximate the input far better than the data
    spread (quantization actually quantizes), and the distributed
    reconstruct matches the numpy decode bit-for-bit."""
    V, vdf, books, codes = trained
    pdf = codes.orderBy("id").toPandas()
    C = np.frombuffer(b"".join(pdf["code"]), dtype=np.uint8).reshape(-1, 4)
    R = pq_decode_np(C, books)
    mse = ((R - V) ** 2).mean()
    assert mse < 0.5, f"quantization error too high: {mse}"  # σ²=0.09/dim data
    rec = pq_reconstruct(codes, books).orderBy("id").toPandas()
    R2 = np.stack(rec["vec"].to_numpy()).astype(np.float64)
    np.testing.assert_allclose(R2, R.astype(np.float32).astype(np.float64))


def test_exact_on_codebook_points(spark):
    """Vectors lying exactly on codebook centroids quantize losslessly,
    and ADC search over them equals exact brute-force kNN."""
    rng = np.random.default_rng(3)
    V = rng.normal(size=(300, 8)).astype(np.float32)
    vdf = vectors_df(spark, V)
    books = pq_train(vdf, m=2, sample_size=300, iters=6)
    # snap every vector onto its nearest codebook point per subspace
    pdf = pq_encode(vdf, books).orderBy("id").toPandas()
    C = np.frombuffer(b"".join(pdf["code"]), dtype=np.uint8).reshape(-1, 2)
    S = pq_decode_np(C, books).astype(np.float32)
    sdf = vectors_df(spark, S)
    codes2 = pq_encode(sdf, books)
    Q = S[:5]
    got = (
        pq_search(codes2, books, queries_df(spark, Q), k=3)
        .orderBy("qid", "rank")
        .toPandas()
    )
    exact = (
        knn_search(sdf, queries_df(spark, Q), 3, metric="l2", method="gemm",
                   compute="f64")
        .orderBy("qid", "rank")
        .toPandas()
    )
    # self is top-1 at distance 0 in both; distances agree exactly
    assert (got["distance"].to_numpy()[::3] == 0).all()
    np.testing.assert_allclose(
        got["distance"].to_numpy(), exact["distance"].to_numpy(), atol=1e-6
    )


@pytest.mark.parametrize("metric", ["l2", "ip"])
def test_recall_vs_exact(spark, trained, metric):
    """Recall@R (Jégou et al. §5: fraction of queries whose TRUE nearest
    neighbor appears in the ADC top-R) ≥ 0.75 at R=10 on clustered data
    — the regime PQ is built for. (Top-10 set overlap is the wrong bar:
    within a tight cluster the ranking below the true NN is dominated by
    quantization noise by construction.)"""
    V, vdf, books, codes = trained
    rng = np.random.default_rng(5)
    Q = V[rng.integers(0, len(V), 8)] + rng.normal(0, 0.05, (8, 16)).astype(
        np.float32
    )
    qdf = queries_df(spark, Q.astype(np.float32))
    approx = pq_search(codes, books, qdf, k=10, metric=metric).toPandas()
    exact = knn_search(vdf, qdf, 1, metric=metric, method="gemm").toPandas()
    hit = 0
    for qid in range(8):
        true_nn = exact[(exact["qid"] == qid) & (exact["rank"] == 0)]["label"].iloc[0]
        hit += true_nn in set(approx[approx["qid"] == qid]["label"])
    assert hit / 8 >= 0.75, f"Recall@10 = {hit / 8}"


def test_sentinel_and_empty(spark, trained):
    """k > ntotal pads with sentinels like knn_search; empty query set
    returns an empty result with the right schema."""
    V, vdf, books, codes = trained
    few = pq_encode(vectors_df(spark, V[:2]), books)
    out = (
        pq_search(few, books, queries_df(spark, V[:1]), k=5)
        .orderBy("rank")
        .collect()
    )
    assert len(out) == 5
    assert [r["label"] for r in out[2:]] == [-1, -1, -1]
    empty = pq_search(codes, books, queries_df(spark, np.empty((0, 16))), k=3)
    assert empty.count() == 0


def test_dim_mismatch_raises(spark, trained):
    V, vdf, books, codes = trained
    with pytest.raises(ValueError):
        pq_train(vdf, m=5)  # 16 % 5 != 0
    with pytest.raises(ValueError):
        pq_search(codes, books, queries_df(spark, np.zeros((1, 15))), k=1)


def test_ivfpq_exact_when_zero_residual(spark):
    """A corpus snapped onto the coarse centroids has zero residuals, so
    the residual codebooks collapse to ~0 and full-probe IVF-PQ
    distances equal exact L2 (labels tie among duplicated corpus rows —
    distances are the invariant)."""
    from faiss_metal_spark.operators.pq import ivfpq_build, ivfpq_search
    from faiss_metal_spark.operators.similarity import ivf_train_centroids

    rng = np.random.default_rng(17)
    V = rng.normal(0, 5, size=(300, 8)).astype(np.float32)
    cents = ivf_train_centroids(vectors_df(spark, V), 16, sample_size=300, iters=6)
    snap = cents[
        (
            (cents * cents).sum(1)[None, :]
            - 2.0 * (V.astype(np.float64) @ cents.T)
        ).argmin(1)
    ].astype(np.float32)
    sdf = vectors_df(spark, snap)
    centroids, books, codes = ivfpq_build(sdf, n_cells=16, m=2, sample_size=300, iters=4)
    Q = snap[:4]
    got = (
        ivfpq_search(codes, centroids, books, queries_df(spark, Q), k=3, nprobe=16)
        .orderBy("qid", "rank")
        .toPandas()
    )
    exact = (
        knn_search(sdf, queries_df(spark, Q), 3, metric="l2", method="gemm",
                   compute="f64")
        .orderBy("qid", "rank")
        .toPandas()
    )
    assert (got[got["rank"] == 0]["distance"].to_numpy() < 1e-6).all()  # self hit
    np.testing.assert_allclose(
        got["distance"].to_numpy(), exact["distance"].to_numpy(), atol=1e-3
    )


def test_ivfpq_recall_and_cell_containment(spark, trained):
    """Recall@10 ≥ 0.75 vs exact search at partial probe on clustered
    data, and a probed-cells containment check: every result of a query
    must come from that query's own probed cells."""
    from faiss_metal_spark.operators.pq import ivfpq_build, ivfpq_search
    from faiss_metal_spark.operators.similarity import ivf_assign

    V, vdf, _, _ = trained
    centroids, books, codes = ivfpq_build(vdf, n_cells=16, m=4, sample_size=1024, iters=6)
    rng = np.random.default_rng(23)
    Q = (V[rng.integers(0, len(V), 8)] + rng.normal(0, 0.05, (8, 16))).astype(np.float32)
    qdf = queries_df(spark, Q)
    got = ivfpq_search(codes, centroids, books, qdf, k=10, nprobe=6).toPandas()
    exact = knn_search(vdf, qdf, 1, metric="l2", method="gemm").toPandas()
    hit = 0
    for qid in range(8):
        true_nn = exact[(exact["qid"] == qid) & (exact["rank"] == 0)]["label"].iloc[0]
        hit += true_nn in set(got[got["qid"] == qid]["label"])
    assert hit / 8 >= 0.75, f"Recall@10 = {hit / 8}"

    # containment: labels ⊆ vectors assigned to the query's probed cells
    cn = (centroids * centroids).sum(1)
    probe = (cn[None, :] - 2.0 * (Q.astype(np.float64) @ centroids.T)).argsort(1)[:, :6]
    cell_of = {
        r["id"]: r["cell"] for r in ivf_assign(vdf, centroids).select("id", "cell").collect()
    }
    for qid in range(8):
        allowed = set(probe[qid].tolist())
        for lbl in got[got["qid"] == qid]["label"]:
            assert cell_of[lbl] in allowed


def test_ivfpq_residuals_beat_raw_pq(spark, trained):
    """On clustered data the residual quantizer must reconstruct better
    than raw PQ at equal code budget — the reason IVF-PQ exists."""
    from faiss_metal_spark.operators.pq import (
        ivfpq_build,
        pq_decode_np,
        pq_encode,
        pq_train,
    )

    V, vdf, _, _ = trained
    Vd = V.astype(np.float64)

    books_raw = pq_train(vdf, m=4, sample_size=1024, iters=6)
    raw = pq_encode(vdf, books_raw).orderBy("id").toPandas()
    Craw = np.frombuffer(b"".join(raw["code"]), dtype=np.uint8).reshape(-1, 4)
    mse_raw = ((pq_decode_np(Craw, books_raw) - Vd) ** 2).mean()

    centroids, books, codes = ivfpq_build(vdf, n_cells=16, m=4, sample_size=1024, iters=6)
    pdf = codes.orderBy("id").toPandas()
    Cres = np.frombuffer(b"".join(pdf["code"]), dtype=np.uint8).reshape(-1, 4)
    R = pq_decode_np(Cres, books) + centroids[pdf["cell"].to_numpy(np.int64)]
    mse_ivf = ((R - Vd) ** 2).mean()
    assert mse_ivf < mse_raw, f"residual {mse_ivf} !< raw {mse_raw}"


def test_pq_search_lut_broadcast_ceiling(spark, trained):
    """The ADC LUT broadcast (nq·m·256 doubles) gets the same ceiling
    discipline as the gemm path's query broadcast: an oversized query
    batch raises instead of OOMing executors."""
    V, vdf, books, codes = trained
    nq_too_many = 8_000_000 // (4 * 256) + 1
    Q = spark.range(nq_too_many).select(
        F.col("id").alias("qid"),
        F.array(*[F.lit(0.0) for _ in range(16)]).alias("vec"),
    )
    with pytest.raises(ValueError, match="ADC LUT too large"):
        pq_search(codes, books, Q, k=5)


def test_ivfpq_write_partition_pruning(spark, trained, tmp_path):
    """A cell-partitioned code table turns the probe filter inside
    ivfpq_search into parquet partition pruning — the executed plan must
    carry PartitionFilters on cell (the docstring promise of
    ivfpq_search), and search over the reloaded table must match search
    over the in-memory codes."""
    from faiss_metal_spark.operators.pq import (
        ivfpq_build,
        ivfpq_search,
        ivfpq_write,
    )

    V, vdf, _, _ = trained
    centroids, books, codes = ivfpq_build(vdf, n_cells=16, m=4, sample_size=1024, iters=4)
    path = str(tmp_path / "ivfpq")
    ivfpq_write(codes, path)
    back = spark.read.parquet(path)

    rng = np.random.default_rng(31)
    Q = (V[rng.integers(0, len(V), 4)] + rng.normal(0, 0.05, (4, 16))).astype(np.float32)
    qdf = queries_df(spark, Q)

    res = ivfpq_search(back, centroids, books, qdf, k=5, nprobe=4)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:120]

    got = res.toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    want = (
        ivfpq_search(codes, centroids, books, qdf, k=5, nprobe=4)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_refine_search_exact_distances_and_recall(spark, trained):
    """IndexRefineFlat semantics: refine_search returns EXACT distances
    (they must agree with brute-force kNN on the same labels), its
    recall@1 is at least raw ADC's, and with refine_factor covering the
    whole table it equals exact kNN outright."""
    from faiss_metal_spark.operators.pq import refine_search

    V, vdf, books, codes = trained
    rng = np.random.default_rng(41)
    Q = (V[rng.integers(0, len(V), 6)] + rng.normal(0, 0.1, (6, 16))).astype(
        np.float32
    )
    qdf = queries_df(spark, Q)

    exact = knn_search(vdf, qdf, 10, metric="l2", method="gemm").toPandas()
    ref = (
        refine_search(vdf, codes, books, qdf, k=10, refine_factor=8)
        .toPandas()
        .sort_values(["qid", "rank"])
    )
    raw = pq_search(codes, books, qdf, k=10).toPandas()

    # distances are exact: every (qid, label) refine returns must carry
    # the brute-force distance for that pair
    Vd, Qd = V.astype(np.float64), Q.astype(np.float64)
    for r in ref.itertuples():
        if r.label >= 0:
            true = ((Qd[r.qid] - Vd[r.label]) ** 2).sum()
            assert abs(r.distance - true) < 1e-9

    def rec1(df):
        hits = 0
        for qid in range(6):
            t = exact[(exact["qid"] == qid) & (exact["rank"] == 0)]["label"].iloc[0]
            g = df[(df["qid"] == qid) & (df["rank"] == 0)]["label"].iloc[0]
            hits += int(t == g)
        return hits

    assert rec1(ref) >= rec1(raw)

    # refine_factor spanning the whole table ⇒ identical to exact kNN
    full = (
        refine_search(vdf, codes, books, qdf, k=5, refine_factor=len(V) // 5 + 1)
        .orderBy("qid", "rank")
        .toPandas()
    )
    # refine distances are double-precision — compare vs the f64 mode
    want = knn_search(
        vdf, qdf, 5, metric="l2", method="gemm", compute="f64"
    ).orderBy("qid", "rank").toPandas()
    assert (full["label"].to_numpy() == want["label"].to_numpy()).all()
    np.testing.assert_allclose(
        full["distance"].to_numpy(), want["distance"].to_numpy(), atol=1e-9
    )


# -- the encode driver: one projection, one plan shape for every encoder ------


@pytest.fixture(scope="module")
def codec_state():
    """Frozen literal codec state over a tiny 64×8 frame: coarse
    centroids, 4-bit PQ/RQ/PRQ books and the IMI half-space books."""
    from faiss_metal_spark.operators.pq import train_books_np
    from faiss_metal_spark.operators.rq import rq_train_np

    V = np.random.default_rng(5).normal(size=(64, 8)).astype(np.float32)
    X = V.astype(np.float64)
    books = train_books_np(X, 2, 2, ksub=16)
    prq = np.stack(
        [rq_train_np(X[:, :4], 2, 2, ksub=16), rq_train_np(X[:, 4:], 2, 2, ksub=16)]
    )
    return V, {
        "C": X[:4].copy(), "books": books, "rq": rq_train_np(X, 2, 2, ksub=16),
        "prq": prq, "C0": X[:4, :4].copy(), "C1": X[4:8, 4:].copy(),
    }


def _encoders():
    """name → fn(vectors, assigned, state): every distributed encoder;
    ``assigned`` is the cell-tagged input of the IVF encoders."""
    from faiss_metal_spark.operators.pq import (
        ivfpq_build, ivfpq_encode, ivfpqr_encode,
    )
    from faiss_metal_spark.operators.rq import ivfrq_encode, prq_encode, rq_encode
    from faiss_metal_spark.operators.similarity import imi_assign, ivf_assign

    return {
        "pq_encode": lambda v, a, s: pq_encode(v, s["books"], pack4=True),
        "ivfpq_encode": lambda v, a, s: ivfpq_encode(a, s["C"], s["books"]),
        "ivfpqr_encode": lambda v, a, s: ivfpqr_encode(a, s["C"], s["books"], s["books"]),
        "rq_encode": lambda v, a, s: rq_encode(v, s["rq"]),
        "prq_encode": lambda v, a, s: prq_encode(v, s["prq"]),
        "ivfrq_encode": lambda v, a, s: ivfrq_encode(a, s["C"], s["rq"], pack4=True),
        "imi_assign": lambda v, a, s: imi_assign(v, s["C0"], s["C1"]),
        "ivf_assign": lambda v, a, s: ivf_assign(v, s["C"]),
        "ivfpq_build": lambda v, a, s: ivfpq_build(v, 4, 2, iters=2, nbits=4)[2],
    }


def _id_frame(spark, V, id_type):
    return spark.createDataFrame(
        pd.DataFrame({"id": np.arange(len(V)), "vec": [v.tolist() for v in V]}),
        schema=f"id {id_type}, vec array<float>",
    )


@pytest.mark.parametrize(
    "name",
    ["pq_encode", "ivfpq_encode", "ivfpqr_encode", "rq_encode", "prq_encode",
     "ivfrq_encode", "imi_assign", "ivfpq_build"],
)
def test_encoders_cast_int_ids_to_long(spark, codec_state, name):
    """Every ``(id, …)`` encoder reads its input through the one
    ``(id long, vec)`` projection: an int id column encodes to a bigint
    ``id`` with exactly the rows of the same frame with long ids."""
    from pyspark.sql import types as T

    from faiss_metal_spark.operators.similarity import ivf_assign

    V, s = codec_state
    fn = _encoders()[name]
    out = {}
    for id_type in ("int", "long"):
        v = _id_frame(spark, V, id_type)
        enc = fn(v, ivf_assign(v, s["C"]), s)
        assert enc.schema["id"].dataType == T.LongType(), id_type
        out[id_type] = sorted(enc.collect())  # id leads every output row
    assert out["int"] == out["long"]


@pytest.mark.parametrize(
    "name",
    ["pq_encode", "ivfpq_encode", "ivfpqr_encode", "rq_encode", "prq_encode",
     "ivfrq_encode", "imi_assign", "ivf_assign"],
)
def test_encode_plan_is_one_arrow_pass(spark, codec_state, name):
    """Explain only, no Spark job: each encoder's executed plan is ONE
    ``MapInArrow`` (the encode driver's pass; the IVF encoders read a
    literal ``cell`` column here) and no ``Exchange``."""
    V, s = codec_state
    v = _id_frame(spark, V, "long")
    a = v.withColumn("cell", (F.col("id") % 4).cast("int"))
    sc, group = spark.sparkContext, f"encode-plan-{name}"
    sc.setJobGroup(group, group, interruptOnCancel=False)
    try:
        enc = _encoders()[name](v, a, s)
        plan = enc._jdf.queryExecution().executedPlan().toString()
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert plan.count("MapInArrow") == 1, plan
    assert "Exchange" not in plan, plan
