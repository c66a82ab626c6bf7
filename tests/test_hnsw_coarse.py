"""Graph coarse quantizer (r12) — the faiss big-nlist recipe
``index_factory("IVF<n>_HNSW<M>,Flat")`` / ``"IVF<n>_HNSW<M>,PQ<m>"``
(faiss makes the coarse quantizer an IndexHNSWFlat so assignment and
probe selection cost is nlist-independent; operators/coarse.py).

Approximation contract (= faiss): assignment may differ from the exact
argmin on boundary vectors; everything downstream is exact GIVEN the
assignment. Pins:

- the quantizer's top-1 assignment recall vs the exact argmin ≥ 0.85
  on k-means-like clustered centroids, and assignment is deterministic;
- every stored row's cell IS the quantizer's own assignment, and
  search with the quantizer's own probe ranking ≡ search_preassigned
  fed that ranking (the given-the-assignment exactness);
- probing ALL cells recovers the exact flat answer over the stored
  rows regardless of probe order (coverage ≡ correctness);
- add_df assigns through the quantizer (frozen state);
- IO round-trips the quantizer (kinds ivf/ivfpq gain coarse arrays;
  reloaded search value-identical), clone shares it, merge_from
  refuses a mismatched quantizer graph;
- the IVFPQ form trains its residual books on the SAME approximate
  assignment the codes use (reconstruction check through stored cells).
"""

import numpy as np
import pytest

from faiss_metal_spark import (
    HNSWCoarseQuantizer,
    IVFIndex,
    IVFPQIndex,
    VectorTable,
    clone_index,
    index_factory,
    read_index,
    write_index,
)
from faiss_metal_spark.operators.pq import pq_decode_np

from conftest import make_fixture


def _clustered(n, d, seed=5, rank=8):
    rng = np.random.default_rng(seed)
    B = rng.normal(size=(rank, d))
    return (
        rng.normal(size=(n, rank)) @ B + 0.2 * rng.normal(size=(n, d))
    ).astype(np.float32)


def _vt(spark, V):
    return VectorTable(spark, V.shape[1]).add_numpy(V)


def test_quantizer_recall_and_determinism():
    rng = np.random.default_rng(3)
    C = _clustered(2048, 32, seed=3).astype(np.float64)
    X = _clustered(1500, 32, seed=4).astype(np.float64)
    q = HNSWCoarseQuantizer.train(C, M=16, seed=7)
    cells, dists = q.search_np(X, 4)
    cn = (C * C).sum(1)
    D = cn[None, :] - 2.0 * (X @ C.T)
    exact1 = D.argmin(1)
    assert (cells[:, 0] == exact1).mean() >= 0.85
    # distances are true ‖x‖²-less scores of the returned cells (f32
    # scoring — compare via ranking, and values loosely)
    np.testing.assert_allclose(
        dists[:, 0],
        np.take_along_axis(D, cells[:, :1], axis=1)[:, 0],
        rtol=1e-3, atol=1e-2,
    )
    c2, _ = q.search_np(X, 4)
    assert np.array_equal(cells, c2)
    # probe rows are (distance, id)-ordered and duplicate-free
    for row in cells[:50]:
        assert len(set(row.tolist())) == len(row)


def test_ivf_hnsw_flat_contract(spark, tmp_path):
    V = _clustered(800, 16)
    Q = _clustered(6, 16, seed=11).astype(np.float64)
    vt = _vt(spark, V)
    idx = index_factory(vt, "IVF32_HNSW8,Flat", sample_size=800, iters=4)
    assert isinstance(idx, IVFIndex) and idx.quantizer is not None

    # every stored row's cell is the quantizer's own assignment
    rows = idx.assigned.orderBy("id").collect()
    cells = np.array([r["cell"] for r in rows])
    want = idx.quantizer.assign_np(V.astype(np.float64))
    np.testing.assert_array_equal(cells, want)

    # search ≡ search_preassigned fed the quantizer's own ranking
    probe, _ = idx.quantizer.search_np(Q, 4)
    D0, L0 = idx.search_numpy(Q, 5, nprobe=4)
    D1, L1 = idx.search_preassigned_numpy(Q, 5, probe)
    np.testing.assert_array_equal(L0, L1)
    np.testing.assert_allclose(D0, D1, atol=1e-12)

    # full coverage ≡ exact flat answer over the stored rows
    D2, L2 = idx.search_numpy(Q, 5, nprobe=idx.nlist)
    Vd = V.astype(np.float64)
    Dx = ((Q[:, None, :] - Vd[None, :, :]) ** 2).sum(2)
    lab = np.broadcast_to(np.arange(len(V)), Dx.shape)
    ex = np.lexsort((lab, Dx), axis=1)[:, :5]
    np.testing.assert_array_equal(L2, ex)

    # frozen-state add assigns through the quantizer
    idx.add_numpy(V[:3] + 0.01, ids=np.arange(900, 903))
    arow = {r["id"]: r["cell"] for r in idx.assigned.where("id >= 900").collect()}
    awant = idx.quantizer.assign_np((V[:3] + 0.01).astype(np.float64))
    assert [arow[900 + i] for i in range(3)] == list(awant)

    # IO round-trip carries the quantizer; search value-identical
    write_index(idx, str(tmp_path / "ivfh"))
    idx2 = read_index(spark, str(tmp_path / "ivfh"))
    assert idx2.quantizer is not None
    np.testing.assert_array_equal(idx2.quantizer.edges, idx.quantizer.edges)
    D3, L3 = idx2.search_numpy(Q, 5, nprobe=4)
    D4, L4 = idx.search_numpy(Q, 5, nprobe=4)
    np.testing.assert_array_equal(L3, L4)
    np.testing.assert_allclose(D3, D4, atol=0)

    # clone shares the quantizer; merge refuses a different graph
    cl = clone_index(idx2)
    assert cl.quantizer is idx2.quantizer
    other = index_factory(vt, "IVF32_HNSW4,Flat", sample_size=800, iters=4)
    with pytest.raises(ValueError, match="trained state"):
        idx.merge_from(other)
    idx.release(), idx2.release(), other.release()


def test_ivfpq_hnsw_form(spark, tmp_path):
    V = _clustered(800, 16, seed=21)
    Q = _clustered(5, 16, seed=22).astype(np.float64)
    vt = _vt(spark, V)
    idx = index_factory(vt, "IVF16_HNSW8,PQ4", sample_size=800, iters=4)
    assert isinstance(idx, IVFPQIndex) and idx.quantizer is not None

    # stored cells = the quantizer's assignment; reconstruction goes
    # through the stored cell (the books trained on the same
    # assignment, so decode errors stay small on in-distribution data)
    rows = idx.codes.orderBy("id").collect()
    cells = np.array([r["cell"] for r in rows])
    np.testing.assert_array_equal(
        cells, idx.quantizer.assign_np(V.astype(np.float64))
    )
    codes = np.stack([np.frombuffer(r["code"], np.uint8) for r in rows])
    R = idx.centroids[cells] + pq_decode_np(codes, idx.codebooks)
    rel = ((V - R) ** 2).sum(1).mean() / (V ** 2).sum(1).mean()
    assert rel < 0.5  # coarse+PQ reconstruction actually approximates

    # given-the-assignment exactness: search ≡ preassigned(quantizer)
    probe, _ = idx.quantizer.search_np(Q, 4)
    D0, L0 = idx.search_numpy(Q, 5, nprobe=4)
    D1, L1 = idx.search_preassigned_numpy(Q, 5, probe)
    np.testing.assert_array_equal(L0, L1)
    np.testing.assert_allclose(D0, D1, atol=1e-12)

    # IO kind ivfpq round-trips the quantizer
    write_index(idx, str(tmp_path / "ivfpqh"))
    idx2 = read_index(spark, str(tmp_path / "ivfpqh"))
    assert idx2.quantizer is not None
    D2, L2 = idx2.search_numpy(Q, 5, nprobe=4)
    np.testing.assert_array_equal(L0, L2)
    np.testing.assert_allclose(D0, D2, atol=0)
    idx.release(), idx2.release()


def test_ivfsq_and_ivfrq_hnsw_forms(spark, tmp_path):
    """The remaining coarse-recipe family members: SQ and additive
    codes behind the graph quantizer — stored cells are the
    quantizer's assignment, search ≡ preassigned(quantizer ranking),
    IO round-trips the graph."""
    V = _clustered(600, 16, seed=31)
    Q = _clustered(4, 16, seed=32).astype(np.float64)
    vt = _vt(spark, V)

    sq = index_factory(vt, "IVF16_HNSW8,SQ8", sample_size=600, iters=4)
    assert sq.quantizer is not None
    cells = np.array([r["cell"] for r in sq.codes.orderBy("id").collect()])
    np.testing.assert_array_equal(
        cells, sq.quantizer.assign_np(V.astype(np.float64))
    )
    probe, _ = sq.quantizer.search_np(Q, 4)
    D0, L0 = sq.search_numpy(Q, 5, nprobe=4)
    D1, L1 = sq.search_preassigned_numpy(Q, 5, probe)
    np.testing.assert_array_equal(L0, L1)
    np.testing.assert_allclose(D0, D1, atol=1e-12)
    write_index(sq, str(tmp_path / "sqh"))
    sq2 = read_index(spark, str(tmp_path / "sqh"))
    assert sq2.quantizer is not None
    D2, L2 = sq2.search_numpy(Q, 5, nprobe=4)
    np.testing.assert_array_equal(L0, L2)

    from faiss_metal_spark import IVFRQIndex

    rq = index_factory(vt, "IVF16_HNSW8,RQ2x8", sample_size=600, iters=4)
    assert isinstance(rq, IVFRQIndex) and rq.quantizer is not None
    rcells = np.array([r["cell"] for r in rq.codes.orderBy("id").collect()])
    np.testing.assert_array_equal(
        rcells, rq.quantizer.assign_np(V.astype(np.float64))
    )
    Dr0, Lr0 = rq.search_numpy(Q, 5, nprobe=4)
    Dr1, Lr1 = rq.search_preassigned_numpy(Q, 5, probe_cells_to_assign(rq, Q, 4))
    np.testing.assert_array_equal(Lr0, Lr1)
    np.testing.assert_allclose(Dr0, Dr1, atol=1e-12)
    write_index(rq, str(tmp_path / "rqh"))
    rq2 = read_index(spark, str(tmp_path / "rqh"))
    assert rq2.quantizer is not None
    Dr2, Lr2 = rq2.search_numpy(Q, 5, nprobe=4)
    np.testing.assert_array_equal(Lr0, Lr2)
    sq.release(), rq.release()


def probe_cells_to_assign(idx, Q, nprobe):
    return idx.quantizer.search_np(Q, nprobe)[0]


def test_ivfpq_range_search_probes_through_graph_quantizer(spark):
    """IVFPQIndex.range_search ranks its probes with the graph coarse
    quantizer, like search does — not with the exact centroid order.
    The geometry is one where the two orders pick different cells for
    some query (asserted, so the check cannot pass vacuously); a radius
    above every probed distance must then return exactly the (qid,
    label) set of search(k=ntotal) at the same nprobe."""
    from faiss_metal_spark.compact_index import _query_df

    V = _clustered(300, 16, seed=51)
    Q = _clustered(8, 16, seed=52).astype(np.float64)
    idx = IVFPQIndex.from_table(
        _vt(spark, V), n_cells=32, m=4, nbits=4, sample_size=300, iters=4,
        coarse_hnsw_m=4, coarse_kw={"beam": 4},
    )
    nprobe = 4
    graph = idx.quantizer.search_np(Q, nprobe)[0]
    C = idx.centroids
    exact = ((C * C).sum(1)[None, :] - 2.0 * (Q @ C.T)).argsort(1, kind="stable")
    assert any(
        set(g) != set(e) for g, e in zip(graph, exact[:, :nprobe])
    ), "geometry no longer separates the graph and exact probe orders"

    D, L = idx.search_numpy(Q, idx.ntotal, nprobe=nprobe)
    want = {(i, int(lab)) for i, row in enumerate(L) for lab in row[row >= 0]}
    radius = float(D[L >= 0].max()) + 1.0
    got = idx.range_search(_query_df(spark, Q), radius, nprobe=nprobe).collect()
    assert {(r["qid"], r["label"]) for r in got} == want
    idx.release()


def test_probe_rows_unique_and_pad_sentinel(spark):
    """r12 review findings: (a) a probe row must never repeat a REAL
    cell — build_probe_map appends the query once per occurrence and
    _finalize has no label dedup, so a repeat would crowd the top-k
    with duplicate labels; the ID-keyed two-pass dedupe guarantees
    uniqueness even though the landmark GEMM and the neighbor einsum
    are different f32 reductions. (b) When the beam reaches fewer than
    nprobe distinct cells, the pad is the faiss -1 skip sentinel
    (dropped by every probe-map consumer), never a repeated cell."""
    rng = np.random.default_rng(9)
    C = _clustered(512, 16, seed=9).astype(np.float64)
    X = _clustered(800, 16, seed=10).astype(np.float64)
    q = HNSWCoarseQuantizer.train(C, M=8, seed=7)
    cells, _ = q.search_np(X, 16)
    for row in cells:
        real = row[row >= 0]
        assert len(set(real.tolist())) == len(real)

    # sparse graph: M=1 strands the walk below nprobe distinct cells
    qs = HNSWCoarseQuantizer.train(C[:40], M=1, beam=4, seed=7)
    cs, ds = qs.search_np(X[:64], 20)
    assert (cs < 0).any()  # the pad actually engaged
    for i, row in enumerate(cs):
        real = row[row >= 0]
        assert len(set(real.tolist())) == len(real)
        assert (ds[i][row < 0] == np.inf).all()

    # end-to-end: unique labels out of an IVF search under that probe
    from faiss_metal_spark.operators.similarity import build_probe_map

    pm = build_probe_map(cs)
    assert -1 not in pm and all(c >= 0 for c in pm)
    V = _clustered(300, 16, seed=12)
    vt = _vt(spark, V)
    idx = IVFIndex.from_table(vt, n_cells=24, sample_size=300, iters=3,
                              coarse_hnsw_m=1, coarse_kw={"beam": 4})
    D, L = idx.search_numpy(X[:5], 8, nprobe=20)
    for i in range(5):
        real = L[i][L[i] >= 0]
        assert len(set(real.tolist())) == len(real)
    idx.release()


def test_merge_refuses_same_edges_different_walk(spark):
    """r12 review finding: identical centroid graphs walked with
    different landmarks/beam/rounds produce different approximate
    assignments — merge_from must compare the WHOLE quantizer state,
    not just the edges."""
    V = _clustered(400, 16, seed=41)
    vt = _vt(spark, V)
    a = IVFIndex.from_table(vt, n_cells=16, sample_size=400, iters=3,
                            coarse_hnsw_m=8, coarse_kw={"seed": 1})
    b = IVFIndex.from_table(vt, n_cells=16, sample_size=400, iters=3,
                            coarse_hnsw_m=8, coarse_kw={"seed": 2})
    # same centroids, same edges — only the landmark walk differs
    np.testing.assert_array_equal(a.centroids, b.centroids)
    np.testing.assert_array_equal(a.quantizer.edges, b.quantizer.edges)
    assert not np.array_equal(a.quantizer.landmarks, b.quantizer.landmarks)
    with pytest.raises(ValueError, match="trained state"):
        a.merge_from(b, add_id=10_000)
    c = IVFIndex.from_table(vt, n_cells=16, sample_size=400, iters=3,
                            coarse_hnsw_m=8, coarse_kw={"seed": 1, "rounds": 3})
    with pytest.raises(ValueError, match="trained state"):
        a.merge_from(c, add_id=10_000)
    a.release(), b.release(), c.release()


def test_distributed_graph_build_above_threshold(spark, monkeypatch):
    """r13: above ``exact_threshold`` the centroid M-NN graph builds
    with the DISTRIBUTED nn_descent (operators/knn_graph.py) — the
    O(nlist²·d) driver BLAS loop never runs — and the quantizer holds
    the same assignment-recall pin as the exact build."""
    import faiss_metal_spark.operators.coarse as coarse_mod

    # r15: the routing gate is what's under test, not graph scale — the
    # threshold is monkey-level anyway, so a 640-centroid build
    # exercises the identical distributed nn_descent path at ~1/10th
    # the wall time (this test alone was 178 s of the suite's budget)
    C = _clustered(640, 16, seed=3).astype(np.float64)
    X = _clustered(500, 16, seed=4).astype(np.float64)

    def _no_driver_build(*a, **k):
        raise AssertionError("driver BLAS build ran above the threshold")

    monkeypatch.setattr(coarse_mod, "exact_knn_graph_np", _no_driver_build)
    q = HNSWCoarseQuantizer.train(
        C, M=12, seed=7, spark=spark, exact_threshold=256
    )
    cells, _ = q.search_np(X, 4)
    cn = (C * C).sum(1)
    D = cn[None, :] - 2.0 * (X @ C.T)
    assert (cells[:, 0] == D.argmin(1)).mean() >= 0.85
    # graph shape + no self-edges + in-range ids
    assert q.edges.shape == (640, 12)
    assert (q.edges >= 0).all() and (q.edges < 640).all()
    assert (q.edges != np.arange(640)[:, None]).all()
    # deterministic for a fixed (data, M, iters, seed)
    q2 = HNSWCoarseQuantizer.train(
        C, M=12, seed=7, spark=spark, exact_threshold=256
    )
    np.testing.assert_array_equal(q.edges, q2.edges)


def test_above_threshold_requires_spark():
    """No silent O(nlist²·d) cliff: past the threshold with no session
    the build refuses with guidance instead of running for hours."""
    C = _clustered(300, 8, seed=1).astype(np.float64)
    with pytest.raises(ValueError, match="nn_descent"):
        HNSWCoarseQuantizer.train(C, M=8, exact_threshold=100)
