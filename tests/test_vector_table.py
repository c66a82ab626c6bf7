"""VectorTable behavioral parity with the reference index
(/root/reference/tests/test_metal_flat.mm): reduced-precision e2e,
reconstruct tolerances, reset/re-add, conversion round-trips, async
tokens — plus the BF16 e2e case the reference never covers.
"""

import numpy as np
import pandas as pd
import pytest

from faiss_metal_spark import STORAGE_BF16, STORAGE_FP16, VectorTable
from faiss_metal_spark.quantize import bf16_roundtrip_np, fp16_roundtrip_np
from tests.conftest import make_fixture, numpy_oracle, queries_df


def build(spark, V, metric="l2", storage="fp32"):
    vt = VectorTable(spark, d=V.shape[1], metric=metric, storage=storage)
    return vt.add_numpy(V)


# Reference FP16 e2e configs (test_metal_flat.mm:484-486), tol 5e-2,
# top-1 exact; BF16 run at the same sizes (a gap in the reference suite).
@pytest.mark.parametrize("storage,roundtrip", [
    (STORAGE_FP16, fp16_roundtrip_np),
    (STORAGE_BF16, bf16_roundtrip_np),
])
@pytest.mark.parametrize("nv,nq,d,k", [(1000, 10, 128, 10), (500, 5, 768, 5)])
def test_reduced_precision_e2e(spark, storage, roundtrip, nv, nq, d, k):
    V, Q = make_fixture(nv, nq, d)
    vt = build(spark, V, storage=storage)
    D, L = vt.search_numpy(Q, k)
    # oracle on the QUANTIZED store (what the index actually holds) —
    # top-1 must match it exactly
    oD, oL = numpy_oracle(roundtrip(V), Q, k, "l2")
    assert (L[:, 0] == oL[:, 0]).all()
    # and distances stay within the reference's 5e-2 of the FP32 truth
    fD, _ = numpy_oracle(V, Q, k, "l2")
    scale = np.maximum(np.abs(fD), 1e-9)
    assert (np.abs(D - fD) / scale < 5e-2).all()


def test_norms_precede_quantization(spark):
    """norm_sq must come from the FP32 input, not the quantized store
    (MetalIndexFlat.mm:258-268)."""
    V, _ = make_fixture(200, 1, 64)
    vt = build(spark, V, storage=STORAGE_FP16)
    pdf = vt.df.orderBy("id").toPandas()
    want = (V.astype(np.float64) ** 2).sum(1)
    got = pdf["norm_sq"].to_numpy()
    np.testing.assert_allclose(got, want, rtol=1e-6)
    # while the stored vectors ARE quantized
    stored = np.stack(pdf["vec"].to_numpy())
    np.testing.assert_array_equal(stored, fp16_roundtrip_np(V))


def test_reconstruct_exact_fp32_tol_fp16(spark):
    """FP32 reconstruct exact; FP16 ≤ 2e-3/elem (test_metal_flat.mm:258-265)."""
    V, _ = make_fixture(50, 1, 32)
    exact = build(spark, V).reconstruct(17)
    np.testing.assert_array_equal(exact, V[17])
    approx = build(spark, V, storage=STORAGE_FP16).reconstruct(17)
    assert np.abs(approx - V[17]).max() < 2e-3
    with pytest.raises(KeyError):
        build(spark, V).reconstruct(99)


def test_pandas_roundtrip(spark):
    """≙ cpu→metal→cpu: labels exact, vectors bit-equal (test_metal_flat.mm:132-170)."""
    V, Q = make_fixture(300, 5, 16)
    vt = VectorTable.from_pandas(spark, pd.DataFrame({"vec": list(V)}), d=16)
    back = vt.to_pandas()
    np.testing.assert_array_equal(np.stack(back["vec"].to_numpy()), V)
    assert back["id"].tolist() == list(range(300))
    D, L = vt.search_numpy(Q, 5)
    _, oL = numpy_oracle(V, Q, 5)
    assert (L[:, 0] == oL[:, 0]).all()


def test_reset_and_readd(spark):
    """reset drops everything; re-added data searches fresh
    (test_metal_flat.mm:270-307)."""
    V1, Q = make_fixture(100, 3, 24, seed=1)
    V2, _ = make_fixture(80, 1, 24, seed=2)
    vt = build(spark, V1)
    assert vt.ntotal == 100
    vt.reset()
    assert vt.ntotal == 0
    vt.add_numpy(V2)
    assert vt.ntotal == 80
    D, L = vt.search_numpy(Q, 3)
    _, oL = numpy_oracle(V2, Q, 3)
    assert (L[:, 0] == oL[:, 0]).all()
    assert (L < 80).all()


def test_incremental_add_ids(spark):
    """Two adds concatenate with contiguous insertion-order ids
    (amortized-growth semantics without the buffers)."""
    V1, _ = make_fixture(30, 1, 8, seed=3)
    V2, Q = make_fixture(20, 2, 8, seed=4)
    vt = build(spark, V1).add_numpy(V2)
    assert vt.ntotal == 50
    pdf = vt.to_pandas()
    np.testing.assert_array_equal(
        np.stack(pdf["vec"].to_numpy()), np.vstack([V1, V2])
    )
    D, L = vt.search_numpy(Q, 4)
    _, oL = numpy_oracle(np.vstack([V1, V2]), Q, 4)
    assert (L[:, 0] == oL[:, 0]).all()


def test_add_df_no_global_window(spark):
    """Ingest id-assignment must stay parallel: the plan may hash-shuffle
    on the partition id but must never collapse the batch into a single
    task (Exchange SinglePartition) — the 100 TB ingest discipline."""
    V, _ = make_fixture(300, 1, 16)
    vt = build(spark, V)
    plan = vt.df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    # ids are still dense insertion-order 0..n-1
    ids = vt.df.select("id").toPandas()["id"].sort_values().to_numpy()
    np.testing.assert_array_equal(ids, np.arange(300))


def test_add_empty_and_bad_shape(spark):
    V, _ = make_fixture(10, 1, 8)
    vt = build(spark, V)
    vt.add_numpy(np.zeros((0, 8), np.float32))  # no-op, no error
    assert vt.ntotal == 10
    with pytest.raises(ValueError):
        vt.add_numpy(np.zeros((3, 9), np.float32))


def test_async_tokens_equal_sync(spark):
    """Three concurrently in-flight tokens; results equal sync bit-exactly
    and waits are order-independent (test_metal_flat.mm:309-401). The
    tokens really run in the background: each is observed not-ready at
    submission (polled before the action can finish) and ready after
    wait() — the reference's commandBuffer status-poll semantics
    (MetalIndexFlat.mm:74-78)."""
    V, Q = make_fixture(400, 6, 32)
    vt = build(spark, V).persist()
    sync = vt.search(queries_df(spark, Q), 5).orderBy("qid", "rank").toPandas()
    toks = []
    seen_not_ready = 0
    for _ in range(3):
        t = vt.search_async(queries_df(spark, Q), 5)
        seen_not_ready += int(not t.is_ready())  # polled in flight
        toks.append(t)
    # a Spark action takes well over the sub-ms gap to this poll; if all
    # three finished before their first poll, is_ready isn't polling
    assert seen_not_ready >= 1
    for t in reversed(toks):
        got = t.wait().sort_values(["qid", "rank"], ignore_index=True)
        pd.testing.assert_frame_equal(
            got, sync.sort_values(["qid", "rank"], ignore_index=True)
        )
    assert all(t.is_ready() for t in toks)
    vt.unpersist()


def test_bad_metric_and_storage(spark):
    with pytest.raises(ValueError):
        VectorTable(spark, d=4, storage="int8")
    V, Q = make_fixture(10, 1, 4)
    from faiss_metal_spark.operators.knn import knn_search
    from tests.conftest import vectors_df

    with pytest.raises(ValueError):
        knn_search(vectors_df(spark, V), queries_df(spark, Q), 2, metric="manhattan")


def test_introspection(spark):
    V, _ = make_fixture(5, 1, 4)
    assert build(spark, V, storage=STORAGE_FP16).is_float16_storage()
    assert build(spark, V, storage=STORAGE_BF16).is_bfloat16_storage()
    assert build(spark, V).get_storage_type() == "fp32"


def test_compact_reset_and_readd(spark):
    """reset() must keep the compact BINARY schema so a re-add unions
    cleanly (regression: reset used to recreate ARRAY<FLOAT>)."""
    V, Q = make_fixture(50, 2, 16)
    c = VectorTable(spark, d=16, storage=STORAGE_FP16, compact=True).add_numpy(V)
    c.reset()
    assert c.ntotal == 0
    c.add_numpy(V)
    assert c.ntotal == 50
    D, L = c.search_numpy(Q, 3)
    a = VectorTable(spark, d=16, storage=STORAGE_FP16).add_numpy(V)
    Da, La = a.search_numpy(Q, 3)
    np.testing.assert_array_equal(L, La)
    np.testing.assert_array_equal(D, Da)


@pytest.mark.parametrize("storage", [STORAGE_FP16, STORAGE_BF16])
def test_compact_layout_equals_array_layout(spark, storage):
    """BINARY 2-byte storage must produce bit-identical search results
    and reconstructions to the ARRAY round-trip layout — same numerics,
    half the bytes."""
    V, Q = make_fixture(400, 6, 64)
    a = build(spark, V, storage=storage)
    c = VectorTable(spark, d=64, storage=storage, compact=True).add_numpy(V)
    Da, La = a.search_numpy(Q, 7)
    Dc, Lc = c.search_numpy(Q, 7)
    np.testing.assert_array_equal(La, Lc)
    np.testing.assert_array_equal(Da, Dc)
    np.testing.assert_array_equal(a.reconstruct(11), c.reconstruct(11))
    # norms still from the FP32 input in both layouts
    na = a.df.orderBy("id").select("norm_sq").toPandas()["norm_sq"].to_numpy()
    nc = c.df.orderBy("id").select("norm_sq").toPandas()["norm_sq"].to_numpy()
    np.testing.assert_array_equal(na, nc)


def test_compact_to_pandas_and_bytes(spark):
    V, _ = make_fixture(100, 1, 32)
    c = VectorTable(spark, d=32, storage=STORAGE_FP16, compact=True).add_numpy(V)
    pdf = c.to_pandas()
    np.testing.assert_array_equal(
        np.stack(pdf["vec"].to_numpy()), fp16_roundtrip_np(V)
    )
    # the stored payload really is 2 bytes/element
    raw = c.df.select("vec").first()[0]
    assert len(bytes(raw)) == 32 * 2


def test_compact_requires_reduced_precision(spark):
    with pytest.raises(ValueError):
        VectorTable(spark, d=8, compact=True)  # fp32 compact is pointless
    V, Q = make_fixture(10, 1, 8)
    c = VectorTable(spark, d=8, storage=STORAGE_FP16, compact=True).add_numpy(V)
    with pytest.raises(ValueError):
        c.search(queries_df(spark, Q), 2, method="sql")


def test_search_params_override(spark):
    """SearchParams (≙ faiss::SearchParameters, which the reference
    accepts and ignores) — honored here: per-call metric/method override
    without touching the table's configuration."""
    import numpy as np

    from faiss_metal_spark import SearchParams, VectorTable

    rng = np.random.default_rng(7)
    X = rng.normal(size=(50, 8)).astype(np.float32)
    vt = VectorTable(spark, d=8, metric="l2").add_numpy(X)
    ip_table = VectorTable(spark, d=8, metric="ip").add_numpy(X)

    q = X[:3]
    D_ov, L_ov = vt.search_numpy(q, k=5, params=SearchParams(metric="ip"))
    D_ip, L_ip = ip_table.search_numpy(q, k=5)
    assert (L_ov == L_ip).all() and np.allclose(D_ov, D_ip)
    # table config untouched; None params inherit
    D_l2, _ = vt.search_numpy(q, k=5, params=SearchParams())
    D_plain, _ = vt.search_numpy(q, k=5)
    assert vt.metric == "l2" and np.allclose(D_l2, D_plain)


def test_search_numpy_threads_compute(spark):
    """search_numpy forwards compute= like search: f64 self-distance is
    summation-order exact (≤1e-12), f32 default carries accumulator
    rounding, and labels agree."""
    import numpy as np

    from faiss_metal_spark import VectorTable

    rng = np.random.default_rng(12)
    X = rng.normal(size=(80, 16)).astype(np.float32)
    vt = VectorTable(spark, d=16, metric="l2").add_numpy(X)
    q = X[:4]
    D32, L32 = vt.search_numpy(q, k=3)
    D64, L64 = vt.search_numpy(q, k=3, compute="f64")
    assert (L32 == L64).all()
    assert (L64[:, 0] == np.arange(4)).all()
    assert (np.abs(D64[:, 0]) <= 1e-12).all()
    assert np.allclose(D32, D64, atol=1e-4)


def test_vector_table_range_search_matches_operator(spark):
    """VectorTable.range_search honors storage format and matches the
    operator on an fp16-compact table (quantized values, f32-decoded
    operands), with self at distance 0 inside any positive radius."""
    import numpy as np

    from faiss_metal_spark import VectorTable

    rng = np.random.default_rng(9)
    V = rng.normal(size=(200, 24)).astype(np.float32)
    vt = VectorTable(spark, d=24, storage="fp16", compact=True).add_numpy(V)
    qdf = spark.createDataFrame(
        [(int(i), V[i].tolist()) for i in range(4)],
        schema="qid long, vec array<float>",
    )
    got = vt.range_search(qdf, radius=5.0).toPandas()
    # every query finds itself (fp16 round-trip keeps self-distance ~0 < 5)
    selfs = got[got["qid"] == got["label"]]
    assert len(selfs) == 4 and (selfs["distance"] < 1e-2).all()
    # agrees with exact top-k over the same table: any top-k hit with
    # distance < radius must appear in the range result
    top = vt.search(qdf, k=10).toPandas()
    pairs = {(int(r.qid), int(r.label)) for r in got.itertuples()}
    for r in top.itertuples():
        if r.label >= 0 and r.distance < 5.0:
            assert (int(r.qid), int(r.label)) in pairs


def test_range_search_distance_equals_search_distance(spark):
    """On a quantized table search and range_search score with the same
    stored fp32 norms: every (qid, label) of search(k=5) comes back from
    a range_search whose radius passes the k-th distance, with a
    bitwise-equal distance — fp16 and bf16, compact or not, l2 and
    cosine."""
    from faiss_metal_spark import SearchParams

    V, Q = make_fixture(300, 4, 16, seed=21)
    qdf = queries_df(spark, Q)
    for storage in (STORAGE_FP16, STORAGE_BF16):
        for compact in (False, True):
            vt = VectorTable(spark, d=16, storage=storage, compact=compact)
            vt.add_numpy(V)
            for metric in ("l2", "cosine"):
                params = SearchParams(metric=metric)
                D, L = vt.search_numpy(Q, 5, params=params)
                radius = D.max() + 1.0 if metric == "l2" else D.min() - 0.5
                got = vt.range_search(qdf, float(radius), params=params).toPandas()
                dist = {
                    (int(r.qid), int(r.label)): r.distance
                    for r in got.itertuples()
                }
                for (qi, j), label in np.ndenumerate(L):
                    # search_numpy returns the f32 distances as float32
                    assert np.float32(dist[(qi, int(label))]) == D[qi, j], (
                        storage, compact, metric, qi, int(label),
                    )


def test_remove_ids_compacts_like_faiss(spark):
    """remove_ids shifts surviving ids down (IndexFlat compaction):
    after removing {1, 3} from 6 vectors, old vector 2 is id 1, old 4
    is id 2, old 5 is id 3; n_removed counts only existing ids; the
    plan stays a windowless projection."""
    import numpy as np

    from faiss_metal_spark import VectorTable

    V = np.arange(24, dtype=np.float32).reshape(6, 4)
    vt = VectorTable(spark, d=4).add_numpy(V)
    n = vt.remove_ids([1, 3, 99])
    assert n == 2
    assert vt.ntotal == 4
    expect = {0: V[0], 1: V[2], 2: V[4], 3: V[5]}
    for new_id, vec in expect.items():
        np.testing.assert_array_equal(vt.reconstruct(new_id), vec)
    # subsequent adds continue from the compacted count
    vt.add_numpy(V[:1])
    np.testing.assert_array_equal(vt.reconstruct(4), V[0])
    assert vt.remove_ids([]) == 0


def test_remove_ids_ignores_absent_low_ids(spark):
    """FAISS IDSelectorBatch ignores ids not present in the index: a
    negative id or an absent id BELOW surviving ids must contribute
    nothing to the compaction shift (regression: the shift was built
    from the raw batch, so remove_ids([-1]) decremented every id)."""
    import numpy as np

    from faiss_metal_spark import VectorTable

    V = np.arange(20, dtype=np.float32).reshape(5, 4)
    vt = VectorTable(spark, d=4).add_numpy(V)
    assert vt.remove_ids([-1]) == 0  # pure no-op
    assert vt.ntotal == 5
    for i in range(5):
        np.testing.assert_array_equal(vt.reconstruct(i), V[i])
    # absent low ids (-7, and 1 after it is already gone) mixed with a
    # present one: only the present id shifts survivors
    assert vt.remove_ids([1]) == 1
    assert vt.remove_ids([-7, 1]) == 1  # "1" is now old vector 2
    assert vt.ntotal == 3
    expect = {0: V[0], 1: V[3], 2: V[4]}
    for new_id, vec in expect.items():
        np.testing.assert_array_equal(vt.reconstruct(new_id), vec)


def test_merge_from_moves_and_resets(spark):
    """merge_from appends the other table's vectors with sequential ids
    and empties it; mismatched configuration raises."""
    import numpy as np
    import pytest as _pytest

    from faiss_metal_spark import VectorTable

    A = np.random.default_rng(1).normal(size=(5, 8)).astype(np.float32)
    B = np.random.default_rng(2).normal(size=(3, 8)).astype(np.float32)
    ta = VectorTable(spark, d=8).add_numpy(A)
    tb = VectorTable(spark, d=8).add_numpy(B)
    ta.merge_from(tb)
    assert ta.ntotal == 8 and tb.ntotal == 0
    np.testing.assert_array_equal(ta.reconstruct(5), B[0])
    np.testing.assert_array_equal(ta.reconstruct(7), B[2])
    # search still self-consistent across the merge boundary
    D, L = ta.search_numpy(np.vstack([A[0], B[1]]), k=1)
    assert L[0, 0] == 0 and L[1, 0] == 6

    tc = VectorTable(spark, d=8, storage="fp16")
    with _pytest.raises(ValueError, match="identical table configuration"):
        ta.merge_from(tc)


def test_add_with_ids_refuses_like_faiss(spark):
    """Flat indexes define ids as insertion order; add_with_ids must
    refuse exactly like faiss::IndexFlat."""
    from faiss_metal_spark import VectorTable

    vt = VectorTable(spark, d=4)
    with pytest.raises(NotImplementedError, match="add_with_ids"):
        vt.add_with_ids(np.zeros((2, 4), np.float32), [7, 9])


def test_sq8_index_from_table(spark):
    """SQ8Index derives from a VectorTable: self-query top-1 is self
    within the quantization bound, reconstruct within half a step, and
    missing ids raise."""
    import numpy as np

    from faiss_metal_spark import SQ8Index, VectorTable

    rng = np.random.default_rng(12)
    V = rng.uniform(-2, 2, (150, 12)).astype(np.float32)
    vt = VectorTable(spark, d=12).add_numpy(V)
    idx = SQ8Index.from_table(vt)
    assert idx.ntotal == 150
    D, L = idx.search_numpy(V[:4], k=3)
    assert (L[:, 0] == np.arange(4)).all()
    step = (idx.vmax - idx.vmin) / 255.0
    assert (D[:, 0] <= (step / 2) ** 2 @ np.ones(12) + 1e-9).all()
    r = idx.reconstruct(7)
    assert (np.abs(r - V[7].astype(np.float64)) <= step / 2 + 1e-12).all()
    with pytest.raises(KeyError):
        idx.reconstruct(10_000)
    idx.release()


def test_binary_index_from_table_and_refine(spark):
    """BinaryIndex from a VectorTable: Hamming self-distance 0, packed
    store sizes right, refine returns exact-L2-rescored top-k."""
    import numpy as np

    from faiss_metal_spark import BinaryIndex, VectorTable

    rng = np.random.default_rng(3)
    V = rng.uniform(-1, 1, (120, 40)).astype(np.float32)  # 40: tail word
    vt = VectorTable(spark, d=40).add_numpy(V)
    idx = BinaryIndex.from_table(vt)
    assert idx.ntotal == 120
    D, L = idx.search_numpy(V[:3], k=5)
    assert (L[:, 0] == np.arange(3)).all() and (D[:, 0] == 0).all()
    Dr, Lr = idx.refine_search_numpy(V[:3], k=2, refine_factor=5)
    assert (Lr[:, 0] == np.arange(3)).all()
    assert np.allclose(Dr[:, 0], 0.0)
    idx.release()


def test_compact_table_feeds_derived_indexes(spark):
    """Derived indexes decode a compact (BINARY fp16) source table
    transparently — the float view is the dequantized storage."""
    import numpy as np

    from faiss_metal_spark import BinaryIndex, SQ8Index, VectorTable

    rng = np.random.default_rng(9)
    V = rng.uniform(-1, 1, (80, 16)).astype(np.float32)
    vt = VectorTable(spark, d=16, storage="fp16", compact=True).add_numpy(V)
    b = BinaryIndex.from_table(vt)
    _, L = b.search_numpy(V[:2], k=1)
    assert (L[:, 0] == np.arange(2)).all()
    s = SQ8Index.from_table(vt)
    _, L2 = s.search_numpy(V[:2], k=1)
    assert (L2[:, 0] == np.arange(2)).all()
    b.release(); s.release()


def test_reconstruct_n_batch_assign(spark):
    """reconstruct_n / reconstruct_batch / assign — the faiss
    convenience surface over reconstruct + search."""
    import numpy as np

    from conftest import make_fixture
    from faiss_metal_spark import VectorTable

    V, Q = make_fixture(60, 4, 8, seed=23)
    vt = VectorTable(spark, 8).add_numpy(V)
    np.testing.assert_allclose(vt.reconstruct_n(10, 5), V[10:15], rtol=1e-6)
    ids = [7, 3, 3, 59]
    np.testing.assert_allclose(vt.reconstruct_batch(ids), V[ids], rtol=1e-6)
    assert vt.reconstruct_batch([]).shape == (0, 8)
    import pytest as _pt

    with _pt.raises(KeyError):
        vt.reconstruct_batch([3, 60])
    with _pt.raises(KeyError):
        vt.reconstruct_n(58, 5)
    # assign = labels of search, exact top-1 is self on stored rows
    lab = vt.assign(V[:5], k=1)
    np.testing.assert_array_equal(lab[:, 0], np.arange(5))
    D, L = vt.search_numpy(Q, 3)
    np.testing.assert_array_equal(vt.assign(Q, 3), L)

    # compact storage decodes through the same path
    vt16 = VectorTable(spark, 8, storage="fp16", compact=True).add_numpy(V)
    np.testing.assert_allclose(vt16.reconstruct_n(0, 4), V[:4], atol=2e-3)


# ---------------------------------------------------------------------------
# IDMapVectorTable — faiss::IndexIDMap parity
# ---------------------------------------------------------------------------


def test_idmap_add_with_ids_and_search(spark):
    """External ids come back from search directly (no dense ids
    anywhere); plain add refuses like faiss IndexIDMap::add."""
    import pytest as _pytest

    from faiss_metal_spark import IDMapVectorTable

    V, Q = make_fixture(80, 3, 16)
    ext = (np.arange(80, dtype=np.int64) * 1000) + 7  # sparse, non-dense
    idx = IDMapVectorTable(spark, d=16)
    idx.add_with_ids(V, ext)
    assert idx.ntotal == 80

    with _pytest.raises(NotImplementedError, match="add_with_ids"):
        idx.add_numpy(V)
    with _pytest.raises(ValueError):
        idx.add_with_ids(V, ext[:-1])  # length mismatch

    D, L = idx.search_numpy(Q, k=5)
    oD, oL = numpy_oracle(V, Q, 5, "l2")
    np.testing.assert_array_equal(L, ext[oL])  # labels ARE external ids
    assert (np.abs(D - oD) / np.maximum(np.abs(oD), 1e-9) < 1e-3).all()

    # reconstruct by external id
    np.testing.assert_allclose(idx.reconstruct(int(ext[13])), V[13], rtol=1e-6)


def test_idmap_remove_keeps_ids_and_roundtrips(spark, tmp_path):
    """remove_ids drops rows WITHOUT renumbering survivors (ids are
    keys, not positions); write_index/read_index preserves the IDMap
    class and searches identically."""
    from faiss_metal_spark import IDMapVectorTable, read_index, write_index

    V, Q = make_fixture(40, 2, 8)
    ext = np.arange(40, dtype=np.int64) + 500
    idx = IDMapVectorTable(spark, d=8)
    idx.add_with_ids(V, ext)

    n = idx.remove_ids([500, 501, 99999])  # absent id is a no-op
    assert n == 2
    assert idx.ntotal == 38
    remaining = sorted(r[0] for r in idx.df.select("id").collect())
    assert remaining == list(range(502, 540))  # survivors unshifted

    p = str(tmp_path / "idmap_idx")
    write_index(idx, p)
    reload = read_index(spark, p)
    assert isinstance(reload, IDMapVectorTable)
    D0, L0 = idx.search_numpy(Q, 4)
    D1, L1 = reload.search_numpy(Q, 4)
    np.testing.assert_array_equal(L0, L1)
    # reload changes parquet partitioning → different sgemm blocking →
    # last-ulp fp32 drift; values identical at fp32 tolerance
    np.testing.assert_allclose(D0, D1, rtol=1e-6)
    # reloaded wrapper still refuses plain add
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        reload.add_numpy(V)


def test_idmap_merge_keeps_external_ids(spark):
    from faiss_metal_spark import IDMapVectorTable

    V, _ = make_fixture(20, 1, 8)
    a = IDMapVectorTable(spark, d=8)
    a.add_with_ids(V[:10], np.arange(10, dtype=np.int64) + 100)
    b = IDMapVectorTable(spark, d=8)
    b.add_with_ids(V[10:], np.arange(10, dtype=np.int64) + 9000)
    a.merge_from(b)
    ids = sorted(r[0] for r in a.df.select("id").collect())
    assert ids == list(range(100, 110)) + list(range(9000, 9010))
    assert b.ntotal == 0


# ---------------------------------------------------------------------------
# standalone codec (sa_encode / sa_decode) + search_and_reconstruct
# ---------------------------------------------------------------------------


def test_sa_codec_vector_table(spark):
    """faiss standalone-codec parity: fp32 encodes raw float bytes
    (lossless); fp16 codes equal the compact store's bytes and decode
    to the quantized values."""
    from faiss_metal_spark import VectorTable

    V, _ = make_fixture(20, 1, 16)
    vt = VectorTable(spark, d=16)
    assert vt.sa_code_size == 64
    codes = vt.sa_encode(V)
    assert all(len(c) == 64 for c in codes)
    np.testing.assert_array_equal(vt.sa_decode(codes), V)

    vt16 = VectorTable(spark, d=16, storage="fp16", compact=True).add_numpy(V)
    assert vt16.sa_code_size == 32
    codes16 = vt16.sa_encode(V)
    # codes equal the compact store's bytes row-for-row
    stored = vt16.df.orderBy("id").toPandas()["vec"]
    for got, want in zip(codes16, stored):
        assert bytes(got) == bytes(want)
    np.testing.assert_array_equal(vt16.sa_decode(codes16), fp16_roundtrip_np(V))


def test_sa_codec_sq8_and_pq(spark):
    """SQ8/PQ standalone codecs match the stored code tables exactly
    and decode with the index's own reconstruction arithmetic."""
    from faiss_metal_spark import PQIndex, SQ8Index, VectorTable

    rng = np.random.default_rng(17)
    V = rng.normal(size=(300, 16)).astype(np.float32)
    vt = VectorTable(spark, d=16).add_numpy(V)

    sq = SQ8Index.from_table(vt)
    assert sq.sa_code_size == 16
    codes = sq.sa_encode(V)
    stored = sq.codes.orderBy("id").toPandas()["code"]
    for got, want in zip(codes, stored):
        assert list(np.frombuffer(got, np.uint8)) == list(want)
    rec = sq.sa_decode(codes)
    assert rec.shape == (300, 16)
    assert np.abs(rec - V).max() <= ((sq.vmax - sq.vmin).max() / 255.0) * 0.51

    pq = PQIndex.from_table(vt, m=4, iters=3, sample_size=300)
    assert pq.sa_code_size == 4
    pcodes = pq.sa_encode(V)
    pstored = pq.codes.orderBy("id").toPandas()["code"]
    for got, want in zip(pcodes, pstored):
        assert bytes(got) == bytes(want)
    # decode returns each vector's codeword concatenation
    dec = pq.sa_decode(pcodes)
    assert dec.shape == (300, 16)
    sq.release(); pq.release()


def test_search_and_reconstruct(spark):
    """Hits carry the stored vector (dequantized floats); sentinel rows
    carry NULL vec; the corpus side is never shuffled (no exchange on
    the vector-table branch beyond the search's own plan)."""
    from faiss_metal_spark import VectorTable

    V, Q = make_fixture(30, 2, 8)
    vt = VectorTable(spark, d=8).add_numpy(V)
    res = (
        vt.search_and_reconstruct(queries_df(spark, Q), k=40)
        .orderBy("qid", "rank")
        .toPandas()
    )
    assert len(res) == 2 * 40
    real = res[res["label"] >= 0]
    assert len(real) == 2 * 30
    for r in real.itertuples():
        np.testing.assert_allclose(
            np.asarray(r.vec, np.float32), V[r.label], rtol=1e-6
        )
    sent = res[res["label"] < 0]
    assert sent["vec"].isna().all()
    assert np.isinf(sent["distance"]).all()

    # compact table: vec comes back dequantized (fp16 values)
    vt16 = VectorTable(spark, d=8, storage="fp16", compact=True).add_numpy(V)
    r16 = (
        vt16.search_and_reconstruct(queries_df(spark, Q), k=3)
        .orderBy("qid", "rank")
        .toPandas()
    )
    for r in r16.itertuples():
        np.testing.assert_array_equal(
            np.asarray(r.vec, np.float32), fp16_roundtrip_np(V)[r.label]
        )


def test_idmap_guards(spark):
    """Cross-type merge refuses (dense positions vs external keys);
    id -1 refuses (reserved sentinel label)."""
    import pytest as _pytest

    from faiss_metal_spark import IDMapVectorTable, VectorTable

    V, _ = make_fixture(10, 1, 8)
    plain = VectorTable(spark, d=8).add_numpy(V)
    idmap = IDMapVectorTable(spark, d=8)
    idmap.add_with_ids(V, np.arange(10, dtype=np.int64))
    with _pytest.raises(ValueError, match="same index type"):
        idmap.merge_from(plain)
    with _pytest.raises(ValueError, match="same index type"):
        plain.merge_from(idmap)
    with _pytest.raises(ValueError, match="reserved"):
        idmap.add_with_ids(V[:2], np.array([-1, 5]))
    # negative ids other than -1 are legal keys and reconstruct real vecs
    neg = IDMapVectorTable(spark, d=8)
    neg.add_with_ids(V, -(np.arange(10, dtype=np.int64) + 2))
    res = neg.search_and_reconstruct(queries_df(spark, V[:1]), k=2).toPandas()
    assert (res["label"] < -1).all()
    assert res["vec"].notna().all()


def test_idmap_from_parquet_and_compact(spark, tmp_path):
    """IDMapVectorTable composes with the other table features: the
    parquet source connector with an explicit id column keeps external
    ids; compact fp16 storage searches/round-trips; chunked_queries
    splits a batch identically to the single shot."""
    import pandas as pd

    from faiss_metal_spark import IDMapVectorTable, read_index, write_index
    from faiss_metal_spark.operators.chunked import chunked_queries

    V, Q = make_fixture(60, 6, 16)
    ext = np.arange(60, dtype=np.int64) * 3 + 7
    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        pd.DataFrame({"ext_id": ext, "vec": [v.tolist() for v in V]})
    ).write.parquet(src)

    # parquet source with explicit ids (classmethod inherited from the
    # flat table — the id_col path never calls the refused add_df)
    idx = IDMapVectorTable.from_parquet(
        spark, src, d=16, id_col="ext_id", vec_col="vec"
    )
    assert idx.ntotal == 60
    D, L = idx.search_numpy(Q, k=4)
    oD, oL = numpy_oracle(V, Q, 4, "l2")
    np.testing.assert_array_equal(L, ext[oL])

    # compact fp16 IDMap: quantized search + persistence round-trip
    c = IDMapVectorTable(spark, d=16, storage="fp16", compact=True)
    c.add_with_ids(V, ext)
    Dc, Lc = c.search_numpy(Q, k=4)
    _, oLc = numpy_oracle(fp16_roundtrip_np(V), Q, 4, "l2")
    np.testing.assert_array_equal(Lc[:, 0], ext[oLc][:, 0])
    p = str(tmp_path / "cidx")
    write_index(c, p)
    r = read_index(spark, p)
    assert type(r).__name__ == "IDMapVectorTable" and r.compact
    np.testing.assert_array_equal(r.search_numpy(Q, 4)[1], Lc)

    # chunked queries equal the single shot on external ids
    qdf = queries_df(spark, Q)
    single = idx.search(qdf, 4).toPandas().sort_values(["qid", "rank"])
    chunked = (
        chunked_queries(qdf, 2, lambda part: idx.search(part, 4))
        .toPandas()
        .sort_values(["qid", "rank"])
    )
    assert (
        single[["qid", "rank", "label"]].values
        == chunked[["qid", "rank", "label"]].values
    ).all()


def test_search_params_id_selector(spark):
    """SearchParams.sel ≙ faiss IDSelector: a (lo, hi) tuple restricts
    like IDSelectorRange (hi exclusive), an iterable like
    IDSelectorBatch — results equal a search over the subsetted corpus,
    excluded ids never appear, sentinels fill short results."""
    import numpy as np

    from faiss_metal_spark import SearchParams, VectorTable

    rng = np.random.default_rng(3)
    X = rng.normal(size=(60, 8)).astype(np.float32)
    vt = VectorTable(spark, d=8, metric="l2").add_numpy(X)
    q = X[:3]

    # range selector ≡ search over the subset table
    sub = VectorTable(spark, d=8, metric="l2").add_numpy(X[10:40])
    D_r, L_r = vt.search_numpy(q, k=5, params=SearchParams(sel=(10, 40)))
    D_s, L_s = sub.search_numpy(q, k=5)
    assert np.array_equal(L_r - 10, L_s) and np.allclose(D_r, D_s)
    assert ((L_r >= 10) & (L_r < 40)).all()

    # batch selector: only listed ids may surface; k > |sel| pads
    ids = [4, 7, 19, 57]
    D_b, L_b = vt.search_numpy(q, k=6, params=SearchParams(sel=ids))
    assert set(L_b.ravel()) <= set(ids) | {-1}
    assert (L_b[:, 4:] == -1).all() and np.isinf(D_b[:, 4:]).all()
    assert (L_b[:, :4] != -1).all()

    # range_search honors the selector too
    res = vt.range_search(
        spark.createDataFrame(
            [(0, q[0].tolist())], "qid long, vec array<float>"
        ),
        radius=1e9,
        params=SearchParams(sel=(0, 5)),
    ).toPandas()
    assert set(res.label) == {0, 1, 2, 3, 4}


def test_remove_ids_range_selector(spark):
    """IDSelectorRange / remove_range = faiss IDSelectorRange (hi
    exclusive): the flat table compacts with a closed-form shift (no
    id list anywhere), the IDMap table just filters; both return the
    removed count. A plain 2-element TUPLE is a literal id batch —
    never silently reinterpreted as a range (that would mass-delete
    [lo, hi) when the caller meant two ids)."""
    import numpy as np
    from faiss_metal_spark import IDMapVectorTable, IDSelectorRange, VectorTable
    from conftest import make_fixture

    V, _ = make_fixture(50, 1, 8, seed=909)
    vt = VectorTable(spark, 8).add_numpy(V)
    assert vt.remove_ids(IDSelectorRange(10, 20)) == 10
    assert vt.ntotal == 40
    # survivors below the range keep their ids; above shift down by 10
    r9 = vt.reconstruct(9)
    r10 = vt.reconstruct(10)   # was id 20
    assert np.allclose(r9, V[9], atol=2e-3)
    assert np.allclose(r10, V[20], atol=2e-3)
    assert vt.remove_range(1000, 2000) == 0

    # a bare 2-tuple is REFUSED (it still means a range in
    # SearchParams.sel — the same literal must not silently mean a
    # 2-id batch here); an explicit list removes exactly those ids
    with pytest.raises(TypeError, match="2-tuple is ambiguous"):
        vt.remove_ids((2, 30))
    assert vt.remove_ids([2, 30]) == 2
    assert vt.ntotal == 38

    im = IDMapVectorTable(spark, 8)
    im.add_with_ids(V[:10], np.arange(100, 110))
    assert im.remove_range(103, 106) == 3
    assert im.ntotal == 7
    # no renumbering: id 106 still holds V[6]
    assert np.allclose(im.reconstruct(106), V[6], atol=2e-3)
    # the 2-tuple refusal applies on the IDMap side too
    with pytest.raises(TypeError, match="2-tuple is ambiguous"):
        im.remove_ids((100, 108))
    assert im.remove_ids([100, 108]) == 2
    assert im.ntotal == 5


def test_idmap2_reconstruct_and_io(spark, tmp_path):
    """faiss IndexIDMap2: the reconstruct-capable IDMap — here the id
    column IS the reverse map, so reconstruct keys on external ids;
    write_index round-trips the declared kind."""
    import numpy as np
    from faiss_metal_spark import IDMap2VectorTable
    from faiss_metal_spark.sources.index_io import read_index, write_index
    from conftest import make_fixture

    V, Q = make_fixture(30, 2, 8, seed=910)
    im = IDMap2VectorTable(spark, 8)
    ids = np.arange(30) * 7 + 1_000
    im.add_with_ids(V, ids)
    assert np.allclose(im.reconstruct(int(ids[13])), V[13], atol=2e-3)
    _, L = im.search_numpy(Q, 1)
    assert set(L[:, 0]) <= set(ids.tolist())
    path = str(tmp_path / "idmap2")
    write_index(im, path)
    back = read_index(spark, path)
    assert isinstance(back, IDMap2VectorTable)
    assert np.allclose(back.reconstruct(int(ids[13])), V[13], atol=2e-3)


def test_id_selector_combinators(spark):
    """faiss IDSelectorNot/And/Or/XOr algebra: compositions apply as
    Catalyst predicates in SearchParams.sel and in remove_ids (IDMap =
    pure filter; flat table resolves matches to a bounded batch and
    re-shifts)."""
    import numpy as np
    from faiss_metal_spark import (
        IDMapVectorTable,
        IDSelectorAnd,
        IDSelectorNot,
        IDSelectorOr,
        IDSelectorRange,
        IDSelectorXor,
        SearchParams,
        VectorTable,
    )
    from conftest import make_fixture

    V, _ = make_fixture(30, 1, 8, seed=911)
    vt = VectorTable(spark, 8).add_numpy(V)
    q = V[7:8]

    def labels(sel):
        _, L = vt.search_numpy(q, 30, params=SearchParams(sel=sel, compute="f64"))
        return {int(x) for x in L[0] if x >= 0}

    r_lo, r_hi = IDSelectorRange(0, 10), IDSelectorRange(5, 15)
    assert labels(IDSelectorAnd(r_lo, r_hi)) == set(range(5, 10))
    assert labels(IDSelectorOr(r_lo, r_hi)) == set(range(0, 15))
    assert labels(IDSelectorXor(r_lo, r_hi)) == set(range(0, 5)) | set(range(10, 15))
    assert labels(IDSelectorNot(r_lo)) == set(range(10, 30))
    # combinator over a literal batch
    assert labels(IDSelectorAnd(r_lo, [3, 4, 12])) == {3, 4}

    # IDMap removal by combinator: pure filter, ids keep
    im = IDMapVectorTable(spark, 8)
    im.add_with_ids(V[:10], np.arange(100, 110))
    n = im.remove_ids(IDSelectorNot(IDSelectorRange(103, 106)))
    assert n == 7 and im.ntotal == 3
    assert {r["id"] for r in im.df.select("id").collect()} == {103, 104, 105}

    # flat removal by combinator: batch resolution + positional shift
    n = vt.remove_ids(IDSelectorAnd(IDSelectorRange(0, 30), IDSelectorNot(r_lo)))
    assert n == 20 and vt.ntotal == 10
    rec = vt.reconstruct(5)
    assert np.allclose(rec, V[5], atol=2e-3)
