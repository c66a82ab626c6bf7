"""Per-search job-count pin (r14, VERDICT task 7): the sub-second grid
configs were dominated by a fixed ~0.4 s per-JOB scheduling floor, and
every ``search_numpy`` call paid one extra job collecting back a query
DataFrame the caller had just built from the SAME numpy arrays.

The host fast path (``knn_search(queries_host=)``) folds the query
collect away, and dropping the driver-bound ``orderBy("qid","rank")``
(the host scatters by (qid, rank) anyway) folds the range-exchange
sampling + sort jobs: 7 jobs → 4 per ``search_numpy`` call, pinned
here with the job-group counter (the test_flat1d pattern). Values must
be bitwise identical to the DataFrame path — same float32-rounded
(qids, Q) reach the same kernel.
"""

import numpy as np
import pytest

from faiss_metal_spark import VectorTable
from tests.conftest import make_fixture, numpy_oracle


def _jobs_during(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel=False)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_search_numpy_is_one_job(spark):
    V, Q = make_fixture(500, 16, 12, seed=3)
    vt = VectorTable(spark, 12).add_numpy(V)
    vt.search_numpy(Q[:2], 3)  # warm the plan/JIT outside the pin

    (D, L), jobs = _jobs_during(
        spark, "knn-host-path", lambda: vt.search_numpy(Q, 5)
    )
    # one ACTION; AQE materializes its exchanges as sub-jobs, so the
    # pin is the measured stage-job budget: scan+partial, shuffle agg,
    # scaffold broadcast, final collect. The DataFrame path costs 7
    # (query collect + orderBy sampling + sort) — the fold removed 3.
    assert len(jobs) <= 4, f"search_numpy ran {len(jobs)} jobs: {jobs}"
    _, L_true = numpy_oracle(V, Q, 5)
    np.testing.assert_array_equal(L, L_true)


def test_host_path_equals_dataframe_path(spark):
    import pandas as pd

    V, Q = make_fixture(400, 8, 10, seed=11)
    vt = VectorTable(spark, 10).add_numpy(V)
    D_host, L_host = vt.search_numpy(Q, 6)

    qdf = spark.createDataFrame(
        pd.DataFrame(
            {
                "qid": np.arange(len(Q), dtype=np.int64),
                "vec": [v.tolist() for v in Q.astype(np.float32)],
            }
        ),
        schema="qid long, vec array<float>",
    )
    res = vt.search(qdf, 6).orderBy("qid", "rank").toPandas()
    D_df = res["distance"].to_numpy(np.float64).reshape(len(Q), 6).astype(np.float32)
    L_df = res["label"].to_numpy(np.int64).reshape(len(Q), 6)
    np.testing.assert_array_equal(L_host, L_df)
    np.testing.assert_array_equal(D_host, D_df)  # bitwise — same kernel


def test_host_path_shapes_and_guards(spark):
    from faiss_metal_spark.operators.knn import knn_search

    V, Q = make_fixture(100, 4, 6, seed=7)
    vt = VectorTable(spark, 6).add_numpy(V)
    # 1-d single query now works (treated as one row)
    D, L = vt.search_numpy(Q[0], 3)
    assert D.shape == (1, 3) and L.shape == (1, 3)
    # k > ntotal sentinel padding still holds on the host path
    D2, L2 = vt.search_numpy(Q[:2], 150)
    assert (L2 == -1).sum() == 2 * 50
    # explicit sql method keeps the DataFrame path (and agrees)
    _, L3 = vt.search_numpy(Q[:2], 3, method="sql")
    _, L3g = vt.search_numpy(Q[:2], 3)
    np.testing.assert_array_equal(L3, L3g)
    # queries_host refuses the sql path explicitly
    import pytest

    with pytest.raises(ValueError, match="gemm"):
        knn_search(
            vt.df, None, 3, method="sql",
            queries_host=(np.arange(2), Q[:2].astype(np.float64)),
        )


# jobs per IVF-family search_numpy call, measured on these toy sizes
# (local[2]) before the family shared one probe-and-scan driver
IVF_SEARCH_JOBS = 5


@pytest.mark.parametrize("kind, nq", [("ivf", 1), ("ivfpq", 3), ("ivfrq", 3)])
def test_ivf_search_numpy_job_budget(spark, kind, nq):
    """Job budget of one IVF-family ``search_numpy`` call: the query
    collect, then the per-cell scan, the merge and the result fetch
    (the AQE sub-jobs). An extra collect or count in the probe
    machinery shows here as one more job; the ``interactive``
    benchmark's traced ``ivf.jobs_per_call`` (IVF, nq=1) reads 5."""
    from faiss_metal_spark import IVFIndex, IVFPQIndex, IVFRQIndex

    V, Q = make_fixture(300, nq, 8, seed=5)
    vt = VectorTable(spark, 8).add_numpy(V)
    idx = {
        "ivf": lambda: IVFIndex.from_table(vt, 8, iters=2),
        "ivfpq": lambda: IVFPQIndex.from_table(vt, 8, 4, iters=2, nbits=4),
        "ivfrq": lambda: IVFRQIndex.from_table(vt, 8, 2, iters=2, nbits=4),
    }[kind]()
    _, jobs = _jobs_during(
        spark, f"ivf-jobs-{kind}", lambda: idx.search_numpy(Q, 5, nprobe=2)
    )
    assert len(jobs) == IVF_SEARCH_JOBS, f"{kind}: {len(jobs)} jobs {jobs}"
    idx.release()


# jobs per flat-family search_numpy call, measured on these toy sizes
# (local[2]) before the family shared one scan-and-merge driver. The
# "flat" case is the interactive benchmark's call (fp16-compact
# VectorTable, nq=1), whose traced knn.jobs_per_call reads 3 on its
# cache-resident table; this uncached table adds one job for the
# shuffle in its ingest lineage
FLAT_SEARCH_JOBS = {"flat": 4, "pq": 4, "rq": 4, "prq": 4}


def test_flat_search_numpy_job_budget(spark):
    """Job budget of one exhaustive ``search_numpy`` call through the
    flat scan driver, per kernel: an extra collect or count in the
    driver shows here as one more job."""
    from faiss_metal_spark import PQIndex, PRQIndex, RQIndex

    V, Q = make_fixture(300, 3, 8, seed=5)
    vt = VectorTable(spark, 8, storage="fp16", compact=True).add_numpy(V)
    vt.search_numpy(Q[:1], 5)  # warm the plan outside the pin
    cases = {
        "flat": (vt, Q[:1]),
        "pq": (PQIndex.from_table(vt, 2, iters=2, nbits=4), Q),
        "rq": (RQIndex.from_table(vt, 2, iters=2), Q),
        "prq": (PRQIndex.from_table(vt, 2, 2, iters=2, nbits=4), Q),
    }
    jobs = {
        kind: len(_jobs_during(
            spark, f"flat-jobs-{kind}", lambda: idx.search_numpy(x, 5)
        )[1])
        for kind, (idx, x) in cases.items()
    }
    assert jobs == FLAT_SEARCH_JOBS, jobs
