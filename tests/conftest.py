import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from faiss_metal_spark.session import get_spark  # noqa: E402

# Small local session for tests: 2 threads (r15, was 8). The suite is
# bound by per-action scheduling floors, not compute — on tiny fixtures
# every extra thread only adds tasks per stage (measured: the same test
# files run 21% faster at 2 threads than at 8 on an idle 32-core host,
# identical results). Two partitions still exercise every
# multi-partition partial/final merge path (2 partials + final merge),
# and the tests that need specific partition geometries construct them
# explicitly with repartition(). Pinned UNCONDITIONALLY (not
# setdefault): the bench driver exports SPARK_GRAFT_CPUS=32 for its
# own session, and inheriting that here would run every tiny fixture
# at local[32] — 32 tasks per stage of pure scheduling overhead and a
# blown verification budget. The test session's core count is a test
# concern; override with SPARK_GRAFT_TEST_CPUS if needed.
os.environ["SPARK_GRAFT_CPUS"] = os.environ.get("SPARK_GRAFT_TEST_CPUS", "2")

# Python workers fork from spark_worker_daemon.py, which keeps the Spark
# jar and pyspark.zip off their sys.path: otherwise every Python task
# re-reads those archive indexes (~250 ms per task, measured on a 4-vCPU
# host). Set before the first session launches the JVM, which passes
# PYTHONPATH on to the workers.
_TESTS = os.path.dirname(os.path.abspath(__file__))
os.environ["PYTHONPATH"] = os.pathsep.join(
    [_TESTS] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
)
os.environ["PYSPARK_SUBMIT_ARGS"] = (
    "--conf spark.python.daemon.module=spark_worker_daemon "
    + os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("faiss-metal-spark-tests")
    yield s


def make_fixture(nv: int, nq: int, d: int, seed: int = 42):
    """Uniform[−1,1] vectors then queries from one stream (FIXTURES.md)."""
    rng = np.random.default_rng(seed)
    V = rng.uniform(-1.0, 1.0, size=(nv, d)).astype(np.float32)
    Q = rng.uniform(-1.0, 1.0, size=(nq, d)).astype(np.float32)
    return V, Q


def numpy_oracle(V: np.ndarray, Q: np.ndarray, k: int, metric: str = "l2"):
    """Exact FP64 brute-force oracle (FIXTURES.md 'Oracle')."""
    Vd = V.astype(np.float64)
    Qd = Q.astype(np.float64)
    if metric == "l2":
        D = ((Qd[:, None, :] - Vd[None, :, :]) ** 2).sum(-1)
        order = np.argsort(D, axis=1, kind="stable")
    elif metric == "l1":
        D = np.abs(Qd[:, None, :] - Vd[None, :, :]).sum(-1)
        order = np.argsort(D, axis=1, kind="stable")
    elif metric == "ip":
        D = Qd @ Vd.T
        order = np.argsort(-D, axis=1, kind="stable")
    else:  # cosine similarity
        D = (Qd @ Vd.T) / (
            np.linalg.norm(Qd, axis=1)[:, None] * np.linalg.norm(Vd, axis=1)[None, :]
        )
        order = np.argsort(-D, axis=1, kind="stable")
    kk = min(k, V.shape[0])
    labels = order[:, :kk]
    dists = np.take_along_axis(D, labels, axis=1)
    return dists, labels


def vectors_df(spark, V):
    return spark.createDataFrame(
        pd.DataFrame({"id": np.arange(len(V), dtype=np.int64), "vec": list(V)}),
        schema="id long, vec array<float>",
    )


def queries_df(spark, Q):
    return spark.createDataFrame(
        pd.DataFrame({"qid": np.arange(len(Q), dtype=np.int64), "vec": list(Q)}),
        schema="qid long, vec array<float>",
    )
