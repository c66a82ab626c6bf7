"""The driver entry under both Arrow settings.

A bare ``SparkSession`` runs with ``spark.sql.execution.arrow.pyspark.
enabled`` false; ``get_spark()`` (the tests, the bench) turns it on.
``_local_queries`` — the LocalRelation query batch the ANN keys
(``ann_ivf`` / ``ann_pq`` / ``ann_compact`` / ``mllib_index_build``)
build from a collected pandas frame — must give the same
``qid long, vec array<float>`` batch either way, including a frame
collected WITH Arrow (float32 ndarray cells) and rebuilt WITHOUT it.
``q_ann_ivf`` runs its whole query path through it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from conftest import make_fixture

ARROW = "spark.sql.execution.arrow.pyspark.enabled"


@pytest.fixture
def arrow(spark):
    """Setter for the session's Arrow conf; the original value is
    restored afterwards."""
    old = spark.conf.get(ARROW)
    yield lambda on: spark.conf.set(ARROW, "true" if on else "false")
    spark.conf.set(ARROW, old)


@pytest.mark.parametrize("collect_arrow", [False, True], ids=["collect_rows", "collect_arrow"])
@pytest.mark.parametrize("build_arrow", [False, True], ids=["build_rows", "build_arrow"])
def test_local_queries_schema_and_values(spark, arrow, collect_arrow, build_arrow):
    import __spark_entry__ as entry

    V, _ = make_fixture(5, 1, 8, seed=3)
    src = spark.createDataFrame(
        pd.DataFrame(
            {"qid": np.arange(10, 15, dtype=np.int64), "vec": [v.tolist() for v in V]}
        ),
        "qid long, vec array<float>",
    )
    arrow(collect_arrow)
    qpdf = src.toPandas()
    arrow(build_arrow)
    out = entry._local_queries(spark, qpdf)
    assert out.schema.simpleString() == "struct<qid:bigint,vec:array<float>>"
    got = out.orderBy("qid").toPandas()
    assert got["qid"].tolist() == list(range(10, 15))
    np.testing.assert_array_equal(np.stack(got["vec"]).astype(np.float32), V)


def test_q_ann_ivf_same_with_and_without_arrow(spark, arrow, tmp_path):
    """The key that died on the old dtype assert in a bare session:
    identical rows with Arrow off and on (256+ embedding rows — the
    fixed quantizers read the first 256)."""
    import __spark_entry__ as entry

    V, _ = make_fixture(300, 1, 64, seed=7)
    spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(len(V), dtype=np.int64),
                "embedding": [v.tolist() for v in V],
                "label": np.zeros(len(V), np.int32),
            }
        ),
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    rows = {}
    for on in (False, True):
        arrow(on)
        rows[on] = sorted(map(tuple, entry.q_ann_ivf(spark, str(tmp_path)).collect()))
    assert rows[False] and rows[False] == rows[True]
