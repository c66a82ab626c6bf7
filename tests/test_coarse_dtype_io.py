"""The graph coarse quantizer's scoring dtype survives write/read on
every IVF kind that can carry one — including the SQ- and RQ-coded
inverted files, whose stores once wrote the coarse block without its
``dtype`` and so reloaded an f64 quantizer as f32."""

from __future__ import annotations

import numpy as np
import pytest

from faiss_metal_spark import (
    HNSWCoarseQuantizer,
    VectorTable,
    index_factory,
    read_index,
    write_index,
)

from conftest import make_fixture


@pytest.mark.parametrize("spec", ["IVF4_HNSW2,SQ8", "IVF4_HNSW2,RQ2x8"])
def test_f64_coarse_quantizer_round_trips(spark, tmp_path, spec):
    V, Q = make_fixture(256, 4, 8, seed=13)
    idx = index_factory(VectorTable(spark, 8).add_numpy(V), spec, iters=2)
    q = idx.quantizer
    idx.quantizer = HNSWCoarseQuantizer(
        idx.centroids, q.edges, q.landmarks,
        beam=q.beam, rounds=q.rounds, expand=q.expand, dtype="f64",
    )
    path = str(tmp_path / "idx")
    write_index(idx, path)
    got = read_index(spark, path)
    assert got.quantizer.dtype == "f64"
    D0, L0 = idx.search_numpy(Q, 5, nprobe=2)
    D1, L1 = got.search_numpy(Q, 5, nprobe=2)
    np.testing.assert_array_equal(L0, L1)
    np.testing.assert_array_equal(D0, D1)
