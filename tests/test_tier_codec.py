"""Codec contract of every derived tier that reconstructs.

``reconstruct(id)`` must be the stored row's code decoded — checked
here against an independent numpy decode of the row read straight from
the tier's frame, through the operator-level helpers (``*_decode_np``,
``pq_unpack4_np``, ``unpack_words_np``; plus ``centroids[cell]`` for
residual IVF tiers), exactly, with the same dtype and shape. An absent
id raises ``KeyError``. Tiers with a standalone codec also satisfy
``sa_decode(sa_encode(X)) == reconstruct`` of those rows once stored
(through ``add_sa_codes`` where the tier has it, ``add_numpy``
otherwise).

The indexes are the toy builds of ``test_index_layout.BUILDERS``.
"""

from __future__ import annotations

import numpy as np
import pytest

from faiss_metal_spark.operators.binary import unpack_words_np
from faiss_metal_spark.operators.pq import pq_decode_np, pq_unpack4_np
from faiss_metal_spark.operators.rq import addq_decode_np, prq_decode_np, rq_decode_np
from faiss_metal_spark.operators.sq import sq_decode_np

from conftest import make_fixture
from test_index_layout import BUILDERS, _build


def _u8(code) -> np.ndarray:
    return np.frombuffer(code, np.uint8)[None, :]


def _cell(idx, row) -> np.ndarray:
    return idx.centroids[int(row["cell"])]


def _sq(idx, row):
    codes = np.asarray(row["code"], np.uint8)[None, :]
    direct = getattr(idx, "direct", False)
    return sq_decode_np(codes, idx.vmin, idx.vmax, idx.bits, direct=direct)[0]


def _vec(idx, row):
    return np.asarray(row["vec"], np.float64)


def _pq(idx, row):
    return pq_decode_np(_u8(row["code"]), idx.codebooks)[0]


def _pq4(idx, row):
    return pq_decode_np(pq_unpack4_np(_u8(row["code"]), idx.m), idx.codebooks)[0]


def _addq4(idx, row):
    return addq_decode_np(pq_unpack4_np(_u8(row["code"]), idx.m), idx.codebooks)[0]


# kind → independent decode of one stored row
DECODERS = {
    "sq8": _sq,
    "sq8_direct": _sq,
    "ivfsq": _sq,
    "graph_sq": _sq,
    "ivf": _vec,
    "imi": _vec,
    "nsg": _vec,
    "pq": _pq,
    "graph_pq": _pq,
    "pq_fs": _pq4,
    "opq": lambda idx, row: (
        pq_decode_np(_u8(row["code"]), idx.codebooks) @ idx.rotation
    )[0],
    "ivfpq": lambda idx, row: _cell(idx, row) + _pq(idx, row),
    "ivfpq_fs": lambda idx, row: _cell(idx, row) + _pq4(idx, row),
    "ivfpqr": lambda idx, row: (
        _cell(idx, row)
        + _pq(idx, row)
        + pq_decode_np(_u8(row["code2"]), idx.refine_books)[0]
    ),
    "rq": lambda idx, row: rq_decode_np(_u8(row["code"]), idx.codebooks)[0],
    "rq_fs": lambda idx, row: rq_decode_np(
        pq_unpack4_np(_u8(row["code"]), idx.m), idx.codebooks
    )[0],
    "prq": lambda idx, row: prq_decode_np(_u8(row["code"]), idx.codebooks)[0],
    "prq_fs": lambda idx, row: prq_decode_np(
        pq_unpack4_np(_u8(row["code"]), idx.m_total), idx.codebooks
    )[0],
    # the builders keep faiss's by_residual default
    "ivfrq": lambda idx, row: (
        addq_decode_np(_u8(row["code"]), idx.codebooks)[0] + _cell(idx, row)
    ),
    "ivfrq_fs": lambda idx, row: _addq4(idx, row) + _cell(idx, row),
    "bhnsw": lambda idx, row: unpack_words_np(
        np.asarray(row["words"], np.int64)[None, :], idx.d
    )[0],
    "flat1d": lambda idx, row: np.array([row["val"]], dtype=np.float32),
}

# store kinds without a reconstruct of their own: the binary tiers,
# IVFFlatDedup (refuses, faiss parity) and the composites
NO_RECONSTRUCT = {"binary", "bivf", "bhash", "lsh", "ivf_dedup"}
# same tier class and stored rows as a covered kind (the graph coarse
# quantizer only changes assignment; NSGIndex inherits GraphIndex's
# storage and reconstruct)
SAME_STORAGE = {"ivf_hnsw", "ivfsq_hnsw", "ivfpq_hnsw", "graph"}
COMPOSITES = {
    "vector_table", "idmap_vector_table", "idmap2_vector_table", "refine",
    "normtransform", "pretransform", "shards",
}


def test_every_reconstructing_kind_is_covered():
    covered = set(DECODERS) | SAME_STORAGE | NO_RECONSTRUCT | COMPOSITES
    assert set(BUILDERS) == covered


@pytest.mark.parametrize("kind", sorted(DECODERS))
def test_reconstruct_decodes_the_stored_code(spark, kind):
    idx = _build(spark, kind)
    rows = getattr(idx, idx._frame).orderBy("id").limit(3).collect()
    assert len(rows) == 3
    for row in rows:
        got, want = idx.reconstruct(row["id"]), DECODERS[kind](idx, row)
        assert (got.dtype, got.shape) == (want.dtype, want.shape)
        np.testing.assert_array_equal(got, want)
    with pytest.raises(KeyError):
        idx.reconstruct(10**9)
    if hasattr(idx, "sa_encode"):
        X, _ = make_fixture(3, 1, idx.d, seed=29)
        codes = idx.sa_encode(X)
        ids = [10**6, 10**6 + 1, 10**6 + 2]
        if hasattr(idx, "add_sa_codes"):
            idx.add_sa_codes(codes, ids=ids)
        else:
            idx.add_numpy(X, ids=ids)
        got = np.stack([idx.reconstruct(i) for i in ids]).astype(np.float32)
        np.testing.assert_array_equal(got, idx.sa_decode(codes))
    idx.release()
