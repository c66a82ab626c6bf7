"""On-disk layout pin for ``write_index`` — every persistable kind.

A store is a directory tree: ``_meta`` (one JSON row), ``arrays/``
(trained numpy state, one parquet) and one parquet directory per
DataFrame (``partitionBy`` on cell-keyed frames); composites nest
their members' payloads in sub-directories. This file pins that tree
kind by kind — the ``_meta`` key set and values, the frame directory
names and partition columns, the ``arrays/`` names — so a store
written by one version of the engine keeps loading in the next.

The legacy-read cases strip each optional ``_meta`` key a store may
predate (``bits``, ``direct``, ``beam``, ``icm_sweeps``,
``by_residual``, ``coarse.dtype``, the LSH ``mean`` array) and check
that ``read_index`` falls back to the documented defaults.

Toy size throughout: 64 × 8 vectors (256 × 8 where a tier trains
256-entry codebooks), a few seconds per kind.
"""

from __future__ import annotations

import json
import os
import pathlib

import numpy as np
import pytest

from faiss_metal_spark import VectorTable, index_factory, read_index, write_index

from conftest import make_fixture

N, D = 64, 8


def _vt(spark, n: int = N, d: int = D) -> VectorTable:
    V, _ = make_fixture(n, 1, d, seed=11)
    return VectorTable(spark, d).add_numpy(V)


def _nsg(vt):
    from faiss_metal_spark.compact_index import NSGIndex

    return NSGIndex.from_table(vt, R=4, iters=2)


def _shards(vt):
    from faiss_metal_spark import ShardedIndex

    a = index_factory(vt, "PQ2x4", iters=2)
    b = index_factory(vt, "SQ8")
    return ShardedIndex.from_indexes(a, b, successive_ids=False)


# 8-bit additive stages, the IVFPQR refine PQ and OPQ train 256 codewords
# each: these kinds need a 256-row table
_WIDE = {"rq", "prq", "ivfrq", "ivfpqr", "opq"}


# kind → builder(vt); every tier + composite write_index accepts
BUILDERS = {
    "vector_table": lambda vt: vt,
    "idmap_vector_table": lambda vt: index_factory(vt, "IDMap,Flat"),
    "idmap2_vector_table": lambda vt: index_factory(vt, "IDMap2,Flat"),
    "sq8": lambda vt: index_factory(vt, "SQ8"),
    "sq8_direct": lambda vt: index_factory(vt, "SQ8_direct"),
    "binary": lambda vt: index_factory(vt, "BFlat"),
    "bivf": lambda vt: index_factory(vt, "BIVF4", iters=2),
    "bhash": lambda vt: index_factory(vt, "BHash4"),
    "bhnsw": lambda vt: index_factory(vt, "BHNSW4", iters=2),
    "ivf": lambda vt: index_factory(vt, "IVF4", iters=2),
    "ivf_hnsw": lambda vt: index_factory(vt, "IVF4_HNSW2,Flat", iters=2),
    "ivf_dedup": lambda vt: index_factory(vt, "IVF4,FlatDedup", iters=2),
    "ivfsq": lambda vt: index_factory(vt, "IVF4,SQ8", iters=2),
    "ivfsq_hnsw": lambda vt: index_factory(vt, "IVF4_HNSW2,SQ8", iters=2),
    "ivfpq": lambda vt: index_factory(vt, "IVF4,PQ2x4", iters=2),
    "ivfpq_hnsw": lambda vt: index_factory(vt, "IVF4_HNSW2,PQ2x4", iters=2),
    "ivfpq_fs": lambda vt: index_factory(vt, "IVF4,PQ2x4fs", iters=2),
    "ivfpqr": lambda vt: index_factory(vt, "IVF4,PQ2+2", iters=2),
    "ivfrq": lambda vt: index_factory(vt, "IVF4,RQ2x8", iters=2),
    "ivfrq_fs": lambda vt: index_factory(vt, "IVF4,RQ2x4fs", iters=2),
    "pq": lambda vt: index_factory(vt, "PQ2x4", iters=2),
    "pq_fs": lambda vt: index_factory(vt, "PQ2x4fs", iters=2),
    "opq": lambda vt: index_factory(vt, "OPQ2", iters=2),
    "rq": lambda vt: index_factory(vt, "RQ2x8", iters=2),
    "rq_fs": lambda vt: index_factory(vt, "RQ2x4fs", iters=2),
    "prq": lambda vt: index_factory(vt, "PRQ2x2x8", iters=2),
    "prq_fs": lambda vt: index_factory(vt, "PRQ2x2x4fs", iters=2),
    "imi": lambda vt: index_factory(vt, "IMI2x2", iters=2),
    "lsh": lambda vt: index_factory(vt, "LSH"),
    "flat1d": lambda vt: index_factory(vt, "Flat1D"),
    "graph": lambda vt: index_factory(vt, "HNSW4", iters=2),
    "nsg": _nsg,
    "graph_sq": lambda vt: index_factory(vt, "HNSW4,SQ8", iters=2),
    "graph_pq": lambda vt: index_factory(vt, "HNSW4,PQ2x4", iters=2),
    "refine": lambda vt: index_factory(vt, "PQ2x4,RFlat", iters=2),
    "normtransform": lambda vt: index_factory(vt, "L2norm,SQ8"),
    "pretransform": lambda vt: index_factory(vt, "PCA4,IVF4", iters=2),
    "shards": _shards,
}


def _frame_layout(path: str):
    """Partition column of a parquet directory (None when flat)."""
    for name in sorted(os.listdir(path)):
        if "=" in name and os.path.isdir(os.path.join(path, name)):
            return name.split("=", 1)[0]
    return None


def describe(spark, path: str) -> dict:
    """Layout of one payload directory, recursing into nested
    payloads (any sub-directory with its own ``_meta``)."""
    meta = json.loads(spark.read.text(os.path.join(path, "_meta")).collect()[0][0])
    out = {"meta": meta, "frames": {}, "arrays": None, "children": {}}
    for name in sorted(os.listdir(path)):
        sub = os.path.join(path, name)
        if name == "_meta" or not os.path.isdir(sub):
            continue
        if os.path.isdir(os.path.join(sub, "_meta")):
            out["children"][name] = describe(spark, sub)
        elif name == "arrays":
            out["arrays"] = sorted(
                {r["name"] for r in spark.read.parquet(sub).select("name").collect()}
            )
        else:
            out["frames"][name] = _frame_layout(sub)
    return out


def _build(spark, kind):
    n = 256 if kind in _WIDE else N
    return BUILDERS[kind](_vt(spark, n, 1 if kind == "flat1d" else D))


def _payload(path: str) -> str:
    return os.path.join(path, "_v1")


# Expected layout per kind, recorded from stores written before the
# tiers shared a base class. Values that depend on trained state
# (nav_id) are compared by JSON type only (see _strip).
EXPECTED = json.loads(
    pathlib.Path(__file__).with_name("index_layout.json").read_text()
)

_DATA_DEPENDENT = {"nav_id"}


def _strip(layout: dict) -> dict:
    """Copy of a layout with data-dependent meta values replaced by
    their JSON type name."""
    meta = {
        k: (type(v).__name__ if k in _DATA_DEPENDENT else v)
        for k, v in layout["meta"].items()
    }
    return {
        "meta": meta,
        "frames": layout["frames"],
        "arrays": layout["arrays"],
        "children": {k: _strip(v) for k, v in layout["children"].items()},
    }


@pytest.mark.parametrize("kind", sorted(BUILDERS))
def test_store_layout(spark, tmp_path, kind):
    idx = _build(spark, kind)
    path = str(tmp_path / kind)
    write_index(idx, path)
    assert _strip(describe(spark, _payload(path))) == EXPECTED[kind]


def _rewrite_meta(spark, path: str, edit) -> None:
    mp = os.path.join(path, "_meta")
    meta = json.loads(spark.read.text(mp).collect()[0][0])
    edit(meta)
    spark.createDataFrame(
        [(json.dumps(meta, sort_keys=True),)], "j string"
    ).coalesce(1).write.mode("overwrite").text(mp)


def _drop(*keys):
    def edit(meta):
        for k in keys:
            meta.pop(k, None)

    return edit


def _drop_coarse_dtype(meta):
    meta["coarse"].pop("dtype", None)


def _drop_lsh_mean(meta):
    meta["shapes"].pop("mean", None)


def _f64_coarse(idx):
    """Same index, coarse quantizer scoring in f64 (non-default dtype)."""
    from faiss_metal_spark import HNSWCoarseQuantizer

    q = idx.quantizer
    idx.quantizer = HNSWCoarseQuantizer(
        idx.centroids, q.edges, q.landmarks,
        beam=q.beam, rounds=q.rounds, expand=q.expand, dtype="f64",
    )
    return idx


_ENC = {"beam": 2, "icm_sweeps": 1}
_ENC_DEFAULTS = {"beam": 1, "icm_sweeps": 0}

# case → (builder over the table, meta edit, {attribute: documented
# default}). Each store is written with NON-default values, so reading
# the default back proves the fallback applied.
LEGACY = {
    "sq4": (
        lambda vt: index_factory(vt, "SQ4"), _drop("bits"), {"bits": 8},
    ),
    "sq8_direct": (
        lambda vt: index_factory(vt, "SQ8_direct"), _drop("direct"),
        {"direct": False},
    ),
    "rq": (
        lambda vt: index_factory(vt, "RQ2x8", iters=2, **_ENC),
        _drop("beam", "icm_sweeps"), _ENC_DEFAULTS,
    ),
    "prq": (
        lambda vt: index_factory(vt, "PRQ2x2x8", iters=2, **_ENC),
        _drop("beam", "icm_sweeps"), _ENC_DEFAULTS,
    ),
    "rq_fs": (
        lambda vt: index_factory(vt, "RQ2x4fs", iters=2, **_ENC),
        _drop("beam", "icm_sweeps"), _ENC_DEFAULTS,
    ),
    "prq_fs": (
        lambda vt: index_factory(vt, "PRQ2x2x4fs", iters=2, **_ENC),
        _drop("beam", "icm_sweeps"), _ENC_DEFAULTS,
    ),
    "ivfrq": (
        lambda vt: index_factory(
            vt, "IVF4,RQ2x8", iters=2, by_residual=False, **_ENC
        ),
        _drop("beam", "icm_sweeps", "by_residual"),
        {**_ENC_DEFAULTS, "by_residual": True},
    ),
    "ivfrq_fs": (
        lambda vt: index_factory(
            vt, "IVF4,RQ2x4fs", iters=2, by_residual=False, **_ENC
        ),
        _drop("beam", "icm_sweeps", "by_residual"),
        {**_ENC_DEFAULTS, "by_residual": True},
    ),
    "ivf_hnsw": (
        lambda vt: _f64_coarse(index_factory(vt, "IVF4_HNSW2,Flat", iters=2)),
        _drop_coarse_dtype, {"quantizer.dtype": "f32"},
    ),
    "ivfpq_hnsw": (
        lambda vt: _f64_coarse(index_factory(vt, "IVF4_HNSW2,PQ2x4", iters=2)),
        _drop_coarse_dtype, {"quantizer.dtype": "f32"},
    ),
    "lsh": (lambda vt: index_factory(vt, "LSH"), _drop_lsh_mean, {}),
}


@pytest.mark.parametrize("case", sorted(LEGACY))
def test_legacy_meta_defaults(spark, tmp_path, case):
    build, edit, defaults = LEGACY[case]
    idx = build(_vt(spark, 256 if case in _WIDE else N))
    path = str(tmp_path / case)
    write_index(idx, path)
    _rewrite_meta(spark, _payload(path), edit)
    got = read_index(spark, path)
    assert type(got) is type(idx)
    for attr, want in defaults.items():
        obj, name = got, attr
        if "." in attr:
            head, name = attr.split(".")
            obj = getattr(got, head)
        assert getattr(obj, name) == want, attr
    if case == "lsh":
        # early stores carried no centering: zero mean (the "rr" form,
        # which is what this store holds — so search is unchanged)
        assert got.mean is None or not np.any(got.mean)
        _, Q = make_fixture(4, 3, D, seed=5)
        D0, L0 = idx.search_numpy(Q, 5)
        D1, L1 = got.search_numpy(Q, 5)
        np.testing.assert_array_equal(L0, L1)
        np.testing.assert_array_equal(D0, D1)
