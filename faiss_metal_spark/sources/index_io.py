"""``write_index`` / ``read_index`` — FAISS-parity index persistence.

FAISS serializes complete index state with ``faiss::write_index`` /
``read_index`` so a reloaded index searches identically; the reference
inherits that surface by subclassing ``faiss::Index``
(/root/reference/include/faiss-metal/MetalIndexFlat.h:47) and its users
round-trip indexes through ``index_cpu_to_metal`` after a CPU-side
``read_index``. This module is the engine's equivalent, Spark-first:
nothing is written from the driver's local filesystem — every artifact
is a dataset under ``path`` on whatever Hadoop-compatible FS Spark is
pointed at, so the same call works on a laptop and a 1000-executor
cluster writing to object storage.

Layout under ``path``::

    _meta/      single-row JSON header: kind, dims, params, array shapes
    arrays/     trained artifacts (centroids, codebooks, rotations,
                scalar ranges) as (name, i, data ARRAY<DOUBLE>) rows —
                small by construction (O(cells·d) / O(256·d) doubles)
    <frame>/    each large table (vectors / codes / words) as parquet;
                cell-keyed frames are ``partitionBy("cell")`` so a
                reloaded index keeps partition-pruned probes (the
                inverted-list layout of ``ivf_write`` / ``ivfpq_write``)

Which classes persist, and how: every derived tier in
``compact_index.py`` subclasses ``_Tier``, whose ``__init_subclass__``
files the class under its on-disk ``_kind`` in one registry
(``compact_index._TIERS``). A tier's store is a generic walk over its
dataclass fields — DataFrame fields → ``<name>/`` parquet (the primary
frame ``partitionBy`` the tier's declared ``_partition`` key), numpy
fields → ``arrays/``, scalars → ``_meta`` — under the legacy on-disk
names in ``_DISK_NAMES``, so a new tier needs no edit here. The
composites keep explicit code because they nest member payloads in
sub-directories: ``VectorTable`` (and its IDMap forms),
``PreTransformIndex`` / ``NormTransformIndex`` (recursive inner
payload), ``RefineIndex`` (recursive base payload + full-precision
source) and ``ShardedIndex`` (recursive member payloads).
``read_index`` returns the same type that was written and search
results are value-identical pre/post round-trip
(``tests/test_index_io.py``); the layout itself is pinned kind by kind
in ``tests/test_index_layout.py``.
"""

from __future__ import annotations

import dataclasses
import json
import typing

import numpy as np
from pyspark.sql import DataFrame, SparkSession

_META_VERSION = 1


# ---------------------------------------------------------------------------
# artifact store
# ---------------------------------------------------------------------------


def _write_meta(spark: SparkSession, path: str, meta: dict) -> None:
    meta = dict(meta, version=_META_VERSION)
    spark.createDataFrame(
        [(json.dumps(meta, sort_keys=True),)], "j string"
    ).coalesce(1).write.mode("overwrite").text(f"{path}/_meta")


def _read_meta(spark: SparkSession, path: str) -> dict:
    rows = spark.read.text(f"{path}/_meta").collect()
    if len(rows) != 1:
        raise ValueError(f"corrupt index meta at {path}: {len(rows)} rows")
    return json.loads(rows[0][0])


def _write_arrays(spark: SparkSession, path: str, arrays: dict[str, np.ndarray]) -> dict:
    """Persist small trained arrays; returns {name: shape} for the meta."""
    shapes = {}
    rows = []
    for name, a in arrays.items():
        a = np.asarray(a, np.float64)
        shapes[name] = list(a.shape)
        flat = a.reshape(a.shape[0] if a.ndim > 1 else 1, -1)
        rows.extend((name, int(i), flat[i].tolist()) for i in range(len(flat)))
    spark.createDataFrame(
        rows, "name string, i int, data array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/arrays")
    return shapes


def _read_arrays(spark: SparkSession, path: str, shapes: dict) -> dict[str, np.ndarray]:
    if not shapes:
        return {}
    pdf = spark.read.parquet(f"{path}/arrays").toPandas()
    out = {}
    for name, shape in shapes.items():
        sub = pdf[pdf["name"] == name].sort_values("i")
        out[name] = np.stack(
            [np.asarray(r, np.float64) for r in sub["data"]]
        ).reshape(shape)
    return out


def _write_frame(df: DataFrame, path: str, partition_by: str | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_by is not None:
        w = w.partitionBy(partition_by)
    w.parquet(path)


# ---------------------------------------------------------------------------
# dispatch
# ---------------------------------------------------------------------------


def _index_versions(spark: SparkSession, path: str) -> list[int]:
    """Committed version numbers under an index path (ascending).

    A version ``_v<N>`` counts as committed only once ``_meta/_SUCCESS``
    exists; every :func:`write_index` branch writes ``_meta`` LAST, so
    a crashed or in-flight write is invisible to readers by
    construction (same append-only pointer discipline as
    ``layout.store_versions``).
    """
    import re

    from .layout import _hadoop_fs

    fs = _hadoop_fs(spark, path)
    jvm = spark._jvm
    base = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(base):
        return []
    out = []
    for st in fs.listStatus(base):
        m = re.fullmatch(r"_v(\d+)", st.getPath().getName())
        if not m or not st.isDirectory():
            continue
        if fs.exists(
            jvm.org.apache.hadoop.fs.Path(st.getPath(), "_meta/_SUCCESS")
        ):
            out.append(int(m.group(1)))
    return sorted(out)


def write_index(index, path: str, keep_versions: int = 2) -> None:
    """Serialize any engine index under ``path`` (faiss write_index).

    Atomic under rewrite and crash: each call writes a fresh
    ``_v<N>`` directory (never touching previous versions) and commits
    it by writing ``_meta`` last — a reader concurrent with a rewrite
    keeps resolving the old version, and a write that dies mid-flight
    leaves no committed version behind. FAISS gets this for free from
    single-file POSIX rename; on an object store the append-only
    version pointer is the equivalent.

    Single-writer assumption: like faiss's write_index (and any
    rename-committed layout), concurrent WRITERS to the same path are
    not coordinated — two simultaneous writers can pick the same
    ``_v<N>``. Readers concurrent with one writer are always safe.

    ``keep_versions`` bounds storage growth under repeated rewrites:
    after a successful commit, committed versions older than the newest
    ``keep_versions`` are pruned (the default keeps N−1 for readers
    still resolving the previous version mid-scan). Caveat: an index
    HANDLE from ``read_index`` is lazy — it keeps reading its resolved
    ``_v<N>`` on every action, so a handle held across ``keep_versions``
    or more subsequent rewrites of the same path sees its files pruned
    (faiss's overwrite-in-place breaks such handles on the FIRST
    rewrite; raise ``keep_versions`` or re-``read_index`` to pin).
    """
    if not _is_engine_index(index):
        raise TypeError(
            f"write_index: unsupported index type {type(index).__name__}"
        )
    spark = index.spark
    vs = _index_versions(spark, path)
    new_v = (vs[-1] + 1) if vs else 1
    _write_payload(index, f"{path}/_v{new_v}")
    # prune: only versions strictly older than the keep window, and only
    # after the new version committed (write above is synchronous)
    stale = [v for v in vs if v <= new_v - keep_versions]
    if stale:
        from .layout import _hadoop_fs

        fs = _hadoop_fs(spark, path)
        jvm = spark._jvm
        for v in stale:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{path}/_v{v}"), True)


def _composites() -> tuple:
    """The index classes written by explicit code (not the registry)."""
    from ..compact_index import RefineIndex
    from ..operators.pca import NormTransformIndex, PreTransformIndex
    from ..sharded import ShardedIndex
    from ..vector_table import VectorTable

    return (VectorTable, ShardedIndex, RefineIndex, PreTransformIndex, NormTransformIndex)


def _is_engine_index(index) -> bool:
    """Whether ``write_index`` / ``clone_index`` handle ``index``: a
    registered tier or one of the explicitly written composites."""
    from ..compact_index import _Tier

    return isinstance(index, (_Tier, *_composites()))


# on-disk names of the tier fields not stored under their own name;
# where the disk name is also a public property (``ntotal``,
# ``n_instances``) the property is what gets stored — it resolves the
# −1 "not counted yet" value of the private counter
_DISK_NAMES = {"_n": "ntotal", "_n_inst": "n_instances", "_source": "source"}


def _tier_fields(cls) -> list:
    """(field name, on-disk name, type) of a tier's persisted fields."""
    hints = typing.get_type_hints(cls)
    return [
        (f.name, _DISK_NAMES.get(f.name, f.name), hints[f.name])
        for f in dataclasses.fields(cls)
        if f.name != "spark"
    ]


def _write_coarse(index, meta: dict, arrays: dict) -> None:
    """The graph coarse quantizer: its graph in ``arrays/``, its search
    knobs in ``meta["coarse"]`` (absent without a quantizer)."""
    q = index.quantizer
    if q is None:
        return
    arrays["coarse_edges"] = q.edges
    arrays["coarse_landmarks"] = q.landmarks
    meta["coarse"] = {
        "beam": q.beam, "rounds": q.rounds, "expand": q.expand, "dtype": q.dtype,
    }


def _write_tier(index, path: str) -> None:
    """A registered tier: frames first, then ``arrays/``, ``_meta`` last."""
    meta, arrays = {"kind": index._kind, "d": index.d}, {}
    for name, disk, t in _tier_fields(type(index)):
        v = getattr(index, name)
        if name == "quantizer":
            _write_coarse(index, meta, arrays)
        elif t is DataFrame:
            if name == "_source":  # optional: the refine tier's source
                meta["has_source"] = v is not None
            if v is not None:
                part = index._partition if name == index._frame else None
                _write_frame(v, f"{path}/{disk}", partition_by=part)
        elif t is np.ndarray:
            arrays[disk] = v
        else:
            if isinstance(getattr(type(index), disk, None), property):
                v = getattr(index, disk)
            meta[disk] = v.item() if isinstance(v, np.generic) else v
    if arrays:
        meta["shapes"] = _write_arrays(index.spark, path, arrays)
    _write_meta(index.spark, path, meta)


def _write_payload(index, path: str) -> None:
    from ..compact_index import RefineIndex, _Tier
    from ..operators.pca import NormTransformIndex, PreTransformIndex
    from ..sharded import ShardedIndex
    from ..vector_table import IDMap2VectorTable, IDMapVectorTable, VectorTable

    if isinstance(index, _Tier):
        _write_tier(index, path)
    elif isinstance(index, VectorTable):
        if isinstance(index, IDMap2VectorTable):
            vt_kind = "idmap2_vector_table"
        elif isinstance(index, IDMapVectorTable):
            vt_kind = "idmap_vector_table"
        else:
            vt_kind = "vector_table"
        _write_frame(index.df, f"{path}/vectors")
        _write_meta(
            index.spark,
            path,
            {
                "kind": vt_kind,
                "d": index.d,
                "metric": index.metric,
                "storage": index.storage,
                "compact": index.compact,
                "next_id": index._next_id,
            },
        )
    elif isinstance(index, RefineIndex):
        # faiss persists IndexRefineFlat as base + refine storage; here
        # the wrapper is base payload (recursive, any kind) + the
        # full-precision source frame + k_factor
        _write_payload(index.base, f"{path}/base")
        _write_frame(index.source, f"{path}/source")
        _write_meta(
            index.spark,
            path,
            {
                "kind": "refine",
                "d": index.d,
                "ntotal": index.ntotal,
                "k_factor": index.k_factor,
            },
        )
    elif isinstance(index, NormTransformIndex):
        # composite: inner payload first, _meta LAST (shards discipline);
        # the transform itself is stateless (unit normalization), so the
        # payload is just the inner index + d_in
        _write_payload(index.inner, f"{path}/inner")
        _write_meta(index.spark, path, {"kind": "normtransform", "d": index.d_in})
    elif isinstance(index, PreTransformIndex):
        # composite: inner payload first, _meta LAST (shards discipline)
        _write_payload(index.inner, f"{path}/inner")
        shapes = _write_arrays(
            index.spark, path,
            {"mean": index.mean, "components": index.components},
        )
        _write_meta(
            index.spark,
            path,
            {"kind": "pretransform", "d": index.d_in, "shapes": shapes},
        )
    elif isinstance(index, ShardedIndex):
        # composite: member payloads first (each a self-describing
        # dataset with its own _meta), composite _meta LAST so a
        # crashed member write leaves no committed composite behind —
        # the same commit discipline as the _v<N> pointer one level up.
        for i, member in enumerate(index.shards):
            _write_payload(member, f"{path}/shard_{i}")
        _write_meta(
            index.spark,
            path,
            {
                "kind": "shards",
                "d": index.d,
                "metric": index.metric,
                "n_shards": len(index.shards),
                "successive_ids": index.successive_ids,
            },
        )
    else:
        raise TypeError(
            f"write_index: unsupported index type {type(index).__name__}"
        )


def clone_index(index):
    """Independent handle with identical state — faiss ``clone_index``.

    The clone and the original share immutable artifacts (Spark
    DataFrames are immutable plans; trained numpy arrays are copied),
    so cloning is O(metadata): mutating either side (``add``, ``reset``,
    ``remove_ids``, ``merge_from``) reassigns that side's frames and
    never touches the other — the observable faiss deep-copy contract
    without duplicating the corpus. Caveat (performance, not
    correctness): a derived tier's persisted code frame is shared, so
    ``release()`` on one handle drops the shared cache for both.
    """
    from ..compact_index import RefineIndex, _Tier
    from ..operators.pca import NormTransformIndex, PreTransformIndex
    from ..sharded import ShardedIndex
    from ..vector_table import VectorTable

    if isinstance(index, _Tier):
        kw = {}
        for f in dataclasses.fields(index):
            v = getattr(index, f.name)
            kw[f.name] = v.copy() if isinstance(v, np.ndarray) else v
        return type(index)(**kw)
    if isinstance(index, ShardedIndex):
        return ShardedIndex.from_indexes(
            *[clone_index(m) for m in index.shards],
            successive_ids=index.successive_ids,
        )
    if isinstance(index, VectorTable):
        return type(index)(
            index.spark,
            index.d,
            metric=index.metric,
            storage=index.storage,
            compact=index.compact,
            df=index.df,
            _next_id=index._next_id,
        )
    if isinstance(index, NormTransformIndex):
        return NormTransformIndex(clone_index(index.inner), d_in=index.d_in)
    if isinstance(index, PreTransformIndex):
        return PreTransformIndex(
            index.mean.copy(), index.components.copy(), clone_index(index.inner)
        )
    if isinstance(index, RefineIndex):
        # not a dataclass: recurse into the base, share the immutable
        # source frame (same discipline as the other composites); the
        # refine tier handle (if any) rides along un-cloned — it only
        # feeds the shared source plan
        return RefineIndex(
            clone_index(index.base), index.source, index.k_factor,
            refine=index.refine,
        )
    raise TypeError(
        f"clone_index: unsupported index type {type(index).__name__}"
    )


def _read_coarse(meta: dict, arrays: dict):
    """Rebuild the graph coarse quantizer from an IVF-family payload
    (r12; ids persisted as exact float64 < 2^53, re-cast on read). Older
    ivfsq/ivfrq stores carry ``"coarse": null`` when there is none."""
    c = meta.get("coarse")
    if not c:
        return None
    from ..operators.coarse import HNSWCoarseQuantizer

    return HNSWCoarseQuantizer(
        arrays["centroids"],
        arrays["coarse_edges"].astype(np.int64),
        arrays["coarse_landmarks"].astype(np.int64).ravel(),
        beam=int(c["beam"]),
        rounds=int(c["rounds"]),
        expand=int(c["expand"]),
        # pre-r13 stores, and older ivfsq/ivfrq ones: f32
        dtype=str(c.get("dtype", "f32")),
    )


def read_index(spark: SparkSession, path: str):
    """Reload an index written by :func:`write_index` (faiss read_index).

    Returns the same type that was written; searches on the reloaded
    index are value-identical. Cell-keyed kinds (ivf / ivfpq) come back
    partition-pruned: the probe ``isin`` filter lands on the parquet
    partition key exactly as with ``ivf_write``.
    """
    vs = _index_versions(spark, path)
    if vs:
        path = f"{path}/_v{vs[-1]}"
    # else: flat pre-versioned layout (round-6 stores) — read in place
    return _read_payload(spark, path)


def _read_tier(spark: SparkSession, path: str, cls, meta: dict):
    """A registered tier, by the same field walk as ``_write_tier``. A
    scalar or array the store predates is simply absent: the field's
    dataclass default applies (the documented legacy defaults)."""
    arrays = _read_arrays(spark, path, meta.get("shapes", {}))
    kw = {"spark": spark}
    for name, disk, t in _tier_fields(cls):
        if name == "quantizer":
            kw[name] = _read_coarse(meta, arrays)
        elif t is DataFrame:
            if meta.get(f"has_{disk}", True):
                kw[name] = spark.read.parquet(f"{path}/{disk}")
        elif disk in arrays:
            kw[name] = arrays[disk]
        elif disk in meta:
            kw[name] = meta[disk]
    return cls(**kw)


def _read_payload(spark: SparkSession, path: str):
    from ..compact_index import _TIERS, RefineIndex

    meta = _read_meta(spark, path)
    kind = meta["kind"]
    if kind in _TIERS:
        return _read_tier(spark, path, _TIERS[kind], meta)
    if kind == "shards":
        from ..sharded import ShardedIndex

        members = [
            _read_payload(spark, f"{path}/shard_{i}")
            for i in range(meta["n_shards"])
        ]
        return ShardedIndex.from_indexes(
            *members, successive_ids=meta["successive_ids"]
        )
    if kind == "refine":
        return RefineIndex(
            _read_payload(spark, f"{path}/base"),
            spark.read.parquet(f"{path}/source"),
            int(meta["k_factor"]),
        )
    if kind in ("vector_table", "idmap_vector_table", "idmap2_vector_table"):
        from ..vector_table import IDMap2VectorTable, IDMapVectorTable, VectorTable

        cls = {
            "idmap_vector_table": IDMapVectorTable,
            "idmap2_vector_table": IDMap2VectorTable,
        }.get(kind, VectorTable)
        return cls(
            spark,
            meta["d"],
            metric=meta["metric"],
            storage=meta["storage"],
            compact=meta["compact"],
            df=spark.read.parquet(f"{path}/vectors"),
            _next_id=meta["next_id"],
        )
    if kind == "normtransform":
        from ..operators.pca import NormTransformIndex

        return NormTransformIndex(
            _read_payload(spark, f"{path}/inner"), d_in=meta["d"]
        )
    if kind == "pretransform":
        from ..operators.pca import PreTransformIndex

        arrays = _read_arrays(spark, path, meta["shapes"])
        return PreTransformIndex(
            arrays["mean"],
            arrays["components"],
            _read_payload(spark, f"{path}/inner"),
        )
    raise ValueError(f"read_index: unknown index kind {kind!r} at {path}")
