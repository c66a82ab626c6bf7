"""Compact derived indexes — SQ8 and binary tiers built FROM a
VectorTable.

FAISS users downscale a flat index by training a compressed one from
it (``index_factory("SQ8")`` / ``IndexBinaryFlat`` fed by
``train``/``add``); the reference's table has no compressed tier at
all (/root/reference/include/faiss-metal/MetalIndexFlat.h:47). These
facades give the same one-call workflow over the standalone operators
(``operators/sq.py``, ``operators/binary.py``): derive the compact
index from a :class:`~faiss_metal_spark.vector_table.VectorTable`,
then search it with the table's host-array contract
(``search_numpy`` → (D, L), ascending, ties by label).

Deliberately NOT a ``VectorTable`` storage mode: the flat table's
add/remove/merge/reconstruct contract is FAISS-exact and
oracle-pinned; a derived index keeps those semantics untouched while
covering the "train a compressed tier from my flat index" workflow.
Every tier supports post-train ``add_df``/``add_numpy`` against its
FROZEN trained state (faiss ``add`` after ``train`` never retrains);
retraining is an explicit rebuild (cheap: one scan), exactly like
FAISS re-adds into a freshly trained quantizer.
"""

from __future__ import annotations

from dataclasses import dataclass, field, fields

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _float_view(vt) -> DataFrame:
    """(id, vec ARRAY<FLOAT>) view of a VectorTable — decodes the
    compact BINARY layout when present."""
    df = vt.df.select("id", "vec")
    if getattr(vt, "compact", False):
        from .quantize import decode_col

        df = df.select("id", decode_col("vec", vt.storage).alias("vec"))
    return df


def _query_df(spark: SparkSession, x: np.ndarray, qid=None) -> DataFrame:
    """(qid long, vec array<float>) query batch from host vectors;
    ``qid`` defaults to 0..n−1. Explicit schema over plain-list cells,
    so the batch is the same with or without Arrow conversion (a
    non-Arrow session rejects numpy float32 cells and infers Python
    floats as double)."""
    x = np.asarray(x, dtype=np.float32)
    if len(x):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "qid": np.arange(len(x), dtype=np.int64)
                    if qid is None
                    else np.asarray(qid, np.int64),
                    "vec": [v.tolist() for v in x],
                }
            ),
            schema="qid long, vec array<float>",
        )
    return spark.createDataFrame([], schema="qid long, vec array<float>")


def _drop_ids(df: DataFrame, ids, id_col: str = "id") -> DataFrame:
    """Rows of ``df`` whose id is NOT in ``ids`` — IN-list for small
    batches, broadcast anti-join above (the ``SearchParams.sel``
    threshold discipline). ``ids`` may also be an ``IDSelectorRange``
    or a Not/And/Or/Xor combinator (faiss ``IndexIVF::remove_ids``
    takes an ``IDSelector&``): with no renumbering anywhere in the
    IVF family, selector removal is one negated predicate filter."""
    from .vector_table import _SEL_COMBINATORS, IDSelectorRange, _sel_predicate

    if isinstance(ids, (IDSelectorRange,) + _SEL_COMBINATORS):
        return df.where(~_sel_predicate(ids))
    arr = np.atleast_1d(np.asarray(ids, dtype=np.int64))
    if len(arr) <= 10_000:
        return df.where(~F.col(id_col).isin([int(i) for i in arr]))
    spark = df.sparkSession
    drop = spark.createDataFrame(
        pd.DataFrame({id_col: arr}), f"{id_col} long"
    )
    return df.join(F.broadcast(drop), id_col, "left_anti")


def _sel_rows(df: DataFrame, sel) -> DataFrame:
    """faiss ``SearchParametersIVF::sel`` — restrict the stored rows to
    a selected id subset with ONE Catalyst predicate applied BEFORE the
    probe machinery (it pushes to the cell-partitioned scan like any
    metadata filter). Accepts everything ``SearchParams.sel`` does:
    IDSelectorRange / a legacy (lo, hi) tuple / literal iterables
    (IN-list under the same threshold ``_sel_view`` uses, broadcast
    semi-join above it) / the Not/And/Or/Xor combinator algebra.
    Excluded ids simply never surface; sentinel padding fills short
    results — faiss semantics."""
    if sel is None:
        return df
    from .vector_table import (
        _SEL_COMBINATORS,
        _SEL_ISIN_MAX,
        IDSelectorRange,
        _sel_predicate,
    )

    if isinstance(
        sel, (IDSelectorRange,) + _SEL_COMBINATORS
    ) or (isinstance(sel, tuple) and len(sel) == 2):
        return df.where(_sel_predicate(sel))
    ids = [int(i) for i in np.asarray(list(sel), dtype=np.int64).ravel()]
    if len(ids) <= _SEL_ISIN_MAX:
        return df.where(F.col("id").isin(ids))
    sel_df = df.sparkSession.createDataFrame(
        pd.DataFrame({"id": np.asarray(ids, dtype=np.int64)}), "id long"
    )
    return df.join(F.broadcast(sel_df), "id", "left_semi")




def _append_frame(index, frame_attr: str, new_rows: DataFrame) -> None:
    """Shared IVF-family append: union encoded rows into the inverted
    file, repersist, refresh ntotal. The encode happened in the
    caller with the index's FROZEN trained state — faiss ``add`` after
    ``train`` never retrains."""
    old = getattr(index, frame_attr)
    new = old.unionByName(new_rows).persist()
    index._n = new.count()
    old.unpersist()
    setattr(index, frame_attr, new)


def _ivf_add_rows(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    # cast to the stored FP32 layout so the union with the existing
    # inverted file type-checks regardless of the caller's element type
    return df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<float>").alias("vec"),
    )




def _coarse_state(q) -> tuple:
    """Flattened trained-state components of a graph coarse quantizer
    (all five knobs change the APPROXIMATE assignment, so merge_from
    must compare them all — identical edges alone do not imply
    identical assignments: landmarks/beam/rounds/expand steer the walk
    over the same graph). None-safe for absent quantizers."""
    return (
        getattr(q, "edges", None),
        getattr(q, "landmarks", None),
        getattr(q, "beam", None),
        getattr(q, "rounds", None),
        getattr(q, "expand", None),
    )




def _coarse(vt, base, n_cells, sample_size, iters, coarse_hnsw_m, coarse_kw):
    """``(centroids, quantizer)`` of an IVF tier: k-means centroids on
    ``base``'s trainer sample and, with ``coarse_hnsw_m``, the faiss
    ``IVF<n>_HNSW<M>`` coarse quantizer over them (operators/coarse.py;
    ``coarse_kw`` forwards beam/rounds/expand/seed to
    :meth:`HNSWCoarseQuantizer.train`) — else None, the exact argmin."""
    from .operators.similarity import ivf_train_centroids

    C = ivf_train_centroids(base, n_cells, sample_size=sample_size, iters=iters)
    if coarse_hnsw_m is None:
        return C, None
    from .operators.coarse import HNSWCoarseQuantizer

    return C, HNSWCoarseQuantizer.train(
        C, M=int(coarse_hnsw_m), **{"spark": vt.spark, **(coarse_kw or {})}
    )


# -- decode batches: the stored rows a ``_decode()`` closure receives ------


def _codes(pdf: pd.DataFrame, col: str = "code") -> np.ndarray:
    """(n, width) uint8 matrix of a fixed-width BINARY code column."""
    return np.frombuffer(b"".join(pdf[col].tolist()), np.uint8).reshape(len(pdf), -1)


def _cells(pdf: pd.DataFrame) -> np.ndarray:
    return pdf["cell"].to_numpy(np.int64)


def _float_rows(pdf: pd.DataFrame) -> np.ndarray:
    """Decode of full-precision storage: the stored ``vec`` rows."""
    return np.stack(pdf["vec"].to_numpy()).astype(np.float64)


def _sq_decoder(vmin, vmax, bits: int, direct=False):
    """Decode of an ``array<int>`` SQ code column (per-dim b-bit codes)."""
    from .operators.sq import sq_decode_np

    def dec(pdf: pd.DataFrame) -> np.ndarray:
        codes = np.stack(pdf["code"].to_numpy()).astype(np.uint8)
        return sq_decode_np(codes, vmin, vmax, bits, direct=direct)

    return dec


def _nsw_graph(
    vectors: DataFrame, n: int, M: int, iters: int, seed: int,
    diversify: bool, repair: bool,
) -> DataFrame:
    """A graph tier's build: the NN-Descent kNN graph over ``vectors``,
    persisted and materialized (faiss builds eagerly on add) —
    ``diversify`` shrinks a 2M-candidate graph with the MRNG neighbor
    select, ``repair`` re-links disconnected islands."""
    from .operators.knn_graph import connect_graph, mrng_diversify, nn_descent

    if diversify:
        cand = nn_descent(vectors, k=2 * M, iters=iters, seed=seed)
        graph = mrng_diversify(cand, vectors, M)
    else:
        graph = nn_descent(vectors, k=M, iters=iters, seed=seed)
    if repair and n > 1:
        graph = connect_graph(graph, vectors)
    graph = graph.persist()
    graph.count()
    return graph


def _read_only(self, *_a, **_k):
    raise NotImplementedError(
        f"{type(self).__name__} is a read-only derived tier — rebuild via "
        "from_table after mutating the source (incremental NSW "
        "insertion lives on the flat GraphIndex)"
    )


def _host_result(res: DataFrame, nq: int, k: int) -> tuple[np.ndarray, np.ndarray]:
    # no orderBy: the (qid, rank) scatter below places every row, and
    # a driver-bound sort costs a whole range-exchange (sampling job +
    # sort stages) per search call — 2 of the measured 6 AQE jobs
    pdf = res.toPandas()
    if nq == 0:
        return np.zeros((0, k), np.float64), np.zeros((0, k), np.int64)
    # pad to exactly k per query (sentinels) like VectorTable.search_numpy
    D = np.full((nq, k), np.inf, np.float64)
    L = np.full((nq, k), -1, np.int64)
    q = pdf["qid"].to_numpy(np.int64)
    r = pdf["rank"].to_numpy(np.int64)
    D[q, r] = pdf["distance"].to_numpy(np.float64)
    L[q, r] = pdf["label"].to_numpy(np.int64)
    return D, L


# ---------------------------------------------------------------------------
# the shared host contract
# ---------------------------------------------------------------------------

# on-disk kind → tier class, filled as each tier class is defined; the
# persistence registry of ``write_index`` / ``read_index``
_TIERS: dict[str, type] = {}


def _host_twin(method: str):
    """Host-array twin of a DataFrame search method: (nq, d) queries
    in, (D, L) arrays out, sentinel-padded to k (the
    ``VectorTable.search_numpy`` contract); any further arguments
    forward to ``method`` unchanged."""

    def twin(self, x: np.ndarray, k: int, *args, **kw) -> tuple[np.ndarray, np.ndarray]:
        res = getattr(self, method)(_query_df(self.spark, x), k, *args, **kw)
        return _host_result(res, len(np.atleast_2d(x)), k)

    twin.__name__ = twin.__qualname__ = f"{method}_numpy"
    twin.__doc__ = f"Host twin of ``{method}``: (D, L) arrays, k per query."
    return twin


class _Tier:
    """Host contract shared by every derived tier — the engine's one
    faiss ``Index`` base. A tier is a dataclass whose fields ARE its
    state and declares three class attributes:

    - ``_kind``: its ``write_index`` kind (registers the class);
    - ``_frame``: the DataFrame field with one row per stored entry
      (``codes`` / ``words`` / ``assigned`` / ``vectors`` / ``hashed``
      / ``ranked``) — what ``ntotal``, ``add_numpy``, ``remove_ids``
      and ``merge_from`` act on;
    - ``_partition``: the column that frame is ``partitionBy``-ed on in
      a store (``cell`` for inverted files), so a reloaded index keeps
      partition-pruned probes.

    Its codec is stated once, in two hooks:

    - ``_encode_df(rows)``: ``(id, vec)`` rows → rows of ``_frame``,
      encoded against the FROZEN trained state (faiss ``add`` after
      ``train`` never retrains) — the build of ``from_table``
      (:meth:`_fill`) and every ``add_df``;
    - ``_decode()``: a picklable ``pdf → (n, d) float`` closure over
      stored rows — ``reconstruct`` and ``sa_decode`` on the driver,
      ``decode=`` in the operators that score stored codes on the
      executors (see :class:`_Decoded`).

    ``sources/index_io.py`` persists the fields generically: DataFrames
    as ``<name>/`` parquet, numpy arrays in ``arrays/``, scalars in
    ``_meta``. An optional ``_source`` field is the source table's
    full-precision view, borrowed for exact rescoring: stored (with a
    ``has_source`` flag), grown and shrunk with the stored entries, but
    never unpersisted by ``release``."""

    _kind: str
    _frame: str
    _partition: str | None = None

    def __init_subclass__(cls, **kw):
        super().__init_subclass__(**kw)
        if "_kind" in cls.__dict__:
            _TIERS[cls._kind] = cls

    @property
    def ntotal(self) -> int:
        return self._n if self._n >= 0 else getattr(self, self._frame).count()

    search_numpy = _host_twin("search")

    def _fill(self, rows: DataFrame):
        """``from_table``'s build: ``rows`` encoded as the whole stored
        frame, persisted and counted."""
        frame = self._encode_df(rows).persist()
        setattr(self, self._frame, frame)
        self._n = frame.count()
        return self

    def add_df(self, df: DataFrame, id_col: str = "id", vec_col: str = "vec"):
        """faiss ``add`` after ``train``: encode the rows against the
        FROZEN trained state (values outside a trained range clamp,
        assignment uses the frozen quantizer) and append — training
        never reruns."""
        rows = _ivf_add_rows(df, id_col, vec_col)
        _append_frame(self, self._frame, self._encode_df(rows))
        if getattr(self, "_source", None) is not None:
            self._source = self._source.unionByName(rows)
        return self

    def _new_ids(self, ids, n: int, what: str) -> np.ndarray:
        """Labels for ``n`` new entries: ``ids`` checked, or, when None,
        a continuation from max(stored id)+1."""
        if ids is None:
            row = getattr(self, self._frame).agg(F.max("id")).first()
            start = (row[0] + 1) if row and row[0] is not None else 0
            return np.arange(start, start + n, dtype=np.int64)
        ids = np.asarray(ids, dtype=np.int64)
        if len(ids) != n:
            raise ValueError(f"ids length must match {what} count")
        return ids

    def add_numpy(self, x: np.ndarray, ids=None):
        """Host-side add batch through ``add_df``. ``ids=None``
        continues from max(stored id)+1 — NOT ntotal, which would
        recycle labels after ``remove_ids`` (faiss's own
        add-after-remove foot-gun; labels here are opaque list entries,
        so fresh ids are the only safe default)."""
        x = np.atleast_2d(np.asarray(x, dtype=np.float32))
        if x.shape[1] != self.d:
            raise ValueError(f"expected d={self.d}, got {x.shape[1]}")
        ids = self._new_ids(ids, len(x), "vector")
        return self.add_df(
            self.spark.createDataFrame(
                pd.DataFrame({"id": ids, "vec": [v.tolist() for v in x]}),
                schema="id long, vec array<float>",
            )
        )

    def release(self) -> None:
        """Unpersist the frames this tier cached."""
        for f in fields(self):
            v = getattr(self, f.name)
            if isinstance(v, DataFrame) and f.name != "_source":
                v.unpersist()


class _ListTier(_Tier):
    """A tier whose entries are explicit labels in ``_frame``."""

    def remove_ids(self, ids) -> int:
        """faiss ``remove_ids``: drop rows, repersist, return the number
        removed. Stored ids are NEVER renumbered — labels are explicit
        list entries (unlike the flat ``VectorTable``'s sequential
        compaction). Accepts literal id iterables AND faiss IDSelectors
        (``IDSelectorRange`` / Not/And/Or/Xor combinators —
        ``IndexIVF::remove_ids`` takes an ``IDSelector&``; here a
        selector removal is one negated predicate filter, no list
        anywhere). A BARE 2-TUPLE is refused, like
        ``VectorTable.remove_ids``: a 2-tuple still means a range in
        ``SearchParams.sel``, so the same literal must not silently
        mean a 2-id batch on the destructive path."""
        if isinstance(ids, tuple) and len(ids) == 2:
            raise TypeError(
                "remove_ids: a bare 2-tuple is ambiguous (it means a range "
                "in SearchParams.sel but would be a 2-id batch here) — pass "
                "remove_ids([a, b]) for two literal ids, or "
                "IDSelectorRange(lo, hi) for a range"
            )
        old = getattr(self, self._frame)
        new = _drop_ids(old, ids).persist()
        n_new = new.count()
        removed = self.ntotal - n_new
        old.unpersist()
        setattr(self, self._frame, new)
        self._n = n_new
        if getattr(self, "_source", None) is not None:
            self._source = _drop_ids(self._source, ids)
        return removed


class _MergeTier(_ListTier):
    """A list tier with faiss ``merge_from``. Subclasses define
    ``_trained_state()``: everything two indexes must share for their
    entries to be interchangeable."""

    def merge_from(self, other, add_id: int = 0, check_duplicates: bool = True):
        """faiss ``merge_from(other, add_id)`` (``IndexIVF`` /
        ``IndexFlatCodes``): ``other`` must be the same tier carrying
        the SAME trained state (faiss requires "trained in the same
        way" — here ``_trained_state()`` is compared exactly, not
        assumed); the other's entries append with ids shifted by
        ``add_id`` and the other index is emptied (faiss moves, not
        copies). This is the
        shard-merge workflow for distributed builds: train once, assign
        each data shard independently against the frozen quantizer, merge
        the inverted files — a metadata union, no re-clustering.

        DELIBERATE faiss deviation: upstream ``IndexIVF::merge_from``
        performs NO duplicate-id check (duplicate labels are legal in
        faiss IVF), so a merge that succeeds there can raise here. The
        refusal is the safe default for the shard-merge workflow this
        engine targets (independent shards with colliding label spaces
        are almost always a forgotten add_id); callers that intentionally
        carry duplicate labels opt out with ``check_duplicates=False``,
        which also skips the check's eager semi-join count() job."""
        if type(other) is not type(self):
            # refuse BEFORE touching donor attributes (a foreign type
            # lacks this tier's trained-state fields)
            raise ValueError(
                f"merge_from requires the same index type "
                f"({type(self).__name__} != {type(other).__name__})"
            )
        mine, theirs = self._trained_state(), other._trained_state()
        for a, b in zip(mine, theirs):
            same = (
                np.array_equal(np.asarray(a), np.asarray(b))
                if isinstance(a, np.ndarray) or isinstance(b, np.ndarray)
                else a == b
            )
            if not same:
                raise ValueError(
                    "merge_from requires identical trained state "
                    "(train once, share the quantizer across shards)"
                )
        moved = getattr(other, self._frame)
        if add_id:
            moved = moved.withColumn("id", (F.col("id") + F.lit(int(add_id))).cast("long"))
        # Duplicate labels are unreachable in upstream faiss flat tiers
        # (positional ids, add_id rejected unless 0) — two independently
        # built indexes merged with the default add_id=0 would silently
        # create them here. Exact check: bounded id semi-join, stops at
        # the first clash. (Faiss IVF itself allows duplicate labels —
        # see the docstring; check_duplicates=False restores that.)
        if check_duplicates:
            clash = (
                moved.select("id")
                .join(getattr(self, self._frame).select("id"), "id", "left_semi")
                .limit(1)
                .count()
            )
            if clash:
                raise ValueError(
                    "merge_from: donor ids collide with acceptor ids after the "
                    "add_id shift — duplicate labels would result; pass add_id "
                    "(e.g. acceptor max id + 1) to re-base the donor, or "
                    "check_duplicates=False to carry duplicate labels like "
                    "upstream faiss IVF"
                )
        _append_frame(self, self._frame, moved)
        # empty the donor (faiss merge_from leaves other with ntotal=0)
        donor = getattr(other, self._frame)
        setattr(other, self._frame, donor.where(F.lit(False)))
        donor.unpersist()
        other._n = 0
        return self


class _Decoded:
    """Mixin of a tier whose stored rows decode back to vectors through
    its ``_decode()`` hook."""

    def reconstruct(self, key: int) -> np.ndarray:
        """faiss ``reconstruct``: the stored row of ``key`` decoded —
        the stored vector on full-precision tiers, the lossy decode of
        its code on coded ones (plus ``centroid(cell)`` on residual IVF
        tiers). Absent ids raise KeyError."""
        pdf = getattr(self, self._frame).where(F.col("id") == int(key)).toPandas()
        if pdf.empty:
            raise KeyError(f"id {key} not in index")
        return self._decode()(pdf)[0]


class _FlatCodes(_Decoded, _MergeTier):
    """faiss ``IndexFlatCodes``: a tier whose stored ``code`` bytes ARE
    its standalone code, so ``sa_encode`` / ``sa_decode`` are the
    tier's own codec. Subclasses add ``_encode_np(x)``: (n, d) float64
    → (n, code bytes) uint8, the host twin of ``_encode_df`` (same
    arithmetic, so a host-encoded code is the stored one)."""

    def sa_encode(self, x: np.ndarray) -> np.ndarray:
        """(n, d) FP32 → n ``sa_code_size``-byte strings."""
        x = np.atleast_2d(np.asarray(x, np.float64))
        if x.ndim != 2 or x.shape[1] != self.d:
            raise ValueError(f"expected (n, {self.d}) array, got {x.shape}")
        return np.array([row.tobytes() for row in self._encode_np(x)], dtype=object)

    def sa_decode(self, codes) -> np.ndarray:
        """n byte strings → (n, d) FP32 (≙ ``reconstruct`` of stored
        codes, narrowed to float32)."""
        rows = [bytes(c) for c in codes]
        if not rows:
            return np.zeros((0, self.d), dtype=np.float32)
        return self._decode()(pd.DataFrame({"code": rows})).astype(np.float32)


class _AddCodes(_FlatCodes):
    """A flat-codes tier that also ingests codes directly. Subclasses
    declare ``_code_schema``, the DDL of their stored rows."""

    _code_schema: str

    def add_sa_codes(self, codes, ids=None):
        """faiss ``Index::add_sa_codes``: append PRE-ENCODED codes
        verbatim — no re-encode — the distributed half of the
        ship-codes-not-floats workflow (``sa_encode`` near the data,
        move ``sa_code_size`` bytes/vector, ingest here). Codes must
        come from this index's own trained state. Code bytes are
        validated against the codebook width at INGEST: with nbits<8 a
        byte ≥ 2^nbits would otherwise only explode as an out-of-bounds
        LUT gather inside an executor at search time, far from the bad
        input. An additive tier's stored ``recn`` (‖reconstruction‖²,
        the LUT-only search term) is derived from the codes. Ids
        default to max(stored id)+1 continuation, like ``add_numpy``."""
        width = self.sa_code_size
        rows = [bytes(c) for c in codes]
        for c in rows:
            if len(c) != width:
                raise ValueError(
                    f"add_sa_codes: expected {width}-byte codes "
                    f"(sa_code_size), got {len(c)}"
                )
        ncw = int(self.codebooks.shape[-2])  # 2^nbits codewords
        if ncw < 256 and rows:
            hi = int(np.frombuffer(b"".join(rows), dtype=np.uint8).max())
            if hi >= ncw:
                raise ValueError(
                    f"add_sa_codes: code byte {hi} out of range for "
                    f"nbits={ncw.bit_length() - 1} ({ncw} codewords per "
                    "subspace)"
                )
        ids = self._new_ids(ids, len(rows), "code")
        if not rows:
            return self
        pdf = pd.DataFrame({"id": ids, "code": rows})
        if "recn" in self._code_schema:
            rec = self._decode()(pdf)
            pdf["recn"] = (rec * rec).sum(1)
        _append_frame(
            self, self._frame,
            self.spark.createDataFrame(pdf, schema=self._code_schema),
        )
        return self


class _IVF(_Decoded, _MergeTier):
    """faiss ``IndexIVF`` as a composition of three parts:

    - the coarse quantizer: ``centroids``, plus the optional graph
      ``quantizer`` that then ranks probes (and assigns adds);
    - the inverted lists: ``_frame``, one row per entry with its
      ``cell``, ``partitionBy("cell")`` in a store;
    - the codec's scan kernel, ``_kernel()``
      (``operators.knn.ScanKernel``) — by default the exact
      ``metric`` over the ``_decode()``-d rows.

    Every search is one call of the probe-and-scan driver,
    ``operators.similarity.probe_scan``."""

    _partition = "cell"

    @property
    def nlist(self) -> int:
        return len(self.centroids)

    def _kernel(self):
        from .operators.similarity import decode_scan

        return decode_scan(getattr(self, "metric", "l2"), decode=self._decode())

    def _probe_cells(self, nprobe: int):
        """Probe ranking hook: the graph coarse quantizer's beam search
        when the tier has one, else None (exact centroid order)."""
        q = getattr(self, "quantizer", None)
        return q.probe_fn(nprobe) if q else None

    def _scan(self, queries, nprobe, probe_cells, sel=None, kernel=None, **kw):
        from .operators.similarity import probe_scan

        return probe_scan(
            _sel_rows(getattr(self, self._frame), sel), queries,
            kernel or self._kernel(), nprobe,
            centroids=getattr(self, "centroids", None),
            probe_cells=probe_cells, **kw,
        )

    def search(
        self, queries: DataFrame, k: int, nprobe: int = 8, sel=None,
        max_codes: int | None = None,
    ) -> DataFrame:
        """faiss ``IndexIVF::search``: top-k within the ``nprobe``
        probed cells, min(k, probed rows) results per query. ``sel`` ≙
        faiss ``SearchParametersIVF::sel`` (IDSelector): restrict the
        search to a stored-id subset — one predicate on the inverted
        lists before the probe machinery (see ``_sel_rows``).
        ``max_codes`` ≙ faiss ``SearchParametersIVF::max_codes``: bound
        the entries scanned per query (whole-list granularity — see
        ``probe_scan``); with ``sel`` set the bound counts SELECTED
        entries — faiss counts raw list sizes (documented deviation,
        see COVERAGE.md)."""
        return self._scan(
            queries, nprobe, self._probe_cells(nprobe), sel=sel, k=k,
            max_codes=max_codes,
        )


class _Preassigned(_IVF):
    """An IVF tier with ``range_search`` and ``search_preassigned``."""

    def range_search(
        self, queries: DataFrame, radius: float, nprobe: int = 8
    ) -> DataFrame:
        """faiss ``IndexIVF::range_search``: the radius filter over the
        probed cells, applied to the codec's distance — exact within
        cell coverage, a subset under partial probes, never a false
        positive; (qid, label, distance) unordered like the flat
        ``range_search``."""
        return self._scan(queries, nprobe, self._probe_cells(nprobe), radius=radius)

    def _preassigned(self, queries: DataFrame, assign, **kw) -> DataFrame:
        """The caller-supplied (nq, nprobe) cell matrix as the probe
        ranking: indexed by qid, so it must cover max(qid)+1 rows —
        checked when the batch is collected, with the shapes in the
        message, instead of a bare numpy IndexError inside an executor;
        -1 entries are the faiss skip-this-probe-slot sentinel."""
        A = np.atleast_2d(np.asarray(assign, dtype=np.int64))

        def hook(Q, qids):
            qarr = np.asarray(qids, np.int64)
            if qarr.size and int(qarr.max()) >= len(A):
                raise ValueError(
                    f"search_preassigned: assign covers {len(A)} queries "
                    f"(rows) but the batch contains qid {int(qarr.max())} "
                    "— assign is indexed by qid and must cover max(qid)+1 "
                    "rows"
                )
            return A[qarr]

        hook.by_qid = True
        return self._scan(queries, A.shape[1], hook, **kw)

    def search_preassigned(
        self, queries: DataFrame, k: int, assign: np.ndarray
    ) -> DataFrame:
        """≙ faiss ``IndexIVF::search_preassigned``: the CALLER supplies
        each query's probe cells instead of ranking against the coarse
        quantizer — the hook for cached, sharded, or externally-computed
        assignments. ``assign[qid]`` lists that query's cells; nprobe =
        the row width; a ``-1`` entry skips that probe slot (the faiss
        sentinel coarse quantizers emit for unfillable slots). In-cell
        search is unchanged, so the engine's own ranking fed back
        reproduces ``search`` exactly."""
        return self._preassigned(queries, assign, k=k)

    search_preassigned_numpy = _host_twin("search_preassigned")


class _RangePreassigned(_Preassigned):
    """An IVF tier that also has ``range_search_preassigned``."""

    def range_search_preassigned(
        self, queries: DataFrame, radius: float, assign: np.ndarray
    ) -> DataFrame:
        """≙ faiss ``IndexIVF::range_search_preassigned``: the radius
        filter over CALLER-supplied probe cells (same assign contract
        as :meth:`search_preassigned`); the engine's own ranking fed
        back reproduces ``range_search`` exactly."""
        return self._preassigned(queries, assign, radius=radius)


@dataclass
class SQ8Index(_Decoded, _MergeTier):
    """Scalar-quantizer tier derived from a VectorTable:
    per-dim min/max trained on the table's FP32 reconstruction, b-bit
    codes (``bits`` = 8 / 6 / 4 ≙ faiss QT_8bit / QT_6bit / QT_4bit;
    named for its 8-bit default), asymmetric search (exact query vs
    reconstructed codes).

    Variants (r13): ``uniform`` trains ONE shared (vmin, vmax) pair
    across every dimension (faiss ``QT_8bit_uniform`` /
    ``QT_4bit_uniform``; factory ``"SQ8u"``/``"SQ4u"``/``"SQ6u"`` or
    the faiss-literal ``"SQ8_uniform"`` forms) — represented as
    constant trained arrays, so every downstream path is unchanged;
    ``direct`` is faiss ``QT_8bit_direct`` (factory ``"SQ8d"`` /
    ``"SQ8_direct"``): the code IS ``clamp(floor(x), 0, 255)`` and
    decode returns it verbatim — training-free, for data already on a
    [0, 256) integer scale (image bytes)."""

    _kind = "sq8"
    _frame = "codes"

    spark: SparkSession
    d: int
    vmin: np.ndarray
    vmax: np.ndarray
    codes: DataFrame
    _n: int = field(default=-1, repr=False)
    bits: int = 8
    direct: bool | str = False  # False / True / "signed"

    @classmethod
    def from_table(
        cls, vt, bits: int = 8, uniform: bool = False, direct=False
    ) -> "SQ8Index":
        """``direct``: False (trained min/max), True (faiss
        QT_8bit_direct — code = clamp(floor(x), 0, 255)), or
        ``"signed"`` (QT_8bit_direct_signed — code =
        clamp(floor(x)+128, 0, 255), decode = code − 128; the
        [−128, 128) domain)."""
        from .operators.sq import sq_train

        if direct not in (False, True, "signed"):
            raise ValueError(
                f"direct must be False, True or 'signed', got {direct!r}"
            )
        if direct and (uniform or bits != 8):
            raise ValueError(
                "direct is the faiss QT_8bit_direct form: bits=8, "
                "not combinable with uniform"
            )
        base = _float_view(vt)
        if direct:
            # training-free (faiss QT_8bit_direct has no trained state);
            # the stored range is the identity window for introspection
            off = 128.0 if direct == "signed" else 0.0
            vmin = np.full(vt.d, -off, np.float64)
            vmax = np.full(vt.d, 255.0 - off, np.float64)
        else:
            vmin, vmax = sq_train(base, uniform=uniform)
        return cls(
            vt.spark, vt.d, vmin, vmax, None, bits=bits, direct=direct
        )._fill(base)

    def _encode_df(self, rows: DataFrame) -> DataFrame:
        from .operators.sq import sq_encode

        return sq_encode(rows, self.vmin, self.vmax, self.bits, direct=self.direct)

    def _decode(self):
        return _sq_decoder(self.vmin, self.vmax, self.bits, self.direct)

    def search(self, queries: DataFrame, k: int) -> DataFrame:
        from .operators.sq import sq_search

        return sq_search(
            self.codes, self.vmin, self.vmax, queries, k, self.bits,
            direct=self.direct,
        )

    def range_search(self, queries: DataFrame, radius: float) -> DataFrame:
        """Asymmetric-distance radius query (faiss
        ``IndexScalarQuantizer`` via ``Index::range_search``)."""
        from .operators.sq import sq_range_search

        return sq_range_search(
            self.codes, self.vmin, self.vmax, queries, radius, self.bits,
            direct=self.direct,
        )

    def _trained_state(self) -> tuple:
        """Codes append verbatim only under the identical range and
        width."""
        return (self.d, self.bits, self.direct, self.vmin, self.vmax)

    # -- standalone codec (faiss ScalarQuantizer sa_encode/sa_decode) ------

    @property
    def sa_code_size(self) -> int:
        from .operators.sq import sq_code_size

        return sq_code_size(self.d, self.bits)  # ceil(d·bits/8) bytes

    def sa_encode(self, x: np.ndarray) -> np.ndarray:
        """(n, d) FP32 → n packed byte strings via the shared
        :func:`~.operators.sq.sq_encode_np` + :func:`sq_pack_np` — one
        statement of the SQ arithmetic for stored codes and standalone
        codec alike."""
        from .operators.sq import sq_encode_np, sq_pack_np

        x = np.asarray(x, dtype=np.float64)
        if x.ndim != 2 or x.shape[1] != self.d:
            raise ValueError(f"expected (n, {self.d}) array, got {x.shape}")
        codes = sq_pack_np(
            sq_encode_np(x, self.vmin, self.vmax, self.bits, direct=self.direct),
            self.bits,
        )
        return np.array([row.tobytes() for row in codes], dtype=object)

    def add_sa_codes(self, codes, ids=None) -> "SQ8Index":
        """faiss ``Index::add_sa_codes``: ingest PRE-ENCODED packed
        codes (no re-encode from floats) — codes must come from this
        index's own trained range/width (``sa_encode``). The stored
        frame keeps the Catalyst ``array<int>`` per-dim form, so the
        packed bytes unpack losslessly on the way in (``sq_unpack_np``
        is the codec's own bit-exact inverse)."""
        from .operators.sq import sq_unpack_np

        width = self.sa_code_size
        rows = [bytes(c) for c in codes]
        for c in rows:
            if len(c) != width:
                raise ValueError(
                    f"add_sa_codes: expected {width}-byte codes "
                    f"(sa_code_size), got {len(c)}"
                )
        if not rows:
            return self
        unpacked = sq_unpack_np(
            np.stack([np.frombuffer(c, np.uint8) for c in rows]),
            self.d, self.bits,
        )
        ids = self._new_ids(ids, len(rows), "code")
        pdf = pd.DataFrame(
            {"id": ids, "code": [row.astype(int).tolist() for row in unpacked]}
        )
        _append_frame(
            self, "codes",
            self.spark.createDataFrame(pdf, schema="id long, code array<int>"),
        )
        return self

    def sa_decode(self, codes) -> np.ndarray:
        """n packed byte strings → (n, d) FP32: r = vmin + code·Δ/L."""
        from .operators.sq import sq_decode_np, sq_unpack_np

        rows = [np.frombuffer(c, dtype=np.uint8) for c in codes]
        if not rows:
            return np.zeros((0, self.d), dtype=np.float32)
        unpacked = sq_unpack_np(np.stack(rows), self.d, self.bits)
        return sq_decode_np(
            unpacked, self.vmin, self.vmax, self.bits, direct=self.direct
        ).astype(np.float32)


@dataclass
class BinaryIndex(_ListTier):
    """Sign-bit tier derived from a VectorTable: 1 bit/dim
    packed words, Hamming search, optional exact-rescore refine against
    the SOURCE table's full vectors."""

    _kind = "binary"
    _frame = "words"

    spark: SparkSession
    d: int
    words: DataFrame
    _source: DataFrame = field(repr=False, default=None)
    _n: int = field(default=-1, repr=False)

    @classmethod
    def from_table(cls, vt) -> "BinaryIndex":
        base = _float_view(vt)
        return cls(vt.spark, vt.d, None, base)._fill(base)

    def _encode_df(self, rows: DataFrame) -> DataFrame:
        from .operators.binary import binarize

        return binarize(rows, self.d)

    def search(self, queries: DataFrame, k: int) -> DataFrame:
        from .operators.binary import hamming_knn

        return hamming_knn(self.words, queries, k, self.d, vec_col="words", packed=True)

    def range_search(self, queries: DataFrame, radius: int) -> DataFrame:
        """faiss ``IndexBinaryFlat::range_search``: Hamming distance
        STRICTLY below ``radius`` (integer distances); (qid, label,
        distance: long), unordered."""
        from .operators.binary import hamming_range_search

        return hamming_range_search(
            self.words, queries, radius, self.d, vec_col="words", packed=True
        )

    def refine_search_numpy(
        self, x: np.ndarray, k: int, refine_factor: int = 4
    ) -> tuple[np.ndarray, np.ndarray]:
        """Hamming prefilter + exact L2 rescore against the source
        table's full vectors (IndexBinaryFlat → IndexRefineFlat)."""
        from .operators.binary import hamming_refine

        res = hamming_refine(
            self._source, _query_df(self.spark, x), k, self.d,
            refine_factor=refine_factor,
        )
        return _host_result(res, len(np.atleast_2d(x)), k)



@dataclass
class BinaryIVFIndex(_MergeTier):
    """Binary inverted-file tier — faiss ``IndexBinaryIVF``
    (``index_binary_factory("BIVF<n>")``): packed sign-bit words
    clustered under a HAMMING coarse quantizer (binarized k-means
    centroids — faiss trains its binary quantizer the same way:
    float k-means on casts, then binarize), probe the nprobe
    Hamming-nearest cells, exact Hamming top-k within.

    Everything after centroid training is Catalyst integer arithmetic
    (``operators/binary.py`` — assignment, probe ranking and in-cell
    distance are struct-array expressions), so the tier is
    engine-exact and the full-probe answer is value-identical to the
    flat :class:`BinaryIndex` (pinned by test). Words persist
    ``partitionBy("cell")`` via ``write_index``; the probe join is an
    equi-join on ``cell``, so partitioned stores get dynamic partition
    pruning."""

    _kind = "bivf"
    _frame = "words"
    _partition = "cell"

    spark: SparkSession
    d: int
    centroid_words: np.ndarray
    words: DataFrame
    _n: int = field(default=-1, repr=False)

    def __post_init__(self):
        # packed sign words are integers (< 2^32: exact through the
        # float64 array store of write_index)
        self.centroid_words = np.asarray(self.centroid_words, np.int64)

    @classmethod
    def from_table(
        cls,
        vt,
        n_cells: int,
        sample_size: int = 16384,
        iters: int = 10,
    ) -> "BinaryIVFIndex":
        from .operators.binary import binarize_np
        from .operators.similarity import ivf_train_centroids

        base = _float_view(vt)
        C = ivf_train_centroids(base, n_cells, sample_size=sample_size, iters=iters)
        return cls(vt.spark, vt.d, binarize_np(C), None)._fill(base)

    def _encode_df(self, rows: DataFrame) -> DataFrame:
        """Sign-pack, then assign against the Hamming quantizer."""
        from .operators.binary import binarize, binary_ivf_assign

        return binary_ivf_assign(binarize(rows, self.d), self.centroid_words)

    @property
    def nlist(self) -> int:
        return len(self.centroid_words)

    def search(self, queries: DataFrame, k: int, nprobe: int = 8) -> DataFrame:
        from .operators.binary import binary_ivf_search

        return binary_ivf_search(
            self.words, self.centroid_words, queries, k, nprobe, self.d
        )

    def range_search(
        self, queries: DataFrame, radius: int, nprobe: int = 8
    ) -> DataFrame:
        """faiss ``IndexBinaryIVF::range_search``: the Hamming radius
        filter over the probed cells — full probe ≡ the flat
        :meth:`BinaryIndex.range_search` exactly (integer distances)."""
        from .operators.binary import binary_ivf_range_search

        return binary_ivf_range_search(
            self.words, self.centroid_words, queries, radius, nprobe, self.d
        )

    def _trained_state(self) -> tuple:
        """Identical binary (Hamming) coarse centroids."""
        return (self.d, self.centroid_words)


@dataclass
class IVFIndex(_RangePreassigned):
    """Coarse-quantized tier derived from a VectorTable: k-means cells,
    cell-pruned exact search within probed cells (IndexIVFFlat built by
    ``train``/``add`` from a flat index's vectors). ``assigned`` is the
    inverted file — (table columns + cell); persisting it via
    ``write_index`` keeps the ``partitionBy("cell")`` layout, so probes
    prune partitions at scan time after reload."""

    _kind = "ivf"
    _frame = "assigned"

    spark: SparkSession
    d: int
    metric: str
    centroids: np.ndarray
    assigned: DataFrame
    _n: int = field(default=-1, repr=False)
    # faiss IndexHNSWFlat-as-coarse-quantizer (factory
    # "IVF<n>_HNSW<M>,Flat"; operators/coarse.py) — when set, add-time
    # assignment AND probe selection run its beam search instead of
    # the exact argmin, so per-vector coarse cost is nlist-independent
    quantizer: object = field(default=None, repr=False)

    @classmethod
    def from_table(
        cls,
        vt,
        n_cells: int,
        sample_size: int = 16384,
        iters: int = 10,
        coarse_hnsw_m: int | None = None,
        coarse_kw: dict | None = None,
    ) -> "IVFIndex":
        """``coarse_hnsw_m`` (r12): build the coarse quantizer as a
        beam-searched centroid graph with degree M (the faiss
        ``IVF<n>_HNSW<M>`` recipe) — assignment becomes approximate
        exactly as in faiss; ``coarse_kw`` forwards beam/rounds/expand/
        seed to :meth:`HNSWCoarseQuantizer.train`."""
        base = _float_view(vt)
        C, q = _coarse(vt, base, n_cells, sample_size, iters, coarse_hnsw_m, coarse_kw)
        return cls(vt.spark, vt.d, vt.metric, C, None, quantizer=q)._fill(base)

    def _encode_df(self, rows: DataFrame) -> DataFrame:
        """Assign against the coarse quantizer (IVF,Flat stores the
        vectors themselves)."""
        from .operators.similarity import ivf_assign

        return ivf_assign(rows, self.centroids, assigner=self.quantizer)

    def _decode(self):
        return _float_rows

    def range_search(
        self, queries: DataFrame, radius: float, nprobe: int = 8, sel=None
    ) -> DataFrame:
        """faiss ``IndexIVF::range_search`` (see the base) with ``sel``
        ≙ faiss ``SearchParametersIVF::sel``."""
        return self._scan(
            queries, nprobe, self._probe_cells(nprobe), sel=sel, radius=radius
        )

    def _trained_state(self) -> tuple:
        """Identical coarse quantizer (centroids, metric, graph)."""
        return (self.d, self.metric, self.centroids, *_coarse_state(self.quantizer))

    def update_vectors(self, ids, x: np.ndarray) -> "IVFIndex":
        """≙ faiss ``IndexIVFFlat::update_vectors(n, idx, x)``: replace
        the stored vectors of EXISTING ids in place — each replacement
        is re-assigned against the FROZEN coarse quantizer (an update
        may move an entry to a different inverted list, exactly as
        faiss removes from the old list and appends to the new one).
        Ids keep their labels; absent ids raise KeyError (faiss asserts
        via the direct map). ntotal is unchanged."""
        from .operators.similarity import ivf_assign

        x = np.atleast_2d(np.asarray(x, dtype=np.float32))
        ids_arr = np.asarray(ids, dtype=np.int64).ravel()
        if len(ids_arr) != len(x):
            raise ValueError("ids length must match vector count")
        if len(np.unique(ids_arr)) != len(ids_arr):
            raise ValueError("duplicate ids in one update batch")
        if len(x) and x.shape[1] != self.d:
            raise ValueError(f"expected d={self.d}, got {x.shape[1]}")
        if len(x) == 0:
            return self
        batch = [int(i) for i in ids_arr]
        present = self.assigned.where(F.col("id").isin(batch)).count()
        if present != len(batch):
            raise KeyError(
                f"update_vectors: {len(batch) - present} id(s) not in index"
            )
        new = ivf_assign(
            self.spark.createDataFrame(
                pd.DataFrame({"id": ids_arr, "vec": [v.tolist() for v in x]}),
                schema="id long, vec array<float>",
            ),
            self.centroids,
        )
        old = self.assigned
        updated = _drop_ids(old, ids_arr).unionByName(new).persist()
        self._n = updated.count()
        old.unpersist()
        self.assigned = updated
        return self


@dataclass
class IVFFlatDedupIndex(_ListTier):
    """≙ faiss ``IndexIVFFlatDedup`` (``index_factory("IVF<n>,
    FlatDedup")``): an IVF,Flat tier that stores each DISTINCT vector
    once and keeps the duplicate ids in a side map — faiss's answer to
    corpora with many exact-duplicate embeddings, where storing every
    copy wastes list space and scan time.

    Layout (Spark-first twin of faiss's ``instances`` multimap):

    - ``assigned``  — (id, vec, cell), ONE row per distinct vector;
      ``id`` is the group representative = min external id of the
      duplicate set (deterministic, unlike faiss's insertion-order
      pick).
    - ``instances`` — (id, dup_id): the NON-representative duplicate
      ids, keyed by their representative.

    Search scans only distinct vectors (the whole point at scale:
    a 100 TB corpus with 3× exact duplication scores 1/3 of the rows),
    then expands each stored hit to its duplicate ids at the same
    distance and re-ranks — faiss ``IndexIVFFlatDedup::search``'s
    duplicate-replacement post-pass. With the engine-wide
    (distance, label) tie order and min-id representatives, the
    expansion is EXACT: the result equals a top-k over the logical
    (duplicated) corpus, not just an approximation of it (proof: any
    logical top-k member's representative must itself rank within the
    stored top-k, because every stored rep preceding it is also a
    preceding logical element).

    ``ntotal`` counts stored distinct rows (faiss likewise tracks the
    deduplicated storage; the duplicates live only in the side map) —
    ``n_instances`` / ``n_logical`` expose the rest. ``update_vectors``
    and ``reconstruct`` are unsupported, as in faiss
    (IndexIVFFlatDedup.h: "does not support reconstruct").
    """

    _kind = "ivf_dedup"
    _frame = "assigned"
    _partition = "cell"

    spark: SparkSession
    d: int
    metric: str
    centroids: np.ndarray
    assigned: DataFrame
    instances: DataFrame
    _n: int = field(default=-1, repr=False)
    _n_inst: int = field(default=-1, repr=False)

    @classmethod
    def from_table(
        cls,
        vt,
        n_cells: int,
        sample_size: int = 16384,
        iters: int = 10,
    ) -> "IVFFlatDedupIndex":
        from .operators.similarity import ivf_assign, ivf_train_centroids

        base = _float_view(vt)
        C = ivf_train_centroids(base, n_cells, sample_size=sample_size, iters=iters)
        reps, inst = cls._dedup_rows(base)
        assigned = ivf_assign(reps, C).persist()
        n = assigned.count()
        inst = inst.persist()
        n_inst = inst.count()
        return cls(vt.spark, vt.d, vt.metric, C, assigned, inst, n, n_inst)

    @staticmethod
    def _dedup_rows(rows: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(representatives, instances) of an (id, vec) frame: shuffle
        on ``xxhash64(vec)`` — an 8-byte key instead of the d·4-byte
        raw array (``dedup.py``'s digest shape) — with array equality
        verified inside the group: the digest only ROUTES rows, it is
        never trusted (colliding distinct vectors stay distinct because
        ``vec`` remains in the grouping/join verify). The digest
        repartition already satisfies the grouped distribution, so the
        verify costs no extra exchange (one shuffle for reps, one
        8-byte-keyed join for instances). Rep = min id."""
        keyed = rows.withColumn("_dig", F.xxhash64("vec")).repartition("_dig")
        reps = keyed.groupBy("_dig", "vec").agg(F.min("id").alias("id"))
        inst = (
            keyed.join(
                reps.select(
                    "_dig",
                    F.col("vec").alias("_rvec"),
                    F.col("id").alias("_rep"),
                ),
                "_dig",
            )
            .where((F.col("vec") == F.col("_rvec")) & (F.col("id") != F.col("_rep")))
            .select(F.col("_rep").alias("id"), F.col("id").alias("dup_id"))
        )
        return reps.select("id", "vec"), inst

    nlist = _IVF.nlist

    @property
    def n_instances(self) -> int:
        return self._n_inst if self._n_inst >= 0 else self.instances.count()

    @property
    def n_logical(self) -> int:
        """All ids the index answers for: stored reps + duplicates."""
        return self.ntotal + self.n_instances

    def search(self, queries: DataFrame, k: int, nprobe: int = 8) -> DataFrame:
        """Top-k over the LOGICAL corpus: stored-distinct IVF top-k,
        duplicate expansion (same distance as the representative),
        re-rank — one broadcast join on the nq·k hit set; the
        instances map is joined hit-side, never scanned per query."""
        from .operators.knn import _finalize
        from .operators.similarity import ivf_search

        hits = (
            ivf_search(
                self.assigned, self.centroids, queries, k, nprobe,
                metric=self.metric,
            )
            .where(F.col("label") >= 0)
            .select("qid", "label", "distance")
        )
        dups = (
            F.broadcast(hits)
            .join(
                self.instances.select(
                    F.col("id").alias("label"), F.col("dup_id")
                ),
                "label",
            )
            .select("qid", F.col("dup_id").alias("label"), "distance")
        )
        qq = queries.select(F.col("qid").cast("long").alias("qid"))
        return _finalize(qq, hits.unionByName(dups), k, self.metric)

    def add_df(
        self, df: DataFrame, id_col: str = "id", vec_col: str = "vec"
    ) -> "IVFFlatDedupIndex":
        """faiss ``IndexIVFFlatDedup::add_with_ids``: new rows dedup
        against the EXISTING stored vectors (cell + digest equi-join
        with array-equality verify — the coarse assign localizes the
        check as in faiss, the 8-byte digest keys the shuffle) and
        among themselves; only genuinely new distinct vectors enter
        the inverted file.

        The class invariant ``rep = min external id of the duplicate
        set`` — which the exactness-under-ties proof in the class
        docstring depends on — is RE-ELECTED here: when an incoming
        duplicate carries a smaller id than the stored representative,
        the stored row is relabeled to the new id and the old rep
        demoted into the instances map (its surviving instances
        relabel with it)."""
        from .operators.similarity import ivf_assign

        new = ivf_assign(_ivf_add_rows(df, id_col, vec_col), self.centroids)
        new = new.withColumn("_dig", F.xxhash64("vec"))
        ex = self.assigned.select(
            "cell",
            F.xxhash64("vec").alias("_dig"),
            F.col("vec").alias("_evec"),
            F.col("id").alias("_rep"),
        )
        # a new row equals AT MOST ONE stored vector (stored reps are
        # distinct), so the verified hit set has one row per dup id;
        # digest collisions only add non-hit join rows, filtered here
        m = new.join(ex, ["cell", "_dig"], "left")
        dup_pairs = m.where(
            F.col("_evec").isNotNull() & (F.col("vec") == F.col("_evec"))
        ).select("_rep", F.col("id").alias("dup_id"))
        fresh = new.join(
            dup_pairs.select(F.col("dup_id").alias("id")), "id", "left_anti"
        ).select("id", "vec", "cell", "_dig")

        # --- representative re-election (rep = min id, always) ---
        grp = dup_pairs.groupBy("_rep").agg(F.min("dup_id").alias("_mind"))
        promo = grp.where(F.col("_mind") < F.col("_rep"))  # old rep → new rep
        new_rep = grp.select(
            "_rep", F.least("_rep", "_mind").alias("_newrep")
        )
        inst_from_dups = (
            dup_pairs.join(new_rep, "_rep")
            .where(F.col("dup_id") != F.col("_newrep"))
            .select(F.col("_newrep").alias("id"), "dup_id")
        )
        demoted = promo.select(
            F.col("_mind").alias("id"), F.col("_rep").alias("dup_id")
        )

        # --- intra-batch dedup of the fresh rows (digest-keyed) ---
        freshk = fresh.repartition("_dig")
        reps = freshk.groupBy("_dig", "vec").agg(
            F.min("id").alias("id"), F.first("cell").alias("cell")
        )
        intra = (
            freshk.join(
                reps.select(
                    "_dig", F.col("vec").alias("_rvec"), F.col("id").alias("_r")
                ),
                "_dig",
            )
            .where((F.col("vec") == F.col("_rvec")) & (F.col("id") != F.col("_r")))
            .select(F.col("_r").alias("id"), F.col("id").alias("dup_id"))
        )

        old = self.assigned
        relabel = promo.select(F.col("_rep").alias("id"), "_mind")
        new_assigned = (
            old.join(relabel, "id", "left")
            .select(F.coalesce("_mind", "id").alias("id"), "vec", "cell")
            .unionByName(reps.select("id", "vec", "cell"))
            .persist()
        )
        self._n = new_assigned.count()
        old_inst = self.instances
        # surviving instances of a promoted group follow the new rep
        new_inst = (
            old_inst.join(relabel, "id", "left")
            .select(F.coalesce("_mind", "id").alias("id"), "dup_id")
            .unionByName(inst_from_dups)
            .unionByName(demoted)
            .unionByName(intra)
            .persist()
        )
        self._n_inst = new_inst.count()
        old.unpersist()
        old_inst.unpersist()
        self.assigned = new_assigned
        self.instances = new_inst
        return self

    def add_numpy(self, x: np.ndarray, ids=None) -> "IVFFlatDedupIndex":
        """Host-side add; ``ids=None`` continues from max(known id)+1
        across BOTH stored reps and duplicate instances (an instance id
        is as taken as a stored one)."""
        x = np.atleast_2d(np.asarray(x, dtype=np.float32))
        if ids is None and len(x):
            hi = self.assigned.agg(F.max("id")).first()[0]
            hi_i = self.instances.agg(F.max("dup_id")).first()[0]
            start = max(
                [v for v in (hi, hi_i) if v is not None], default=-1
            ) + 1
            ids = np.arange(start, start + len(x), dtype=np.int64)
        return self.add_df(
            self.spark.createDataFrame(
                pd.DataFrame(
                    {"id": np.asarray(ids, np.int64), "vec": [v.tolist() for v in x]}
                ),
                schema="id long, vec array<float>",
            )
        )

    def remove_ids(self, ids) -> int:
        """faiss ``IndexIVFFlatDedup::remove_ids``: removing a
        duplicate instance only shrinks the side map; removing a
        REPRESENTATIVE that still has instances promotes the smallest
        surviving duplicate to representative (faiss swaps an instance
        id into the list entry) — the stored vector is dropped only
        when its whole duplicate set is gone. Returns ids removed.

        Selectors (IDSelectorRange / combinators — faiss passes an
        ``IDSelector&`` here too) resolve to the matching LOGICAL ids
        (representatives ∪ instances) with one predicate scan; the
        promotion bookkeeping needs the explicit set, so a selector
        matching more than 100k logical ids refuses with chunking
        guidance, like the flat table's combinator path. A bare
        2-tuple is refused (the SearchParams.sel range ambiguity)."""
        from .vector_table import _SEL_COMBINATORS, _sel_predicate
        from .vector_table import IDSelectorRange as _SelRange

        if isinstance(ids, tuple) and len(ids) == 2:
            raise TypeError(
                "remove_ids: a bare 2-tuple is ambiguous (it means a "
                "range in SearchParams.sel) — pass remove_ids([a, b]) "
                "or IDSelectorRange(lo, hi)"
            )
        if isinstance(ids, (_SelRange,) + _SEL_COMBINATORS):
            pred = _sel_predicate(ids)
            logical = (
                self.assigned.select("id")
                .unionByName(self.instances.select(F.col("dup_id").alias("id")))
                .where(pred)
                .limit(100_001)
                .collect()
            )
            if len(logical) > 100_000:
                raise ValueError(
                    "remove_ids: selector matches >100k logical ids — "
                    "the dedup promotion bookkeeping needs the explicit "
                    "set; remove in smaller range chunks instead"
                )
            ids = [r["id"] for r in logical]
            if not ids:
                return 0
        batch = sorted({int(i) for i in np.atleast_1d(np.asarray(ids, np.int64))})
        if not batch:
            return 0
        inst = self.instances
        removed_inst = inst.where(F.col("dup_id").isin(batch)).count()
        inst2 = inst.where(~F.col("dup_id").isin(batch))
        # promotion map for removed reps that still have survivors
        promo = (
            inst2.where(F.col("id").isin(batch))
            .groupBy("id")
            .agg(F.min("dup_id").alias("_new"))
        )
        old = self.assigned
        removed_reps = old.where(F.col("id").isin(batch)).count()
        kept = old.where(~F.col("id").isin(batch))
        promoted = (
            old.where(F.col("id").isin(batch))
            .join(F.broadcast(promo), "id")
            .select(F.col("_new").alias("id"), "vec", "cell")
        )
        new_assigned = kept.unionByName(promoted).persist()
        # relabel surviving instances of promoted groups; drop the
        # promoted id's own instance row
        new_inst = (
            inst2.join(F.broadcast(promo), "id", "left")
            .select(
                F.coalesce("_new", "id").alias("id"),
                "dup_id",
            )
            .where(F.col("id") != F.col("dup_id"))
            .persist()
        )
        self._n = new_assigned.count()
        self._n_inst = new_inst.count()
        old.unpersist()
        inst.unpersist()
        self.assigned = new_assigned
        self.instances = new_inst
        return removed_reps + removed_inst

    def reconstruct(self, key: int) -> np.ndarray:
        raise NotImplementedError(
            "IndexIVFFlatDedup does not support reconstruct (faiss "
            "IndexIVFFlatDedup.h) — duplicate ids do not map back to "
            "list entries"
        )

    def range_search(self, *a, **kw):
        raise NotImplementedError(
            "IndexIVFFlatDedup does not support range_search (faiss "
            "IndexIVFFlatDedup.h 'not implemented') — the duplicate "
            "expansion has no bounded result-size contract"
        )

    def update_vectors(self, *a, **kw):
        raise NotImplementedError(
            "IndexIVFFlatDedup does not support update_vectors (faiss "
            "IndexIVFFlatDedup.h) — an update can split a duplicate "
            "group; remove_ids + add is the supported path"
        )


@dataclass
class IVFSQIndex(_RangePreassigned):
    """IVF cells over scalar-quantized codes — faiss
    ``IndexIVFScalarQuantizer`` (``index_factory("IVF<n>,SQ8")``):
    k-means coarse cells, b-bit SQ codes stored IN the inverted lists,
    asymmetric search (exact query vs decoded codes) within probed
    cells. The reference's flat index has neither tier
    (/root/reference/include/faiss-metal/MetalIndexFlat.h:47); this is
    the standard faiss memory/recall point between IVF,Flat (4 bytes/
    dim) and IVF,PQ (sub-byte/dim).

    One SQ range train serves the whole corpus (faiss trains the
    ScalarQuantizer on the train set once, not per-list); codes persist
    ``partitionBy("cell")`` via ``write_index`` so probes prune
    partitions at scan time, exactly like :class:`IVFIndex`. With
    nprobe = nlist the result is value-identical to the flat
    :class:`SQ8Index` over the same ranges (pinned by test)."""

    _kind = "ivfsq"
    _frame = "codes"

    spark: SparkSession
    d: int
    metric: str
    centroids: np.ndarray
    vmin: np.ndarray
    vmax: np.ndarray
    codes: DataFrame
    _n: int = field(default=-1, repr=False)
    bits: int = 8
    # graph coarse quantizer (factory "IVF<n>_HNSW<M>,SQ8") — see
    # IVFIndex.quantizer
    quantizer: object = field(default=None, repr=False)

    @classmethod
    def from_table(
        cls,
        vt,
        n_cells: int,
        bits: int = 8,
        sample_size: int = 16384,
        iters: int = 10,
        coarse_hnsw_m: int | None = None,
        coarse_kw: dict | None = None,
        uniform: bool = False,
    ) -> "IVFSQIndex":
        """``uniform`` (r13): one shared (vmin, vmax) across dims —
        faiss ``IVF<n>,SQ8_uniform``; constant trained arrays, every
        downstream path unchanged (the SQ8Index uniform discipline)."""
        from .operators.sq import sq_train

        base = _float_view(vt)
        vmin, vmax = sq_train(base, uniform=uniform)
        C, q = _coarse(vt, base, n_cells, sample_size, iters, coarse_hnsw_m, coarse_kw)
        return cls(
            vt.spark, vt.d, vt.metric, C, vmin, vmax, None, bits=bits,
            quantizer=q,
        )._fill(base)

    def _encode_df(self, rows: DataFrame) -> DataFrame:
        """One scan: cell assignment (Arrow stage) then the Catalyst
        SQ encode projection — vectors never leave the executors."""
        from .operators.similarity import ivf_assign
        from .operators.sq import sq_code_col

        return ivf_assign(rows, self.centroids, assigner=self.quantizer).select(
            F.col("id").cast("long").alias("id"),
            sq_code_col("vec", self.vmin, self.vmax, self.bits).alias("code"),
            "cell",
        )

    def _decode(self):
        return _sq_decoder(self.vmin, self.vmax, self.bits)

    def _trained_state(self) -> tuple:
        """Identical coarse quantizer AND SQ range/width (codes must decode
        the same on both sides)."""
        return (
            self.d, self.metric, self.centroids, self.vmin, self.vmax, self.bits,
            *_coarse_state(self.quantizer),
        )


@dataclass
class IVFPQIndex(_Preassigned):
    """IVF + product-quantized residuals (IndexIVFPQ): m-byte codes,
    per-cell ADC against broadcast query LUTs, L2 only. Codes persist
    ``partitionBy("cell")`` — the inverted-list layout — via
    ``write_index``."""

    _kind = "ivfpq"
    _frame = "codes"

    spark: SparkSession
    d: int
    centroids: np.ndarray
    codebooks: np.ndarray
    codes: DataFrame
    _n: int = field(default=-1, repr=False)
    # graph coarse quantizer (factory "IVF<n>_HNSW<M>,PQ<m>") — see
    # IVFIndex.quantizer
    quantizer: object = field(default=None, repr=False)

    @classmethod
    def from_table(
        cls,
        vt,
        n_cells: int,
        m: int,
        sample_size: int = 16384,
        iters: int = 10,
        nbits: int = 8,
        coarse_hnsw_m: int | None = None,
        coarse_kw: dict | None = None,
    ) -> "IVFPQIndex":
        """``nbits`` = residual-code width (faiss ``IVF<n>,PQ<m>x<b>``);
        ``coarse_hnsw_m`` (r12) = the graph-coarse-quantizer recipe
        (``IVF<n>_HNSW<M>,PQ<m>``) — see :meth:`IVFIndex.from_table`."""
        from .operators.pq import _check_nbits, train_books_np
        from .operators.similarity import _ivf_prologue

        base = _float_view(vt)
        C, q = _coarse(vt, base, n_cells, sample_size, iters, coarse_hnsw_m, coarse_kw)
        _, _, R = _ivf_prologue(
            base, n_cells, sample_size=sample_size, centroids=C, assigner=q
        )
        books = train_books_np(R, m, iters, ksub=_check_nbits(nbits))
        return cls(vt.spark, vt.d, C, books, None, quantizer=q)._fill(base)

    def _encode_df(self, rows: DataFrame) -> DataFrame:
        """Assign against the coarse quantizer, PQ-encode the residual."""
        from .operators.pq import ivfpq_encode
        from .operators.similarity import ivf_assign

        return ivfpq_encode(
            ivf_assign(rows, self.centroids, assigner=self.quantizer),
            self.centroids, self.codebooks,
        )

    def _decode(self):
        """centroid(cell) + decoded residual code."""
        from .operators.pq import pq_decode_np

        C, books = self.centroids, self.codebooks
        return lambda pdf: C[_cells(pdf)] + pq_decode_np(_codes(pdf), books)

    def _kernel(self, ht: int | None = None):
        from .operators.pq import pq_scan

        return pq_scan(self.centroids, self.codebooks, ht=ht)

    @property
    def nbits(self) -> int:
        return int(self.codebooks.shape[1]).bit_length() - 1

    def polysemous_train(
        self, n_iter: int = 30_000, seed: int = 123
    ) -> "IVFPQIndex":
        """faiss IndexIVFPQ polysemous training: the RESIDUAL
        codebooks reorder and the stored residual codes relabel
        together (cell column rides through untouched, so the
        inverted-file partitioning survives); enables
        ``search(..., ht=)`` — the in-cell Hamming gate."""
        from .operators.polysemous import apply_polysemous, polysemous_train_books

        perms = polysemous_train_books(self.codebooks, n_iter=n_iter, seed=seed)
        new_books, new_codes = apply_polysemous(
            self.codebooks, self.codes, perms, extra_cols=("cell",)
        )
        new_codes = new_codes.persist()
        self._n = new_codes.count()
        old = self.codes
        self.codebooks = new_books
        self.codes = new_codes
        old.unpersist()
        return self

    def search(
        self, queries: DataFrame, k: int, nprobe: int = 8,
        ht: int | None = None, sel=None, max_codes: int | None = None,
    ) -> DataFrame:
        """faiss ``IndexIVF::search`` (see the base) plus ``ht``: the
        polysemous in-cell Hamming gate (see ``ivfpq_search``)."""
        return self._scan(
            queries, nprobe, self._probe_cells(nprobe), sel=sel,
            kernel=self._kernel(ht), k=k, max_codes=max_codes,
        )

    def _trained_state(self) -> tuple:
        """Identical coarse quantizer AND codebooks (codes are meaningless
        under a different ADC table)."""
        return (self.d, self.centroids, self.codebooks, *_coarse_state(self.quantizer))


@dataclass
class IVFPQRIndex(_IVF):
    """IVFPQ + refine PQ re-rank — faiss ``IndexIVFPQR``
    (``index_factory("IVF<n>,PQ<m>+<m2>")``): the first PQ encodes the
    cell residual, a second ``m_refine``-byte PQ encodes what the first
    one missed, and search re-ranks the IVFPQ ADC candidates on the
    two-level reconstruction. Storage is m+m_refine bytes/vector; the
    re-rank touches only nq·k·k_factor candidate rows (broadcast
    semi-join — the code table never shuffles). L2 only, read-only
    derived tier like the other compressed kinds."""

    _kind = "ivfpqr"
    _frame = "codes"

    spark: SparkSession
    d: int
    centroids: np.ndarray
    codebooks: np.ndarray
    refine_books: np.ndarray
    codes: DataFrame
    _n: int = field(default=-1, repr=False)

    @classmethod
    def from_table(
        cls,
        vt,
        n_cells: int,
        m: int,
        m_refine: int | None = None,
        sample_size: int = 16384,
        iters: int = 10,
    ) -> "IVFPQRIndex":
        from .operators.pq import _pqr_train_np
        from .operators.similarity import _ivf_prologue

        # faiss IndexIVFPQR default: refine PQ has the same m unless told
        m_refine = m if m_refine is None else int(m_refine)
        base = _float_view(vt)
        C, _, R = _ivf_prologue(base, n_cells, sample_size=sample_size, iters=iters)
        books, rbooks = _pqr_train_np(R, m, m_refine, iters)
        return cls(vt.spark, vt.d, C, books, rbooks, None)._fill(base)

    def _encode_df(self, rows: DataFrame) -> DataFrame:
        """Assign, then the two-level residual encode."""
        from .operators.pq import ivfpqr_encode
        from .operators.similarity import ivf_assign

        return ivfpqr_encode(
            ivf_assign(rows, self.centroids), self.centroids,
            self.codebooks, self.refine_books,
        )

    def _decode(self):
        """centroid(cell) + decode1(code) + decode2(code2) — the
        refine-augmented reconstruction (``IndexIVFPQR`` reconstructs
        through both quantizers)."""
        from .operators.pq import pq_decode_np

        C, books, rbooks = self.centroids, self.codebooks, self.refine_books
        return lambda pdf: (
            C[_cells(pdf)]
            + pq_decode_np(_codes(pdf), books)
            + pq_decode_np(_codes(pdf, "code2"), rbooks)
        )

    def search(
        self, queries: DataFrame, k: int, nprobe: int = 8, k_factor: int = 4
    ) -> DataFrame:
        from .operators.pq import ivfpqr_search

        return ivfpqr_search(
            self.codes, self.centroids, self.codebooks, self.refine_books,
            queries, k, nprobe, k_factor,
        )

    def _trained_state(self) -> tuple:
        """Identical coarse quantizer AND both codebooks."""
        return (self.d, self.centroids, self.codebooks, self.refine_books)


@dataclass
class OPQIndex(_Decoded, _ListTier):
    """Learned-rotation PQ (IndexPreTransform(OPQMatrix, IndexPQ)):
    queries rotate once on the broadcast side, ADC runs in rotated
    space (operators/opq.py, Ge et al. 2013)."""

    _kind = "opq"
    _frame = "codes"

    spark: SparkSession
    d: int
    rotation: np.ndarray
    codebooks: np.ndarray
    codes: DataFrame
    _n: int = field(default=-1, repr=False)

    @classmethod
    def from_table(
        cls,
        vt,
        m: int,
        iters: int = 8,
        sample_size: int = 16384,
        nbits: int = 8,
    ) -> "OPQIndex":
        from .operators.opq import opq_train

        base = _float_view(vt)
        R, books = opq_train(
            base, m, iters=iters, sample_size=sample_size, nbits=nbits
        )
        return cls(vt.spark, vt.d, R, books, None)._fill(base)

    def _encode_df(self, rows: DataFrame) -> DataFrame:
        """Rotate with the learned R, PQ-encode (``IndexPreTransform``)."""
        from .operators.opq import opq_encode

        return opq_encode(rows, self.rotation, self.codebooks)

    def _decode(self):
        """Codeword concatenation rotated back to input space:
        decode(code) @ R (``IndexPreTransform::reconstruct`` applies
        the OPQ matrix's reverse transform)."""
        from .operators.pq import pq_decode_np

        books, R = self.codebooks, self.rotation
        return lambda pdf: pq_decode_np(_codes(pdf), books) @ R

    def polysemous_train(
        self, n_iter: int = 30_000, seed: int = 123
    ) -> "OPQIndex":
        """Polysemous training composes through the pre-transform
        (faiss wraps IndexPQ, whose polysemous state is
        rotation-oblivious): the codeword reorder + code relabel run
        in rotated space exactly as on :class:`PQIndex` — every
        distance-visible quantity is unchanged."""
        from .operators.polysemous import apply_polysemous, polysemous_train_books

        perms = polysemous_train_books(self.codebooks, n_iter=n_iter, seed=seed)
        new_books, new_codes = apply_polysemous(self.codebooks, self.codes, perms)
        new_codes = new_codes.persist()
        self._n = new_codes.count()
        old = self.codes
        self.codebooks = new_books
        self.codes = new_codes
        old.unpersist()
        return self

    def search(
        self, queries: DataFrame, k: int, ht: int | None = None
    ) -> DataFrame:
        from .operators.opq import opq_rotate, opq_search

        if ht is not None:
            from .operators.polysemous import polysemous_search

            # rotate the (broadcast-side) queries once, then the PQ
            # polysemous machinery runs unchanged in rotated space
            rq = opq_rotate(
                queries.select(F.col("qid").alias("id"), F.col("vec")),
                self.rotation,
            ).select(F.col("id").alias("qid"), "vec")
            return polysemous_search(
                self.codes, self.codebooks, rq, k, ht=int(ht)
            )
        return opq_search(self.codes, self.rotation, self.codebooks, queries, k)

    def range_search(self, queries: DataFrame, radius: float) -> DataFrame:
        """ADC radius filter in rotated space — ``IndexPreTransform``
        forwards range_search; L2 is rotation-invariant so the radius
        is unchanged by the transform."""
        from .operators.opq import opq_range_search

        return opq_range_search(
            self.codes, self.rotation, self.codebooks, queries, radius
        )



@dataclass
class PQIndex(_AddCodes):
    """Plain product quantization (IndexPQ): m-byte codes over the whole
    vector (no coarse quantizer), ADC search via broadcast LUTs."""

    _kind = "pq"
    _frame = "codes"
    _code_schema = "id long, code binary"

    spark: SparkSession
    d: int
    codebooks: np.ndarray
    codes: DataFrame
    _n: int = field(default=-1, repr=False)

    @classmethod
    def from_table(
        cls,
        vt,
        m: int,
        iters: int = 10,
        sample_size: int = 16384,
        nbits: int = 8,
    ) -> "PQIndex":
        """``nbits`` = code width per subspace (faiss ``PQ<m>x<b>``,
        1..8); the codebook shape carries it everywhere downstream."""
        from .operators.pq import pq_train

        base = _float_view(vt)
        books = pq_train(
            base, m, iters=iters, sample_size=sample_size, nbits=nbits
        )
        return cls(vt.spark, vt.d, books, None)._fill(base)

    def _encode_df(self, rows: DataFrame) -> DataFrame:
        from .operators.pq import pq_encode

        return pq_encode(rows, self.codebooks)

    def _encode_np(self, x: np.ndarray) -> np.ndarray:
        """:func:`~.operators.pq.pq_assign_np` — the exact assignment
        ``pq_encode`` stores, by construction."""
        from .operators.pq import pq_assign_np

        return pq_assign_np(x, self.codebooks)

    def _decode(self):
        """Codeword concatenation (``IndexPQ::reconstruct``)."""
        from .operators.pq import pq_decode_np

        books = self.codebooks
        return lambda pdf: pq_decode_np(_codes(pdf), books)

    @property
    def nbits(self) -> int:
        """Code width per subspace, read back from the codebook shape."""
        return int(self.codebooks.shape[1]).bit_length() - 1

    def polysemous_train(
        self, n_iter: int = 30_000, seed: int = 123
    ) -> "PQIndex":
        """faiss ``PolysemousTraining::optimize_pq_for_hamming`` +
        IndexPQ's in-place code relabeling: reorder each
        subquantizer's codewords (seeded simulated annealing on the
        distance-reproduction objective) so Hamming distance between
        code bytes tracks codeword distance, then rewrite codebooks
        AND stored codes together — decode/ADC results are
        bit-identical; only the bit patterns change. Enables
        ``search(..., ht=)``."""
        from .operators.polysemous import apply_polysemous, polysemous_train_books

        perms = polysemous_train_books(self.codebooks, n_iter=n_iter, seed=seed)
        new_books, new_codes = apply_polysemous(self.codebooks, self.codes, perms)
        new_codes = new_codes.persist()
        self._n = new_codes.count()
        old = self.codes
        self.codebooks = new_books
        self.codes = new_codes
        old.unpersist()
        return self

    def search(
        self, queries: DataFrame, k: int, ht: int | None = None
    ) -> DataFrame:
        """ADC top-k; with ``ht`` set, faiss ``ST_polysemous``: only
        codes STRICTLY within ``ht`` Hamming bits of the query's own
        code are ADC-evaluated (faiss ``hd < polysemous_ht``; accept-all
        is ``m·nbits + 1``; run :meth:`polysemous_train` first for the
        Hamming test to be meaningful; distances of returned rows stay
        exact either way)."""
        from .operators.pq import pq_search

        if ht is not None:
            from .operators.polysemous import polysemous_search

            return polysemous_search(
                self.codes, self.codebooks, queries, k, ht=int(ht)
            )
        return pq_search(self.codes, self.codebooks, queries, k)

    def range_search(self, queries: DataFrame, radius: float) -> DataFrame:
        """faiss ``IndexPQ::range_search``: asymmetric (ADC) distance
        strictly below ``radius``; (qid, label, distance), unordered."""
        from .operators.pq import pq_range_search

        return pq_range_search(self.codes, self.codebooks, queries, radius)

    def _trained_state(self) -> tuple:
        """Codes are comparable only under the IDENTICAL codebooks."""
        return (self.d, self.codebooks)

    @property
    def sa_code_size(self) -> int:
        return self.codebooks.shape[0]  # m bytes/vector


@dataclass
class PQFastScanIndex(_FlatCodes):
    """faiss ``IndexPQFastScan`` (factory ``PQ<m>x4fs``): 4-bit PQ in
    the fast-scan layout — two sub-codes per stored byte, ADC via
    fused per-byte 256-entry tables (one gather per byte instead of
    two nibble gathers). Search results match the plain nbits=4
    :class:`PQIndex` trained on the same sample — labels exactly,
    distances up to float summation order (the fused table adds each
    byte's two subspace terms first; same reals, pair-associated —
    far tighter than faiss's own fast-scan, which quantizes LUTs to
    int8). faiss/IndexPQFastScan.h; the engine keeps the pair-per-byte
    part that halves storage/scan bytes and drops the SIMD-register
    interleave, meaningless off-SIMD."""

    _kind = "pq_fs"
    _frame = "codes"

    spark: SparkSession
    d: int
    codebooks: np.ndarray  # (m, 16, d/m) — nbits=4 always
    codes: DataFrame  # (id, code BINARY ⌈m/2⌉ bytes)
    _n: int = field(default=-1, repr=False)

    @classmethod
    def from_table(
        cls, vt, m: int, iters: int = 10, sample_size: int = 16384
    ) -> "PQFastScanIndex":
        from .operators.pq import pq_train

        base = _float_view(vt)
        books = pq_train(
            base, m, iters=iters, sample_size=sample_size, nbits=4
        )
        return cls(vt.spark, vt.d, books, None)._fill(base)

    def _encode_df(self, rows: DataFrame) -> DataFrame:
        from .operators.pq import pq_encode

        return pq_encode(rows, self.codebooks, pack4=True)

    def _encode_np(self, x: np.ndarray) -> np.ndarray:
        from .operators.pq import pq_assign_np, pq_pack4_np

        return pq_pack4_np(pq_assign_np(x, self.codebooks))

    def _decode(self):
        """Unpack the byte pair layout, then codeword concatenation
        (``IndexPQFastScan::reconstruct`` decodes the same way)."""
        from .operators.pq import pq_decode_np, pq_unpack4_np

        books, m = self.codebooks, self.m
        return lambda pdf: pq_decode_np(pq_unpack4_np(_codes(pdf), m), books)

    @property
    def m(self) -> int:
        return int(self.codebooks.shape[0])

    @property
    def nbits(self) -> int:
        return 4

    def search(self, queries: DataFrame, k: int) -> DataFrame:
        from .operators.pq import pq_search

        return pq_search(self.codes, self.codebooks, queries, k, packed4=True)

    def range_search(self, *_a, **_k):
        """faiss ``IndexFastScan`` has no range_search (upstream raises
        FAISS_THROW "not implemented" — the SIMD scan kernel has no
        unbounded-result path); same explicit refusal here. Use the
        plain ``PQ<m>x4`` tier for radius queries."""
        raise NotImplementedError(
            "PQFastScanIndex.range_search: faiss IndexFastScan does not "
            "implement range search; use PQIndex (PQ<m>x4) instead"
        )

    def _trained_state(self) -> tuple:
        """Identical codebooks."""
        return (self.d, self.codebooks)

    # -- standalone codec (faiss IndexFastScan sa_encode/sa_decode) --------

    @property
    def sa_code_size(self) -> int:
        return (self.m + 1) // 2  # packed bytes/vector


@dataclass
class IVFPQFastScanIndex(_IVF):
    """faiss ``IndexIVFPQFastScan`` (factory ``IVF<n>,PQ<m>x4fs``):
    the inverted-file composition of :class:`PQFastScanIndex` —
    residual 4-bit codes packed two per byte in cell-partitioned
    lists, per-cell fused-LUT ADC. Full probe ≡ the unpacked nbits=4
    :class:`IVFPQIndex` (same trained state): labels exactly,
    distances to pair-association ulp. No polysemous gate (faiss
    fast-scan parity)."""

    _kind = "ivfpq_fs"
    _frame = "codes"

    spark: SparkSession
    d: int
    centroids: np.ndarray
    codebooks: np.ndarray  # (m, 16, d/m)
    codes: DataFrame  # (id, cell, code BINARY packed)
    _n: int = field(default=-1, repr=False)

    @classmethod
    def from_table(
        cls, vt, n_cells: int, m: int, sample_size: int = 16384,
        iters: int = 10,
    ) -> "IVFPQFastScanIndex":
        from .operators.pq import train_books_np
        from .operators.similarity import _ivf_prologue

        base = _float_view(vt)
        C, _, R = _ivf_prologue(base, n_cells, sample_size=sample_size, iters=iters)
        books = train_books_np(R, m, iters, ksub=16)
        return cls(vt.spark, vt.d, C, books, None)._fill(base)

    def _encode_df(self, rows: DataFrame) -> DataFrame:
        """Assign, encode the residual packed."""
        from .operators.pq import ivfpq_encode
        from .operators.similarity import ivf_assign

        return ivfpq_encode(
            ivf_assign(rows, self.centroids), self.centroids, self.codebooks,
            pack4=True,
        )

    def _decode(self):
        """centroid(cell) + decoded residual (unpacked first)."""
        from .operators.pq import pq_decode_np, pq_unpack4_np

        C, books, m = self.centroids, self.codebooks, self.m
        return lambda pdf: C[_cells(pdf)] + pq_decode_np(
            pq_unpack4_np(_codes(pdf), m), books
        )

    @property
    def m(self) -> int:
        return int(self.codebooks.shape[0])

    @property
    def nbits(self) -> int:
        return 4

    def _kernel(self):
        from .operators.pq import pq_scan

        return pq_scan(self.centroids, self.codebooks, packed4=True)

    def range_search(self, *_a, **_k):
        """faiss ``IndexIVFFastScan`` has no range_search; explicit
        refusal (use ``IVF<n>,PQ<m>x4`` for radius queries)."""
        raise NotImplementedError(
            "IVFPQFastScanIndex.range_search: faiss IndexIVFFastScan "
            "does not implement range search; use IVFPQIndex instead"
        )

    def _trained_state(self) -> tuple:
        """Identical coarse quantizer AND residual codebooks (codes must
        decode the same)."""
        return (self.d, self.centroids, self.codebooks)


@dataclass
class GraphIndex(_Decoded, _Tier):
    """Graph-ANN tier — the faiss ``IndexHNSWFlat`` workflow
    (``index_factory("HNSW32")``) served by a flat navigable kNN graph:
    build = distributed NN-Descent (operators/knn_graph.py, Dong et
    al. 2011), search = beam search over the graph (NSW-style greedy
    expansion — HNSW's own layer-0 procedure; the hierarchy is an
    entry-point accelerator, played here by a deterministic ~√n
    LANDMARK layer ranked exactly per query, r10 — the same
    coarse-to-fine role as HNSW's upper layers / NSG's navigating
    node, so beam rounds stay O(1)-ish in corpus diameter;
    ``entry="hash"`` keeps the legacy flat multi-seeding). Recall
    scales with ``ef`` exactly as HNSW's efSearch.

    L2 only (like IndexHNSWFlat's default metric). Read-only derived
    tier: rebuild after mutating the source table. ``M`` is the graph
    degree (edges per node), ``ef_search`` the default beam width.
    """

    _kind = "graph"
    _frame = "vectors"

    spark: SparkSession
    d: int
    vectors: DataFrame
    graph: DataFrame
    M: int = 16
    ef_search: int = 64
    _n: int = field(default=-1, repr=False)

    @classmethod
    def from_table(
        cls,
        vt,
        M: int = 16,
        iters: int = 4,
        seed: int = 42,
        ef_search: int = 64,
        diversify: bool = False,
        repair: bool = False,
    ) -> "GraphIndex":
        """``diversify=True`` builds a 2M-candidate NN-Descent graph
        and shrinks each adjacency with HNSW's neighbor-select
        heuristic (``mrng_diversify`` — faiss shrink_neighbor_list /
        NSG MRNG): same ≤M degree budget, directionally-spread edges
        instead of the plain M-nearest. Default off: the plain graph
        is the historical, test-pinned build.

        ``repair=True`` adds faiss IndexNSG's connectivity step
        (``connect_graph``): islands the pruning disconnected are
        re-linked to their exact nearest main-component neighbor, so
        beam search can reach every node from any entry region —
        required for NSG parity on clustered data."""
        base = _float_view(vt).persist()
        n = base.count()
        graph = _nsw_graph(base, n, M, iters, seed, diversify, repair)
        return cls(vt.spark, vt.d, base, graph, M, ef_search, n)

    def _decode(self):
        return _float_rows

    def search(
        self,
        queries: DataFrame,
        k: int,
        ef: int | None = None,
        iters: int = 3,
        entry: str = "landmarks",
    ) -> DataFrame:
        """``entry="landmarks"`` (default, r10) starts the beam from
        the query's nearest ~√n landmark layer — the HNSW upper-layer /
        NSG navigating-node role, so rounds stay O(1)-ish in corpus
        diameter; ``entry="hash"`` is the legacy flat multi-seeding."""
        from .operators.knn_graph import graph_search

        return graph_search(
            self.vectors,
            self.graph,
            queries,
            k,
            beam=max(ef if ef is not None else self.ef_search, k),
            iters=iters,
            entry=entry,
        )

    def range_search(self, *_a, **_k):
        """faiss ``IndexHNSW`` has no range_search (upstream raises
        "range search not supported" — beam search cannot bound a
        radius's result set); same explicit refusal here."""
        raise NotImplementedError(
            "GraphIndex.range_search: faiss IndexHNSW does not support "
            "range search (beam search cannot enumerate a radius); use "
            "a flat/IVF tier for radius queries"
        )

    def add_df(self, df: DataFrame, id_col: str = "id", vec_col: str = "vec") -> "GraphIndex":
        """faiss ``IndexHNSW::add`` — incremental NSW insertion,
        batched: each new node's ``M`` nearest EXISTING nodes are found
        with the serving beam search, edges link in BOTH directions
        with their true squared-L2 distances, and every touched
        adjacency list is pruned back to its ``M`` nearest (HNSW's
        shrink-on-insert). Intra-batch links form across CALLS the way
        sequential faiss adds do — one huge batch links only to the
        pre-existing graph, so add in chunks when batch ≫ corpus;
        recall after growth is pinned by tests/test_flat_add.py."""
        from pyspark.sql.window import Window

        from .operators.knn_graph import graph_search

        rows = _ivf_add_rows(df, id_col, vec_col).persist()
        if rows.count() == 0:
            rows.unpersist()
            return self
        nbrs = graph_search(
            self.vectors,
            self.graph,
            rows.select(F.col("id").alias("qid"), "vec"),
            k=self.M,
            beam=max(self.ef_search, self.M),
            iters=3,
        ).where(F.col("label") >= 0)
        fwd = nbrs.select(
            F.col("qid").alias("id"), F.col("label").alias("nbr"),
            F.col("distance").alias("dist"),
        )
        rev = nbrs.select(
            F.col("label").alias("id"), F.col("qid").alias("nbr"),
            F.col("distance").alias("dist"),
        )
        w = Window.partitionBy("id").orderBy(F.col("dist").asc(), F.col("nbr").asc())
        pruned = (
            self.graph.unionByName(fwd)
            .unionByName(rev)
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= self.M)
            .drop("_rn")
        )
        new_vectors = self.vectors.unionByName(rows).persist()
        new_graph = pruned.persist()
        new_graph.count()  # materialize before dropping the old caches
        old_v, old_g = self.vectors, self.graph
        self.vectors, self.graph = new_vectors, new_graph
        self._n = new_vectors.count()
        old_v.unpersist()
        old_g.unpersist()
        rows.unpersist()
        return self

    def reconstruct_batch(self, ids) -> np.ndarray:
        """(len(ids), d) FP32 rows in the given id order — faiss
        ``Index::reconstruct_batch`` on the graph tier (exact: flat
        storage). One pruned scan for the whole batch instead of
        len(ids) point lookups; absent ids raise KeyError like
        :meth:`reconstruct`."""
        ids = np.asarray(ids, dtype=np.int64)
        if len(ids) == 0:
            return np.zeros((0, self.d), dtype=np.float32)
        rows = (
            self.vectors.where(F.col("id").isin([int(i) for i in set(ids)]))
            .select("id", "vec")
            .collect()
        )
        byid = {r["id"]: r["vec"] for r in rows}
        missing = [int(i) for i in ids if i not in byid]
        if missing:
            raise KeyError(f"ids {missing[:5]} not in index")
        return np.stack([np.asarray(byid[i], np.float32) for i in ids])

    def reconstruct_n(self, start: int, n: int) -> np.ndarray:
        """faiss ``Index::reconstruct_n`` — n consecutive labels from
        ``start`` (the graph tier's labels are explicit ids). A RANGE
        predicate, not an n-element IN-list: ``reconstruct_n(0,
        ntotal)`` — the standard dump-the-index call — must stay an
        O(1)-size plan at any n (``reconstruct_batch`` keeps ``isin``
        for genuinely sparse id sets)."""
        start, n = int(start), int(n)
        if n <= 0:  # same contract as VectorTable.reconstruct_n
            return np.zeros((0, self.d), dtype=np.float32)
        rows = (
            self.vectors.where(
                (F.col("id") >= start) & (F.col("id") < start + n)
            )
            .select("id", "vec")
            .collect()
        )
        byid = {r["id"]: r["vec"] for r in rows}
        missing = [i for i in range(start, start + n) if i not in byid]
        if missing:
            raise KeyError(f"ids {missing[:5]} not in index")
        return np.stack(
            [np.asarray(byid[i], np.float32) for i in range(start, start + n)]
        ) if n else np.zeros((0, self.d), dtype=np.float32)


@dataclass
class NSGIndex(GraphIndex):
    """faiss ``IndexNSG`` / ``IndexNSGFlat`` (factory ``"NSG<R>"``;
    faiss/IndexNSG.h, NSG.cpp build/tree_grow/attach — Fu et al.,
    "Fast Approximate Nearest Neighbor Search With The Navigating
    Spreading-out Graph", VLDB 2019) as a dedicated tier rather than
    the HNSW facade:

    - **Build**: NN-Descent candidate graph (degree ``2R``) → MRNG
      edge select down to ≤ ``R`` directed edges per node
      (``mrng_diversify`` ≙ NSG's Algorithm 2 / faiss
      ``NSG::link``) → connectivity repair (``connect_graph`` ≙ faiss
      ``tree_grow``/``attach``: islands re-link to their exact nearest
      main-component neighbor — repair bridges may push a handful of
      nodes to R+1 edges, exactly as faiss lets ``attach`` exceed R).
    - **Navigating node**: the corpus MEDOID (the vector nearest the
      dataset centroid — NSG §4.1's navigating node; faiss keeps it in
      ``NSG::enterpoint``), computed with one distributed avg + one
      argmin scan at build and stored in ``nav_id``.
    - **Search**: beam search seeded at the navigating node
      (``graph_search(entry="fixed", entry_ids=[nav_id])`` — NSG's
      search always starts there), ``ef``/``iters`` playing the L
      pool-size role. ``entry="landmarks"`` stays available for huge
      corpora where a coarse entry layer beats the diameter-bound walk
      from one fixed node.

    ``M`` (inherited) IS ``R`` — the NSG degree bound. Read-only like
    the other derived graph tiers at build; ``add_df`` keeps the
    inherited NSW insertion (faiss IndexNSG refuses add-after-build;
    deviation documented: incremental adds here shrink-on-insert and
    may locally exceed NSG's pruning guarantees, rebuild for strict
    NSG structure).
    """

    _kind = "nsg"

    nav_id: int = -1

    # NSG search walks from one fixed node, so give the walk more
    # rounds than the landmark-seeded default (diameter-bound).
    _NAV_ITERS = 5

    @property
    def R(self) -> int:
        return self.M

    @classmethod
    def from_table(
        cls,
        vt,
        R: int = 16,
        iters: int = 4,
        seed: int = 42,
        ef_search: int = 64,
        **_ignored,
    ) -> "NSGIndex":
        from .functions.vector import l2sq
        from .operators.knn_graph import mrng_diversify, nn_descent, nsg_connect

        base = _float_view(vt).persist()
        n = base.count()
        # navigating node = medoid: distributed elementwise mean, then
        # one argmin scan (both corpus-bounded; only 1 row collects)
        mean_row = base.select(
            F.array(
                *[F.avg(F.col("vec")[i]) for i in range(vt.d)]
            ).alias("c")
        ).first()
        centroid = [float(x) for x in mean_row["c"]] if mean_row else []
        nav = (
            base.select(
                "id",
                l2sq(
                    F.col("vec"), F.array(*[F.lit(c) for c in centroid])
                ).alias("_d"),
            )
            .orderBy(F.col("_d").asc(), F.col("id").asc())
            .first()
        ) if centroid else None
        nav_id = int(nav["id"]) if nav is not None else -1
        cand = nn_descent(base, k=2 * R, iters=iters, seed=seed)
        graph = mrng_diversify(cand, base, R)
        if n > 1:
            # faiss tree_grow/attach: DIRECTED reachability from the
            # navigating node (weak connectivity is not enough for a
            # walk that always starts there); hints route small builds
            # through the collected repair
            graph = nsg_connect(graph, base, nav_id, n_hint=n, d_hint=vt.d)
        graph = graph.persist()
        graph.count()
        return cls(
            vt.spark, vt.d, base, graph, R, ef_search, n, nav_id=nav_id
        )

    def search(
        self,
        queries: DataFrame,
        k: int,
        ef: int | None = None,
        iters: int | None = None,
        entry: str = "nav",
    ) -> DataFrame:
        from .operators.knn_graph import graph_search

        if entry == "nav":
            return graph_search(
                self.vectors,
                self.graph,
                queries,
                k,
                beam=max(ef if ef is not None else self.ef_search, k),
                iters=self._NAV_ITERS if iters is None else iters,
                entry="fixed",
                entry_ids=[self.nav_id],
            )
        return super().search(
            queries, k, ef, iters=3 if iters is None else iters, entry=entry
        )

    def range_search(self, *_a, **_k):
        """faiss ``IndexNSG`` has no range_search (same beam-search
        limitation as IndexHNSW)."""
        raise NotImplementedError(
            "NSGIndex.range_search: faiss IndexNSG does not support "
            "range search; use a flat/IVF tier for radius queries"
        )


@dataclass
class GraphSQIndex(_Decoded, _Tier):
    """faiss ``IndexHNSWSQ`` (factory ``"HNSW<M>,SQ8/6/4"``): the NSW
    graph over SCALAR-QUANTIZED storage — the memory-constrained HNSW
    composition (faiss/IndexHNSW.h ``IndexHNSWSQ``: an IndexHNSW whose
    storage is an IndexScalarQuantizer; every distance the graph walk
    computes goes through the storage's DistanceComputer, i.e. decoded
    codes). Here: the resident artifact is the b-bit code table
    (``bits`` ∈ {8, 6, 4} ≙ faiss QT_8bit/6bit/4bit), the build runs
    NN-Descent over the DECODED codes (the storage distances faiss
    builds with), and serving decodes FETCHED CANDIDATES only
    (``graph_search(decode=)`` — per-round cost bounded by nq·beam·k,
    never the corpus). Search ≡ :class:`GraphIndex` built over the
    same table's SQ reconstruction, value for value. Read-only derived
    tier like the other graph builds: rebuild after source mutation
    (``add_df`` refuses with guidance — the flat :class:`GraphIndex`
    owns incremental insertion)."""

    _kind = "graph_sq"
    _frame = "codes"

    spark: SparkSession
    d: int
    vmin: np.ndarray
    vmax: np.ndarray
    codes: DataFrame  # (id, code ARRAY<INT>) — the resident artifact
    graph: DataFrame  # (id, nbr) edges
    M: int = 16
    ef_search: int = 64
    _n: int = field(default=-1, repr=False)
    bits: int = 8

    @classmethod
    def from_table(
        cls,
        vt,
        M: int = 16,
        bits: int = 8,
        iters: int = 4,
        seed: int = 42,
        ef_search: int = 64,
        diversify: bool = False,
        repair: bool = False,
    ) -> "GraphSQIndex":
        from .operators.sq import sq_reconstruct_col, sq_train

        base = _float_view(vt)
        vmin, vmax = sq_train(base)
        idx = cls(
            vt.spark, vt.d, vmin, vmax, None, None, M, ef_search, bits=bits
        )._fill(base)
        # build over DECODED storage (faiss constructs HNSWSQ edges
        # with the storage DistanceComputer); the decoded view is a
        # BUILD-TIME transient — released before serving
        dec = idx.codes.select(
            "id", sq_reconstruct_col("code", vmin, vmax, bits).alias("vec")
        ).persist()
        idx.graph = _nsw_graph(dec, idx.ntotal, M, iters, seed, diversify, repair)
        dec.unpersist()
        return idx

    def _encode_df(self, rows: DataFrame) -> DataFrame:
        from .operators.sq import sq_encode

        return sq_encode(rows, self.vmin, self.vmax, self.bits)

    def _decode(self):
        return _sq_decoder(self.vmin, self.vmax, self.bits)

    def search(
        self,
        queries: DataFrame,
        k: int,
        ef: int | None = None,
        iters: int = 3,
        entry: str = "landmarks",
    ) -> DataFrame:
        from .operators.knn_graph import graph_search

        return graph_search(
            self.codes,
            self.graph,
            queries,
            k,
            beam=max(ef if ef is not None else self.ef_search, k),
            iters=iters,
            entry=entry,
            vec_col="code",
            decode=self._decode(),
        )

    def range_search(self, *_a, **_k):
        """faiss ``IndexHNSW`` (any storage) has no range_search."""
        raise NotImplementedError(
            "GraphSQIndex.range_search: faiss IndexHNSW does not support "
            "range search; use SQ8Index.range_search for radius queries"
        )

    add_df = add_numpy = _read_only


@dataclass
class GraphPQIndex(_Decoded, _Tier):
    """faiss ``IndexHNSWPQ`` (factory ``"HNSW<M>,PQ<m>"``): the NSW
    graph over PRODUCT-QUANTIZED storage — m bytes/vector resident
    (the deepest-compression HNSW composition faiss offers). Same
    architecture as :class:`GraphSQIndex`: build over decoded codes
    (the storage DistanceComputer), serve by decoding fetched
    candidates only; search ≡ :class:`GraphIndex` over the table's PQ
    reconstruction, value for value. Read-only derived tier."""

    _kind = "graph_pq"
    _frame = "codes"

    spark: SparkSession
    d: int
    codebooks: np.ndarray  # (m, 2^nbits, d/m)
    codes: DataFrame  # (id, code BINARY m bytes)
    graph: DataFrame
    M: int = 16
    ef_search: int = 64
    _n: int = field(default=-1, repr=False)

    @classmethod
    def from_table(
        cls,
        vt,
        M: int = 16,
        m: int = 8,
        nbits: int = 8,
        iters: int = 4,
        seed: int = 42,
        ef_search: int = 64,
        sample_size: int = 16384,
        diversify: bool = False,
        repair: bool = False,
    ) -> "GraphPQIndex":
        from .operators.pq import pq_reconstruct, pq_train

        base = _float_view(vt)
        books = pq_train(base, m, sample_size=sample_size, nbits=nbits)
        idx = cls(vt.spark, vt.d, books, None, None, M, ef_search)._fill(base)
        dec = pq_reconstruct(idx.codes, books).persist()
        idx.graph = _nsw_graph(dec, idx.ntotal, M, iters, seed, diversify, repair)
        dec.unpersist()
        return idx

    def _encode_df(self, rows: DataFrame) -> DataFrame:
        from .operators.pq import pq_encode

        return pq_encode(rows, self.codebooks)

    @property
    def m(self) -> int:
        return int(self.codebooks.shape[0])

    @property
    def nbits(self) -> int:
        return int(self.codebooks.shape[1]).bit_length() - 1

    def _decode(self):
        from .operators.pq import pq_decode_np

        books = self.codebooks
        return lambda pdf: pq_decode_np(_codes(pdf), books)

    def search(
        self,
        queries: DataFrame,
        k: int,
        ef: int | None = None,
        iters: int = 3,
        entry: str = "landmarks",
    ) -> DataFrame:
        from .operators.knn_graph import graph_search

        return graph_search(
            self.codes,
            self.graph,
            queries,
            k,
            beam=max(ef if ef is not None else self.ef_search, k),
            iters=iters,
            entry=entry,
            vec_col="code",
            decode=self._decode(),
        )

    def range_search(self, *_a, **_k):
        """faiss ``IndexHNSW`` (any storage) has no range_search."""
        raise NotImplementedError(
            "GraphPQIndex.range_search: faiss IndexHNSW does not support "
            "range search; use PQIndex.range_search for radius queries"
        )

    add_df = add_numpy = _read_only


@dataclass
class BinaryHNSWIndex(_Decoded, _Tier):
    """faiss ``IndexBinaryHNSW`` (factory ``"BHNSW<M>"``): the NSW
    graph over PACKED BINARY storage, every distance the walk computes
    a Hamming distance (faiss/IndexBinaryHNSW.h — an IndexBinaryFlat
    storage driven by the HNSW walk). The binary twin of
    :class:`GraphSQIndex`: the resident artifact is the packed word
    table (1 bit/dim, the :class:`BinaryIndex` layout), the graph
    builds with NN-Descent over the UNPACKED 0/1 bit vectors — squared
    L2 between 0/1 rows IS the packed Hamming distance, so the float
    graph machinery computes exactly the distances faiss's
    HammingComputer would — and serving walks ``graph_search`` with a
    word-unpack decode hook (fetched candidates only, ≤ nq·beam·k rows
    per round).

    Contract (binary family): queries are the engine-standard float
    (qid, vec) rows, sign-binarized query-side like every binary tier;
    results carry INTEGER Hamming distances (long), min(k, reached)
    rows per qid with no sentinel padding (the IndexBinaryFlat /
    IndexBinaryIVF row contract), APPROXIMATE like every graph tier —
    recall against the exhaustive flat scan is pinned in tests, not
    exactness. Read-only derived tier: ``add_df`` refuses (rebuild
    after source mutation; incremental insertion lives on the flat
    :class:`GraphIndex`)."""

    _kind = "bhnsw"
    _frame = "words"

    spark: SparkSession
    d: int
    words: DataFrame  # (id, words ARRAY<LONG>) — the resident artifact
    graph: DataFrame  # (id, nbr) edges
    M: int = 16
    ef_search: int = 64
    _n: int = field(default=-1, repr=False)

    @classmethod
    def from_table(
        cls,
        vt,
        M: int = 16,
        iters: int = 4,
        seed: int = 42,
        ef_search: int = 64,
        diversify: bool = False,
        repair: bool = False,
    ) -> "BinaryHNSWIndex":
        from .operators.binary import unpack_words_np

        idx = cls(vt.spark, vt.d, None, None, M, ef_search)._fill(_float_view(vt))
        # build over the unpacked bit vectors (one Arrow-vectorized
        # stage — a BUILD-TIME transient released before serving);
        # l2sq(bits_a, bits_b) == hamming(words_a, words_b) exactly
        d = vt.d
        bits_schema = "id long, vec array<double>"

        def unpack(batches):
            import pyarrow as pa

            from .operators.knn import _arrow_matrix

            for batch in batches:
                if batch.num_rows == 0:
                    continue
                W = _arrow_matrix(batch.column("words"), "array", np.int64)
                B = unpack_words_np(W, d)
                yield pa.record_batch(
                    [batch.column("id"), pa.array(list(B))],
                    names=["id", "vec"],
                )

        dec = idx.words.mapInArrow(unpack, bits_schema).persist()
        idx.graph = _nsw_graph(dec, idx.ntotal, M, iters, seed, diversify, repair)
        dec.unpersist()
        return idx

    def _encode_df(self, rows: DataFrame) -> DataFrame:
        from .operators.binary import binarize

        return binarize(rows, self.d)

    def _decode(self):
        """The stored 0/1 bit vectors (d,) — the decoded form of the
        packed words (faiss reconstructs the binary code)."""
        from .operators.binary import unpack_words_np

        d = self.d
        return lambda pdf: unpack_words_np(
            np.stack(pdf["words"].to_numpy()).astype(np.int64), d
        )

    def search(
        self,
        queries: DataFrame,
        k: int,
        ef: int | None = None,
        iters: int = 3,
        entry: str = "landmarks",
    ) -> DataFrame:
        """(qid, rank, label, distance): distance is the EXACT packed
        Hamming distance of each returned label (long); rows are the
        walk's top-min(k, reached) per qid, unpadded."""
        from .operators.knn_graph import graph_search

        qbits = queries.select(
            F.col("qid").cast("long").alias("qid"),
            F.transform(
                "vec",
                lambda x: F.when(x > 0, F.lit(1.0)).otherwise(F.lit(0.0)),
            ).alias("vec"),
        )
        res = graph_search(
            self.words,
            self.graph,
            qbits,
            k,
            beam=max(ef if ef is not None else self.ef_search, k),
            iters=iters,
            entry=entry,
            vec_col="words",
            decode=self._decode(),
        )
        return res.where(F.col("label") >= 0).select(
            "qid", "rank", "label",
            F.col("distance").cast("long").alias("distance"),
        )

    def search_numpy(
        self,
        x: np.ndarray,
        k: int,
        ef: int | None = None,
        iters: int = 3,
        entry: str = "landmarks",
    ) -> tuple[np.ndarray, np.ndarray]:
        """Host twin — (nq, k) arrays, −1/−1 fill past the reached
        rows (the flat binary host contract)."""
        x = np.atleast_2d(x)
        res = self.search(
            _query_df(self.spark, x), k, ef, iters=iters, entry=entry
        ).collect()
        D = np.full((len(x), k), -1, np.int64)
        L = np.full((len(x), k), -1, np.int64)
        for r in res:
            D[r["qid"], r["rank"]] = r["distance"]
            L[r["qid"], r["rank"]] = r["label"]
        return D, L

    def range_search(self, *_a, **_k):
        """faiss ``IndexBinaryHNSW`` has no range_search (the walk has
        no unbounded-result path); use BinaryIndex for radius queries."""
        raise NotImplementedError(
            "BinaryHNSWIndex.range_search: faiss IndexBinaryHNSW does "
            "not implement range search; use BinaryIndex instead"
        )

    add_df = add_numpy = _read_only


@dataclass
class LSHIndex(_ListTier):
    """Binary-hash tier — faiss ``IndexLSH`` (``index_factory("LSH")``),
    the ``rotate_data=true, train_thresholds=false`` default: each
    vector is projected through a seeded random rotation
    (``RandomRotationMatrix``, the expanding form when nbits > d) and
    its ``nbits`` SIGN bits are packed into words; search is exhaustive
    Hamming between the query's code and every stored code
    (IndexLSH.cpp runs the same thermometer-free sign encoding and a
    flat binary scan underneath).

    Spark shape: encoding is one Arrow-batched GEMM projection fused
    with the all-Catalyst sign-pack — one corpus scan, zero shuffles;
    search reuses the binary tier's packed Hamming kernel
    (bit_count(xor) in whole-stage codegen) with the query encoded
    through the identical rotation closure. Optional exact rescore
    against the source table gives the IndexRefineFlat composition
    faiss users wrap around IndexLSH.

    Derived tier: post-train ``add_df``/``add_numpy`` appends through
    the frozen rotation; retraining the rotation is a rebuild.
    """

    _kind = "lsh"
    _frame = "words"

    spark: SparkSession
    d: int
    nbits: int
    rotation: np.ndarray  # (nbits, d) transform rows
    words: DataFrame  # (id, words ARRAY<LONG>) packed sign bits
    _source: DataFrame = field(repr=False, default=None)
    _n: int = field(default=-1, repr=False)
    mean: np.ndarray = None  # (d,) centering — zeros for "rr", PCA mean for "itq"

    def __post_init__(self):
        if self.mean is None:  # no centering (stores that predate it)
            self.mean = np.zeros(self.d)

    @classmethod
    def from_table(
        cls,
        vt,
        nbits: int | None = None,
        seed: int = 42,
        transform: str = "rr",
        sample_size: int = 16384,
        itq_iters: int = 50,
    ) -> "LSHIndex":
        """``transform="rr"`` is faiss IndexLSH's default random
        rotation; ``"itq"`` trains the Iterative-Quantization rotation
        instead (faiss ``ITQMatrix``, binary factory ``"ITQ,LSH"``) —
        same storage, same search, strictly better sign bits on
        correlated data (pinned in tests/test_lsh_index.py)."""
        from .operators.pca import itq_rotation, random_rotation

        nbits = vt.d if nbits is None else int(nbits)
        if nbits <= 0:
            raise ValueError(f"need nbits > 0, got {nbits}")
        base = _float_view(vt)
        if transform == "rr":
            mean = np.zeros(vt.d)
            R = random_rotation(vt.d, nbits, seed=seed)
        elif transform == "itq":
            if nbits > vt.d:
                raise ValueError(f"ITQ needs nbits ≤ d, got {nbits} > {vt.d}")
            mean, R = itq_rotation(
                base, nbits, sample_size=sample_size, iters=itq_iters, seed=seed
            )
        else:
            raise ValueError(f"unknown transform {transform!r} (rr/itq)")
        return cls(vt.spark, vt.d, nbits, R, None, base, mean=mean)._fill(base)

    def _encode_df(self, rows: DataFrame) -> DataFrame:
        """Project through the seeded rotation, sign-pack."""
        from .operators.binary import binarize
        from .operators.pca import pca_apply

        return binarize(pca_apply(rows, self.mean, self.rotation), self.nbits)

    def _project_queries(self, queries: DataFrame, qid_col: str, qvec_col: str) -> DataFrame:
        from .operators.pca import pca_project_col

        return queries.select(
            F.col(qid_col).cast("long").alias("qid"),
            pca_project_col(qvec_col, self.mean, self.rotation).alias("vec"),
        )

    def search(
        self, queries: DataFrame, k: int, qid_col: str = "qid", qvec_col: str = "vec"
    ) -> DataFrame:
        """(qid, rank, label, distance) — distance is the HAMMING
        distance between codes (faiss IndexLSH returns Hamming-as-float;
        kept integral here), ascending, ties by label."""
        from .operators.binary import hamming_knn

        return hamming_knn(
            self.words,
            self._project_queries(queries, qid_col, qvec_col),
            k,
            self.nbits,
            vec_col="words",
            packed=True,
        )

    def refine_search_numpy(
        self, x: np.ndarray, k: int, refine_factor: int = 4
    ) -> tuple[np.ndarray, np.ndarray]:
        """Hamming prefilter over the codes + exact L2 rescore of only
        the candidates against the SOURCE vectors (IndexLSH wrapped in
        IndexRefineFlat — the standard accuracy recovery)."""
        from .functions.vector import l2sq
        from .operators.knn import _finalize

        if self._source is None:
            raise ValueError("refine needs the source table (built via from_table)")
        queries = _query_df(self.spark, x)
        cand = (
            self.search(queries, k * refine_factor)
            .where(F.col("label") >= 0)
            .select("qid", "label")
        )
        vv = self._source.select(
            F.col("id").alias("label"), F.col("vec").alias("_vvec")
        )
        qq = queries.select("qid", F.col("vec").alias("_qvec"))
        rescored = (
            F.broadcast(cand)
            .join(vv, "label")
            .join(F.broadcast(qq), "qid")
            .select("qid", "label", l2sq(F.col("_qvec"), F.col("_vvec")).alias("distance"))
        )
        res = _finalize(qq.select("qid"), rescored, k, "l2")
        return _host_result(res, len(np.atleast_2d(x)), k)

    def sa_encode(self, x: np.ndarray) -> np.ndarray:
        """Host-side codec twin of the distributed encode: (n, d) FP32 →
        n packed code strings of ceil(nbits/8)·8-bit... stored here as
        the same 32-bit little-word layout the index itself uses, one
        bytes object per row (faiss ``IndexLSH::sa_encode``)."""
        from .operators.binary import binarize_np

        x = np.atleast_2d(np.asarray(x, dtype=np.float64))
        if x.shape[1] != self.d:
            raise ValueError(f"expected d={self.d}, got {x.shape[1]}")
        proj = (x - self.mean) @ self.rotation.T
        words = binarize_np(proj.astype(np.float32))
        return np.array([w.tobytes() for w in words], dtype=object)



@dataclass
class BinaryHashIndex(_ListTier):
    """Hash-bucketed binary tier — faiss ``IndexBinaryHash``
    (``n_slices=1``) and ``IndexBinaryMultiHash`` (``n_slices>1``,
    index_binary_factory ``"BHash<b>"`` / ``"BMHash<n>x<b>"``): the
    bucket key is the raw ``b`` sign bits of dim-slice i (no rotation,
    no training — faiss hashes the code prefix the same way), search
    probes same-bucket rows (± ``nflip`` prefix-bit flips, the
    increasing-radius scan made explicit) and reranks candidates by
    exact full-width Hamming.

    vs :class:`BinaryIVFIndex`: no centroids to train and buckets are
    content-addressed (2^b fixed cells) — the write-cheap end of the
    binary family; the IVF tier gives balanced data-adaptive cells.
    Training-free, so ``add_df`` is a pure append.
    """

    _kind = "bhash"
    _frame = "hashed"
    _partition = "h0"

    spark: SparkSession
    d: int
    b: int
    n_slices: int
    hashed: DataFrame
    _n: int = field(default=-1, repr=False)

    @classmethod
    def from_table(cls, vt, b: int = 16, n_slices: int = 1) -> "BinaryHashIndex":
        return cls(vt.spark, vt.d, b, n_slices, None)._fill(_float_view(vt))

    def _encode_df(self, rows: DataFrame) -> DataFrame:
        from .operators.binary import binary_hash_table

        return binary_hash_table(rows, self.d, self.b, self.n_slices)

    def search(
        self, queries: DataFrame, k: int, nflip: int = 0,
        qid_col: str = "qid", qvec_col: str = "vec",
    ) -> DataFrame:
        from .operators.binary import binary_hash_search

        return binary_hash_search(
            self.hashed, queries, k, self.d, self.b, nflip, self.n_slices,
            qid_col=qid_col, qvec_col=qvec_col,
        )

    def range_search(
        self, queries: DataFrame, radius: int, nflip: int = 0,
        qid_col: str = "qid", qvec_col: str = "vec",
    ) -> DataFrame:
        """faiss ``IndexBinaryHash::range_search``: Hamming distance
        STRICTLY below ``radius`` over the PROBED candidates — exact
        within bucket coverage, a subset under partial probing, never a
        false positive (the IVF-probe contract). Unordered (qid, label,
        distance: long), no rank. A true range path: the radius filter
        runs directly on the probed pairs (no Window, no k=ntotal
        ranking)."""
        from .operators.binary import binary_hash_range_search

        return binary_hash_range_search(
            self.hashed, queries, radius, self.d, self.b, nflip,
            self.n_slices, qid_col=qid_col, qvec_col=qvec_col,
        )



@dataclass
class IMIIndex(_IVF):
    """Inverted multi-index — faiss ``MultiIndexQuantizer`` coarse
    quantizer feeding flat inverted lists (``index_factory("IMI2x8")``
    ≙ IndexIVFFlat over the product quantizer): cell = composite of
    two b-bit half-space sub-quantizers (2^(2b) cells from two 2^b
    trainings), probe ranking = the two per-half distance tables
    summed. In-cell search, storage layout and the per-cell
    partial/final merge are the shared IVF machinery — a probed cell
    behaves exactly like an :class:`IVFIndex` cell. L2 in-cell metric
    (the faiss IMI default)."""

    _kind = "imi"
    _frame = "assigned"

    spark: SparkSession
    d: int
    b: int
    C0: np.ndarray
    C1: np.ndarray
    assigned: DataFrame
    _n: int = field(default=-1, repr=False)

    @classmethod
    def from_table(
        cls, vt, b: int = 4, sample_size: int = 16384, iters: int = 10
    ) -> "IMIIndex":
        from .operators.similarity import imi_train

        base = _float_view(vt)
        C0, C1 = imi_train(
            base, b, vt.d, sample_size=sample_size, iters=iters
        )
        return cls(vt.spark, vt.d, b, C0, C1, None)._fill(base)

    def _encode_df(self, rows: DataFrame) -> DataFrame:
        """Assign against both sub-quantizers (the lists store the
        vectors themselves)."""
        from .operators.similarity import imi_assign

        return imi_assign(rows, self.C0, self.C1)

    def _decode(self):
        return _float_rows

    @property
    def nlist(self) -> int:
        return len(self.C0) * len(self.C1)

    def _probe_cells(self, nprobe: int):
        """The product quantizer ranks every composite cell."""
        from .operators.similarity import imi_probe_cells

        return imi_probe_cells(self.C0, self.C1)

    def _trained_state(self) -> tuple:
        """Identical BOTH sub-quantizers."""
        return (self.d, self.b, self.C0, self.C1)



@dataclass
class RQIndex(_AddCodes):
    """Residual-quantizer tier — faiss ``IndexResidualQuantizer``
    (``index_factory("RQ<m>x8")``): m sequential full-width 256-entry
    stages, codes are the greedy argmin chain, search is LUT-only via
    the additive identity (operators/rq.py). Same m bytes/vector as
    PQ, usually lower reconstruction error on correlated data."""

    _kind = "rq"
    _frame = "codes"
    _code_schema = "id long, code binary, recn double"

    spark: SparkSession
    d: int
    codebooks: np.ndarray  # (m, 256, d)
    codes: DataFrame
    _n: int = field(default=-1, repr=False)
    beam: int = 1  # faiss ResidualQuantizer::max_beam_size (encode-side)
    icm_sweeps: int = 0  # LSQ-style ICM encode refinement sweeps

    @classmethod
    def from_table(
        cls, vt, m: int, sample_size: int = 16384, iters: int = 10,
        beam: int = 1, icm_sweeps: int = 0,
    ) -> "RQIndex":
        """``beam`` ≙ faiss ``max_beam_size``: encode-side beam search
        over the stage chains (1 = the greedy default); ``icm_sweeps``
        ≙ the LocalSearchQuantizer ICM encode move (coordinate-descent
        refinement, composable with any beam). The index remembers
        both so add/sa_encode stay self-consistent."""
        from .operators.rq import rq_train

        base = _float_view(vt)
        books = rq_train(base, m, sample_size=sample_size, iters=iters)
        return cls(
            vt.spark, vt.d, books, None,
            beam=int(beam), icm_sweeps=int(icm_sweeps),
        )._fill(base)

    def _encode_df(self, rows: DataFrame) -> DataFrame:
        from .operators.rq import rq_encode

        return rq_encode(
            rows, self.codebooks, beam=self.beam, icm_sweeps=self.icm_sweeps
        )

    def _encode_np(self, x: np.ndarray) -> np.ndarray:
        from .operators.rq import rq_assign_np

        return rq_assign_np(
            x, self.codebooks, beam=self.beam, icm_sweeps=self.icm_sweeps
        )

    def _decode(self):
        """Codeword SUM (``IndexResidualQuantizer::reconstruct``)."""
        from .operators.rq import rq_decode_np

        books = self.codebooks
        return lambda pdf: rq_decode_np(_codes(pdf), books)

    def search(self, queries: DataFrame, k: int) -> DataFrame:
        from .operators.rq import rq_search

        return rq_search(self.codes, self.codebooks, queries, k)

    def range_search(self, queries: DataFrame, radius: float) -> DataFrame:
        """faiss ``range_search`` (IndexFlatCodes inheritance): exact
        asymmetric distance strictly under radius, unordered (qid,
        label, distance), zero shuffles."""
        from .operators.rq import rq_range_search

        return rq_range_search(self.codes, self.codebooks, queries, radius)

    def _trained_state(self) -> tuple:
        """Stage chains are comparable only under the IDENTICAL
        codebooks AND encode discipline (a donor encoded with a
        different beam/icm width holds different codes for the same
        vectors, silently mixing quality tiers)."""
        return (self.d, self.beam, self.icm_sweeps, self.codebooks)

    @property
    def sa_code_size(self) -> int:
        return len(self.codebooks)  # m bytes/vector


@dataclass
class PRQIndex(_AddCodes):
    """Product-residual-quantizer tier — faiss
    ``IndexProductResidualQuantizer`` (``index_factory("PRQ<ns>x<m>x8")``)
    and, with ``icm_sweeps`` > 0, the ``IndexProductLocalSearchQuantizer``
    encode discipline (``"PLSQ<ns>x<m>x8"``): the d dims split into
    ``nsplits`` disjoint coordinate blocks, each encoded by its own
    m-stage residual quantizer (operators/rq.py prq_*). ns·m bytes per
    vector; blocks are disjoint so the L2 identity decomposes exactly
    and search shares the RQ LUT-gather scan. Honest mapping note: faiss
    LSQ *trains* codebooks with ICM + simulated-annealing perturbations;
    here codebooks come from the greedy residual trainer and ICM is the
    ENCODE move (deterministic, per-vector error monotone) — same code
    layout and search arithmetic, different codebook optimizer."""

    _kind = "prq"
    _frame = "codes"
    _code_schema = "id long, code binary, recn double"

    spark: SparkSession
    d: int
    codebooks: np.ndarray  # (nsplits, m, 256, d // nsplits)
    codes: DataFrame
    _n: int = field(default=-1, repr=False)
    beam: int = 1
    icm_sweeps: int = 0

    @classmethod
    def from_table(
        cls, vt, nsplits: int, m: int, sample_size: int = 16384,
        iters: int = 10, beam: int = 1, icm_sweeps: int = 0,
        nbits: int = 8,
    ) -> "PRQIndex":
        from .operators.rq import prq_train

        if vt.d % nsplits:
            raise ValueError(f"d={vt.d} not divisible by nsplits={nsplits}")
        base = _float_view(vt)
        books = prq_train(base, nsplits, m, sample_size=sample_size,
                          iters=iters, nbits=nbits)
        return cls(
            vt.spark, vt.d, books, None,
            beam=int(beam), icm_sweeps=int(icm_sweeps),
        )._fill(base)

    def _encode_df(self, rows: DataFrame) -> DataFrame:
        from .operators.rq import prq_encode

        return prq_encode(
            rows, self.codebooks, beam=self.beam, icm_sweeps=self.icm_sweeps
        )

    def _encode_np(self, x: np.ndarray) -> np.ndarray:
        from .operators.rq import prq_assign_np

        return prq_assign_np(
            x, self.codebooks, beam=self.beam, icm_sweeps=self.icm_sweeps
        )

    def _decode(self):
        """Per-block codeword sums concatenated
        (``ProductAdditiveQuantizer::decode``)."""
        from .operators.rq import prq_decode_np

        books = self.codebooks
        return lambda pdf: prq_decode_np(_codes(pdf), books)

    @property
    def nsplits(self) -> int:
        return len(self.codebooks)

    def search(self, queries: DataFrame, k: int) -> DataFrame:
        from .operators.rq import prq_search

        return prq_search(self.codes, self.codebooks, queries, k)

    def range_search(self, queries: DataFrame, radius: float) -> DataFrame:
        """faiss ``range_search`` over the product codes — same strict-<
        unordered contract as :meth:`RQIndex.range_search`."""
        from .operators.rq import prq_range_search

        return prq_range_search(self.codes, self.codebooks, queries, radius)

    def _trained_state(self) -> tuple:
        """Identical codebooks AND encode widths (the RQIndex
        discipline)."""
        return (self.d, self.beam, self.icm_sweeps, self.codebooks)

    @property
    def sa_code_size(self) -> int:
        ns, m = self.codebooks.shape[:2]
        return ns * m  # bytes/vector


@dataclass
class IVFRQIndex(_Preassigned):
    """IVF + additive-quantized entries — the faiss
    ``IndexIVFResidualQuantizer`` family (``index_factory(
    "IVF<n>,RQ<m>x8")``) and its product/ICM variants:
    ``codebooks.ndim == 3`` is the full-width residual quantizer
    (IVF+RQ; with ``icm_sweeps`` > 0 the ``"IVF<n>,LSQ<m>x8"`` encode
    discipline), ``ndim == 4`` the per-coordinate-block product form
    (IVF+PRQ / ``"IVF<n>,PLSQ..."``). Composition of the existing IVF
    cell machinery and the flat additive tiers (operators/rq.py
    ``ivfrq_*``): by default (``by_residual=True``, faiss's default)
    each entry's additive code encodes ``x − centroid(cell)`` and
    search uses the extended additive identity with one global
    query-batch LUT broadcast shared across probed cells;
    ``by_residual=False`` stores plain codes so a full probe is
    bit-identical to the flat RQ/PRQ tier under shared codebooks.
    Codes persist ``partitionBy("cell")`` via ``write_index`` (the
    inverted-list layout, partition-pruned probes)."""

    _kind = "ivfrq"
    _frame = "codes"

    spark: SparkSession
    d: int
    centroids: np.ndarray
    codebooks: np.ndarray  # (m, 256, d) RQ or (ns, m, 256, dsub) PRQ
    codes: DataFrame
    _n: int = field(default=-1, repr=False)
    beam: int = 1
    icm_sweeps: int = 0
    by_residual: bool = True
    # graph coarse quantizer (factory "IVF<n>_HNSW<M>,RQ<m>x8") — see
    # IVFIndex.quantizer
    quantizer: object = field(default=None, repr=False)

    @classmethod
    def from_table(
        cls, vt, n_cells: int, m: int, *, nsplits: int | None = None,
        sample_size: int = 16384, iters: int = 10,
        beam: int = 1, icm_sweeps: int = 0, by_residual: bool = True,
        nbits: int = 8, coarse_hnsw_m: int | None = None,
        coarse_kw: dict | None = None,
    ) -> "IVFRQIndex":
        from .operators.rq import _addq_train_np
        from .operators.similarity import _ivf_prologue

        base = _float_view(vt)
        C, q = _coarse(vt, base, n_cells, sample_size, iters, coarse_hnsw_m, coarse_kw)
        _, _, X = _ivf_prologue(
            base, n_cells, sample_size=sample_size, centroids=C, assigner=q,
            by_residual=by_residual,
        )
        books = _addq_train_np(X, m, nsplits, iters, nbits)
        return cls(
            vt.spark, vt.d, C, books, None, beam=int(beam),
            icm_sweeps=int(icm_sweeps), by_residual=bool(by_residual),
            quantizer=q,
        )._fill(base)

    def _encode_df(self, rows: DataFrame) -> DataFrame:
        """Assign against the coarse quantizer, additive-encode (the
        residual when ``by_residual``) with the index's beam/ICM."""
        from .operators.rq import ivfrq_encode
        from .operators.similarity import ivf_assign

        return ivfrq_encode(
            ivf_assign(rows, self.centroids, assigner=self.quantizer),
            self.centroids, self.codebooks, beam=self.beam,
            icm_sweeps=self.icm_sweeps, by_residual=self.by_residual,
        )

    def _decode(self):
        """Additive decode, + centroid(cell) when ``by_residual``."""
        from .operators.rq import addq_decode_np

        C, books, by_residual = self.centroids, self.codebooks, self.by_residual

        def dec(pdf: pd.DataFrame) -> np.ndarray:
            rec = addq_decode_np(_codes(pdf), books)
            return rec + C[_cells(pdf)] if by_residual else rec

        return dec

    def _kernel(self):
        from .operators.rq import additive_scan

        return additive_scan(self.centroids, self.codebooks, self.by_residual)

    @property
    def sa_code_size(self) -> int:
        from .operators.rq import addq_m_total

        return addq_m_total(self.codebooks)

    def _trained_state(self) -> tuple:
        """Identical coarse quantizer, codebooks AND encode discipline (a
        donor encoded with a different beam/residual mode holds
        different codes for the same vectors)."""
        return (
            self.d, self.beam, self.icm_sweeps, self.by_residual,
            self.centroids, self.codebooks, *_coarse_state(self.quantizer),
        )



@dataclass
class RQFastScanIndex(_FlatCodes):
    """faiss ``IndexAdditiveQuantizerFastScan`` in its residual form
    (``IndexResidualQuantizerFastScan``; factory ``RQ<m>x4fs``): 4-bit
    RQ stages packed two per stored byte, additive LUT search via
    fused per-byte 256-entry tables — one gather per byte instead of
    two nibble gathers. Search matches the plain nbits=4 RQ tier
    trained on the same sample: labels exactly, distances to
    pair-association ulp (the fused table sums each byte's two stage
    inner products first — same reals; far tighter than faiss's own
    fast-scan, which quantizes LUTs to int8). Packing reuses the PQ
    fast-scan layout helpers (operators/pq.py pq_pack4_np /
    _fuse_lut4) — the layout is codebook-agnostic."""

    _kind = "rq_fs"
    _frame = "codes"

    spark: SparkSession
    d: int
    codebooks: np.ndarray  # (m, 16, d) — nbits=4 full-width stages
    codes: DataFrame  # (id, code BINARY ⌈m/2⌉ bytes, recn DOUBLE)
    _n: int = field(default=-1, repr=False)
    beam: int = 1
    icm_sweeps: int = 0

    @classmethod
    def from_table(
        cls, vt, m: int, sample_size: int = 16384, iters: int = 10,
        beam: int = 1, icm_sweeps: int = 0,
    ) -> "RQFastScanIndex":
        from .operators.rq import rq_train

        base = _float_view(vt)
        books = rq_train(base, m, sample_size=sample_size, iters=iters,
                         nbits=4)
        return cls(
            vt.spark, vt.d, books, None,
            beam=int(beam), icm_sweeps=int(icm_sweeps),
        )._fill(base)

    def _encode_df(self, rows: DataFrame) -> DataFrame:
        from .operators.rq import rq_encode

        return rq_encode(
            rows, self.codebooks, beam=self.beam, icm_sweeps=self.icm_sweeps,
            pack4=True,
        )

    def _encode_np(self, x: np.ndarray) -> np.ndarray:
        from .operators.pq import pq_pack4_np
        from .operators.rq import rq_assign_np

        return pq_pack4_np(
            rq_assign_np(
                x, self.codebooks, beam=self.beam, icm_sweeps=self.icm_sweeps
            )
        )

    def _decode(self):
        from .operators.pq import pq_unpack4_np
        from .operators.rq import rq_decode_np

        books, m = self.codebooks, self.m
        return lambda pdf: rq_decode_np(pq_unpack4_np(_codes(pdf), m), books)

    @property
    def m(self) -> int:
        return int(self.codebooks.shape[0])

    @property
    def nbits(self) -> int:
        return 4

    def search(self, queries: DataFrame, k: int) -> DataFrame:
        from .operators.rq import rq_search

        return rq_search(self.codes, self.codebooks, queries, k, packed4=True)

    def range_search(self, *_a, **_k):
        """faiss ``IndexFastScan`` has no range_search (upstream raises
        — no unbounded-result path in the SIMD kernel); same explicit
        refusal. Use the plain RQ tier for radius queries."""
        raise NotImplementedError(
            "RQFastScanIndex.range_search: faiss IndexFastScan does not "
            "implement range search; use RQIndex instead"
        )

    def _trained_state(self) -> tuple:
        """Identical codebooks AND encode widths."""
        return (self.d, self.beam, self.icm_sweeps, self.codebooks)

    @property
    def sa_code_size(self) -> int:
        return (self.m + 1) // 2  # packed bytes/vector


@dataclass
class PRQFastScanIndex(_FlatCodes):
    """faiss ``IndexProductResidualQuantizerFastScan`` (factory
    ``PRQ<ns>x<m>x4fs``; with ``icm_sweeps`` > 0 the
    ``IndexProductLocalSearchQuantizerFastScan`` encode discipline,
    ``PLSQ<ns>x<m>x4fs``): the product-additive composition of
    :class:`RQFastScanIndex` — per-block 4-bit residual stages, the
    flattened (ns·m) code chain packed two per byte, search via fused
    per-byte 256-entry block-diagonal LUTs. The inner products are
    linear, so fusing adjacent stages ACROSS a block boundary sums the
    same reals pair-associated: labels exactly equal the unpacked
    nbits=4 :class:`PRQIndex` on the same trained state, distances to
    summation-order ulp. Layout helpers shared with every fast-scan
    tier (operators/pq.py ``pq_pack4_np`` / ``_fuse_lut4``)."""

    _kind = "prq_fs"
    _frame = "codes"

    spark: SparkSession
    d: int
    codebooks: np.ndarray  # (ns, m, 16, d // ns) — nbits=4 blocks
    codes: DataFrame  # (id, code BINARY ⌈ns·m/2⌉ bytes, recn DOUBLE)
    _n: int = field(default=-1, repr=False)
    beam: int = 1
    icm_sweeps: int = 0

    @classmethod
    def from_table(
        cls, vt, nsplits: int, m: int, sample_size: int = 16384,
        iters: int = 10, beam: int = 1, icm_sweeps: int = 0,
    ) -> "PRQFastScanIndex":
        from .operators.rq import prq_train

        if vt.d % nsplits:
            raise ValueError(f"d={vt.d} not divisible by nsplits={nsplits}")
        base = _float_view(vt)
        books = prq_train(base, nsplits, m, sample_size=sample_size,
                          iters=iters, nbits=4)
        return cls(
            vt.spark, vt.d, books, None,
            beam=int(beam), icm_sweeps=int(icm_sweeps),
        )._fill(base)

    def _encode_df(self, rows: DataFrame) -> DataFrame:
        from .operators.rq import prq_encode

        return prq_encode(
            rows, self.codebooks, beam=self.beam, icm_sweeps=self.icm_sweeps,
            pack4=True,
        )

    def _encode_np(self, x: np.ndarray) -> np.ndarray:
        from .operators.pq import pq_pack4_np
        from .operators.rq import prq_assign_np

        return pq_pack4_np(
            prq_assign_np(
                x, self.codebooks, beam=self.beam, icm_sweeps=self.icm_sweeps
            )
        )

    def _decode(self):
        from .operators.pq import pq_unpack4_np
        from .operators.rq import prq_decode_np

        books, m = self.codebooks, self.m_total
        return lambda pdf: prq_decode_np(pq_unpack4_np(_codes(pdf), m), books)

    @property
    def nsplits(self) -> int:
        return int(self.codebooks.shape[0])

    @property
    def m_total(self) -> int:
        ns, m = self.codebooks.shape[:2]
        return ns * m

    @property
    def nbits(self) -> int:
        return 4

    def search(self, queries: DataFrame, k: int) -> DataFrame:
        from .operators.rq import prq_search

        return prq_search(self.codes, self.codebooks, queries, k, packed4=True)

    def range_search(self, *_a, **_k):
        """faiss ``IndexFastScan`` has no range_search; use the plain
        PRQ<ns>x<m>x8 tier for radius queries."""
        raise NotImplementedError(
            "PRQFastScanIndex.range_search: faiss IndexFastScan does not "
            "implement range search; use PRQIndex instead"
        )

    def _trained_state(self) -> tuple:
        """Identical codebooks AND encode widths."""
        return (self.d, self.beam, self.icm_sweeps, self.codebooks)

    @property
    def sa_code_size(self) -> int:
        return (self.m_total + 1) // 2  # packed bytes/vector


@dataclass
class IVFRQFastScanIndex(_IVF):
    """faiss ``IndexIVFAdditiveQuantizerFastScan`` (factory
    ``IVF<n>,RQ<m>x4fs`` for the residual form,
    ``IVF<n>,PRQ<ns>x<m>x4fs`` / ``IVF<n>,PLSQ<ns>x<m>x4fs`` for the
    product forms — ``nsplits`` picks the family exactly as in
    :class:`IVFRQIndex`): the inverted-file composition of
    :class:`RQFastScanIndex` / :class:`PRQFastScanIndex` — packed
    4-bit additive codes in cell-partitioned lists, per-probe
    fused-LUT additive scan. Full probe ≡ the unpacked nbits=4
    :class:`IVFRQIndex` (same trained state): labels exactly,
    distances to pair-association ulp."""

    _kind = "ivfrq_fs"
    _frame = "codes"

    spark: SparkSession
    d: int
    centroids: np.ndarray
    codebooks: np.ndarray  # (m, 16, d) RQ or (ns, m, 16, dsub) PRQ
    codes: DataFrame  # (id, cell, code BINARY packed, recn DOUBLE)
    _n: int = field(default=-1, repr=False)
    beam: int = 1
    icm_sweeps: int = 0
    by_residual: bool = True

    @classmethod
    def from_table(
        cls, vt, n_cells: int, m: int, *, nsplits: int | None = None,
        sample_size: int = 16384,
        iters: int = 10, beam: int = 1, icm_sweeps: int = 0,
        by_residual: bool = True,
    ) -> "IVFRQFastScanIndex":
        from .operators.rq import _addq_train_np
        from .operators.similarity import _ivf_prologue

        base = _float_view(vt)
        C, _, X = _ivf_prologue(
            base, n_cells, sample_size=sample_size, iters=iters,
            by_residual=by_residual,
        )
        books = _addq_train_np(X, m, nsplits, iters, 4)
        return cls(
            vt.spark, vt.d, C, books, None, beam=int(beam),
            icm_sweeps=int(icm_sweeps), by_residual=bool(by_residual),
        )._fill(base)

    def _encode_df(self, rows: DataFrame) -> DataFrame:
        from .operators.rq import ivfrq_encode
        from .operators.similarity import ivf_assign

        return ivfrq_encode(
            ivf_assign(rows, self.centroids), self.centroids, self.codebooks,
            beam=self.beam, icm_sweeps=self.icm_sweeps,
            by_residual=self.by_residual, pack4=True,
        )

    def _decode(self):
        """Unpack, additive decode, + centroid(cell) when ``by_residual``."""
        from .operators.pq import pq_unpack4_np
        from .operators.rq import addq_decode_np

        C, books, m = self.centroids, self.codebooks, self.m
        by_residual = self.by_residual

        def dec(pdf: pd.DataFrame) -> np.ndarray:
            rec = addq_decode_np(pq_unpack4_np(_codes(pdf), m), books)
            return rec + C[_cells(pdf)] if by_residual else rec

        return dec

    @property
    def m(self) -> int:
        """Stored 4-bit stages per vector (ns·m for the product form)."""
        from .operators.rq import addq_m_total

        return addq_m_total(self.codebooks)

    def _kernel(self):
        from .operators.rq import additive_scan

        return additive_scan(
            self.centroids, self.codebooks, self.by_residual, packed4=True
        )

    def range_search(self, *_a, **_k):
        """faiss IndexIVFFastScan parity: no range_search — use the
        unpacked IVF<n>,RQ<m>x8 tier for radius queries."""
        raise NotImplementedError(
            "IVFRQFastScanIndex.range_search: faiss IndexIVFFastScan "
            "does not implement range search; use IVFRQIndex instead"
        )

    def _trained_state(self) -> tuple:
        """Identical coarse quantizer, codebooks AND encode discipline."""
        return (
            self.d, self.beam, self.icm_sweeps, self.by_residual,
            self.centroids, self.codebooks,
        )



@dataclass
class Flat1DIndex(_Decoded, _ListTier):
    """1-d specialized flat tier — faiss ``IndexFlat1D`` (IndexFlat.h:
    "optimized version for 1D vectors"; built here from a d=1 table via
    ``index_factory("Flat1D")``). Upstream quirk mirrored: distances are
    ABSOLUTE differences ``|q − v|``, not squared L2 — the documented
    IndexFlat1D deviation from IndexFlatL2.

    Spark-first physical plan (the upstream sorted-permutation binary
    search + two-pointer walk re-expressed for a cluster):

    - **build**: rank the store once by (val, id) with a two-level
      distributed ranking — one range-partition exchange (identical
      cost to a global sort, the ``write_zordered`` discipline) plus a
      per-partition local rank and a broadcast P-row offsets table; no
      global single-partition window anywhere.
    - **search**: (a) ALL queries' insertion positions in ONE scan:
      the query batch broadcasts and each partition emits its partial
      ``count(val < q)`` vector via ``np.searchsorted``, partials
      summed on the driver (P × nq longs — query-batch bounded);
      (b) the true top-k by ``|q − v|``
      provably lives in the rank window ``[pos−k, pos+k−1]`` (k values
      on each side), fetched through a broadcast range join — output
      bounded at nq·2k rows; (c) exact rank via the shared
      ``_finalize`` merge. Never materializes nq×n, never sorts at
      search time.

    Tie deviation (documented): when an equal-value group is larger
    than k, the window keeps the group's sorted-order (val, id)
    neighbors — the upstream two-pointer walk's own behavior — rather
    than the global min-label members the flat (distance, label)
    contract would pick."""

    _kind = "flat1d"
    _frame = "ranked"

    spark: SparkSession
    ranked: DataFrame  # (id long, val double, rank long)
    _n: int = field(default=-1, repr=False)

    d = 1  # faiss IndexFlat1D is d=1 by construction

    @classmethod
    def from_df(
        cls, df: DataFrame, id_col: str = "id", val_col: str = "val",
        partitions: int | None = None,
    ) -> "Flat1DIndex":
        from pyspark.sql.window import Window

        spark = df.sparkSession
        base = df.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(val_col).cast("double").alias("val"),
        )
        P = int(partitions or spark.sparkContext.defaultParallelism)
        # persist the partitioned frame BEFORE deriving offsets: the
        # range partitioner samples its bounds, so two evaluations of
        # the same lineage may split differently — offsets and ranks
        # must come from ONE materialization
        pid = (
            base.repartitionByRange(P, "val", "id")
            .withColumn("pid", F.spark_partition_id())
            .persist()
        )
        n = pid.count()
        counts = {
            r["pid"]: r["n"]
            for r in pid.groupBy("pid").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        offsets, acc = {}, 0
        for p in sorted(counts):  # range partitions are order-ascending
            offsets[p] = acc
            acc += counts[p]
        omap = (
            F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
            if offsets
            else F.create_map()
        )
        w = Window.partitionBy("pid").orderBy("val", "id")
        ranked = (
            pid.withColumn("lrank", F.row_number().over(w))
            .select(
                "id",
                "val",
                (F.element_at(omap, F.col("pid")) + F.col("lrank") - 1).alias("rank"),
            )
            .persist()
        )
        ranked.count()
        pid.unpersist()
        return cls(spark, ranked, n)

    @classmethod
    def from_table(cls, vt, **kw) -> "Flat1DIndex":
        if vt.d != 1:
            raise ValueError(f"Flat1D requires a d=1 table, got d={vt.d}")
        base = _float_view(vt)
        return cls.from_df(
            base.select("id", F.element_at("vec", 1).alias("val")), **kw
        )

    def _positions(self, qvals) -> list[int]:
        """Insertion positions ``count(val < q)`` for ALL queries in ONE
        scan of the store: broadcast the query batch, each partition
        emits its partial count vector (``np.searchsorted`` over its
        locally sorted values — strict ``<`` via side='left'), partials
        sum on the driver (P × nq longs, query-batch bounded). Replaces
        the r11 ⌈nq/128⌉ sequential full-scan aggregates — position
        probing now costs one corpus scan at ANY nq."""
        q = np.asarray(qvals, np.float64)
        if len(q) == 0:
            return []
        bcq = self.spark.sparkContext.broadcast(q)

        def partials(batches):
            import pyarrow as pa

            q_ = bcq.value
            acc = np.zeros(len(q_), np.int64)
            seen = False
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                seen = True
                vals = np.sort(
                    batch.column("val").to_numpy(zero_copy_only=False)
                )
                acc += np.searchsorted(vals, q_, side="left")
            if seen:
                yield pa.record_batch([pa.array([acc.tolist()])], names=["c"])

        rows = (
            self.ranked.select("val")
            .mapInArrow(partials, "c array<long>")
            .collect()
        )
        if not rows:
            return [0] * len(q)
        return [int(p) for p in np.sum([r["c"] for r in rows], axis=0)]

    def search(
        self, queries: DataFrame, k: int, qid_col: str = "qid",
        qval_col: str = "val",
    ) -> DataFrame:
        from .operators.knn import RESULT_SCHEMA, _finalize

        qpdf = queries.select(
            F.col(qid_col).cast("long").alias("qid"),
            F.col(qval_col).cast("double").alias("qv"),
        ).toPandas()
        if len(qpdf) == 0:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        qvals = qpdf["qv"].tolist()
        pos = self._positions(qvals) if self.ntotal else [0] * len(qvals)
        win = self.spark.createDataFrame(
            pd.DataFrame(
                {
                    "qid": qpdf["qid"].to_numpy(np.int64),
                    "qv": np.asarray(qvals, np.float64),
                    "lo": np.asarray([max(0, p - k) for p in pos], np.int64),
                    "hi": np.asarray([p + k - 1 for p in pos], np.int64),
                }
            )
        )
        cand = (
            self.ranked.join(
                F.broadcast(win),
                (F.col("rank") >= F.col("lo")) & (F.col("rank") <= F.col("hi")),
            )
            .select(
                "qid",
                F.col("id").alias("label"),
                F.abs(F.col("val") - F.col("qv")).alias("distance"),
            )
        )
        qdf = queries.select(F.col(qid_col).cast("long").alias("qid"))
        return _finalize(qdf, cand, k, "l2")

    def search_numpy(self, x, k: int) -> tuple[np.ndarray, np.ndarray]:
        x = np.asarray(x, np.float64).reshape(-1)
        qdf = self.spark.createDataFrame(
            pd.DataFrame({"qid": np.arange(len(x), dtype=np.int64), "val": x})
        )
        return _host_result(self.search(qdf, k), len(x), k)

    def range_search(
        self, queries: DataFrame, radius: float, qid_col: str = "qid",
        qval_col: str = "val",
    ) -> DataFrame:
        """All stored values with ``|q − v| < radius`` (STRICT, the flat
        range contract), unordered (qid, label, distance). In 1-d the
        radius ball is the interval ``(q − r, q + r)``, so the scan is a
        broadcast VALUE-window join on the ranked store — one scan,
        zero shuffles, output bounded by the true result size. Note the
        upstream wart this deliberately fixes: faiss IndexFlat1D
        inherits IndexFlatL2's range_search, whose radius is in SQUARED
        units while its own search() reports |q − v| — here both use
        |q − v| consistently."""
        from .operators.knn import RANGE_SCHEMA

        qpdf = queries.select(
            F.col(qid_col).cast("long").alias("qid"),
            F.col(qval_col).cast("double").alias("qv"),
        ).toPandas()
        if len(qpdf) == 0:
            return self.spark.createDataFrame([], RANGE_SCHEMA)
        r = float(radius)
        win = self.spark.createDataFrame(
            pd.DataFrame(
                {
                    "qid": qpdf["qid"].to_numpy(np.int64),
                    "qv": qpdf["qv"].to_numpy(np.float64),
                }
            )
        )
        return (
            self.ranked.join(
                F.broadcast(win),
                (F.col("val") > F.col("qv") - r) & (F.col("val") < F.col("qv") + r),
            )
            .select(
                "qid",
                F.col("id").alias("label"),
                F.abs(F.col("val") - F.col("qv")).alias("distance"),
            )
            .where(F.col("distance") < r)  # exact strict-< boundary
        )

    def _decode(self):
        return lambda pdf: pdf["val"].to_numpy(np.float32)[:, None]

    def add_df(self, df: DataFrame, id_col: str = "id", val_col: str = "val") -> "Flat1DIndex":
        """Append + re-rank (the upstream ``update_permutation`` after
        add, distributed: one new range exchange over the union)."""
        merged = self.ranked.select("id", "val").unionByName(
            df.select(
                F.col(id_col).cast("long").alias("id"),
                F.col(val_col).cast("double").alias("val"),
            )
        )
        new = Flat1DIndex.from_df(merged)
        self.ranked.unpersist()
        self.ranked, self._n = new.ranked, new._n
        return self

    def add_numpy(self, x, ids=None) -> "Flat1DIndex":
        x = np.asarray(x, np.float64).reshape(-1)
        if ids is None:
            start = (
                self.ranked.agg(F.max("id")).collect()[0][0] if self.ntotal else -1
            )
            ids = np.arange(start + 1, start + 1 + len(x), dtype=np.int64)
        return self.add_df(
            self.spark.createDataFrame(
                pd.DataFrame({"id": np.asarray(ids, np.int64), "val": x})
            )
        )

    def remove_ids(self, ids) -> int:
        """Drop + re-rank (rank holes would break the window-coverage
        guarantee, so removal rebuilds the permutation like add)."""
        if isinstance(ids, tuple) and len(ids) == 2:
            raise TypeError(
                "remove_ids: a bare 2-tuple is ambiguous — pass "
                "remove_ids([a, b]) for two literal ids, or "
                "IDSelectorRange(lo, hi) for a range"
            )
        survivors = _drop_ids(self.ranked.select("id", "val"), ids)
        new = Flat1DIndex.from_df(survivors)
        removed = self.ntotal - new.ntotal
        self.ranked.unpersist()
        self.ranked, self._n = new.ranked, new._n
        return removed


def _refine_reconstruct_df(index) -> DataFrame:
    """``(id, vec)`` DECODED view of a tier's storage — the rescore
    source a generalized faiss ``IndexRefine`` needs (factory
    ``"...,Refine(SQfp16)"``: the refine tier rescores through ITS OWN
    reconstruction, not the exact table). One lazy decode plan over the
    tier's persisted frame — no shuffle, no materialization until the
    rescore join fetches candidate rows."""
    from .vector_table import VectorTable

    if isinstance(index, VectorTable):
        # flat / fp16 / bf16 compact: the dequantized float view IS the
        # tier's reconstruction (faiss Refine(SQfp16) semantics)
        return _float_view(index)
    if isinstance(index, SQ8Index):
        from .operators.sq import sq_reconstruct_col

        return index.codes.select(
            "id",
            sq_reconstruct_col(
                "code", index.vmin, index.vmax, index.bits,
                direct=index.direct,
            ).alias("vec"),
        )
    if isinstance(index, PQFastScanIndex):
        raise TypeError(
            "Refine over the packed fast-scan tier is unsupported — "
            "use the plain PQ<m>x4 tier as the refine spec"
        )
    if isinstance(index, PQIndex):
        from .operators.pq import pq_reconstruct

        return pq_reconstruct(index.codes, index.codebooks)
    if isinstance(index, (RQIndex, PRQIndex)):
        from .operators.rq import rq_reconstruct

        return rq_reconstruct(index.codes, index.codebooks)
    raise TypeError(
        f"Refine(<spec>) does not support {type(index).__name__} as the "
        "refine tier (supported: Flat/SQfp16/SQbf16 tables, SQ4/6/8, "
        "PQ<m>[x<b>], RQ/LSQ/PRQ/PLSQ)"
    )


class RefineIndex:
    """Generic two-stage wrapper — faiss ``IndexRefine`` /
    ``IndexRefineFlat`` over ANY base index (``index_factory(
    "...,RFlat")`` / ``"...,Refine(<spec>)"``): the base retrieves
    ``k·k_factor`` candidates its own approximate way, the wrapper
    rescores exactly those rows against the refine source — the
    full-precision table for RFlat, or an arbitrary refine tier's
    RECONSTRUCTION for ``Refine(SQfp16)`` / ``Refine(PQ8)`` /
    ``Refine(RQ4x8)`` (faiss lets the refine storage be any codec; the
    rescored distance is then the refine tier's decode distance, not
    exact L2) — and re-ranks. Every tier here exposes the same
    ``search(queries, k, **kw)`` contract, so any of them can be the
    base (IVF, PQ, IMI, LSH, graph, binary-hash, ...).

    Scale: stage 2 touches exactly nq·k·k_factor source rows through
    a broadcast semi-join on the candidate ids — the corpus table
    never shuffles (the shared two-stage discipline of
    ``refine_search`` / ``hamming_refine``); a codec refine source is
    a lazy decode plan, so only the fetched candidates ever decode.
    """

    def __init__(self, base, source: DataFrame, k_factor: int = 4,
                 refine=None):
        self.base = base
        self.source = source.select(
            F.col("id").cast("long").alias("id"), "vec"
        )
        self.k_factor = int(k_factor)
        # the refine TIER (None for RFlat) — kept for introspection and
        # clone; `source` is always the materialization-ready plan
        self.refine = refine

    @classmethod
    def from_table(cls, vt, base, k_factor: int = 4) -> "RefineIndex":
        return cls(base, _float_view(vt), k_factor)

    @classmethod
    def from_refine_index(cls, base, refine, k_factor: int = 4) -> "RefineIndex":
        """faiss ``IndexRefine(base, refine)``: rescore through the
        refine tier's reconstruction (see :func:`_refine_reconstruct_df`)."""
        return cls(base, _refine_reconstruct_df(refine), k_factor,
                   refine=refine)

    @property
    def spark(self):
        return self.base.spark

    @property
    def d(self) -> int:
        return self.base.d

    @property
    def ntotal(self) -> int:
        return self.base.ntotal

    def search(self, queries: DataFrame, k: int, **base_kw) -> DataFrame:
        """``queries`` uses the engine-standard (qid, vec) schema —
        the one every tier's search accepts; ``base_kw`` forwards the
        base's own knobs (nprobe, nflip, ef, ...). Rescoring runs in
        the BASE's metric (faiss ``IndexRefine`` re-ranks in the
        index's own metric_type): IP bases rescore by dot product and
        keep the largest, cosine by similarity, L1 by Manhattan — an
        IP base never silently returns L2-ranked rows."""
        from .functions.vector import cosine_sim, dot, l1dist, l2sq
        from .operators.knn import _finalize

        metric = getattr(self.base, "metric", "l2")
        scorers = {"l2": l2sq, "ip": dot, "cosine": cosine_sim, "l1": l1dist}
        if metric not in scorers:
            raise ValueError(
                f"Refine cannot rescore in base metric {metric!r} "
                f"(supported: {sorted(scorers)})"
            )
        score = scorers[metric]
        cand = (
            self.base.search(queries, k * self.k_factor, **base_kw)
            .where(F.col("label") >= 0)
            .select("qid", "label")
        )
        vv = self.source.select(F.col("id").alias("label"), F.col("vec").alias("_vvec"))
        qq = queries.select(
            F.col("qid").cast("long").alias("qid"), F.col("vec").alias("_qvec")
        )
        rescored = (
            F.broadcast(cand)
            .join(vv, "label")
            .join(F.broadcast(qq), "qid")
            .select(
                "qid", "label", score(F.col("_qvec"), F.col("_vvec")).alias("distance")
            )
        )
        return _finalize(qq.select("qid"), rescored, k, metric)

    search_numpy = _host_twin("search")


@dataclass
class RowwiseMinMaxIndex:
    """≙ faiss ``IndexRowwiseMinMax`` / ``IndexRowwiseMinMaxFP16``
    (factory prefixes ``"MinMax,"`` / ``"MinMaxFP16,"``): a CODEC
    wrapper that min-max-normalizes every vector to [0, 1] per row and
    lets the inner index encode the normalized values — the standard
    trick for feeding rows of wildly different scales into a scalar
    quantizer. Each code carries a per-row (scaler, vmin) prefix —
    2 float32 (8 bytes) or 2 float16 (4 bytes) — ahead of the inner
    code; decode is ``inner_decode(code) · scaler + vmin``.

    faiss parity: this is a codec index — ``search`` raises (upstream
    ``IndexRowwiseMinMaxBase`` does not implement it); the value is in
    ``sa_encode``/``sa_decode`` and in training the inner index on the
    NORMALIZED rows, which :meth:`from_table` does with an
    all-Catalyst per-row normalize (``array_min``/``array_max`` +
    ``transform`` — one projection, no shuffle, no Python per row).
    A constant row (scaler 0) encodes as the zero vector and decodes
    back to the constant exactly regardless of the inner codec."""

    inner: object
    fp16: bool = False

    @classmethod
    def from_table(cls, vt, inner_spec: str, fp16: bool = False, **train_kw):
        """Normalize each row in Catalyst, build ``inner_spec`` over
        the normalized table, wrap."""
        from .functions.vector import sqnorm
        from .vector_table import VectorTable

        base = _float_view(vt)
        vmin = F.array_min("vec")
        scaler = F.array_max("vec") - vmin
        norm = F.transform(
            "vec",
            lambda x: F.when(
                scaler > 0, (x - vmin) / scaler
            ).otherwise(F.lit(0.0)).cast("float"),
        )
        normalized = base.select(F.col("id"), norm.alias("vec"))
        inner_vt = VectorTable(
            vt.spark, d=vt.d, metric=getattr(vt, "metric", "l2"),
            df=normalized.select(
                "id", "vec", sqnorm(F.col("vec")).alias("norm_sq")
            ),
        )
        return cls(index_factory(inner_vt, inner_spec, **train_kw), fp16)

    @property
    def d(self) -> int:
        return self.inner.d

    @property
    def ntotal(self) -> int:
        return self.inner.ntotal

    @property
    def sa_code_size(self) -> int:
        return (4 if self.fp16 else 8) + int(self.inner.sa_code_size)

    def sa_encode(self, x: np.ndarray) -> np.ndarray:
        x = np.atleast_2d(np.asarray(x, dtype=np.float64))
        if x.shape[1] != self.d:
            raise ValueError(f"expected d={self.d}, got {x.shape[1]}")
        vmin = x.min(axis=1)
        scaler = x.max(axis=1) - vmin
        safe = np.where(scaler > 0, scaler, 1.0)
        xn = (x - vmin[:, None]) / safe[:, None]
        inner_codes = self.inner.sa_encode(xn)
        dt = np.float16 if self.fp16 else np.float32
        return np.array(
            [
                np.array([scaler[i], vmin[i]], dtype=dt).tobytes() + bytes(c)
                for i, c in enumerate(inner_codes)
            ],
            dtype=object,
        )

    def sa_decode(self, codes) -> np.ndarray:
        w = 4 if self.fp16 else 8
        dt = np.float16 if self.fp16 else np.float32
        rows = [bytes(c) for c in codes]
        if not rows:
            return np.zeros((0, self.d), dtype=np.float32)
        pre = np.stack(
            [np.frombuffer(c[:w], dtype=dt).astype(np.float64) for c in rows]
        )
        dec = np.asarray(
            self.inner.sa_decode([c[w:] for c in rows]), dtype=np.float64
        )
        return (dec * pre[:, 0][:, None] + pre[:, 1][:, None]).astype(
            np.float32
        )

    def search(self, *a, **kw):
        raise NotImplementedError(
            "IndexRowwiseMinMax is a codec index — faiss "
            "IndexRowwiseMinMaxBase does not implement search; use "
            "sa_encode/sa_decode, or search the wrapped inner index "
            "in normalized space via .inner"
        )


def index_factory(vt, spec: str, **train_kw):
    """FAISS ``index_factory`` twin over the derived-tier workflow.

    FAISS builds an empty index from a spec string, then ``train``/
    ``add`` populate it; here the flat :class:`VectorTable` IS the
    trained+populated source, so the factory derives the requested tier
    from it in one call (same semantics, Spark-first ordering).

    Supported specs (the reference's users' common vocabulary):

    - ``"Flat"``            → the table itself (brute-force search)
    - ``"SQ8"`` / ``"SQ6"`` / ``"SQ4"`` → :class:`SQ8Index` (QT_8bit /
      QT_6bit / QT_4bit bit widths)
    - ``"SQfp16"`` / ``"SQbf16"`` → compact half-precision
      :class:`VectorTable` (faiss QT_fp16: half codes, asymmetric search)
    - ``"BFlat"``           → :class:`BinaryIndex` (index_binary_factory)
    - ``"BIVF256"``         → :class:`BinaryIVFIndex` (Hamming IVF)
    - ``"BHash16"`` / ``"BMHash4x8"`` → :class:`BinaryHashIndex`
      (faiss index_binary_factory IndexBinaryHash / MultiHash: b-bit
      sign-prefix buckets, nflip probe radius at search time)
    - ``"IMI2x4"`` / ``"IMI2x8,Flat"`` → :class:`IMIIndex` (faiss
      MultiIndexQuantizer inverted multi-index: 2^(2b) composite
      cells from two b-bit half-space quantizers)
    - ``"PQ16"`` / ``"PQ16x4"`` → :class:`PQIndex` (m=16; the
      ``x<b>`` suffix is the faiss nbits code width, 1..8 — 2^b
      codewords per subspace)
    - ``"PQ16x4fs"`` / ``"IVF256,PQ16x4fs"`` (optionally ``_<bbs>``)
      → :class:`PQFastScanIndex` / :class:`IVFPQFastScanIndex` —
      faiss's 4-bit fast-scan layout: two codes per stored byte,
      fused-byte-LUT ADC; distances ≡ the unpacked x4 tiers exactly
    - ``"RQ4x8"``           → :class:`RQIndex` (faiss
      IndexResidualQuantizer: 4 sequential full-width 8-bit stages)
    - ``"Flat1D"``          → :class:`Flat1DIndex` (faiss IndexFlat1D,
      d=1 tables only: ranked store + positional window search,
      distances are |q−v| like upstream)
    - ``"LSQ4x8"``          → :class:`RQIndex` with ICM encode sweeps
      (faiss IndexLocalSearchQuantizer's encode move; see the class
      docstring for the honest trainer mapping)
    - ``"PRQ2x4x8"``        → :class:`PRQIndex` (faiss
      IndexProductResidualQuantizer: 2 coordinate blocks × 4 residual
      stages, 8 bits/stage)
    - ``"PLSQ2x4x8"``       → :class:`PRQIndex` with ICM encode sweeps
      (faiss IndexProductLocalSearchQuantizer)
    - ``"IVF256,RQ4x8"`` / ``"IVF256,LSQ4x8"`` / ``"IVF256,PRQ2x4x8"``
      / ``"IVF256,PLSQ2x4x8"`` → :class:`IVFRQIndex` (the faiss
      IndexIVFResidualQuantizer / IndexIVFLocalSearchQuantizer family
      and product forms: additive codes of the COARSE RESIDUAL in a
      cell-partitioned inverted file; ``by_residual=False`` via
      train_kw stores plain codes — full probe ≡ the flat tier)
    - ``"RQ4x4fs"`` / ``"LSQ4x4fs"`` / ``"IVF256,RQ4x4fs"`` →
      :class:`RQFastScanIndex` / :class:`IVFRQFastScanIndex` (faiss
      IndexAdditiveQuantizerFastScan residual forms: 4-bit RQ stages
      packed two per byte, fused byte-LUT additive scan — distances ≡
      the unpacked nbits=4 tiers to pair-association ulp)
    - ``"PRQ2x4x4fs"`` / ``"PLSQ2x4x4fs"`` / ``"IVF256,PRQ2x4x4fs"`` /
      ``"IVF256,PLSQ2x4x4fs"`` → :class:`PRQFastScanIndex` /
      :class:`IVFRQFastScanIndex` with per-block stages (faiss
      IndexProduct{Residual,LocalSearch}QuantizerFastScan and their
      IVF forms — the product-additive fast-scan family)
    - ``"IVF256"`` / ``"IVF256,Flat"`` → :class:`IVFIndex` (nlist=256)
    - ``"IVF65536_HNSW32,Flat"`` / ``"IVF65536_HNSW32,PQ16[x<b>]"`` →
      the same tiers with a GRAPH coarse quantizer (faiss's big-nlist
      recipe: the coarse index is an HNSW over the centroids, so
      assignment and probe selection cost is nlist-independent;
      approximate exactly as upstream — operators/coarse.py)
    - ``"IVF256,FlatDedup"`` → :class:`IVFFlatDedupIndex` (faiss
      ``IndexIVFFlatDedup``: distinct vectors stored once, duplicate
      ids in a side map, search expands them back)
    - ``"IVF256,PQ16"`` / ``"IVF256,PQ16x4"`` → :class:`IVFPQIndex`
      (``x<b>`` = residual-code nbits)
    - ``"IVF256,PQ16+16"``  → :class:`IVFPQRIndex` (faiss IndexIVFPQR:
      the ``+<m_refine>`` suffix is the refine PQ's byte count)
    - ``"IVF256,SQ8"`` / ``",SQ6"`` / ``",SQ4"`` → :class:`IVFSQIndex`
    - ``"HNSW32"`` / ``"HNSW32,Flat"`` → :class:`GraphIndex` (M=32;
      flat navigable graph — see the class docstring for the honest
      HNSW-vs-NSW mapping)
    - ``"HNSW32,SQ8"`` / ``"HNSW32,PQ16[x<b>]"`` →
      :class:`GraphSQIndex` / :class:`GraphPQIndex` (faiss IndexHNSWSQ
      / IndexHNSWPQ: the graph over compressed storage — codes
      resident, candidates decoded on fetch); the ``"NSG32,SQ8"`` /
      ``"NSG32,PQ16"`` forms (faiss IndexNSGSQ / IndexNSGPQ) add the
      MRNG diversification + connectivity repair of ``"NSG<M>"``
    - ``"NSG32"`` → :class:`GraphIndex` with MRNG edge diversification
      (faiss IndexNSG: NN-Descent candidates pruned by the MRNG
      select; the ~√n landmark entry layer plays the navigating node)
    - ``"NNDescent32"`` → :class:`GraphIndex` plain build (faiss
      IndexNNDescentFlat: the NN-Descent K-graph served directly)
    - ``"OPQ16"`` / ``"OPQ16,PQ16"`` → :class:`OPQIndex` (the OPQ
      pretransform trains its own PQ; a mismatched pair raises)
    - ``"OPQ16,<inner>"`` for any OTHER inner spec (faiss's common
      ``"OPQ16,IVF64,PQ16"`` recipe) → the OPQ rotation as a TRUE
      transform prefix: train the (d, d) rotation for m-subvector PQ,
      build the rest of the spec over the rotated table (recursively),
      return a :class:`~faiss_metal_spark.operators.pca.PreTransformIndex`
      (IO kind "pretransform"); ``opq_iters`` tunes the alternation
      without touching the inner tier's own ``iters``
    - ``"OPQ16_64,<inner>"`` — faiss's DIMENSION-REDUCING OPQ form:
      PCA to ``d_out`` then the rotation alternation in reduced space,
      composed into one (d_out, d) PreTransform matrix; the inner spec
      builds at ``d_out`` (``"OPQ16_64,IVF64,PQ16"``)
    - ``"IDMap,Flat"`` / ``"IDMap2,Flat"`` (also over SQfp16/SQbf16) →
      :class:`~faiss_metal_spark.vector_table.IDMapVectorTable` /
      ``IDMap2VectorTable`` (faiss IndexIDMap/IDMap2: add refuses
      without ids, remove never renumbers). Over any DERIVED tier the
      prefix refuses with guidance — external ids are first-class on
      every tier here, so the faiss wrapper adds nothing
    - ``"LSH"`` / ``"LSH128"`` → :class:`LSHIndex` (faiss
      ``IndexLSH``: rotation sign bits + Hamming scan; bare ``LSH``
      means nbits = d, the faiss default ``("LSH")`` spec)
    - ``"ITQ,LSH"`` / ``"ITQ32,LSH"`` → :class:`LSHIndex` with the
      LEARNED Iterative-Quantization rotation (faiss binary factory;
      Gong et al. 2011)
    - a ``",RFlat"`` SUFFIX on any spec (``"IVF64,PQ8,RFlat"``) wraps
      the rest in :class:`RefineIndex` rescoring against the original
      table (faiss IndexRefineFlat; ``k_factor`` forwards from
      ``train_kw``); composes outside transform prefixes, so
      ``"PCA32,IVF64,RFlat"`` refines in the ORIGINAL space like faiss
    - a ``",Refine(<spec>)"`` SUFFIX (``"IVF64,PQ8,Refine(SQfp16)"``,
      ``"PQ8,Refine(PQ16)"``, ``"LSH,Refine(RQ4x8)"``) — faiss
      IndexRefine with an ARBITRARY refine tier: candidates rescore
      through the refine spec's reconstruction instead of the exact
      table (``Refine(Flat)`` ≡ ``RFlat``)
    - ``"L2norm,<inner>"``  → :class:`~faiss_metal_spark.operators.pca.
      NormTransformIndex` (faiss NormalizationTransform prefix: inner
      tier built over the unit-normalized table, queries normalized
      identically; reverse transform is the identity like upstream)
    - transform PREFIXES compose like faiss: ``"PCA32,<inner>"`` /
      ``"PCAW32,<inner>"`` (whitened) / ``"RR32,<inner>"`` (random
      rotation) train the transform on the table, derive the inner
      tier from the PROJECTED table (the rest of the spec, recursively
      — ``"PCA32,IVF64,Flat"`` works), and return a
      :class:`~faiss_metal_spark.operators.pca.PreTransformIndex` so
      queries go through the identical transform

    ``train_kw`` forwards to the tier's ``from_table`` (``sample_size``,
    ``iters``...). Unknown specs raise ``ValueError`` like FAISS.
    """
    import re

    s = spec.strip().replace(" ", "")
    if s.endswith(",RFlat"):
        # faiss "...,RFlat" suffix: wrap the rest of the spec in an
        # IndexRefineFlat that rescores against the ORIGINAL table —
        # handled before the transform prefixes so "PCA32,IVF64,RFlat"
        # refines in the original space, as faiss's factory composes it
        kf = train_kw.pop("k_factor", 4)
        base = index_factory(vt, s[: -len(",RFlat")], **train_kw)
        return RefineIndex.from_table(vt, base, k_factor=kf)
    m = re.fullmatch(r"(.+),Refine\((.+)\)", s)
    if m:
        # faiss "...,Refine(<spec>)" suffix (IndexRefine with an
        # arbitrary refine index): the base spec retrieves k·k_factor
        # candidates, the refine spec's tier rescores them through ITS
        # reconstruction (SQfp16 halves the rescore storage; PQ/RQ make
        # it codes). Outermost like RFlat, so the refine tier builds
        # over the ORIGINAL table. Refine(Flat) ≡ RFlat.
        kf = train_kw.pop("k_factor", 4)
        base = index_factory(vt, m.group(1), **train_kw)
        if m.group(2) == "Flat":
            return RefineIndex.from_table(vt, base, k_factor=kf)
        refine = index_factory(vt, m.group(2), **train_kw)
        return RefineIndex.from_refine_index(base, refine, k_factor=kf)
    m = re.fullmatch(r"MinMax(FP16)?,(.+)", s)
    if m:
        # faiss "MinMax,"/"MinMaxFP16," codec prefixes: per-row
        # normalize in Catalyst, build the rest over the normalized
        # table, wrap (search raises — codec index, faiss parity)
        return RowwiseMinMaxIndex.from_table(
            vt, m.group(2), fp16=m.group(1) is not None, **train_kw
        )
    m = re.fullmatch(r"L2norm,(.+)", s)
    if m:
        # faiss "L2norm,<inner>" (NormalizationTransform prefix): build
        # the inner tier over the unit-normalized table and wrap so
        # queries normalize identically; composes recursively like the
        # linear prefixes ("L2norm,PCA32,IVF64,Flat" works)
        from .functions.vector import sqnorm
        from .operators.pca import NormTransformIndex, normalize_vectors
        from .vector_table import VectorTable

        base = _float_view(vt)
        normed = normalize_vectors(base)
        inner_vt = VectorTable(
            vt.spark, d=vt.d, metric=getattr(vt, "metric", "l2"),
            df=normed.select(
                "id", "vec", sqnorm(F.col("vec")).alias("norm_sq")
            ),
        )
        inner = index_factory(inner_vt, m.group(1), **train_kw)
        return NormTransformIndex(inner, d_in=vt.d)
    m = re.fullmatch(r"(PCAW?|RR)(\d+),(.+)", s)
    if m:
        from .functions.vector import sqnorm
        from .operators.pca import (
            PreTransformIndex,
            pca_apply,
            pca_train,
            random_rotation,
        )
        from .vector_table import VectorTable

        t_kind, d_out, rest = m.group(1), int(m.group(2)), m.group(3)
        base = _float_view(vt)
        if t_kind == "RR":
            mean = np.zeros(vt.d)
            W = random_rotation(vt.d, d_out, seed=train_kw.get("seed", 42))
        else:
            mean, W, _ = pca_train(
                base, d_out,
                sample_size=train_kw.get("sample_size", 16384),
                whiten=(t_kind == "PCAW"),
            )
        projected = pca_apply(base, mean, W)
        inner_vt = VectorTable(
            vt.spark, d=d_out, metric=getattr(vt, "metric", "l2"),
            df=projected.select(
                "id", "vec", sqnorm(F.col("vec")).alias("norm_sq")
            ),
        )
        # the prefix consumed seed/sample_size by reading, not popping:
        # inner trainers legitimately want the same knobs
        inner_kw = {k: v for k, v in train_kw.items() if k != "seed" or t_kind != "RR"}
        inner = index_factory(inner_vt, rest, **inner_kw)
        return PreTransformIndex(mean, W, inner)
    m = re.fullmatch(r"OPQ(\d+)_(\d+),(.+)", s)
    if m:
        # faiss "OPQ16_64,<inner>": DIMENSION-REDUCING OPQ — the
        # OPQMatrix maps d → d_out before the inner tier. Trained the
        # way faiss initializes it: PCA to d_out, then the rotation
        # alternation in the reduced space; the composed (d_out, d)
        # matrix rides one PreTransformIndex (W = R @ Wpca, so
        # (x − μ)·Wᵀ = ((x − μ)·Wpcaᵀ)·Rᵀ). The inner spec may be
        # anything, including a bare PQ (the reduced form is never the
        # fused square OPQIndex).
        from .functions.vector import sqnorm
        from .operators.opq import opq_train
        from .operators.pca import PreTransformIndex, pca_apply, pca_train
        from .vector_table import VectorTable

        mm, d_out, rest = int(m.group(1)), int(m.group(2)), m.group(3)
        if d_out % mm != 0:
            raise ValueError(
                f"index_factory: OPQ{mm}_{d_out} needs d_out divisible by m"
            )
        if d_out > vt.d:
            raise ValueError(
                f"index_factory: OPQ{mm}_{d_out} cannot expand d={vt.d}"
            )
        base = _float_view(vt)
        ssize = train_kw.get("sample_size", 16384)
        mean, Wpca, _ = pca_train(base, d_out, sample_size=ssize)
        R, _books = opq_train(
            pca_apply(base, mean, Wpca), mm,
            iters=int(train_kw.pop("opq_iters", 8)), sample_size=ssize,
        )
        W = R @ Wpca
        rotated = pca_apply(base, mean, W)
        inner_vt = VectorTable(
            vt.spark, d=d_out, metric=getattr(vt, "metric", "l2"),
            df=rotated.select(
                "id", "vec", sqnorm(F.col("vec")).alias("norm_sq")
            ),
        )
        inner = index_factory(inner_vt, rest, **train_kw)
        return PreTransformIndex(mean, W, inner)
    m = re.fullmatch(r"OPQ(\d+),(?!PQ\d+(?:x\d+)?$)(.+)", s)
    if m:
        # faiss's most common recipe "OPQ16,IVF64,PQ16": the OPQ matrix
        # is a TRUE VectorTransform prefix — train the (d, d) rotation
        # for m-subvector PQ on the table, build the REST of the spec
        # over the rotated table (recursively, so any tier composes),
        # and wrap in PreTransformIndex so queries rotate identically.
        # The bare "OPQ<m>"/"OPQ<m>,PQ<m>" specs keep building the
        # fused OPQIndex below (same composite faiss builds for them);
        # ",RFlat" composes OUTSIDE this prefix (handled above), so
        # refinement rescores in the ORIGINAL space like faiss.
        # ``opq_iters`` tunes the alternation without colliding with an
        # inner tier's own ``iters`` knob.
        from .functions.vector import sqnorm
        from .operators.opq import opq_train
        from .operators.pca import PreTransformIndex, pca_apply
        from .vector_table import VectorTable

        mm, rest = int(m.group(1)), m.group(2)
        base = _float_view(vt)
        R, _books = opq_train(
            base, mm,
            iters=int(train_kw.pop("opq_iters", 8)),
            sample_size=train_kw.get("sample_size", 16384),
        )
        mean = np.zeros(vt.d)
        # pca_apply computes (x − mean) @ components.T = x @ R.T —
        # exactly opq_rotate's orientation, so the stored rotation IS
        # the PreTransform components matrix
        rotated = pca_apply(base, mean, R)
        inner_vt = VectorTable(
            vt.spark, d=vt.d, metric=getattr(vt, "metric", "l2"),
            df=rotated.select(
                "id", "vec", sqnorm(F.col("vec")).alias("norm_sq")
            ),
        )
        inner = index_factory(inner_vt, rest, **train_kw)
        return PreTransformIndex(mean, R, inner)
    m = re.fullmatch(r"IDMap(2?),(.+)", s)
    if m:
        # faiss "IDMap,<inner>" / "IDMap2,<inner>": external-id wrapper.
        # Spark-first the id column already HOLDS caller ids on every
        # tier, so only the Flat forms need the actual wrapper classes
        # (whose add refuses without ids, the faiss contract); for any
        # derived inner the wrapper adds nothing — refuse with the
        # actionable alternative instead of silently changing add
        # semantics.
        from .vector_table import IDMap2VectorTable, IDMapVectorTable

        if m.group(2) in ("Flat", "SQfp16", "SQbf16"):
            inner = index_factory(vt, m.group(2), **train_kw)
            cls_map = IDMap2VectorTable if m.group(1) else IDMapVectorTable
            return cls_map(
                inner.spark, inner.d, metric=inner.metric,
                storage=inner.storage, compact=inner.compact,
                df=inner.df, _next_id=inner._next_id,
            )
        raise ValueError(
            f"index_factory: IDMap{m.group(1)} over {m.group(2)!r} is "
            "unnecessary here — external ids are first-class on every "
            f"tier; build {m.group(2)!r} directly and pass ids via "
            "add_numpy(x, ids=...) / add_df(df, id_col=...)"
        )
    if s == "Flat":
        return vt
    if s == "SQ8":
        return SQ8Index.from_table(vt, **train_kw)
    if s in ("SQ6", "SQ4"):
        return SQ8Index.from_table(vt, bits=int(s[2]), **train_kw)
    m = re.fullmatch(r"SQ([468])u", s) or re.fullmatch(r"SQ([468])_uniform", s)
    if m:
        # faiss QT_8bit_uniform / QT_4bit_uniform (one shared range
        # across dims; the 6-bit form for completeness)
        return SQ8Index.from_table(
            vt, bits=int(m.group(1)), uniform=True, **train_kw
        )
    if s in ("SQ8d", "SQ8_direct"):
        # faiss QT_8bit_direct: code = (uint8) x, decode = code
        return SQ8Index.from_table(vt, direct=True, **train_kw)
    if s in ("SQ8ds", "SQ8_direct_signed"):
        # faiss QT_8bit_direct_signed: code = (uint8)(x + 128),
        # decode = code − 128
        return SQ8Index.from_table(vt, direct="signed", **train_kw)
    if s in ("SQfp16", "SQbf16"):
        # faiss QT_fp16 stores IEEE half codes and searches them
        # asymmetrically — exactly the compact half-precision
        # VectorTable (quantize.py codecs); derive one from the source.
        from .vector_table import VectorTable

        tier = VectorTable(
            vt.spark, d=vt.d, metric=vt.metric, storage=s[2:], compact=True
        )
        return tier.add_df(_float_view(vt))
    if s == "BFlat":
        return BinaryIndex.from_table(vt, **train_kw)
    m = re.fullmatch(r"BIVF(\d+)", s)
    if m:
        return BinaryIVFIndex.from_table(vt, n_cells=int(m.group(1)), **train_kw)
    m = re.fullmatch(r"BHNSW(\d*)", s)
    if m:
        # faiss IndexBinaryHNSW (binary_factory "BHNSW<M>"; default M=32
        # upstream — 16 here, the engine's graph-family default)
        kw = {"M": int(m.group(1))} if m.group(1) else {}
        return BinaryHNSWIndex.from_table(vt, **kw, **train_kw)
    m = re.fullmatch(r"BHash(\d+)", s)
    if m:
        return BinaryHashIndex.from_table(vt, b=int(m.group(1)), **train_kw)
    m = re.fullmatch(r"B(?:M|Multi)Hash(\d+)x(\d+)", s)
    if m:
        # "BMHash4x8" with the long-form "BMultiHash4x8" alias
        return BinaryHashIndex.from_table(
            vt, b=int(m.group(2)), n_slices=int(m.group(1)), **train_kw
        )
    m = re.fullmatch(r"IMI2x(\d+)(?:,Flat)?", s)
    if m:
        return IMIIndex.from_table(vt, b=int(m.group(1)), **train_kw)
    m = re.fullmatch(r"PQ(\d+)x4fs(?:_\d+)?", s)
    if m:
        # faiss "PQ<m>x4fs[_<bbs>]": the 4-bit fast-scan tier; the
        # optional _<bbs> block size tunes the SIMD register batch —
        # a register-layout knob with no analog here, accepted and
        # ignored like faiss ignores it on non-SIMD builds
        return PQFastScanIndex.from_table(vt, m=int(m.group(1)), **train_kw)
    m = re.fullmatch(r"PQ(\d+)(?:x(\d+))?", s)
    if m:
        kw = dict(train_kw)
        if m.group(2) is not None:
            kw["nbits"] = int(m.group(2))
        return PQIndex.from_table(vt, m=int(m.group(1)), **kw)
    m = re.fullmatch(r"IVF(\d+)(?:,Flat)?", s)
    if m:
        return IVFIndex.from_table(vt, n_cells=int(m.group(1)), **train_kw)
    m = re.fullmatch(r"IVF(\d+)_HNSW(\d+)(?:,Flat)?", s)
    if m:
        # faiss's big-nlist recipe: the coarse quantizer is an HNSW
        # graph over the centroids — assignment and probe selection
        # become nlist-independent beam searches (approximate, exactly
        # as upstream)
        return IVFIndex.from_table(
            vt, n_cells=int(m.group(1)),
            coarse_hnsw_m=int(m.group(2)), **train_kw
        )
    m = re.fullmatch(r"IVF(\d+)_HNSW(\d+),PQ(\d+)(?:x(\d+))?", s)
    if m:
        kw = dict(train_kw)
        if m.group(4) is not None:
            kw["nbits"] = int(m.group(4))
        return IVFPQIndex.from_table(
            vt, n_cells=int(m.group(1)), m=int(m.group(3)),
            coarse_hnsw_m=int(m.group(2)), **kw
        )
    m = re.fullmatch(r"IVF(\d+)_HNSW(\d+),SQ([468])", s)
    if m:
        return IVFSQIndex.from_table(
            vt, n_cells=int(m.group(1)), bits=int(m.group(3)),
            coarse_hnsw_m=int(m.group(2)), **train_kw
        )
    m = re.fullmatch(r"IVF(\d+)_HNSW(\d+),RQ(\d+)x8", s)
    if m:
        return IVFRQIndex.from_table(
            vt, n_cells=int(m.group(1)), m=int(m.group(3)),
            coarse_hnsw_m=int(m.group(2)), **train_kw
        )
    m = re.fullmatch(r"IVF(\d+),FlatDedup", s)
    if m:
        return IVFFlatDedupIndex.from_table(vt, n_cells=int(m.group(1)), **train_kw)
    m = re.fullmatch(r"IVF(\d+),PQ(\d+)x4fs(?:_\d+)?", s)
    if m:
        return IVFPQFastScanIndex.from_table(
            vt, n_cells=int(m.group(1)), m=int(m.group(2)), **train_kw
        )
    m = re.fullmatch(r"IVF(\d+),PQ(\d+)(?:x(\d+))?", s)
    if m:
        kw = dict(train_kw)
        if m.group(3) is not None:
            kw["nbits"] = int(m.group(3))
        return IVFPQIndex.from_table(
            vt, n_cells=int(m.group(1)), m=int(m.group(2)), **kw
        )
    m = re.fullmatch(r"IVF(\d+),PQ(\d+)\+(\d+)", s)
    if m:
        return IVFPQRIndex.from_table(
            vt,
            n_cells=int(m.group(1)),
            m=int(m.group(2)),
            m_refine=int(m.group(3)),
            **train_kw,
        )
    m = re.fullmatch(r"IVF(\d+),SQ([468])u", s) or re.fullmatch(
        r"IVF(\d+),SQ([468])_uniform", s
    )
    if m:
        # faiss IVF + QT_*bit_uniform (one shared range across dims)
        return IVFSQIndex.from_table(
            vt, n_cells=int(m.group(1)), bits=int(m.group(2)),
            uniform=True, **train_kw
        )
    m = re.fullmatch(r"IVF(\d+),SQ([468])", s)
    if m:
        return IVFSQIndex.from_table(
            vt, n_cells=int(m.group(1)), bits=int(m.group(2)), **train_kw
        )
    m = re.fullmatch(r"(HNSW|NSG)(\d+),SQ([468])", s)
    if m:
        # faiss "HNSW32,SQ8" / "NSG32,SQ8": IndexHNSWSQ / IndexNSGSQ —
        # the graph over scalar-quantized storage (memory-constrained
        # graph serving); the NSG form adds the MRNG diversification +
        # connectivity repair the flat "NSG<M>" spec applies
        kw = dict(train_kw)
        if m.group(1) == "NSG":
            kw.setdefault("diversify", True)
            kw.setdefault("repair", True)
        return GraphSQIndex.from_table(
            vt, M=int(m.group(2)), bits=int(m.group(3)), **kw
        )
    m = re.fullmatch(r"(HNSW|NSG)(\d+),PQ(\d+)(?:x(\d+))?", s)
    if m:
        # faiss "HNSW32,PQ16[x<b>]" / "NSG32,PQ16": IndexHNSWPQ /
        # IndexNSGPQ — the graph over product-quantized storage
        # (m bytes/vector resident)
        kw = dict(train_kw)
        if m.group(4) is not None:
            kw["nbits"] = int(m.group(4))
        if m.group(1) == "NSG":
            kw.setdefault("diversify", True)
            kw.setdefault("repair", True)
        return GraphPQIndex.from_table(
            vt, M=int(m.group(2)), m=int(m.group(3)), **kw
        )
    m = re.fullmatch(r"HNSW(\d+)(?:,Flat)?", s)
    if m:
        return GraphIndex.from_table(vt, M=int(m.group(1)), **train_kw)
    m = re.fullmatch(r"NNDescent(\d+)(?:,Flat)?", s)
    if m:
        # faiss IndexNNDescentFlat (factory "NNDescent<K>"): the plain
        # NN-Descent K-graph served by graph search — exactly
        # GraphIndex's default (non-diversified, non-repaired) build,
        # so the facade IS the flat graph tier with degree K
        return GraphIndex.from_table(vt, M=int(m.group(1)), **train_kw)
    m = re.fullmatch(r"NSG(\d+)(?:,Flat)?", s)
    if m:
        # faiss IndexNSG / IndexNSGFlat: dedicated tier (r14) — an
        # NN-Descent kNN graph pruned by the MRNG edge select (Fu et
        # al. 2019), the connectivity repair (tree_grow/attach —
        # connect_graph), and a TRUE navigating-node entry: the corpus
        # medoid computed at build seeds every search beam
        # (graph_search entry="fixed"), exactly NSG's enterpoint.
        return NSGIndex.from_table(vt, R=int(m.group(1)), **train_kw)
    m = re.fullmatch(r"OPQ(\d+)(?:,PQ(\d+)(?:x(\d+))?)?", s)
    if m:
        if m.group(2) is not None and m.group(2) != m.group(1):
            raise ValueError(
                f"index_factory: OPQ{m.group(1)} must pair with PQ{m.group(1)}"
            )
        kw = dict(train_kw)
        if m.group(3) is not None:
            kw["nbits"] = int(m.group(3))
        return OPQIndex.from_table(vt, m=int(m.group(1)), **kw)
    m = re.fullmatch(r"LSH(\d*)", s)
    if m:
        nbits = int(m.group(1)) if m.group(1) else None
        return LSHIndex.from_table(vt, nbits=nbits, **train_kw)
    m = re.fullmatch(r"ITQ(\d*),LSH", s)
    if m:
        nbits = int(m.group(1)) if m.group(1) else None
        return LSHIndex.from_table(vt, nbits=nbits, transform="itq", **train_kw)
    m = re.fullmatch(r"RQ(\d+)x8", s)
    if m:
        return RQIndex.from_table(vt, m=int(m.group(1)), **train_kw)
    m = re.fullmatch(r"RQ(\d+)x4fs(?:_\d+)?", s)
    if m:
        # faiss "RQ<m>x4fs[_<bbs>]" (IndexAdditiveQuantizerFastScan,
        # residual form): the _<bbs> SIMD block size is accepted and
        # ignored like the PQ fast-scan specs
        return RQFastScanIndex.from_table(vt, m=int(m.group(1)), **train_kw)
    m = re.fullmatch(r"IVF(\d+),RQ(\d+)x4fs(?:_\d+)?", s)
    if m:
        return IVFRQFastScanIndex.from_table(
            vt, n_cells=int(m.group(1)), m=int(m.group(2)), **train_kw
        )
    m = re.fullmatch(r"LSQ(\d+)x4fs(?:_\d+)?", s)
    if m:
        # faiss IndexLocalSearchQuantizerFastScan: RQ fast-scan layout
        # with the ICM encode move
        train_kw.setdefault("icm_sweeps", 2)
        return RQFastScanIndex.from_table(vt, m=int(m.group(1)), **train_kw)
    m = re.fullmatch(r"PRQ(\d+)x(\d+)x4fs(?:_\d+)?", s)
    if m:
        # faiss IndexProductResidualQuantizerFastScan
        return PRQFastScanIndex.from_table(
            vt, nsplits=int(m.group(1)), m=int(m.group(2)), **train_kw
        )
    m = re.fullmatch(r"PLSQ(\d+)x(\d+)x4fs(?:_\d+)?", s)
    if m:
        # faiss IndexProductLocalSearchQuantizerFastScan
        train_kw.setdefault("icm_sweeps", 2)
        return PRQFastScanIndex.from_table(
            vt, nsplits=int(m.group(1)), m=int(m.group(2)), **train_kw
        )
    m = re.fullmatch(r"IVF(\d+),PRQ(\d+)x(\d+)x4fs(?:_\d+)?", s)
    if m:
        # faiss IndexIVFProductResidualQuantizerFastScan
        return IVFRQFastScanIndex.from_table(
            vt, n_cells=int(m.group(1)), nsplits=int(m.group(2)),
            m=int(m.group(3)), **train_kw
        )
    m = re.fullmatch(r"IVF(\d+),PLSQ(\d+)x(\d+)x4fs(?:_\d+)?", s)
    if m:
        # faiss IndexIVFProductLocalSearchQuantizerFastScan
        train_kw.setdefault("icm_sweeps", 2)
        return IVFRQFastScanIndex.from_table(
            vt, n_cells=int(m.group(1)), nsplits=int(m.group(2)),
            m=int(m.group(3)), **train_kw
        )
    if s == "Flat1D":
        return Flat1DIndex.from_table(vt, **train_kw)
    m = re.fullmatch(r"LSQ(\d+)x8", s)
    if m:
        # faiss IndexLocalSearchQuantizer: the RQ code layout with the
        # ICM encode move (see RQIndex/PRQIndex docstrings for the
        # honest trainer mapping); icm_sweeps overridable via train_kw
        train_kw.setdefault("icm_sweeps", 2)
        return RQIndex.from_table(vt, m=int(m.group(1)), **train_kw)
    m = re.fullmatch(r"PRQ(\d+)x(\d+)x8", s)
    if m:
        return PRQIndex.from_table(
            vt, nsplits=int(m.group(1)), m=int(m.group(2)), **train_kw
        )
    m = re.fullmatch(r"PLSQ(\d+)x(\d+)x8", s)
    if m:
        train_kw.setdefault("icm_sweeps", 2)
        return PRQIndex.from_table(
            vt, nsplits=int(m.group(1)), m=int(m.group(2)), **train_kw
        )
    m = re.fullmatch(r"IVF(\d+),RQ(\d+)x8", s)
    if m:
        return IVFRQIndex.from_table(
            vt, n_cells=int(m.group(1)), m=int(m.group(2)), **train_kw
        )
    m = re.fullmatch(r"IVF(\d+),LSQ(\d+)x8", s)
    if m:
        train_kw.setdefault("icm_sweeps", 2)
        return IVFRQIndex.from_table(
            vt, n_cells=int(m.group(1)), m=int(m.group(2)), **train_kw
        )
    m = re.fullmatch(r"IVF(\d+),PRQ(\d+)x(\d+)x8", s)
    if m:
        return IVFRQIndex.from_table(
            vt, n_cells=int(m.group(1)), nsplits=int(m.group(2)),
            m=int(m.group(3)), **train_kw
        )
    m = re.fullmatch(r"IVF(\d+),PLSQ(\d+)x(\d+)x8", s)
    if m:
        train_kw.setdefault("icm_sweeps", 2)
        return IVFRQIndex.from_table(
            vt, n_cells=int(m.group(1)), nsplits=int(m.group(2)),
            m=int(m.group(3)), **train_kw
        )
    raise ValueError(f"index_factory: unsupported spec {spec!r}")
