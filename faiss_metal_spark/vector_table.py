"""VectorTable — the engine's analog of the reference's flat index.

Wraps a DataFrame ``(id BIGINT, vec ARRAY<FLOAT>, norm_sq DOUBLE)`` plus
metadata (d, metric, storage type), mirroring the reference's data model
(SURVEY §1.1; /root/reference/include/faiss-metal/MetalIndexFlat.h:47-66):

- ``add``          ≙ MetalIndexFlat::add (/root/reference/src/MetalIndexFlat.mm:185-311):
                     append rows, quantize if configured, and compute
                     ``norm_sq`` from the UNQUANTIZED input (:258-268) —
                     the ordering the oracle tests check.
- ``reset``        ≙ :492-506 — drop all rows.
- ``reconstruct``  ≙ :508-527 — point lookup by id (already-dequantized
                     floats; FP16/BF16 decode happened at write).
- ``from_pandas`` / ``to_pandas`` ≙ index_cpu_to_metal / index_metal_to_cpu
                     (:552-587) — the in/out connectors.
- ``search`` / ``search_async`` ≙ :313-490. Async returns a lazy token:
                     Spark's lazy evaluation IS the reference's deferred
                     command buffer; ``wait()`` = the action.

Scale notes: ids are int64 (the reference's 2³¹−1 ceiling from int32 GPU
indices is deliberately relaxed — SURVEY §1.2); `persist()` is the
analog of keeping the index resident in unified memory; partitioning of
the underlying parquet is preserved by search's single-scan plan.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Literal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions.vector import sqnorm
from .operators.knn import Metric, knn_search
from .quantize import STORAGE_FP32, STORAGE_TYPES, quantize_col

# IDSelectorBatch literal-IN ceiling: above this the selector rides a
# broadcast semi-join instead of an IN list (a plan with millions of
# literals costs more to analyze than the join it replaces)
_SEL_ISIN_MAX = 10_000

VECTOR_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("vec", T.ArrayType(T.FloatType()), False),
        T.StructField("norm_sq", T.DoubleType(), True),
    ]
)

COMPACT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("vec", T.BinaryType(), False),
        T.StructField("norm_sq", T.DoubleType(), True),
    ]
)


class SearchToken:
    """Async-search handle (≙ MetalSearchToken, MetalIndexFlat.mm:17-78).

    The action runs on a background thread the moment the token is
    created, so ``is_ready()`` genuinely polls in-flight state (the
    reference's commandBuffer status poll, MetalIndexFlat.mm:74-78,
    exercised with 3 concurrent tokens in tests/test_metal_flat.mm:349-401)
    and several tokens can be in flight at once — Spark schedules
    concurrent actions from separate driver threads on its own. ``wait()``
    joins and caches the result, matching the copy-once semantics.
    """

    def __init__(self, df: DataFrame, start: bool = True):
        import threading

        self._df = df
        self._result: pd.DataFrame | None = None
        self._error: BaseException | None = None
        self._thread: threading.Thread | None = None
        if start:
            self._thread = threading.Thread(target=self._run, daemon=True)
            self._thread.start()

    def _run(self) -> None:
        try:
            self._result = self._df.toPandas()
        except BaseException as e:  # surfaced on wait(), like a failed cmd buffer
            self._error = e

    def dataframe(self) -> DataFrame:
        return self._df

    def is_ready(self) -> bool:
        if self._thread is not None:
            return not self._thread.is_alive()
        return self._result is not None

    def wait(self) -> pd.DataFrame:
        if self._thread is not None:
            self._thread.join()
            self._thread = None
        if self._error is not None:
            raise self._error
        if self._result is None:
            self._result = self._df.toPandas()
        return self._result


@dataclass(frozen=True)
class IDSelectorRange:
    """≙ ``faiss::IDSelectorRange``: the contiguous id interval
    [lo, hi) — hi EXCLUSIVE, as in faiss's imin/imax. The explicit
    wrapper exists so a range can never be confused with a 2-element
    id batch: ``remove_ids(IDSelectorRange(3, 7))`` removes ids 3..6,
    ``remove_ids([3, 7])`` removes exactly ids 3 and 7 — and a BARE
    2-tuple is refused outright on every ``remove_ids`` (it still
    means a range in ``SearchParams.sel``)."""

    lo: int
    hi: int


@dataclass(frozen=True)
class IDSelectorNot:
    """≙ ``faiss::IDSelectorNot``: everything the wrapped selector
    does NOT match. Composes recursively with the other combinators,
    ranges, and literal id iterables."""

    sel: object


@dataclass(frozen=True)
class IDSelectorAnd:
    """≙ ``faiss::IDSelectorAnd``: ids matched by BOTH selectors."""

    a: object
    b: object


@dataclass(frozen=True)
class IDSelectorOr:
    """≙ ``faiss::IDSelectorOr``: ids matched by EITHER selector."""

    a: object
    b: object


@dataclass(frozen=True)
class IDSelectorXor:
    """≙ ``faiss::IDSelectorXOr``: ids matched by exactly one."""

    a: object
    b: object


def _sel_predicate(sel) -> "F.Column":
    """Recursive Catalyst predicate of a faiss IDSelector tree — the
    combinators map to boolean expressions the optimizer can push to
    the scan. Literal iterables inside a composition become IN-lists
    (bounded by ``_SEL_ISIN_MAX`` — a composition over a million-id
    batch should pre-materialize its own id table instead)."""
    if isinstance(sel, IDSelectorRange):
        return (F.col("id") >= int(sel.lo)) & (F.col("id") < int(sel.hi))
    if isinstance(sel, IDSelectorNot):
        return ~_sel_predicate(sel.sel)
    if isinstance(sel, IDSelectorAnd):
        return _sel_predicate(sel.a) & _sel_predicate(sel.b)
    if isinstance(sel, IDSelectorOr):
        return _sel_predicate(sel.a) | _sel_predicate(sel.b)
    if isinstance(sel, IDSelectorXor):
        pa_, pb = _sel_predicate(sel.a), _sel_predicate(sel.b)
        return (pa_ | pb) & ~(pa_ & pb)
    if isinstance(sel, tuple) and len(sel) == 2:
        lo, hi = int(sel[0]), int(sel[1])
        return (F.col("id") >= lo) & (F.col("id") < hi)
    ids = [int(i) for i in np.asarray(list(sel), dtype=np.int64).ravel()]
    if len(ids) > _SEL_ISIN_MAX:
        raise ValueError(
            f"IDSelector composition over {len(ids)} literal ids (> "
            f"{_SEL_ISIN_MAX}): materialize the batch as its own table "
            "and pre-filter, or pass the bare batch (semi-join path)"
        )
    return F.col("id").isin(ids)


_SEL_COMBINATORS = (IDSelectorNot, IDSelectorAnd, IDSelectorOr, IDSelectorXor)


@dataclass
class SearchParams:
    """Per-call search overrides (≙ ``faiss::SearchParameters``: the
    reference's ``search`` accepts the pointer and ignores it —
    include/faiss-metal/MetalIndexFlat.h:52-57; honoring the overrides
    makes this a strict superset of that contract). ``None`` fields
    inherit the table's configuration."""

    metric: Metric | None = None
    method: str | None = None
    compute: str | None = None  # 'f32' (default path) | 'f64' (oracle-exact)
    # ≙ faiss SearchParameters::sel (IDSelector): restrict the search
    # to a subset of stored ids. An :class:`IDSelectorRange` (or a
    # legacy (lo, hi) tuple — accepted here because a search
    # restriction is non-destructive) selects [lo, hi); any other
    # iterable is IDSelectorBatch. NOTE the asymmetry: ``remove_ids``
    # REFUSES a bare 2-tuple outright (destructive intent must be
    # spelled as IDSelectorRange/remove_range or an explicit list),
    # precisely because it still means a range here.
    # Applied as a Catalyst predicate
    # BEFORE the distance stage, so the scan prunes rows exactly like
    # a metadata filter (and pushes to parquet on a persisted table);
    # excluded ids simply never appear, sentinel padding fills short
    # results — faiss semantics.
    sel: object = None


@dataclass
class VectorTable:
    """``compact=True`` stores reduced-precision vectors as BINARY
    (2 bytes/element) instead of round-tripped ARRAY<FLOAT>: identical
    numerics, half the cache/shuffle/parquet bytes — the reference's
    FP16-storage bandwidth win realized in Spark's storage layer. The
    search path decodes inside the GEMM UDF (no extra Python stage);
    the declarative sql path is unavailable in compact mode."""

    spark: SparkSession
    d: int
    metric: Metric = "l2"
    storage: str = STORAGE_FP32
    compact: bool = False
    df: DataFrame | None = None
    _next_id: int = 0
    _persisted: bool = field(default=False, repr=False)

    def __post_init__(self):
        if self.storage not in STORAGE_TYPES:
            raise ValueError(f"storage must be one of {STORAGE_TYPES}")
        if self.compact and self.storage == STORAGE_FP32:
            raise ValueError("compact layout requires fp16 or bf16 storage")
        if self.df is None:
            self.df = self.spark.createDataFrame(
                [], COMPACT_SCHEMA if self.compact else VECTOR_SCHEMA
            )

    @property
    def _vec_format(self) -> str:
        return f"{self.storage}_binary" if self.compact else "array"

    # -- ingest ------------------------------------------------------------

    @property
    def ntotal(self) -> int:
        return self.df.count()

    def add_df(self, batch: DataFrame, vec_col: str = "vec") -> "VectorTable":
        """Append vectors from a DataFrame that has no ids yet.

        Norms are computed from the incoming (unquantized) floats BEFORE
        the storage quantization is applied — MetalIndexFlat.mm:258-268.

        Ids are assigned with a partition-offset scheme (count rows per
        input partition, then ``row_number`` within each partition plus
        its cumulative offset) — the zipWithIndex shape. Every partition
        numbers its own rows in parallel; the only exchange is a hash
        shuffle on the partition id, NOT the single-task global window
        that would serialize a 100 TB ingest. Assumes the batch's
        partitioning is deterministic under recomputation (same contract
        ``zipWithIndex`` and ``monotonically_increasing_id`` rely on).
        """
        from .quantize import encode_col

        n_before = self._next_id
        src = batch.select(F.col(vec_col).alias("_raw")).withColumn(
            "_pid", F.spark_partition_id()
        )
        counts = {
            r["_pid"]: r["cnt"]
            for r in src.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        cnt = sum(counts.values())
        if cnt == 0:
            return self
        offsets: dict[int, int] = {}
        acc = 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        off_expr = F.element_at(
            F.create_map(*[F.lit(x) for kv in sorted(offsets.items()) for x in kv]),
            F.col("_pid"),
        )
        # Fail fast if the batch's partitioning drifted between the
        # counts job and this (lazy) id-assignment job — a _pid absent
        # from the collected counts would otherwise map to NULL and
        # silently corrupt ids downstream.
        off_expr = F.when(off_expr.isNotNull(), off_expr).otherwise(
            F.raise_error(
                F.lit(
                    "add_df: input partitioning changed between the count job "
                    "and id assignment (nondeterministic source?); "
                    "persist/localCheckpoint the batch before add_df"
                )
            ).cast("long")
        )
        store = (
            encode_col(F.col("_raw"), self.storage)
            if self.compact
            else quantize_col(F.col("_raw"), self.storage)
        )
        w = _partition_local_window()
        new = src.withColumn(
            "id",
            (F.row_number().over(w) - 1 + off_expr + F.lit(n_before)).cast("long"),
        ).select(
            "id",
            store.alias("vec"),
            sqnorm(F.col("_raw")).alias("norm_sq"),
        )
        self.df = self.df.unionByName(new)
        self._next_id += cnt
        return self

    def add_numpy(self, x: np.ndarray) -> "VectorTable":
        """≙ add(n, const float* x): ingest a host array."""
        x = np.asarray(x, dtype=np.float32)
        if x.ndim != 2 or x.shape[1] != self.d:
            raise ValueError(f"expected (n, {self.d}) array, got {x.shape}")
        if len(x) == 0:
            return self
        return self.add_df(
            self.spark.createDataFrame(
                pd.DataFrame({"vec": [v.tolist() for v in x]}),
                schema="vec array<float>",
            )
        )

    @classmethod
    def from_pandas(
        cls, spark: SparkSession, pdf: pd.DataFrame, d: int, metric: Metric = "l2",
        storage: str = STORAGE_FP32, vec_col: str = "vec",
    ) -> "VectorTable":
        """≙ index_cpu_to_metal — build from host data."""
        vt = cls(spark, d=d, metric=metric, storage=storage)
        return vt.add_df(spark.createDataFrame(pdf[[vec_col]]), vec_col=vec_col)

    @classmethod
    def from_parquet(
        cls, spark: SparkSession, path: str, d: int, metric: Metric = "l2",
        storage: str = STORAGE_FP32, id_col: str | None = None, vec_col: str = "vec",
        compact: bool = False,
    ) -> "VectorTable":
        """Source connector: a parquet table of vectors.

        With an explicit ``id_col`` the file's ids are kept (no window —
        scan stays parallel and shuffle-free, which is what you want for
        a 100 TB vector table). Without one, insertion order is imposed.
        """
        from .quantize import encode_col

        raw = spark.read.parquet(path)
        if id_col is not None:
            store = (
                encode_col(F.col(vec_col), storage)
                if compact
                else quantize_col(F.col(vec_col), storage)
            )
            df = raw.select(
                F.col(id_col).cast("long").alias("id"),
                store.alias("vec"),
                sqnorm(F.col(vec_col)).alias("norm_sq"),
            )
            vt = cls(spark, d=d, metric=metric, storage=storage, compact=compact, df=df)
            vt._next_id = (raw.agg(F.max(F.col(id_col))).collect()[0][0] or -1) + 1
            return vt
        vt = cls(spark, d=d, metric=metric, storage=storage, compact=compact)
        return vt.add_df(raw, vec_col=vec_col)

    # -- maintenance -------------------------------------------------------

    def reset(self) -> "VectorTable":
        self.unpersist()
        self.df = self.spark.createDataFrame(
            [], COMPACT_SCHEMA if self.compact else VECTOR_SCHEMA
        )
        self._next_id = 0
        return self

    def add_with_ids(self, x, ids) -> "VectorTable":
        """≙ faiss::IndexFlat::add_with_ids — which REFUSES: flat
        indexes define ids as insertion order ("add_with_ids not
        implemented for this type of index"). The reference overrides
        only add/search/reset/reconstruct
        (/root/reference/include/faiss-metal/MetalIndexFlat.h:70-79),
        so it inherits the same refusal. Matching it is part of the
        contract; use an IDMap-style side table (a join on the dense
        id) to carry external keys."""
        raise NotImplementedError(
            "add_with_ids not implemented for this type of index "
            "(flat semantics: ids are insertion order); wrap in "
            "IDMapVectorTable (faiss IndexIDMap) to carry external ids"
        )

    def remove_ids(self, ids) -> int:
        """≙ faiss::IndexFlat::remove_ids with an IDSelectorBatch —
        inherited-but-unusable in the reference (no override in
        /root/reference/include/faiss-metal/MetalIndexFlat.h:70-79; the
        base implementation mutates CPU storage the Metal buffers never
        read). FAISS
        compaction semantics: surviving vectors keep their order and
        ids above a removed slot shift down. Returns n_removed.

        Scale shape: the removal list (an explicit batch, small by
        construction — like FAISS's selector) broadcasts; the new id is
        ``id − |{removed < id}|`` computed with an array HOF — a pure
        projection over one scan, no window, no shuffle.

        An explicit :class:`IDSelectorRange` (or :meth:`remove_range`)
        is the faiss ``IDSelectorRange`` (hi exclusive): the shift is
        then closed-form (survivors below lo keep their id; above the
        range they shift by the removed count), so a million-id range
        removal never materializes an id list anywhere. Plain
        iterables are always an IDSelectorBatch of literal ids — but a
        BARE 2-TUPLE is REFUSED outright: historically it meant a
        range here while ``SearchParams.sel`` still reads a 2-tuple as
        a range, so the same literal would mean opposite things in
        search vs removal. Spell destructive intent explicitly:
        ``remove_ids([a, b])`` for the two ids, or
        ``remove_ids(IDSelectorRange(lo, hi))`` / :meth:`remove_range`
        for the range.

        Combinators (``IDSelectorNot/And/Or/Xor`` — the faiss selector
        algebra) are accepted too: the matching ids are resolved with
        one predicate scan and removed as a batch. The flat table's
        positional re-shift needs those ids driver-side, so a
        combinator matching more than 100k ids refuses with guidance
        (chunk by range instead) — the range selector stays the
        closed-form, list-free path.
        """
        if isinstance(ids, _SEL_COMBINATORS):
            rows = self.df.where(_sel_predicate(ids)).select("id")
            matched = [r[0] for r in rows.limit(100_001).collect()]
            if len(matched) > 100_000:
                raise ValueError(
                    "remove_ids: combinator selector matches >100k ids — "
                    "the flat table's positional re-shift would carry the "
                    "whole list as plan literals; remove in IDSelectorRange "
                    "chunks instead"
                )
            ids = matched
            if not ids:
                return 0
        if isinstance(ids, IDSelectorRange):
            lo, hi = int(ids.lo), int(ids.hi)
            in_range = (F.col("id") >= lo) & (F.col("id") < hi)
            n_present = self.df.where(in_range).count()
            if n_present == 0:
                return 0
            self.unpersist()
            self.df = self.df.where(~in_range).withColumn(
                "id",
                F.when(F.col("id") >= hi, F.col("id") - n_present)
                .otherwise(F.col("id"))
                .cast("long"),
            )
            self._next_id -= n_present
            return n_present
        if isinstance(ids, tuple) and len(ids) == 2:
            raise TypeError(
                "remove_ids: a bare 2-tuple is ambiguous (it means a "
                "range in SearchParams.sel but would be a 2-id batch "
                "here) — pass remove_ids([a, b]) for two literal ids, "
                "or IDSelectorRange(lo, hi) / remove_range(lo, hi) for "
                "a range"
            )
        batch = sorted({int(i) for i in ids})
        if not batch:
            return 0
        # FAISS IDSelectorBatch ignores ids not present in the index —
        # only ids that actually exist may shift survivors. (A negative
        # or absent batch id must be a no-op, not an over-shift.)
        present = sorted(
            r[0]
            for r in self.df.where(F.col("id").isin(batch))
            .select("id")
            .collect()
        )
        if not present:
            return 0
        arr = F.array(*[F.lit(i) for i in present])
        shift = F.size(F.filter(arr, lambda x: x < F.col("id")))
        self.unpersist()
        self.df = (
            self.df.where(~F.col("id").isin(present))
            .withColumn("id", (F.col("id") - shift).cast("long"))
        )
        self._next_id -= len(present)
        return len(present)

    def remove_range(self, lo: int, hi: int) -> int:
        """Remove ids in [lo, hi) — hi exclusive; sugar for
        ``remove_ids(IDSelectorRange(lo, hi))``. The unambiguous range
        API: a tuple passed to :meth:`remove_ids` is always a literal
        id batch."""
        return self.remove_ids(IDSelectorRange(int(lo), int(hi)))

    def merge_from(self, other: "VectorTable") -> "VectorTable":
        """≙ faiss::Index::merge_from: append the other index's vectors
        (ids continue sequentially in the other's id order) and empty
        it — another no-override inherit in the reference
        (/root/reference/include/faiss-metal/MetalIndexFlat.h:70-79).
        Requires matching dimension/metric/storage. A pure union —
        the other table's ids are re-based by a constant offset, no
        shuffle, no window."""
        if type(other) is not type(self):
            # dense positional ids and external IDMap keys have
            # incompatible semantics — faiss refuses cross-type
            # merge_from too; silently re-basing would corrupt labels
            raise ValueError(
                f"merge_from requires the same index type "
                f"({type(self).__name__} != {type(other).__name__})"
            )
        if (other.d, other.metric, other.storage, other.compact) != (
            self.d, self.metric, self.storage, self.compact
        ):
            raise ValueError("merge_from requires identical table configuration")
        offset = self._next_id
        moved = other.df.select(
            (F.col("id") + F.lit(offset)).cast("long").alias("id"),
            "vec",
            "norm_sq",
        )
        n_other = other.ntotal
        self.unpersist()
        self.df = self.df.unionByName(moved)
        self._next_id = offset + n_other
        other.reset()
        return self

    def reconstruct(self, key: int) -> np.ndarray:
        rows = self.df.where(F.col("id") == key).select("vec").collect()
        if not rows:
            raise KeyError(f"id {key} out of range")  # ≙ bounds check :509-511
        if self.compact:
            from .quantize import DECODERS

            return DECODERS[self.storage](bytes(rows[0][0]))
        return np.asarray(rows[0][0], dtype=np.float32)

    def reconstruct_n(self, start: int, n: int) -> np.ndarray:
        """(n, d) FP32 block [start, start+n) — faiss
        ``Index::reconstruct_n`` (the reference inherits it alongside
        ``reconstruct``, MetalIndexFlat.h:47). Raises KeyError if any
        id in the range is absent, like per-id ``reconstruct``. A
        RANGE predicate, not an n-element IN-list: dumping the whole
        index (``reconstruct_n(0, ntotal)``) must stay an O(1)-size
        plan at any n (``reconstruct_batch`` keeps ``isin`` for
        genuinely sparse id sets)."""
        start, n = int(start), int(n)
        if n <= 0:
            return np.zeros((0, self.d), dtype=np.float32)
        rows = (
            self.df.where((F.col("id") >= start) & (F.col("id") < start + n))
            .select("id", "vec")
            .collect()
        )
        byid = {r["id"]: r["vec"] for r in rows}
        missing = [i for i in range(start, start + n) if i not in byid]
        if missing:
            raise KeyError(f"ids {missing[:5]} out of range")
        if self.compact:
            from .quantize import DECODERS

            dec = DECODERS[self.storage]
            return np.stack(
                [dec(bytes(byid[i])) for i in range(start, start + n)]
            )
        return np.stack(
            [np.asarray(byid[i], np.float32) for i in range(start, start + n)]
        )

    def reconstruct_batch(self, ids) -> np.ndarray:
        """(len(ids), d) FP32 rows in the given id order — faiss
        ``Index::reconstruct_batch``. One pruned scan for the whole
        batch instead of len(ids) point lookups."""
        ids = np.asarray(ids, dtype=np.int64)
        if len(ids) == 0:
            return np.zeros((0, self.d), dtype=np.float32)
        rows = (
            self.df.where(F.col("id").isin([int(i) for i in set(ids)]))
            .select("id", "vec")
            .collect()
        )
        byid = {r["id"]: r["vec"] for r in rows}
        missing = [int(i) for i in ids if i not in byid]
        if missing:
            raise KeyError(f"ids {missing[:5]} out of range")
        if self.compact:
            from .quantize import DECODERS

            dec = DECODERS[self.storage]
            return np.stack([dec(bytes(byid[i])) for i in ids]).astype(np.float32)
        return np.stack([np.asarray(byid[i], np.float32) for i in ids])

    def assign(self, x: np.ndarray, k: int = 1) -> np.ndarray:
        """(nq, k) nearest labels only — faiss ``Index::assign`` (the
        labels-without-distances convenience over ``search``)."""
        _, labels = self.search_numpy(x, k)
        return labels

    # -- standalone codec (faiss sa_encode / sa_decode) --------------------

    @property
    def sa_code_size(self) -> int:
        """Bytes per encoded vector — faiss ``Index::sa_code_size``:
        4·d for fp32 (raw float bytes, like IndexFlat), 2·d for the
        reduced-precision storages."""
        return self.d * (4 if self.storage == STORAGE_FP32 else 2)

    def sa_encode(self, x: np.ndarray) -> np.ndarray:
        """(n, d) FP32 → n byte-strings in the table's storage codec —
        faiss ``Index::sa_encode`` (encode WITHOUT adding; the
        standalone-codec API). fp32 emits raw little-endian float32
        bytes exactly like faiss IndexFlat; fp16/bf16 emit the same
        2-byte codes the compact store holds."""
        from .quantize import ENCODERS

        x = np.asarray(x, dtype=np.float32)
        if x.ndim != 2 or x.shape[1] != self.d:
            raise ValueError(f"expected (n, {self.d}) array, got {x.shape}")
        if self.storage == STORAGE_FP32:
            return np.array([row.tobytes() for row in x], dtype=object)
        return ENCODERS[self.storage](x)

    def add_sa_codes(self, codes) -> "VectorTable":
        """faiss ``Index::add_sa_codes``: append vectors FROM their
        codec bytes. For the flat table the codes ARE the storage
        (fp32 raw / fp16 / bf16 two-byte codes), so decode→add is
        lossless: re-encoding a decoded code reproduces it bit-for-bit
        (the quantizers are idempotent on code values), exactly like
        faiss appending sa codes into IndexFlat's storage."""
        return self.add_numpy(self.sa_decode(codes))

    def sa_decode(self, codes) -> np.ndarray:
        """n byte-strings → (n, d) FP32 — faiss ``Index::sa_decode``,
        the exact inverse of :meth:`sa_encode` up to the storage's
        quantization (identity for fp32)."""
        from .quantize import DECODERS

        if self.storage == STORAGE_FP32:
            rows = [np.frombuffer(c, dtype=np.float32) for c in codes]
        else:
            rows = [DECODERS[self.storage](c) for c in codes]
        if not rows:
            return np.zeros((0, self.d), dtype=np.float32)
        out = np.stack(rows).astype(np.float32)
        if out.shape[1] != self.d:
            raise ValueError(f"code length implies d={out.shape[1]}, table d={self.d}")
        return out

    def search_and_reconstruct(
        self, queries: DataFrame, k: int, method: str = "auto",
        qid_col: str = "qid", qvec_col: str = "vec",
        params: SearchParams | None = None, compute: str = "auto",
    ) -> DataFrame:
        """≙ faiss ``Index::search_and_reconstruct`` — top-k results
        with each hit's stored vector attached (already-dequantized
        FP32, like ``reconstruct``). Returns
        (qid, rank, label, distance, vec); sentinel rows carry NULL vec.

        Scale shape: the result set (nq·k rows, bounded by the query
        broadcast guard) is the BROADCAST side of an inner join back to
        the vector table — the corpus never shuffles and is scanned
        once more for the fetch (faiss pays the same second pass over
        its flat storage). Sentinel rows are spliced back by union, not
        by outer join, so the broadcast stays on the small side.
        """
        res = self.search(
            queries, k, method=method, qid_col=qid_col, qvec_col=qvec_col,
            params=params, compute=compute,
        )
        vec_expr = F.col("vec")
        if self.compact:
            from .quantize import decode_col

            vec_expr = decode_col(F.col("vec"), self.storage)
        vecs = self.df.select(
            F.col("id").alias("label"), vec_expr.alias("vec")
        )
        # sentinel is EXACTLY -1 (the reserved faiss padding label, which
        # IDMapVectorTable.add_with_ids refuses as an external id) — any
        # other negative label is a legitimate external id and fetches
        real = F.broadcast(res.where(F.col("label") != -1)).join(vecs, "label")
        sent = res.where(F.col("label") == -1).withColumn(
            "vec", F.lit(None).cast("array<float>")
        )
        cols = ["qid", "rank", "label", "distance", "vec"]
        return real.select(*cols).unionByName(sent.select(*cols))

    def to_pandas(self) -> pd.DataFrame:
        """≙ index_metal_to_cpu — export (FP32-decoded either layout)."""
        pdf = self.df.orderBy("id").toPandas()
        if self.compact:
            from .quantize import DECODERS

            dec = DECODERS[self.storage]
            pdf["vec"] = [dec(bytes(b)) for b in pdf["vec"]]
        return pdf

    def persist(self) -> "VectorTable":
        """Keep the index hot (≙ unified-memory residency, scratch reuse)."""
        self.df = self.df.persist()
        self._persisted = True
        return self

    def unpersist(self) -> "VectorTable":
        if self._persisted:
            self.df.unpersist()
            self._persisted = False
        return self

    # -- introspection (≙ MetalIndexFlat.mm:529-544) -----------------------

    def is_float16_storage(self) -> bool:
        return self.storage == "fp16"

    def is_bfloat16_storage(self) -> bool:
        return self.storage == "bf16"

    def get_storage_type(self) -> str:
        return self.storage

    # -- search ------------------------------------------------------------

    def _sel_view(self, params: "SearchParams | None") -> DataFrame:
        """Stored rows restricted by ``params.sel`` (faiss IDSelector):
        a 2-tuple is a [lo, hi) range predicate; other iterables become
        an IN-list under ``_SEL_ISIN_MAX`` ids and a broadcast semi-join
        above it (an IN of millions of literals would bloat the plan)."""
        sel = getattr(params, "sel", None) if params is not None else None
        if sel is None:
            return self.df
        if isinstance(
            sel, (IDSelectorRange,) + _SEL_COMBINATORS
        ) or (isinstance(sel, tuple) and len(sel) == 2):
            return self.df.where(_sel_predicate(sel))
        ids = [int(i) for i in np.asarray(list(sel), dtype=np.int64).ravel()]
        if len(ids) <= _SEL_ISIN_MAX:
            return self.df.where(F.col("id").isin(ids))
        sel_df = self.spark.createDataFrame(
            pd.DataFrame({"id": np.asarray(ids, dtype=np.int64)}), "id long"
        )
        return self.df.join(F.broadcast(sel_df), "id", "left_semi")

    def search(
        self, queries: DataFrame, k: int, method: str = "auto",
        qid_col: str = "qid", qvec_col: str = "vec",
        params: SearchParams | None = None, compute: str = "auto",
        _queries_host: tuple | None = None,
    ) -> DataFrame:
        metric = self.metric
        if params is not None:
            metric = params.metric or metric
            method = params.method or method
            compute = params.compute or compute
        if self.compact and method == "auto":
            method = "gemm"
        return knn_search(
            self._sel_view(params), queries, k, metric=metric, method=method,
            queries_host=_queries_host,
            qid_col=qid_col, qvec_col=qvec_col, vec_format=self._vec_format,
            # quantized tables search with the precomputed fp32 norms
            # (MetalIndexFlat.mm:258-268); fp32 tables recompute — the
            # values are the same floats either way
            norm_col="norm_sq" if self.storage != STORAGE_FP32 else None,
            compute=compute,
        )

    def range_search(
        self, queries: DataFrame, radius: float, method: str = "auto",
        qid_col: str = "qid", qvec_col: str = "vec",
        params: SearchParams | None = None, compute: str = "auto",
    ) -> DataFrame:
        """All neighbors within ``radius`` — faiss::Index::range_search,
        which the reference inherits but never overrides (the base class
        throws); first-class here. Returns (qid, label, distance),
        unordered, no sentinels."""
        from .operators.knn import range_search as _range_search

        metric = self.metric
        if params is not None:
            metric = params.metric or metric
            method = params.method or method
            compute = params.compute or compute
        if self.compact and method == "auto":
            method = "gemm"
        return _range_search(
            self._sel_view(params), queries, radius, metric=metric, method=method,
            qid_col=qid_col, qvec_col=qvec_col, vec_format=self._vec_format,
            # the same precomputed-norm policy as ``search``, so a pair
            # both return carries the same distance
            norm_col="norm_sq" if self.storage != STORAGE_FP32 else None,
            compute=compute,
        )

    def search_numpy(
        self, x: np.ndarray, k: int, method: str = "auto",
        params: SearchParams | None = None, compute: str = "auto",
    ) -> tuple[np.ndarray, np.ndarray]:
        """≙ search(n, x, k, distances, labels) with host arrays in/out."""
        x = np.asarray(x, dtype=np.float32)
        if x.ndim == 1 and x.size:
            x = x[None, :]
        eff_method = (params.method if params is not None else None) or method
        if eff_method in ("auto", "gemm") and len(x):
            # host fast path (r14): the arrays are already in hand —
            # skip the query-DataFrame build AND the _collect_queries
            # job (one whole Spark job of ~0.4 s scheduling floor per
            # search call; values identical — float32-rounded queries
            # reach the same kernel either way)
            res = self.search(
                None, k, method=method, params=params, compute=compute,
                _queries_host=(
                    np.arange(len(x), dtype=np.int64),
                    x.astype(np.float64),
                ),
            ).toPandas()
            # scatter by (qid, rank) instead of orderBy: a driver-bound
            # sort costs a whole range-exchange (sampling job + sort
            # stages) per search call
            nq = len(x)
            D = np.empty((nq, k), np.float64)
            L = np.empty((nq, k), np.int64)
            qi = res["qid"].to_numpy(np.int64)
            ri = res["rank"].to_numpy(np.int64)
            D[qi, ri] = res["distance"].to_numpy(np.float64)
            L[qi, ri] = res["label"].to_numpy(np.int64)
            return D.astype(np.float32), L
        # pandas input → Arrow packs one JVM-side batch; a Python list
        # would become a pickled RDD over defaultParallelism partitions
        # whose collect costs ~300 ms of task scheduling per search call
        if len(x):
            qdf = self.spark.createDataFrame(
                pd.DataFrame(
                    {
                        "qid": np.arange(len(x), dtype=np.int64),
                        "vec": [v.tolist() for v in x],
                    }
                ),
                schema="qid long, vec array<float>",
            )
        else:
            qdf = self.spark.createDataFrame(
                [], schema="qid long, vec array<float>"
            )
        res = self.search(
            qdf, k, method=method, params=params, compute=compute
        ).toPandas()
        nq = len(x)
        if nq == 0:
            return (
                np.zeros((0, k), np.float32),
                np.zeros((0, k), np.int64),
            )
        D = np.empty((nq, k), np.float64)
        L = np.empty((nq, k), np.int64)
        qi = res["qid"].to_numpy(np.int64)
        ri = res["rank"].to_numpy(np.int64)
        D[qi, ri] = res["distance"].to_numpy(np.float64)
        L[qi, ri] = res["label"].to_numpy(np.int64)
        return D.astype(np.float32), L

    def search_async(
        self, queries: DataFrame, k: int, method: str = "auto",
        params: SearchParams | None = None, compute: str = "auto",
    ) -> SearchToken:
        return SearchToken(
            self.search(queries, k, method=method, params=params, compute=compute)
        )


@dataclass
class IDMapVectorTable(VectorTable):
    """≙ ``faiss::IndexIDMap`` — the wrapper faiss users reach for when
    the flat index refuses ``add_with_ids``. faiss keeps a dense
    sub-index plus an ``id_map`` vector translating positions to
    caller-supplied ids; Spark-first, the translation table is
    unnecessary — the ``id`` column simply HOLDS the external id, so
    search/reconstruct/range_search return caller ids with zero extra
    joins (at 100 TB a dense→external join would rescan an index-sized
    map per query batch).

    Contract parity with faiss IndexIDMap:
    - ``add`` refuses ("add does not make sense with IndexIDMap") —
      every insert must state its ids.
    - ``add_with_ids`` appends with caller ids (duplicates are the
      caller's responsibility, as in faiss).
    - ``remove_ids`` drops matching ids WITHOUT renumbering survivors
      (ids are opaque keys here, not positions — unlike the flat
      table's shift-down compaction).
    """

    def add_df(self, batch: DataFrame, vec_col: str = "vec") -> "VectorTable":
        raise NotImplementedError(
            "add does not make sense with IndexIDMap, use add_with_ids"
        )

    def add_numpy(self, x: np.ndarray) -> "VectorTable":
        raise NotImplementedError(
            "add does not make sense with IndexIDMap, use add_with_ids"
        )

    @classmethod
    def from_parquet(cls, spark, path, d, metric="l2", storage=STORAGE_FP32,
                     id_col=None, vec_col="vec", compact=False):
        """Parquet source for an IDMap table — ``id_col`` is REQUIRED
        (external ids are the point of the wrapper; without them the
        inherited path would fall into the refused ``add_df`` with a
        misleading error long after the read)."""
        if id_col is None:
            raise ValueError(
                "IDMapVectorTable.from_parquet requires id_col (the "
                "external-id column); use VectorTable for insertion-order ids"
            )
        return super().from_parquet(
            spark, path, d, metric=metric, storage=storage,
            id_col=id_col, vec_col=vec_col, compact=compact,
        )

    def add_with_ids(self, x, ids) -> "IDMapVectorTable":
        """Ingest a host array with caller ids (faiss add_with_ids)."""
        x = np.asarray(x, dtype=np.float32)
        ids = np.asarray(ids, dtype=np.int64)
        if x.ndim != 2 or x.shape[1] != self.d:
            raise ValueError(f"expected (n, {self.d}) array, got {x.shape}")
        if ids.shape != (len(x),):
            raise ValueError(
                f"ids must be 1-d of length {len(x)}, got {ids.shape}"
            )
        if (ids == -1).any():
            # -1 is the reserved faiss sentinel label (padding rows in
            # search results); allowing it as a key would make real
            # hits indistinguishable from sentinels
            raise ValueError("id -1 is reserved (faiss sentinel label)")
        if len(x) == 0:
            return self
        return self.add_with_ids_df(
            self.spark.createDataFrame(
                pd.DataFrame({"id": ids, "vec": [v.tolist() for v in x]}),
                schema="id long, vec array<float>",
            )
        )

    def add_with_ids_df(
        self, batch: DataFrame, id_col: str = "id", vec_col: str = "vec"
    ) -> "IDMapVectorTable":
        """Append a DataFrame of (id, vec) rows — the scale path: a
        pure projection, no window, no shuffle, no driver round-trip
        (the flat table's id-assignment machinery is exactly what this
        wrapper exists to skip). id -1 is reserved (faiss sentinel
        label); a validating scan would defeat the zero-pass shape, so
        the contract is documented rather than enforced here — the
        numpy path does enforce it."""
        from .quantize import encode_col

        store = (
            encode_col(F.col(vec_col), self.storage)
            if self.compact
            else quantize_col(F.col(vec_col), self.storage)
        )
        new = batch.select(
            F.col(id_col).cast("long").alias("id"),
            store.alias("vec"),
            sqnorm(F.col(vec_col)).alias("norm_sq"),
        )
        self.df = self.df.unionByName(new)
        return self

    def remove_ids(self, ids) -> int:
        """Drop matching external ids; survivors keep their ids (no
        positional shift — IndexIDMap semantics). An explicit
        :class:`IDSelectorRange` (or :meth:`remove_range`) is the
        faiss IDSelectorRange (hi exclusive): one filter, no id list
        anywhere. Combinators (``IDSelectorNot/And/Or/Xor``) are pure
        predicate filters here — no size bound, since nothing
        renumbers. Plain iterables are literal id batches, but a BARE
        2-TUPLE is refused (same guard as the flat table: a 2-tuple
        still means a range in ``SearchParams.sel``, so the literal
        must not silently mean the opposite here). Returns n_removed."""
        if isinstance(ids, _SEL_COMBINATORS):
            pred = _sel_predicate(ids)
            n_present = self.df.where(pred).count()
            if n_present:
                self.unpersist()
                self.df = self.df.where(~pred)
            return n_present
        if isinstance(ids, IDSelectorRange):
            lo, hi = int(ids.lo), int(ids.hi)
            in_range = (F.col("id") >= lo) & (F.col("id") < hi)
            n_present = self.df.where(in_range).count()
            if n_present:
                self.unpersist()
                self.df = self.df.where(~in_range)
            return n_present
        if isinstance(ids, tuple) and len(ids) == 2:
            raise TypeError(
                "remove_ids: a bare 2-tuple is ambiguous (it means a "
                "range in SearchParams.sel but would be a 2-id batch "
                "here) — pass remove_ids([a, b]) for two literal ids, "
                "or IDSelectorRange(lo, hi) / remove_range(lo, hi) for "
                "a range"
            )
        batch = sorted({int(i) for i in ids})
        if not batch:
            return 0
        n_present = self.df.where(F.col("id").isin(batch)).count()
        if n_present == 0:
            return 0
        self.unpersist()
        self.df = self.df.where(~F.col("id").isin(batch))
        return n_present

    def merge_from(self, other: "VectorTable") -> "VectorTable":
        """IDMap merge keeps the other table's external ids verbatim
        (no offset re-base — ids are keys, not positions). Refuses a
        plain VectorTable: its dense positional ids are not keys."""
        if type(other) is not type(self):
            raise ValueError(
                f"merge_from requires the same index type "
                f"({type(self).__name__} != {type(other).__name__})"
            )
        if (other.d, other.metric, other.storage, other.compact) != (
            self.d, self.metric, self.storage, self.compact
        ):
            raise ValueError("merge_from requires identical table configuration")
        self.unpersist()
        self.df = self.df.unionByName(other.df.select("id", "vec", "norm_sq"))
        other.reset()
        return self


@dataclass
class IDMap2VectorTable(IDMapVectorTable):
    """≙ ``faiss::IndexIDMap2`` — IDMap plus reconstruct-by-external-id.

    In faiss the distinction is real: IndexIDMap cannot reconstruct
    (the id→position reverse map doesn't exist) and IDMap2 maintains
    ``rev_map`` to provide it. Here ids live IN the id column, so the
    inherited ``reconstruct``/``reconstruct_batch``/
    ``search_and_reconstruct`` already key on external ids and the
    wrapper adds no state — the type exists so faiss code ports 1:1
    and ``write_index`` round-trips the declared kind
    (``idmap2_vector_table``)."""


def _partition_local_window():
    """Rows numbered within their own input partition — the exchange is
    ``hashpartitioning(_pid)`` (parallel), never ``SinglePartition``."""
    from pyspark.sql.window import Window

    return Window.partitionBy("_pid").orderBy(F.monotonically_increasing_id())
