"""Continuous index ingest — ``add()`` on an inverted file, as a stream.

FAISS's ``IndexIVF::add`` appends each new vector to the inverted list
of its nearest (fixed, already-trained) centroid; the reference's flat
table has no IVF tier at all, but its add path is the same
append-without-retrain discipline (/root/reference/src/
MetalIndexFlat.mm:185-311 — add never touches existing rows). The
Structured-Streaming generalization: a stream of ``(id, vec)`` rows is
cell-assigned with the broadcast trained centroids (one ``mapInArrow``
projection per micro-batch — no shuffle, no state) and appended to the
cell-partitioned parquet store that ``ivf_search`` / ``IVFIndex`` read.
The IVFPQ / IVF-additive ingests encode the same way: every assign and
encode here is a batch encoder run on the stream, so each goes through
the engine's one encode driver (``operators/knn.py::_encode_scan`` —
one broadcast of the frozen state, one Arrow pass, no action on its
input), and every ingest appends through one sink (``_append_cells``).

The store is the index: readers open ``spark.read.parquet(path)`` at
any time and get a consistent, probe-prunable inverted list containing
every committed micro-batch — exactly-once via the parquet sink's
transaction log. Retraining (centroid drift) is a batch concern by
design: retrain offline with ``ivf_train_centroids`` and start a new
store, like FAISS re-adds into a freshly trained quantizer.

At 100 TB: the ingest plan is a stateless per-batch projection — cost
scales with the delta, never the corpus; the store's partition count is
``nlist``, constant in corpus size.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..operators.similarity import ivf_assign

VECTOR_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("vec", T.ArrayType(T.FloatType())),
    ]
)


def read_vector_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(VECTOR_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def _append_cells(
    frame: DataFrame, index_path: str, checkpoint: str, available_now: bool
):
    """The ingests' one sink: append ``frame``'s micro-batches to the
    ``partitionBy("cell")`` parquet store at ``index_path``
    (exactly-once via the sink's transaction log); ``available_now``
    drains the backlog and blocks, else a 1 s trigger keeps running."""
    q = (
        frame.writeStream.format("parquet")
        .option("path", index_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("cell")
        .outputMode("append")
    )
    q = (
        q.trigger(availableNow=True)
        if available_now
        else q.trigger(processingTime="1 second")
    )
    handle = q.start()
    if available_now:
        handle.awaitTermination()
    return handle


def run_ivf_ingest(
    vector_stream: DataFrame,
    centroids: np.ndarray,
    index_path: str,
    checkpoint: str,
    available_now: bool = True,
):
    """Continuously grow a cell-partitioned inverted file at
    ``index_path`` from ``vector_stream``. Pure append: each micro-batch
    is assigned against the fixed ``centroids`` and lands in its cells'
    partitions; no existing file is ever rewritten."""
    assigned = ivf_assign(vector_stream, centroids)
    return _append_cells(assigned, index_path, checkpoint, available_now)


def ivf_store_search(
    spark: SparkSession,
    index_path: str,
    centroids: np.ndarray,
    queries: DataFrame,
    k: int,
    nprobe: int = 8,
    metric: str = "l2",
) -> DataFrame:
    """Search the growing store as of now — one pruned scan over the
    probed cells' partitions, identical semantics to ``ivf_search``
    over a batch-built inverted file."""
    from ..operators.similarity import ivf_search

    return ivf_search(
        spark.read.parquet(index_path), centroids, queries, k, nprobe, metric=metric
    )


def run_ivfpq_ingest(
    vector_stream: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    index_path: str,
    checkpoint: str,
    available_now: bool = True,
):
    """Continuously grow a cell-partitioned IVFPQ CODE store — the
    compressed twin of :func:`run_ivf_ingest` (faiss
    ``IndexIVFPQ::add``): each micro-batch is assigned against the
    fixed coarse centroids and its residuals PQ-encoded with the fixed
    codebooks, landing as m-byte codes in the cells' partitions. The
    stream-side plan is two stateless Arrow projections — no shuffle,
    no state; storage grows at m bytes/vector, so the 100 TB ingest
    writes ~1/16-1/64 of the raw bytes the flat ingest would."""
    from ..operators.pq import ivfpq_encode

    codes = ivfpq_encode(ivf_assign(vector_stream, centroids), centroids, codebooks)
    return _append_cells(codes, index_path, checkpoint, available_now)


def ivfpq_store_search(
    spark: SparkSession,
    index_path: str,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    queries: DataFrame,
    k: int,
    nprobe: int = 8,
) -> DataFrame:
    """Residual-ADC search over the growing code store as of now —
    identical semantics to ``ivfpq_search`` over batch-built codes."""
    from ..operators.pq import ivfpq_search

    return ivfpq_search(
        spark.read.parquet(index_path), centroids, codebooks, queries, k, nprobe
    )


def run_ivfrq_ingest(
    vector_stream: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    index_path: str,
    checkpoint: str,
    available_now: bool = True,
    beam: int = 1,
    icm_sweeps: int = 0,
    by_residual: bool = True,
):
    """Continuously grow a cell-partitioned IVF-ADDITIVE code store —
    the r12 twin of :func:`run_ivfpq_ingest` for the faiss
    IndexIVFResidualQuantizer family (``IndexIVF::add`` semantics):
    each micro-batch is assigned against the fixed coarse centroids
    and its cell residuals additive-encoded with the fixed stage
    codebooks (RQ for 3-d books, per-block PRQ for 4-d), landing as
    (id, cell, code, recn) rows in the cells' partitions. Stream-side
    plan is two stateless Arrow projections — no shuffle, no state;
    ``recn`` is precomputed at ingest so the serving scan stays
    LUT-only."""
    from ..operators.rq import ivfrq_encode

    codes = ivfrq_encode(
        ivf_assign(vector_stream, centroids), centroids, codebooks,
        beam=beam, icm_sweeps=icm_sweeps, by_residual=by_residual,
    )
    return _append_cells(codes, index_path, checkpoint, available_now)


def ivfrq_store_search(
    spark: SparkSession,
    index_path: str,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    queries: DataFrame,
    k: int,
    nprobe: int = 8,
    by_residual: bool = True,
) -> DataFrame:
    """Additive-LUT search over the growing code store as of now —
    identical semantics to ``ivfrq_search`` over batch-built codes
    (partition-pruned probes: the probe ``isin`` lands on the parquet
    partition column)."""
    from ..operators.rq import ivfrq_search

    return ivfrq_search(
        spark.read.parquet(index_path), centroids, codebooks, queries,
        k, nprobe, by_residual=by_residual,
    )
