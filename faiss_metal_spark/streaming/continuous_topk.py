"""Continuous top-k: standing queries over a GROWING vector stream.

The dual of ``knn_stream`` (stream of queries × static table): here the
table is the stream — vectors arrive continuously (a corpus being
ingested) and a fixed query set keeps its top-k current at every
micro-batch. This is the reference's add()-then-search() loop
(/root/reference/tests/test_metal_flat.mm add/search cycles) turned into
one incremental dataflow: no re-scan of old vectors, ever.

Two stages, both bounded:

1. **stateless partial top-k** per micro-batch — the same broadcast-
   queries + per-Arrow-batch GEMM + running top-k used by the batch gemm
   path, emitting ≤ nq·k candidate rows per batch;
2. **keyed state merge** — ``applyInPandasWithState`` folds each
   batch's candidates into a per-qid value state holding exactly k
   (label, distance) pairs. State size is nq·k·16 bytes regardless of
   how much of the corpus has streamed by. (The Spark 4
   ``transformWithStateInPandas`` API expresses the same processor;
   this container's Python runtime lacks the protobuf stack its state
   protocol needs, so the GroupState form is the portable choice.)

Emitted rows carry ``n_seen`` (vectors folded into that qid's state so
far) so a consumer — and the stream≡batch test — can identify the final
snapshot. Chunk identity is content-derived (hash of the chunk's label
set) and a bounded window of recent chunk ids lives in the state, so an
at-least-once source replaying chunks — within a micro-batch or across
them — does not inflate ``n_seen``; only replays older than the window,
or replays that re-batch the input, degrade it to an upper bound. The
top-k labels themselves are replay-exact regardless (label-level dedup
in the merge).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..operators.knn import (
    _better_is_min,
    _collect_queries,
    _distances,
    _query_state,
    _topk_fold,
)

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("qid", T.LongType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("label", T.LongType()),
        T.StructField("distance", T.DoubleType()),
        T.StructField("n_seen", T.LongType()),
    ]
)

_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("qid", T.LongType()),
        T.StructField("label", T.LongType()),
        T.StructField("distance", T.DoubleType()),
        T.StructField("chunk", T.StringType()),
        T.StructField("n_chunk", T.LongType()),
    ]
)


def continuous_topk(
    vector_stream: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "l2",
    id_col: str = "id",
    vec_col: str = "vec",
    qid_col: str = "qid",
    qvec_col: str = "vec",
) -> DataFrame:
    """Wire a streaming vector DataFrame into per-query running top-k.

    ``queries`` is a small static DataFrame (collected and broadcast —
    the dim-table discipline of the batch gemm path). Returns a
    streaming DataFrame of (qid, rank, label, distance, n_seen) in
    update mode: each micro-batch emits the refreshed top-k for every
    standing query.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if metric not in ("l2", "ip", "cosine", "l1"):
        raise ValueError(f"unknown metric {metric!r}")
    want_min = _better_is_min(metric)
    q = queries.select(
        F.col(qid_col).cast("long").alias("qid"), F.col(qvec_col).alias("qvec")
    )
    qids, Q = _collect_queries(q)
    spark = vector_stream.sparkSession
    bc = spark.sparkContext.broadcast((qids, _query_state(Q, np.float64)))
    sign = 1.0 if want_min else -1.0

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, (Q_, qn) = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            labels = pdf[id_col].to_numpy(np.int64)
            best_d, best_l = _topk_fold(
                None, sign * _distances(metric, Q_, V, qn), labels, k
            )
            # every nonempty chunk emits ≥1 row per query, so counting
            # distinct chunk ids downstream counts every vector once.
            # Chunk identity is CONTENT-derived (hash of the sorted
            # label set — ids are unique in an append-only stream, so
            # equal label sets ⇔ the same chunk replayed): partial
            # output is deterministic across runs and a replayed chunk
            # collapses in the merge instead of re-counting. n_seen is
            # exact when replays preserve chunk boundaries; a source
            # that re-batches on replay makes it an at-least-once
            # upper bound (the top-k labels stay exact either way —
            # label dedup below is independent of chunk identity).
            import hashlib

            chunk_id = hashlib.md5(np.sort(labels).tobytes()).hexdigest()
            yield pd.DataFrame(
                {
                    "qid": np.repeat(qids_, best_l.shape[1]),
                    "label": best_l.ravel(),
                    "distance": (sign * best_d).ravel(),
                    "chunk": chunk_id,
                    "n_chunk": np.int64(len(labels)),
                }
            )

    candidates = vector_stream.select(
        F.col(id_col).cast("long").alias(id_col), F.col(vec_col).alias(vec_col)
    ).mapInPandas(partial, _PARTIAL_SCHEMA)

    # recent-chunk window kept in state: a chunk id replayed within the
    # window (the realistic post-failure replay horizon) is not
    # re-counted into n_seen, even across micro-batches; replays older
    # than the window degrade to at-least-once counting. 64 ids ≈ 2 KB
    # per query — state stays O(nq·k), not O(stream).
    _CHUNK_WINDOW = 64

    def merge(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        prev = state.get if state.exists else None
        lbl = np.asarray(prev[0], np.int64) if prev else np.empty(0, np.int64)
        dst = np.asarray(prev[1], np.float64) if prev else np.empty(0, np.float64)
        seen = int(prev[2]) if prev else 0
        recent = list(prev[3]) if prev else []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            for chunk, n_chunk in (
                pdf.drop_duplicates("chunk")[["chunk", "n_chunk"]]
                .itertuples(index=False)
            ):
                if chunk not in recent:
                    seen += int(n_chunk)
                    recent.append(chunk)
            lbl = np.concatenate([lbl, pdf["label"].to_numpy(np.int64)])
            dst = np.concatenate([dst, pdf["distance"].to_numpy(np.float64)])
        recent = recent[-_CHUNK_WINDOW:]
        order = np.lexsort((lbl, sign * dst))
        lbl, dst = lbl[order], dst[order]
        # an at-least-once source can replay a vector id across
        # micro-batches; keep each label's best slot so a replay can
        # never occupy two of the k positions (best-first order makes
        # "first occurrence" the best one)
        _, first = np.unique(lbl, return_index=True)
        keep = np.sort(first)
        lbl, dst = lbl[keep], dst[keep]
        order = np.lexsort((lbl, sign * dst))[: min(k, len(lbl))]
        lbl, dst = lbl[order], dst[order]
        state.update((lbl.tolist(), dst.tolist(), seen, recent))
        yield pd.DataFrame(
            {
                "qid": np.repeat(np.int64(key[0]), len(lbl)),
                "rank": np.arange(len(lbl), dtype=np.int32),
                "label": lbl,
                "distance": dst,
                "n_seen": np.int64(seen),
            }
        )

    return candidates.groupBy("qid").applyInPandasWithState(
        merge,
        outputStructType=_OUT_SCHEMA,
        stateStructType=(
            "labels array<bigint>, dists array<double>, n_seen bigint, "
            "chunks array<string>"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
