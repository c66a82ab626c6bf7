"""Seeded input generators. The library only ever sees what these return.

Every generator draws from ``numpy.random.default_rng([seed, stream])`` so
the same seed gives the same inputs and distinct streams never overlap.
"""

from __future__ import annotations

import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# stream ids: one per kind of input, so adding a stream never shifts another
BASE, QUERIES, APPENDS, CORPUS = 1, 2, 3, 4


def vectors(seed: int, stream: int, n: int, d: int) -> np.ndarray:
    """(n, d) float32 uniform[-1, 1] (FIXTURES.md vector distribution)."""
    rng = np.random.default_rng([seed, stream])
    return rng.random((n, d), dtype=np.float32) * np.float32(2.0) - np.float32(1.0)


def clustered(seed: int, n: int, nq: int, d: int, blobs: int, spread: float):
    """(n, d) base and (nq, d) query vectors from one mixture of ``blobs``
    Gaussian blobs (centres uniform[-1, 1], per-axis sd ``spread``), the
    shape real embeddings have and an IVF index relies on."""
    rng = np.random.default_rng([seed, BASE])
    centres = rng.random((blobs, d), dtype=np.float32) * np.float32(2.0) - np.float32(1.0)

    def draw(m):
        pick = rng.integers(0, blobs, size=m)
        return centres[pick] + rng.standard_normal((m, d), dtype=np.float32) * np.float32(spread)

    return draw(n), draw(nq)


def write_vectors(path, V: np.ndarray, first_id: int = 0, row_group: int = 8192) -> None:
    """Write ``(id BIGINT, vec ARRAY<FLOAT>)`` parquet, ids from ``first_id``."""
    n, d = V.shape
    vec = pa.FixedSizeListArray.from_arrays(pa.array(V.reshape(-1)), d).cast(
        pa.list_(pa.float32())
    )
    ids = pa.array(np.arange(first_id, first_id + n, dtype=np.int64))
    pq.write_table(pa.table({"id": ids, "vec": vec}), str(path), row_group_size=row_group)


def _vocab(rng, size: int) -> list[str]:
    letters = np.array(list(string.ascii_lowercase))
    words: set[str] = set()
    while len(words) < size:
        for ln in rng.integers(5, 10, size=size):
            words.add("".join(rng.choice(letters, size=ln)))
    return sorted(words)[:size]


class Corpus:
    """A synthetic document corpus with planted exact and near duplicates.

    Ids ``[0, n_base)`` are independent documents. Near duplicates follow,
    each a one-word edit of an earlier document (a base document or an
    earlier near duplicate, so edits chain); exact copies come last, each
    a verbatim copy of an earlier document. Every planted document's id is
    larger than the id of the document it derives from, so a min-id
    keeper always keeps the base document of each duplicate cluster.
    """

    def __init__(self, seed: int, n_docs: int, vocab: int = 5000,
                 exact_share: float = 0.05, near_share: float = 0.30,
                 min_tokens: int = 40, max_tokens: int = 120):
        rng = np.random.default_rng([seed, CORPUS])
        words = _vocab(rng, vocab)
        n_exact = int(round(n_docs * exact_share))
        n_near = int(round(n_docs * near_share))
        n_base = n_docs - n_exact - n_near
        docs: list[list[int]] = []
        for ln in rng.integers(min_tokens, max_tokens + 1, size=n_base):
            docs.append(list(rng.integers(0, vocab, size=ln)))
        for _ in range(n_near):
            src = docs[int(rng.integers(0, len(docs)))]
            edit = list(src)
            pos = int(rng.integers(0, len(edit)))
            edit[pos] = (edit[pos] + int(rng.integers(1, vocab))) % vocab
            docs.append(edit)
        for _ in range(n_exact):
            docs.append(list(docs[int(rng.integers(0, len(docs)))]))
        self.texts = [" ".join(words[t] for t in doc) for doc in docs]
        self.ids = np.arange(n_docs, dtype=np.int64)
        self.base = set(range(n_base))
        self.near = set(range(n_base, n_base + n_near))
        self.exact = set(range(n_base + n_near, n_docs))
