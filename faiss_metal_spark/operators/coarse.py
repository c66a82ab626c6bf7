"""Graph-based coarse quantization — the faiss big-nlist recipe
``index_factory("IVF65536_HNSW32,PQ16")``: when the inverted file has
tens of thousands of cells, brute-force nearest-centroid assignment
(nlist·d flops per vector) dominates both add and probe selection, so
faiss makes the coarse quantizer an ``IndexHNSWFlat`` over the
centroids and assigns by graph search. The reference engine has no IVF
tier at all (/root/reference/include/faiss-metal/MetalIndexFlat.h:47)
— superset, faiss-shaped.

Spark-first shape: the centroids and their kNN graph are DRIVER-held
numpy (nlist ≤ ~10⁵ rows — quantizer-sized by construction, the same
budget every trainer here keeps), broadcast once; assignment and probe
selection run as VECTORIZED beam searches inside the existing Arrow
batch scans, so the per-vector cost drops from ``nlist·d`` to
``(landmarks + rounds·beam·M)·d`` — the HNSW economics — while the
distributed plan is unchanged (same one-scan assign, same
partition-pruned probes).

Approximation contract (identical to faiss): assignment may differ
from the exact argmin on boundary vectors; everything downstream is
exact GIVEN the assignment (a vector is found through the cell its
code lives in). Probe selection is the same beam search at query
time, so a vector assigned by the graph is reachable by the graph.
"""

from __future__ import annotations

import numpy as np


def exact_knn_graph_np(C: np.ndarray, k: int, block: int = 4096) -> np.ndarray:
    """Exact kNN graph over a host matrix, blocked GEMM — ``(n, k)``
    neighbor ids, self excluded, (distance, id) ties. O(n²d/B) on the
    driver: centroids are quantizer-sized (≤ ~10⁵), so this stays a
    seconds-scale one-time build (unlike corpus graphs, which use the
    distributed nn_descent)."""
    C = np.asarray(C, np.float64)
    n = len(C)
    k = min(int(k), n - 1)
    if k <= 0:
        return np.zeros((n, 0), np.int64)
    cn = (C * C).sum(1)
    out = np.empty((n, k), np.int64)
    ids = np.arange(n)
    # argpartition to k+pad then a small (dist, id) lexsort — the full
    # row lexsort is O(n log n) per row and dominated the 32k+ build;
    # the pad absorbs boundary distance ties (beyond pad-way ties the
    # edge set can differ, which any valid kNN graph tolerates)
    pad = min(n - 1, k + 64)
    for lo in range(0, n, block):
        hi = min(lo + block, n)
        D = cn[None, :] - 2.0 * (C[lo:hi] @ C.T)  # + cn[lo:hi] const/row
        D[np.arange(hi - lo), ids[lo:hi]] = np.inf  # exclude self
        part = np.argpartition(D, pad - 1, axis=1)[:, :pad]
        Dp = np.take_along_axis(D, part, axis=1)
        order = np.lexsort((part, Dp), axis=1)[:, :k]
        out[lo:hi] = np.take_along_axis(part, order, axis=1)
    return out


# Above this nlist the O(nlist²·d) driver BLAS loop of
# exact_knn_graph_np stops being seconds-scale (~40 s at 32k, ~45 min
# at 262k) and the centroid M-NN graph builds DISTRIBUTED with the
# same nn_descent the corpus graphs use. The faiss big-nlist recipe
# (IVF65536_HNSW32 …) starts exactly where the driver build cliffs.
EXACT_GRAPH_THRESHOLD = 50_000


def nn_descent_graph_np(
    spark, C: np.ndarray, M: int, iters: int = 8, seed: int = 42
) -> np.ndarray:
    """Distributed approximate M-NN graph over the centroid matrix —
    ``(n, M)`` neighbor ids, dense, (distance, id)-ordered per row.
    One ``nn_descent`` run (operators/knn_graph.py) over a centroid
    DataFrame: the build cost is the corpus-graph economics
    (O(n·M²·iters) distributed) instead of O(n²·d) on the driver.
    Rows the descent leaves short of M pad by repeating the row's best
    neighbor — the beam's id-keyed dedupe collapses repeats, so a
    padded row just expands a slightly smaller frontier (same contract
    as a sparse exact graph)."""
    import pandas as pd

    from .knn_graph import nn_descent

    C = np.asarray(C, np.float64)
    n = len(C)
    M = min(int(M), n - 1)
    if M <= 0:
        return np.zeros((n, 0), np.int64)
    df = spark.createDataFrame(
        pd.DataFrame(
            {"id": np.arange(n, dtype=np.int64), "vec": [r.tolist() for r in C]}
        )
    )
    g = nn_descent(df, k=M, iters=iters, seed=seed)
    pdf = (
        g.orderBy("id", "dist", "nbr").toPandas()
    )  # nlist·M rows — 262k×32 ≈ 8M rows, driver-sized by construction
    ids = pdf["id"].to_numpy(np.int64)
    nbrs = pdf["nbr"].to_numpy(np.int64)
    # rank within each id group (ids arrive sorted)
    starts = np.searchsorted(ids, ids)
    pos = np.arange(len(ids)) - starts
    keep = pos < M
    edges = np.full((n, M), -1, np.int64)
    edges[ids[keep], pos[keep]] = nbrs[keep]
    # pad short/absent rows: repeat the row's best neighbor (dedupe
    # collapses repeats); a row with NO edges (degenerate) walks to a
    # ring neighbor so the graph stays traversable
    first = edges[:, 0].copy()
    empty = first < 0
    if empty.any():
        ring = (np.arange(n, dtype=np.int64) + 1) % n
        first[empty] = ring[empty]
        edges[empty, 0] = first[empty]
    hole = edges < 0
    if hole.any():
        edges[hole] = np.broadcast_to(first[:, None], edges.shape)[hole]
    return edges


def _rowwise_searchsorted(sorted_rows: np.ndarray, queries: np.ndarray) -> np.ndarray:
    """Per-row ``searchsorted`` without a Python loop: offset each row
    into its own disjoint value band, search once on the flattened
    (globally sorted) array, subtract the band base."""
    n, kb = sorted_rows.shape
    big = int(max(sorted_rows.max(initial=0), queries.max(initial=0))) + 1
    base = np.arange(n, dtype=np.int64)[:, None] * big
    flat = (sorted_rows + base).ravel()
    pos = np.searchsorted(flat, (queries + base).ravel())
    return pos.reshape(queries.shape) - np.arange(n, dtype=np.int64)[:, None] * kb


class HNSWCoarseQuantizer:
    """Beam-search nearest-cell assignment over a centroid kNN graph —
    the engine's ``IndexHNSWFlat``-as-coarse-quantizer. Deterministic:
    landmark entry (exact scoring of a seeded ~√nlist sample), then
    ``rounds`` of expand-the-beam over the exact M-NN centroid graph,
    stable (distance, id) ties everywhere.

    Picklable and small (centroids + (nlist, M) edges + landmark ids),
    so one broadcast serves every Arrow batch of the assign scan and
    every probe-map build."""

    def __init__(
        self,
        centroids: np.ndarray,
        edges: np.ndarray,
        landmarks: np.ndarray,
        beam: int = 32,
        rounds: int = 3,
        expand: int = 8,
        dtype: str = "f32",
    ):
        """``dtype``: beam scoring precision — 'f32' (default: the
        ranking-only fast path) or 'f64' (bit-matches the exact f64
        argmin when the walk covers the graph — the oracle-checkable
        full-coverage configuration)."""
        self.centroids = np.asarray(centroids, np.float64)
        self.edges = np.asarray(edges, np.int64)
        self.landmarks = np.asarray(landmarks, np.int64)
        self.beam = int(beam)
        self.rounds = int(rounds)
        self.expand = int(expand)
        if dtype not in ("f32", "f64"):
            raise ValueError(f"dtype must be 'f32' or 'f64', got {dtype!r}")
        self.dtype = dtype
        self._sdt = np.float32 if dtype == "f32" else np.float64
        self._c32 = self.centroids.astype(self._sdt)
        self._cn32 = (self._c32 * self._c32).sum(1, dtype=self._sdt)

    # dataclass-free: keep __getstate__ simple (numpy only)
    def __getstate__(self):
        return {
            "centroids": self.centroids,
            "edges": self.edges,
            "landmarks": self.landmarks,
            "beam": self.beam,
            "rounds": self.rounds,
            "expand": self.expand,
            "dtype": self.dtype,
        }

    def __setstate__(self, st):
        self.__init__(**st)

    @classmethod
    def train(
        cls,
        centroids: np.ndarray,
        M: int = 32,
        beam: int | None = None,
        rounds: int = 12,
        expand: int = 8,
        seed: int = 42,
        spark=None,
        exact_threshold: int = EXACT_GRAPH_THRESHOLD,
        graph_iters: int = 8,
    ) -> "HNSWCoarseQuantizer":
        """Build the M-NN centroid graph + a seeded ~√nlist landmark
        set (the HNSW upper-layer role, the graph_search entry-layer
        discipline). Per-query work is
        ``(landmarks + rounds·expand·M)·d`` flops — independent of
        nlist, the HNSW economics.

        The GRAPH BUILD routes by nlist: at or under
        ``exact_threshold`` it is the exact driver BLAS build
        (seconds-scale); above it — the faiss ``IVF65536_HNSW32``
        big-nlist regime, where the O(nlist²·d) driver loop is
        ~45 min at 262k and days at 1M — it runs the DISTRIBUTED
        ``nn_descent`` over a centroid DataFrame (``spark`` required;
        approximate graph, same contract the corpus graphs carry,
        recall-pinned in tests/test_hnsw_coarse.py)."""
        C = np.asarray(centroids, np.float64)
        n = len(C)
        if n > int(exact_threshold):
            if spark is None:
                raise ValueError(
                    f"nlist={n} exceeds exact_threshold={exact_threshold}: "
                    "the exact driver graph build is O(nlist²·d) — pass "
                    "spark= so the centroid M-NN graph builds with the "
                    "distributed nn_descent (or raise exact_threshold "
                    "explicitly to force the driver build)"
                )
            edges = nn_descent_graph_np(spark, C, M, iters=graph_iters, seed=seed)
        else:
            edges = exact_knn_graph_np(C, M)
        n_land = min(n, max(8, int(np.sqrt(n)) + 1))
        rng = np.random.default_rng(seed)
        landmarks = np.sort(rng.choice(n, size=n_land, replace=False))
        b = int(beam) if beam is not None else max(M, 32)
        return cls(
            C, edges, landmarks, beam=min(b, n), rounds=rounds,
            expand=expand,
        )

    @property
    def nlist(self) -> int:
        return len(self.centroids)

    def search_np(self, X: np.ndarray, nprobe: int, chunk: int = 1024):
        """(n, d) → ((n, nprobe) cell ids, (n, nprobe) distances) —
        the quantizer's approximate nearest cells in (distance, id)
        order. Vectorized beam search; rows process in ``chunk``
        groups and the per-round gather/score buffers PREALLOCATE once
        and reuse across chunks and rounds (fresh multi-hundred-MB
        temporaries pay first-touch page faults every call — measured
        ~100× the warm gather cost on THP-heavy hosts)."""
        X = np.atleast_2d(np.asarray(X, self._sdt))
        n = len(X)
        nprobe = min(int(nprobe), self.nlist)
        out_i = np.empty((n, nprobe), np.int64)
        out_d = np.empty((n, nprobe), np.float64)
        ws: dict = {}
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            ids, ds = self._beam(X[lo:hi], nprobe, ws)
            out_i[lo:hi], out_d[lo:hi] = ids, ds
        return out_i, out_d

    def assign_np(self, X: np.ndarray) -> np.ndarray:
        """(n, d) → (n,) approximate nearest cell (the add-time
        assignment — faiss quantizer->search(x, 1))."""
        return self.search_np(X, 1)[0][:, 0]

    def probe_fn(self, nprobe: int):
        """``probe_cells=`` hook of the IVF probe-and-scan driver
        (``similarity.probe_scan``)."""

        def probe(Q):
            return self.search_np(Q, nprobe)[0]

        return probe

    # -- internals ----------------------------------------------------------

    def _beam(self, X: np.ndarray, nprobe: int, ws: dict):
        """One chunk's beam search. ``ws`` holds reusable buffers
        (keyed by shape) so repeated chunks/rounds never allocate —
        scoring is self._sdt (f32 default) throughout (assignment ranks, it does not
        feed stored distances; ranking parity with the f64 exact
        assign is pinned by tests at the recall level, matching the
        faiss quantizer's own approximate contract)."""
        C32 = self._c32
        cn, E = self._cn32, self.edges
        n = len(X)
        b = min(max(self.beam, int(nprobe)), self.nlist)
        M = E.shape[1]

        def buf(name, shape, dtype):
            a = ws.get(name)
            if a is None or a.shape[0] < shape[0] or a.shape[1:] != shape[1:]:
                a = np.empty(shape, dtype)
                ws[name] = a
            return a[: shape[0]]

        # landmark entry: exact scores over the seeded layer
        L = self.landmarks
        dl = cn[L][None, :] - 2.0 * (X @ C32[L].T)  # (n, nl)
        k0 = min(b, len(L))
        o0 = np.lexsort((np.broadcast_to(L, dl.shape), dl), axis=1)[:, :k0]
        bi = L[o0]  # (n, k0) beam ids, (distance, id) order
        bd = np.take_along_axis(dl, o0, axis=1).astype(self._sdt)
        Ex = min(self.expand, b)
        # frontier = the entries to expand this round (HNSW expands the
        # best UNEXPANDED nodes; here: the best new entrants per round,
        # starting from the landmark beam's head)
        frontier = bi[:, :Ex]
        for _ in range(self.rounds if M else 0):
            kb = bi.shape[1]
            fe = frontier.shape[1]
            kc = kb + fe * M
            ids = buf("ids", (n, kc), np.int64)
            ds = buf("ds", (n, kc), self._sdt)
            ids[:, :kb] = bi
            ds[:, :kb] = bd
            np.take(E, frontier, axis=0, out=ids[:, kb:].reshape(n, fe, M))
            flat = ids[:, kb:]
            # score the frontier's neighbors: one gather into a reused
            # (n·fe·M, d) f32 buffer, one batched einsum (BLAS path)
            G = buf("G", (n * fe * M, X.shape[1]), self._sdt)
            np.take(C32, flat.reshape(-1), axis=0, out=G)
            prod = buf("prod", (n, fe * M), self._sdt)
            np.einsum(
                "nkd,nd->nk", G.reshape(n, fe * M, X.shape[1]), X,
                out=prod, optimize=True,
            )
            ds[:, kb:] = cn[flat]
            ds[:, kb:] -= 2.0 * prod
            # per-row dedupe + top-b. Dedupe is ID-KEYED, not
            # value-keyed: the same centroid can re-enter with a
            # slightly different float32 score (the landmark GEMM and
            # the neighbor einsum are different BLAS reductions —
            # measured up to ~1e-5 apart on identical pairs), so
            # adjacency-after-(dist,id)-sort would let both copies
            # survive. Pass 1 groups by id keeping the best-scored
            # copy; pass 2 ranks the survivors by (dist, id).
            o1 = np.lexsort((ds, ids), axis=1)  # id groups, best first
            gid = np.take_along_axis(ids, o1, axis=1)
            gds = np.take_along_axis(ds, o1, axis=1)
            fresh = buf("fresh", (n, kc), bool)
            fresh[:, 0] = True
            np.not_equal(gid[:, 1:], gid[:, :-1], out=fresh[:, 1:])
            # demote duplicate copies so the ranking pass never picks
            # them: +inf distance with a beyond-range id
            gds[~fresh] = np.inf
            gid[~fresh] = self.nlist
            o2 = np.lexsort((gid, gds), axis=1)
            sid = np.take_along_axis(gid, o2, axis=1)
            sds = np.take_along_axis(gds, o2, axis=1)
            # PER-ROW width: always keep min(b, kc) slots — rows with
            # fewer unique candidates carry (inf, nlist) sentinel
            # entries (they sort last). Truncating to the chunk-wide
            # minimum finite count would let one converged/degenerate
            # query shrink every other row's beam in its chunk, making
            # a vector's assignment depend on batch co-residents.
            width = min(b, sid.shape[1])
            nbi = sid[:, :width].copy()
            nbd = sds[:, :width].copy()
            # next frontier: the best REAL entries NOT in the previous
            # beam (per-row membership via searchsorted on the
            # row-sorted previous ids; sentinel slots never expand);
            # rows with no entrants re-expand their head (harmless:
            # dedupe keeps the beam stable, the row has converged)
            prev_sorted = np.sort(bi, axis=1)
            j = np.clip(_rowwise_searchsorted(prev_sorted, nbi), 0, kb - 1)
            entrant = (
                np.take_along_axis(prev_sorted, j, axis=1) != nbi
            ) & (nbi < self.nlist)
            epos = entrant.cumsum(axis=1) - 1
            ekeep = entrant & (epos < Ex)
            frontier = np.repeat(nbi[:, :1], Ex, axis=1)  # converged rows
            er, ec = np.nonzero(ekeep)
            frontier[er, epos[er, ec]] = nbi[er, ec]
            bi, bd = nbi, nbd
            if not entrant.any():
                break
        take = min(nprobe, bi.shape[1])
        out_i = bi[:, :take].copy()
        out_d = bd[:, :take].astype(np.float64)
        # in-beam sentinel slots (rows with < take unique candidates)
        # map to the same faiss -1 skip-slot the pad below uses
        sent = out_i >= self.nlist
        out_i[sent] = -1
        out_d[sent] = np.inf
        if take < nprobe:
            # degenerate tiny beams (beam < nprobe on a sparse graph):
            # pad with the faiss -1 skip-slot sentinel, which every
            # probe-map consumer (build_probe_map) drops — a repeated
            # REAL cell would be scanned once per occurrence and its
            # candidates would crowd the top-k with duplicate labels
            pad_i = np.full((n, nprobe - take), -1, np.int64)
            pad_d = np.full((n, nprobe - take), np.inf)
            out_i = np.concatenate([out_i, pad_i], axis=1)
            out_d = np.concatenate([out_d, pad_d], axis=1)
        return out_i, out_d
