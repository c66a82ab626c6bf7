"""Distributed approximate kNN-graph construction via NN-Descent.

NN-Descent (Dong, Moses & Li, WWW 2011 — "Efficient k-nearest neighbor
graph construction for generic similarity measures") builds the all-N
kNN graph by iterating a simple local rule: *a neighbor of a neighbor
is likely a neighbor*. It is the standard corpus-scale graph builder
(pynndescent, UMAP, many ANN pipelines) and the missing piece between
this repo's pairwise operators (exact ``knn_join_blocked`` — O(N²/B)
work) and its cell-bucketed ones (IVF/LSH): the graph it emits feeds
SemDeDup-style clustering, graph-ANN serving, and manifold methods.

Spark shape, per iteration (``iters`` fixed, default 4):

1. ``general`` neighborhood = current edges ∪ reversed edges, each
   side capped at ``k`` rows per node by a deterministic hash order
   (the paper's reverse sampling ρ=1) — bounds per-node fanout at 2k.
2. Candidate pairs: self-join ``general`` on the node id — every two
   members of one node's neighborhood propose each other. Per-task
   work is ≤ (2k)² rows per node, independent of N.
3. Distances: candidates join the vector table twice (u-side, v-side)
   — the only vector shuffle; candidate volume ≤ 4k²·N rows.
4. Merge: union with current edges, per-node window top-k
   (dist asc, nbr asc). ``localCheckpoint`` truncates the growing
   lineage each round (same discipline as connected_components).

Total cost: O(iters · k² · N) distance evaluations — the paper's
empirical 10-30× win over blocked exact search at large N, and every
stage is a bounded equi-join/window, so the 100 TB story is the same
as the dedup family's: no all-pairs, no unbounded per-task state.

Iterative ⇒ no ANSI-SQL oracle; pinned by tests/test_knn_graph.py:
recall vs the exact graph (numpy) ≥ 0.9 on uniform data, determinism
across runs, and the exact-fixed-point property (feeding the exact
graph in returns it unchanged).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import l2sq


def _topk(edges: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("id").orderBy(F.col("dist").asc(), F.col("nbr").asc())
    return (
        edges.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def mrng_diversify(
    graph: DataFrame,
    vectors: DataFrame,
    M: int,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """HNSW's ``shrink_neighbor_list`` heuristic (≙ NSG's MRNG edge
    select; faiss HNSW.cpp): walk a node's candidates by ascending
    distance and KEEP one only if it is closer to the node than to any
    already-kept neighbor — dropped edges are 'covered' by a kept
    neighbor, so the survivors spread in direction instead of piling
    into the nearest cluster. Same degree budget, better navigability:
    this is why HNSW beats a plain kNN graph at equal M.

    Scale shape: one equi-join hangs each candidate's vector on its
    edge row (corpus-bounded shuffle), then a per-node
    ``applyInPandas`` group of ≤ |candidates| rows computes the
    O(candidates·M) select — no task ever sees more than one node's
    list. Input/output schema: (id, nbr, dist)."""
    import numpy as np
    import pandas as pd

    vv = vectors.select(
        F.col(id_col).cast("long").alias("nbr"), F.col(vec_col).alias("_nv")
    )
    withv = graph.join(vv, "nbr").select("id", "nbr", "dist", "_nv")

    def shrink(key, pdf: pd.DataFrame) -> pd.DataFrame:
        order = pdf.sort_values(["dist", "nbr"], kind="stable")
        Vc = np.stack(order["_nv"].to_numpy()).astype(np.float64)
        dq = order["dist"].to_numpy(np.float64)
        kept: list[int] = []
        for i in range(len(order)):
            if len(kept) >= M:
                break
            # keep iff closer to the node than to every kept neighbor
            good = True
            for j in kept:
                diff = Vc[i] - Vc[j]
                if float(diff @ diff) < dq[i]:
                    good = False
                    break
            if good:
                kept.append(i)
        out = order.iloc[kept]
        return pd.DataFrame(
            {
                "id": np.full(len(out), key[0], np.int64),
                "nbr": out["nbr"].to_numpy(np.int64),
                "dist": out["dist"].to_numpy(np.float64),
            }
        )

    return withv.groupBy("id").applyInPandas(shrink, "id long, nbr long, dist double")


def nn_descent(
    vectors: DataFrame,
    k: int = 10,
    iters: int = 4,
    id_col: str = "id",
    vec_col: str = "vec",
    seed: int = 42,
) -> DataFrame:
    """Approximate kNN graph (id, nbr, dist): for every vector, its ~k
    nearest neighbors by squared L2 (self excluded), deterministic for
    a fixed (data, k, iters, seed).

    ``vectors`` is scanned once into a persisted (id, vec) projection;
    the random initial graph draws k hash-derived neighbor ids per
    node (collisions/self-hits dropped — the first merge round refills
    the lists).
    """
    v = vectors.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec")
    ).persist()
    n = v.count()
    if n <= 1:
        v.unpersist()
        return v.sparkSession.createDataFrame([], "id long, nbr long, dist double")
    kk = min(k, n - 1)

    vu = v.select(F.col("id").alias("u"), F.col("vec").alias("_uv"))
    vv_ = v.select(F.col("id").alias("nbr"), F.col("vec").alias("_vv"))

    # Vector-fetch strategy: when the whole corpus fits a broadcast
    # (n·d·8 under 64 MB — d read off the persisted first row, no extra
    # scan), both vector hangs become BroadcastHashJoins and each
    # NN-Descent round drops its two corpus shuffles — at trainer-input
    # sizes (a sampled or mid-size corpus) that halves the per-iter
    # fixed cost. Past the gate the joins shuffle as before (the corpus
    # must never be forced onto the driver at scale).
    first = v.first()
    if first is None or first["vec"] is None:
        # n>1 guaranteed above, so first is only None/null-vec for a
        # degenerate input (all-null vec column) — fail with intent
        # instead of a NoneType subscript deep in the gate
        v.unpersist()
        raise ValueError("nn_descent: corpus rows carry no vectors")
    d = len(first["vec"])
    bcast = n * d * 8 <= (64 << 20)

    def _score(cand: DataFrame) -> DataFrame:
        """(id, nbr) → (id, nbr, dist), dropping self-pairs. Duplicate
        candidate pairs are pre-dropped only on the shuffle-join path —
        under broadcast joins a duplicate costs one redundant l2sq
        (cheap) while the distinct would cost a whole extra exchange;
        the dedup groupBy downstream removes them either way."""
        cand = cand.where(F.col("id") != F.col("nbr"))
        left = vu.withColumnRenamed("u", "id")
        right = vv_
        if bcast:
            left, right = F.broadcast(left), F.broadcast(right)
        else:
            cand = cand.distinct()
        return (
            cand.join(left, "id")
            .join(right, "nbr")
            .select("id", "nbr", l2sq(F.col("_uv"), F.col("_vv")).alias("dist"))
        )

    # deterministic pseudo-random init: k candidate ids per node from
    # xxhash64(id, j, seed) mod n
    init = v.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(kk - 1)),
                lambda j: F.pmod(F.xxhash64("id", j, F.lit(seed)), F.lit(n)),
            )
        ).alias("nbr"),
    )
    # lazy checkpoints: the SQL plan truncates to a LogicalRDD either
    # way (no planner blowup), but eager=True forces one synchronous
    # job PER ITERATION — lazy lets the caller's first action compute
    # the whole descent as one job (measured ~20% off the trainer at
    # small n; the RDD still persists at first materialization, so
    # nothing recomputes)
    # the hash-mod init can repeat a neighbor id; the shuffle path's
    # _score distincts every candidate set, but the broadcast path
    # skips that for ITERATION rounds (the loop's groupBy dedups them
    # later) — the init round has no later dedup at iters=0, so its
    # candidates dedup explicitly here on both paths
    init_cand = init.distinct() if bcast else init
    graph = _topk(_score(init_cand), kk).localCheckpoint(eager=False)

    for _ in range(iters):
        fwd = graph.select("id", "nbr")
        rev = graph.select(F.col("nbr").alias("id"), F.col("id").alias("nbr"))
        # Cap each node's general neighborhood at 2k members in
        # deterministic hash order (the paper's ρ=1 reverse sampling) —
        # a WINDOW, not a collect: the reverse list of a hub node can
        # approach N, and row_number over a spilling external sort
        # streams past it, where a collect-based cap would buffer the
        # whole group in one aggregation buffer before slicing.
        wcap = Window.partitionBy("id").orderBy(
            F.xxhash64("id", "nbr", F.lit(seed)), F.col("nbr")
        )
        capped = (
            fwd.unionByName(rev)
            .distinct()
            .withColumn("_rn", F.row_number().over(wcap))
            .where(F.col("_rn") <= 2 * kk)
            .drop("_rn")
        )
        # Neighborhood LISTS from the capped rows: same id partitioning
        # as the window, so this groupBy adds no exchange, and every
        # group is ≤ 2k rows by construction — bounded collect.
        nbhd = capped.groupBy("id").agg(F.collect_list("nbr").alias("_gen"))
        # Candidate generation is ARRAY-LOCAL (the paper's local join):
        # every two members of one node's neighborhood propose each
        # other via a double explode — no self-join shuffle; per-node
        # fanout ≤ (2k)² rows exactly as before.
        prop = (
            nbhd.select(F.explode("_gen").alias("id"), "_gen")
            .select("id", F.explode("_gen").alias("nbr"))
        )
        merged = graph.select("id", "nbr", "dist").unionByName(_score(prop))
        # distinct before top-k: a pair can arrive from many proposers.
        # Groups here are (id, nbr) pairs — tiny; the top-k is the same
        # spilling window as the cap above (a hub's candidate list is
        # unbounded, so no collect on it). Repartitioning by id FIRST
        # lets one exchange serve both the (id, nbr) groupBy (id is a
        # subset of the grouping key, so rows co-locate) and the
        # following per-id top-k window — two shuffles become one.
        dedup = (
            merged.repartition("id")
            .groupBy("id", "nbr")
            .agg(F.min("dist").alias("dist"))
        )
        graph = _topk(dedup, kk).localCheckpoint(eager=False)

    v.unpersist()
    return graph


def connect_graph(
    graph: DataFrame,
    vectors: DataFrame,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """Connectivity repair — faiss ``IndexNSG``'s tree-grow step
    re-expressed on Spark: NSG's MRNG pruning can disconnect islands
    (a tight cluster whose every outward edge is 'covered'), and beam
    search can never reach a node outside its entry component, so
    faiss grows a spanning tree from the navigating node and re-links
    unreachable nodes to their nearest reachable neighbor
    (IndexNSG.cpp tree_grow/attach). Here:

    1. weakly-connected components of the edge list (the shared
       ``connected_components`` operator — collected union-find under
       the ≤1M-edge gate, distributed label-prop above);
    2. every non-main component contributes its min-id node as an
       attach point; each attach point is linked BOTH WAYS to its
       exact nearest neighbor in the main component (one ``knn_search``
       of the few attach points against the main-component vectors —
       query side is components-bounded, corpus side never collects).

    One pass suffices: every island gains an edge into the main
    component directly, so the result is weakly connected. The repair
    edges carry true squared-L2 distances and ADD to the adjacency
    (a handful of nodes may hold M+1 edges — faiss likewise lets the
    repair exceed R rather than re-prune away the bridge). Returns the
    repaired (id, nbr, dist) graph; a connected input returns
    unchanged rows."""
    from .dedup import connected_components
    from .knn import knn_search

    v = vectors.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec")
    )
    cc = connected_components(
        graph.select(F.col("id").alias("id_a"), F.col("nbr").alias("id_b"))
    ).persist()
    sizes = cc.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
    comps = sizes.count()
    if comps <= 1:
        cc.unpersist()
        return graph
    main = sizes.orderBy(F.col("n").desc(), F.col("cluster").asc()).first()[
        "cluster"
    ]
    # attach points: the min-id node of each island = its cluster label
    attach = (
        cc.where(F.col("cluster") != main)
        .select(F.col("cluster").alias("id"))
        .distinct()
        .join(v, "id")
        .select(F.col("id").alias("qid"), "vec")
    )
    main_v = cc.where(F.col("cluster") == main).select("id").join(v, "id")
    links = (
        knn_search(main_v, attach, k=1, metric="l2", compute="f64")
        .where(F.col("label") >= 0)
        .select(
            F.col("qid").alias("id"),
            F.col("label").alias("nbr"),
            F.col("distance").alias("dist"),
        )
    )
    back = links.select(
        F.col("nbr").alias("id"), F.col("id").alias("nbr"), "dist"
    )
    cc.unpersist()
    return graph.unionByName(links).unionByName(back)


def _nsg_connect_driver(
    graph: DataFrame,
    vectors: DataFrame,
    nav_id: int,
    max_attach: int,
) -> DataFrame:
    """Collected twin of :func:`nsg_connect` for corpora under the
    broadcast-size gate (the connected_components small-path
    discipline): the edge list and vector matrix fit on the driver, so
    the BFS-to-fixpoint + attach loop runs in numpy instead of paying
    2·diameter driver-scheduled Spark jobs (measured: a 320-node build
    spent ~40 s in BFS round scheduling; this path is ~1 s). Same
    repair semantics — directed reachability from ``nav_id``,
    per-island min-id representatives, exact nearest-reached bridge
    both ways plus the nav hub edge. Deterministic: sorted iteration
    everywhere, f64 distances of the stored float32 values."""
    from collections import defaultdict

    from .dedup import _union_find

    ep = vectors.toPandas()
    ids = ep["id"].to_numpy(np.int64)
    X = np.stack(ep["vec"].to_numpy()).astype(np.float64)
    pos = {int(i): j for j, i in enumerate(ids)}
    E = graph.toPandas()
    ea = E["id"].to_numpy(np.int64)
    eb = E["nbr"].to_numpy(np.int64)
    ed = E["dist"].to_numpy(np.float64)
    adj: dict[int, list[int]] = defaultdict(list)
    for a, b in zip(ea.tolist(), eb.tolist()):
        adj[a].append(b)

    def bfs(frontier: list[int], reached: set) -> None:
        stack = list(frontier)
        while stack:
            u = stack.pop()
            for w in adj.get(u, ()):
                if w not in reached:
                    reached.add(w)
                    stack.append(w)

    reached = {int(nav_id)}
    bfs([int(nav_id)], reached)
    new_rows: list[tuple[int, int, float]] = []
    nav_vec = X[pos[int(nav_id)]]
    for _ in range(int(max_attach)):
        unreached = sorted(set(int(i) for i in ids) - reached)
        if not unreached:
            break
        uset = set(unreached)
        induced = [
            (a, b)
            for a, b in zip(ea.tolist(), eb.tolist())
            if a in uset and b in uset
        ]
        parent = _union_find(induced)
        reps = sorted({parent.get(i, i) for i in unreached})
        rl = sorted(reached)
        R = X[[pos[r] for r in rl]]
        for chunk in range(0, len(reps), 256):
            batch = reps[chunk : chunk + 256]
            P = X[[pos[r] for r in batch]]
            D = ((P[:, None, :] - R[None, :, :]) ** 2).sum(-1)
            nn = D.argmin(1)
            for bi, rep in enumerate(batch):
                nnid = rl[int(nn[bi])]
                dist = float(D[bi, nn[bi]])
                new_rows.append((nnid, rep, dist))
                new_rows.append((rep, nnid, dist))
                adj[nnid].append(rep)
                adj[rep].append(nnid)
                if rep != int(nav_id):
                    dnav = float(((X[pos[rep]] - nav_vec) ** 2).sum())
                    new_rows.append((int(nav_id), rep, dnav))
                    adj[int(nav_id)].append(rep)
        reached.update(reps)
        bfs(reps, reached)
    if not new_rows:
        return graph
    out = pd.DataFrame(
        {
            "id": np.concatenate([ea, np.array([r[0] for r in new_rows], np.int64)]),
            "nbr": np.concatenate([eb, np.array([r[1] for r in new_rows], np.int64)]),
            "dist": np.concatenate([ed, np.array([r[2] for r in new_rows], np.float64)]),
        }
    )
    return graph.sparkSession.createDataFrame(out, "id long, nbr long, dist double")


# Collected-repair gate: vectors matrix bytes the driver will hold —
# the nn_descent broadcast-gate discipline (64 MB of f64).
_NSG_DRIVER_ELEMS = 8 << 20


def nsg_connect(
    graph: DataFrame,
    vectors: DataFrame,
    nav_id: int,
    id_col: str = "id",
    vec_col: str = "vec",
    max_rounds: int = 64,
    max_attach: int = 16,
    n_hint: int | None = None,
    d_hint: int | None = None,
) -> DataFrame:
    """faiss ``IndexNSG``'s tree_grow/attach (NSG.cpp) — guarantee
    every node is DIRECTED-reachable from the navigating node, which
    is strictly stronger than :func:`connect_graph`'s weak
    connectivity: a cluster whose only link is an OUTBOUND edge into
    the main component is weakly connected but invisible to a beam
    walk that starts at the navigating node (measured: a 4-cluster
    fixture answered only same-cluster queries under the weak repair).

    Distributed shape, nothing driver-sized:

    1. BFS from ``nav_id`` over the directed edge list to a fixpoint
       (≤ ``max_rounds`` equi-join rounds, frontier/visited are id
       frames — ``localCheckpoint`` per round, the nn_descent lineage
       discipline; navigable graphs have ~log-n diameter so the bound
       is slack);
    2. unreached nodes → weakly-connected components of their INDUCED
       subgraph (+ isolated nodes as singletons); each component's
       min-id representative is knn-searched (k=1, exact) against the
       REACHED vectors only — query side is components-bounded exactly
       like ``connect_graph``'s attach;
    3. the bridge links add BOTH directions (reached→rep makes the
       component enterable; rep→reached keeps the return path), PLUS a
       direct ``nav → rep`` hub edge: the beam walk always starts at
       the navigating node, and without a hub edge there is no
       distance GRADIENT inside the entry cluster pointing at whichever
       boundary node happens to hold the bridge (measured: 4/12
       cross-cluster self-hits without the hub, 12/12 with). faiss
       avoids this because its Link stage draws every node's candidate
       pool from a search path out of the enterpoint — the hub edge is
       the cheap equivalent, and it concentrates only #islands extra
       edges on the one navigating node. Then BFS resumes FROM the new
       representatives to claim their component interiors. Repeat ≤
       ``max_attach`` times (faiss loops tree_grow the same way until
       the spanning tree covers n).

    Returns the repaired (id, nbr, dist) graph; a graph already fully
    reachable returns its rows unchanged. Build-time one-off: serving
    never runs this.

    ``n_hint``/``d_hint`` (r14, the knn ``nv_hint`` discipline —
    callers know their table sizes): when ``n·d ≤`` the 64 MB driver
    gate, the repair runs COLLECTED (``_nsg_connect_driver``) — same
    semantics, numpy BFS instead of 2·diameter driver-scheduled Spark
    jobs. Without hints the distributed path runs unconditionally.
    """
    from .knn import knn_search

    spark = graph.sparkSession
    v = vectors.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec")
    ).persist()
    if (
        n_hint is not None
        and d_hint is not None
        and n_hint * d_hint <= _NSG_DRIVER_ELEMS
    ):
        out = _nsg_connect_driver(
            graph.select("id", "nbr", "dist"), v, nav_id, max_attach
        )
        v.unpersist()
        return out
    g = graph
    reached = spark.createDataFrame(
        [(int(nav_id),)], "id long"
    ).localCheckpoint(eager=True)
    frontier = reached
    for _attach in range(int(max_attach)):
        edges = g.select(
            F.col("id").cast("long").alias("id"),
            F.col("nbr").cast("long").alias("nbr"),
        )
        for _ in range(int(max_rounds)):
            nxt = (
                edges.join(frontier, "id")
                .select(F.col("nbr").alias("id"))
                .distinct()
                .join(reached, "id", "left_anti")
                .localCheckpoint(eager=True)
            )
            if nxt.count() == 0:
                break
            reached = reached.unionByName(nxt).localCheckpoint(eager=True)
            frontier = nxt
        unreached = (
            v.select("id").join(reached, "id", "left_anti")
            .localCheckpoint(eager=True)
        )
        if unreached.count() == 0:
            break
        induced = (
            edges.join(unreached, "id")
            .join(unreached.select(F.col("id").alias("nbr")), "nbr")
        )
        from .dedup import connected_components

        cc = connected_components(
            induced.select(F.col("id").alias("id_a"), F.col("nbr").alias("id_b"))
        )
        in_edges = cc.select("id").distinct()
        singletons = unreached.join(in_edges, "id", "left_anti").select(
            F.col("id").alias("rep")
        )
        reps = (
            cc.select(F.col("cluster").alias("rep")).distinct()
            .unionByName(singletons)
            .localCheckpoint(eager=True)
        )
        attach_q = reps.join(
            v.select(F.col("id").alias("rep"), "vec"), "rep"
        ).select(F.col("rep").alias("qid"), "vec")
        reached_v = reached.join(v, "id")
        links = (
            knn_search(reached_v, attach_q, k=1, metric="l2", compute="f64")
            .where(F.col("label") >= 0)
            .select(
                F.col("label").alias("id"),
                F.col("qid").alias("nbr"),
                F.col("distance").alias("dist"),
            )
        )
        back = links.select(
            F.col("nbr").alias("id"), F.col("id").alias("nbr"), "dist"
        )
        # hub edges nav → rep (see docstring: the walk starts at nav,
        # so every island must be one hop from it)
        nav_vec_row = v.where(F.col("id") == int(nav_id)).select("vec").first()
        hub = attach_q.select(
            F.lit(int(nav_id)).alias("id"),
            F.col("qid").alias("nbr"),
            l2sq(
                F.col("vec"),
                F.array(*[F.lit(float(x)) for x in nav_vec_row["vec"]]),
            ).alias("dist"),
        ).where(F.col("nbr") != int(nav_id))
        g = (
            g.unionByName(links)
            .unionByName(back)
            .unionByName(hub)
            .localCheckpoint(eager=True)
        )
        reached = reached.unionByName(
            reps.select(F.col("rep").alias("id"))
        ).localCheckpoint(eager=True)
        frontier = reps.select(F.col("rep").alias("id"))
    v.unpersist()
    return g


def graph_search(
    vectors: DataFrame,
    graph: DataFrame,
    queries: DataFrame,
    k: int,
    beam: int | None = None,
    iters: int = 3,
    n_seeds: int = 8,
    seed: int = 42,
    id_col: str = "id",
    vec_col: str = "vec",
    qid_col: str = "qid",
    qvec_col: str = "vec",
    entry: str = "landmarks",
    entry_ids=None,
    stats: dict | None = None,
    decode=None,
) -> DataFrame:
    """Approximate top-k via beam search over a prebuilt kNN graph —
    the serving half of graph ANN (faiss ``IndexHNSWFlat``'s flat-graph
    ancestor: greedy best-first over a neighborhood graph, Malkov et
    al.'s NSW / pynndescent's search stage; the reference engine has no
    graph tier at all).

    ENTRY LAYER (``entry``, r10): ``"landmarks"`` (default) ranks a
    deterministic ~√n landmark subset per query and SEEDS THE BEAM
    with the layer's top-``beam`` members (all scored landmarks are
    marked visited, so keeping fewer than the beam width would
    silently lose scored true neighbors; beyond the beam width a
    landmark can never reach the final top-k) — the coarse layer
    plays the role HNSW's upper layers / NSG's navigating node play:
    the walk starts in the query's region, so the rounds needed for a
    given recall stay O(1)-ish as the corpus (and its graph diameter)
    grows, instead of diameter-bound. Cost: one extra bounded
    nq × √n scoring pass (the landmark set is a deterministic hash
    sample — derivable from the vectors, nothing extra persists).
    ``"hash"`` is the legacy flat entry: ``n_seeds`` hash-random ids
    (``n_seeds`` only affects that path). ``"fixed"`` (r14) seeds every
    query's beam at the caller-supplied ``entry_ids`` — the NSG
    navigating-node entry (:class:`~..compact_index.NSGIndex`).

    Then ``iters`` rounds of expand-the-beam — neighbors (via
    ``graph`` edges) of the current best ``beam`` candidates are
    scored and merged, visited ids are never rescored. Returns (qid,
    rank, label, distance), squared L2, sentinel-padded like every
    engine search.

    Spark shape, per round: the frontier (≤ nq·beam rows) BROADCASTS
    against the edge table (one scan, no edge shuffle), and the new
    candidate ids (≤ nq·beam·k rows) broadcast against the vector
    table for scoring (one scan, no vector shuffle) — rounds are a
    fixed constant, so the whole search is 2·iters bounded-broadcast
    scans; per-query state (beam + visited set ≤ nq·beam·k·iters ids)
    grows with the query batch, never the corpus. ``localCheckpoint``
    truncates lineage each round (the nn_descent discipline).

    Recall scales with ``beam`` and ``iters`` exactly as in the NSW
    literature; the test pins ≥ 0.9 @ beam=3k on uniform data against
    the exact answer, and the landmark entry reaches recall parity at
    measurably fewer distance evaluations on clustered data (pass
    ``stats={}`` to get ``n_dist_evals`` back — test-mode only, the
    counts cost extra actions).

    ``decode`` (r11, the graph-over-compressed-storage hook — faiss
    ``IndexHNSWSQ``/``IndexHNSWPQ``): a callable ``pdf → (n, d)
    float64`` reading the stored ``vec_col`` column (the same contract
    as ``ivf_search(decode=)``). When set, ``vec_col`` holds CODES and
    every distance is ‖q − decode(code)‖² — faiss's storage
    DistanceComputer. The persisted per-search cache stays the
    compact code table, and decoding happens on FETCHED candidates
    only (≤ nq·beam·k rows per round — query-bounded, never
    corpus-bounded: the shape that matters at 100 TB).
    """
    if k <= 0:
        raise ValueError("k must be positive")
    if entry not in ("landmarks", "hash", "fixed"):
        raise ValueError(f"unknown entry {entry!r} (landmarks/hash/fixed)")
    if entry == "fixed" and not entry_ids:
        raise ValueError("entry='fixed' requires a non-empty entry_ids list")
    b = beam if beam is not None else max(3 * k, 16)
    if b < k:
        raise ValueError(f"beam {b} must be >= k {k}")
    v = vectors.select(
        F.col(id_col).cast("long").alias("label"), F.col(vec_col).alias("_vv")
    ).persist()
    n = v.count()
    q = queries.select(
        F.col(qid_col).cast("long").alias("qid"),
        F.col(qvec_col).alias("_qv"),
    ).persist()
    edges = graph.select(
        F.col("id").cast("long").alias("_eid"), F.col("nbr").cast("long").alias("label")
    )

    from .knn import _finalize

    if n == 0:
        empty = v.sparkSession.createDataFrame(
            [], "qid long, label long, distance double"
        )
        out = _finalize(q.select("qid"), empty, k, "l2")
        v.unpersist()
        q.unpersist()
        return out

    def _dist(fetched: DataFrame) -> DataFrame:
        """(qid, label, _qv, _vv) → (qid, label, distance): Catalyst
        ``l2sq`` on float storage; with ``decode`` set, one
        Arrow-vectorized stage decoding only the fetched codes."""
        if decode is None:
            return fetched.select(
                "qid", "label", l2sq(F.col("_qv"), F.col("_vv")).alias("distance")
            )

        def go(pdfs):
            import numpy as np
            import pandas as pd

            for pdf in pdfs:
                if len(pdf) == 0:
                    continue
                Vd = decode(pdf.rename(columns={"_vv": vec_col}))
                Qm = np.stack(pdf["_qv"].to_numpy()).astype(np.float64)
                yield pd.DataFrame(
                    {
                        "qid": pdf["qid"],
                        "label": pdf["label"],
                        "distance": ((Qm - Vd) ** 2).sum(1),
                    }
                )

        return fetched.select("qid", "label", "_qv", "_vv").mapInPandas(
            go, "qid long, label long, distance double"
        )

    def _score(cand: DataFrame) -> DataFrame:
        """(qid, label) → (qid, label, distance): candidates broadcast
        onto one vector-table scan, then the (small) query side joins
        broadcast — the corpus never shuffles."""
        return _dist(
            v.join(F.broadcast(cand), "label").join(F.broadcast(q), "qid")
        )

    def _topb(scored: DataFrame) -> DataFrame:
        w = Window.partitionBy("qid").orderBy(
            F.col("distance").asc(), F.col("label").asc()
        )
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= b)
            .drop("_rn")
        )

    n_evals = 0
    if entry == "landmarks":
        # coarse entry layer: a deterministic ~√n hash sample of the
        # corpus, ranked exactly per query; the beam SEEDS DIRECTLY
        # with the layer's top-b members (not a smaller n_seeds cut:
        # a scored landmark outside the initial beam is marked visited
        # below and could never re-enter, so dropping anything better
        # than rank b would silently lose a scored true neighbor —
        # beyond rank b it can never reach the final top-k ≤ b, so the
        # top-b cut is lossless). Every scored landmark is marked
        # visited so the walk never rescores the layer.
        import math

        n_land = int(min(n, max(int(n_seeds), math.isqrt(int(n)) + 1)))
        land = (
            v.orderBy(F.xxhash64(F.col("label"), F.lit(seed)), F.col("label"))
            .limit(n_land)
        )
        land_scored = _dist(land.join(F.broadcast(q), how="cross"))
        beam_df = _topb(land_scored).localCheckpoint(eager=True)
        visited = land_scored.select("qid", "label").localCheckpoint(eager=True)
        if stats is not None:
            n_evals += visited.count()
    elif entry == "fixed":
        # NSG navigating-node entry (faiss IndexNSG search_on_graph's
        # enterpoint): every query's beam starts at the SAME fixed
        # node set — typically the single medoid NSGIndex computed at
        # build. A plan literal (no landmark scan): one bounded
        # nq × |entry_ids| scoring pass seeds the walk.
        ids = sorted({int(i) for i in entry_ids})
        seeds = q.select(
            "qid",
            F.explode(F.array(*[F.lit(i) for i in ids])).alias("label"),
        )
        beam_df = _topb(_score(seeds)).localCheckpoint(eager=True)
        visited = seeds.localCheckpoint(eager=True)
        if stats is not None:
            n_evals += visited.count()
    else:
        # legacy flat entry: xxhash64(qid, j, seed) mod n
        seeds = q.select(
            "qid",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(int(n_seeds) - 1)),
                    lambda j: F.pmod(F.xxhash64("qid", j, F.lit(seed)), F.lit(n)),
                )
            ).alias("label"),
        ).distinct()
        beam_df = _topb(_score(seeds)).localCheckpoint(eager=True)
        visited = seeds.localCheckpoint(eager=True)
        if stats is not None:
            n_evals += visited.count()

    for _ in range(int(iters)):
        frontier = beam_df.select("qid", F.col("label").alias("_eid"))
        expand = (
            edges.join(F.broadcast(frontier), "_eid")
            .select("qid", "label")
            .distinct()
        )
        fresh = expand.join(visited, ["qid", "label"], "left_anti")
        if stats is not None:
            fresh = fresh.localCheckpoint(eager=True)
            n_evals += fresh.count()
        merged = beam_df.unionByName(_score(fresh))
        beam_df = _topb(merged).localCheckpoint(eager=True)
        visited = visited.unionByName(fresh).localCheckpoint(eager=True)

    if stats is not None:
        stats["n_dist_evals"] = n_evals

    out = _finalize(
        q.select("qid"), beam_df.select("qid", "label", "distance"), k, "l2"
    )
    v.unpersist()
    q.unpersist()
    return out
