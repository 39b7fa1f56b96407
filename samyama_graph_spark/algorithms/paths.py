"""Path algorithms: BFS, weighted SSSP, shortest path length.

Reference semantics: crates/samyama-graph-algorithms/src/pathfinding.rs
(BFS :19, Dijkstra :91) and the shortestPath operator
(src/query/executor/operator.rs:7527).  Dijkstra's priority queue is
inherently sequential; the distributed equivalent is frontier-based
Bellman-Ford relaxation — same fixpoint, O(shortest-path-hops) rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from samyama_graph_spark.algorithms.util import (
    DRIVER_EDGE_GUARD,
    checkpoint,
    iteration_scope,
    partitioned,
    symmetrize,
)


def _edges_pdf_if_small(df: DataFrame, guard: int):
    """Shared probe, kept as a module alias so existing plan tests and
    the guard monkeypatch pattern keep working."""
    from samyama_graph_spark.algorithms.util import edges_pdf_if_small

    return edges_pdf_if_small(df, guard)


# BFS/SSSP settle driver-side under an ELEVATED guard: their fast paths
# are vectorized numpy (int64/float64 arrays, ~16-24 B per edge), not
# Python-object adjacency, so the driver-memory bound that caps the
# other algorithms at DRIVER_EDGE_GUARD sits ~8x higher here.  The
# multiplier composes with the monkeypatchable base guard (0 -> 0).
_VEC_GUARD_MULT = 8


def _csr(src, dst, n):
    """(sorted dst array, indptr) CSR view of an edge index list."""
    import numpy as np

    order = np.argsort(src, kind="stable")
    ss, dd = src[order], dst[order]
    indptr = np.searchsorted(ss, np.arange(n + 1))
    return dd, indptr, order


def _gather(indptr, frontier):
    """Flat neighbor-range gather: for each frontier vertex f, the
    index range indptr[f]..indptr[f+1], concatenated; returns
    (edge indices, per-edge frontier vertex)."""
    import numpy as np

    starts, ends = indptr[frontier], indptr[frontier + 1]
    counts = ends - starts
    total = int(counts.sum())
    if total == 0:
        return None, None
    offs = np.concatenate(([0], np.cumsum(counts)[:-1]))
    idx = np.repeat(starts - offs, counts) + np.arange(total)
    par = np.repeat(frontier, counts)
    return idx, par


def _vec_graph(pdf, directed: bool, source: int, weighted: bool):
    """Collected edge frame -> (vid, CSR arrays) with the source id
    appended to the vertex set (an absent source still yields its own
    one-row result, like the dict paths did)."""
    import numpy as np

    src = pdf.iloc[:, 0].to_numpy(dtype=np.int64, copy=False)
    dst = pdf.iloc[:, 1].to_numpy(dtype=np.int64, copy=False)
    w = (
        pdf.iloc[:, 2].to_numpy(dtype=np.float64, copy=False)
        if weighted
        else None
    )
    if not directed:
        src, dst = np.concatenate([src, dst]), np.concatenate([dst, src])
        if w is not None:
            w = np.concatenate([w, w])
    vid = np.unique(np.concatenate([src, dst, [np.int64(source)]]))
    n = int(vid.size)
    si = np.searchsorted(vid, src)
    di = np.searchsorted(vid, dst)
    dd, indptr, order = _csr(si, di, n)
    ww = w[order] if w is not None else None
    return vid, n, dd, indptr, ww


def _bfs_driver(spark, pdf, source, max_depth, directed):
    """Vectorized multi-level BFS: one masked gather + lexsort per
    level; min-parent determinism matches the distributed loop's
    min(parent) aggregate (vid is sorted, so min index == min id)."""
    import numpy as np
    import pandas as pd

    vid, n, dd, indptr, _ = _vec_graph(pdf, directed, source, weighted=False)
    s_idx = int(np.searchsorted(vid, source))
    depth = np.full(n, -1, dtype=np.int64)
    parent = np.full(n, -1, dtype=np.int64)
    depth[s_idx] = 0
    frontier = np.array([s_idx], dtype=np.int64)
    for d in range(1, max_depth + 1):
        idx, par = _gather(indptr, frontier)
        if idx is None:
            break
        neigh = dd[idx]
        mask = depth[neigh] < 0
        neigh, par = neigh[mask], par[mask]
        if neigh.size == 0:
            break
        o2 = np.lexsort((par, neigh))
        nn, pp = neigh[o2], par[o2]
        first = np.ones(nn.size, dtype=bool)
        first[1:] = nn[1:] != nn[:-1]
        nn, pp = nn[first], pp[first]
        depth[nn] = d
        parent[nn] = pp
        frontier = nn
    vis = depth >= 0
    # parent rides as int64 with a -1 "no parent" sentinel and is
    # nulled JVM-side (nullif) — never through float64/NaN, which
    # would silently corrupt vertex ids above 2^53
    par_l = np.where(parent[vis] >= 0, vid[parent[vis]], np.int64(-1))
    out = pd.DataFrame(
        {"id": vid[vis], "depth": depth[vis], "parent": par_l}
    )
    return spark.createDataFrame(
        out, "id long, depth int, parent long"
    ).select(
        "id",
        "depth",
        F.nullif(F.col("parent"), F.lit(-1)).alias("parent"),
    )


def _sssp_driver(spark, pdf, source, max_rounds, directed):
    """Vectorized frontier Bellman-Ford: per round one gather + one
    (dist, parent) struct-min lexsort; strict-improvement rule and
    tie-break identical to the distributed loop and the previous
    dict-based path."""
    import numpy as np
    import pandas as pd

    vid, n, dd, indptr, ww = _vec_graph(pdf, directed, source, weighted=True)
    s_idx = int(np.searchsorted(vid, source))
    dist = np.full(n, np.inf)
    parent = np.full(n, -1, dtype=np.int64)
    dist[s_idx] = 0.0
    frontier = np.array([s_idx], dtype=np.int64)
    for _ in range(max_rounds):
        idx, par = _gather(indptr, frontier)
        if idx is None:
            break
        cand_v = dd[idx]
        cand_d = dist[par] + ww[idx]
        # min (d, p) per v: lexsort keys are least-significant first
        o2 = np.lexsort((par, cand_d, cand_v))
        vv, dc, pp = cand_v[o2], cand_d[o2], par[o2]
        first = np.ones(vv.size, dtype=bool)
        first[1:] = vv[1:] != vv[:-1]
        vv, dc, pp = vv[first], dc[first], pp[first]
        imp = dc < dist[vv]
        vv, dc, pp = vv[imp], dc[imp], pp[imp]
        if vv.size == 0:
            break
        dist[vv] = dc
        parent[vv] = pp
        frontier = vv
    vis = np.isfinite(dist)
    # int64 -1 sentinel + JVM-side nullif, as in _bfs_driver (ids
    # above 2^53 survive intact)
    par_l = np.where(parent[vis] >= 0, vid[parent[vis]], np.int64(-1))
    out = pd.DataFrame(
        {"id": vid[vis], "dist": dist[vis], "parent": par_l}
    )
    return spark.createDataFrame(
        out, "id long, dist double, parent long"
    ).select(
        "id",
        "dist",
        F.nullif(F.col("parent"), F.lit(-1)).alias("parent"),
    )


def bfs(
    edges: DataFrame,
    source: int,
    max_depth: int = 30,
    directed: bool = True,
    parents: bool = False,
) -> DataFrame:
    """Unweighted BFS from one source: ``(id, depth)`` for reachable ids
    (plus a deterministic min-``parent`` column when ``parents=True``).

    Frontier expansion: each round joins the frontier against edges on
    src and anti-joins the visited set — the reference's visited-set
    BFS (operator.rs:3003) in shuffle form.

    Driver fast path (same guard as MST/SCC/max-flow): below
    DRIVER_EDGE_GUARD edges the level sets settle on the driver in
    microseconds — mirroring the reference's own sequential BFS
    (pathfinding.rs:19) — instead of scheduling one job per level.
    The distributed loop is the ≥guard path.
    """
    spark = edges.sparkSession
    pdf = _edges_pdf_if_small(
        edges.select("src", "dst"), DRIVER_EDGE_GUARD * _VEC_GUARD_MULT
    )
    if pdf is not None:
        out = _bfs_driver(spark, pdf, source, max_depth, directed)
        return out if parents else out.select("id", "depth")
    if max_depth <= 2:
        # bounded shallow BFS: one lazy unrolled plan, zero per-depth
        # count/checkpoint jobs (AQE skips empty frontiers and picks
        # broadcast sides at runtime).  Threshold is 2: beyond that the
        # unrolled plan re-derives the edge union per depth and loses to
        # the persisted-edge loop (measured 3.9s vs 3.1s at depth 3).
        e = edges.select("src", "dst") if directed else symmetrize(edges)
        visited = spark.createDataFrame(
            [(source, 0, None)], "id long, depth int, parent long"
        )
        frontier = visited
        for d in range(1, max_depth + 1):
            nxt = (
                e.join(frontier, e["src"] == frontier["id"])
                .select(F.col("dst").alias("id"), F.col("src").alias("parent"))
                .groupBy("id")
                .agg(F.min("parent").alias("parent"))
                .join(visited.select("id"), "id", "left_anti")
                .withColumn("depth", F.lit(d))
                .select("id", "depth", "parent")
            )
            visited = visited.unionByName(nxt)
            frontier = nxt
        return visited if parents else visited.select("id", "depth")
    with iteration_scope(spark, edges):
        # edges persisted hash(src): the frontier join is exchange-free
        # on the (large) edge side every round — only the frontier and
        # visited vertex frames shuffle, and with AQE re-planning off
        # each round is exactly ONE scheduled job (the count below)
        e = partitioned(
            edges.select("src", "dst") if directed else symmetrize(edges),
            "src",
        )
        visited = spark.createDataFrame(
            [(source, 0, None)], "id long, depth int, parent long"
        )
        frontier = visited

        for d in range(1, max_depth + 1):
            nxt = (
                e.join(
                    frontier.hint("shuffle_hash"), e["src"] == frontier["id"]
                )
                .select(
                    F.col("dst").alias("id"), F.col("src").alias("parent")
                )
                .groupBy("id")
                .agg(F.min("parent").alias("parent"))
                .join(
                    visited.select("id").hint("shuffle_hash"),
                    "id",
                    "left_anti",
                )
                .withColumn("depth", F.lit(d))
                .select("id", "depth", "parent")
            )
            # lazy checkpoint: materialized by the count() in one job
            nxt = checkpoint(nxt, eager=False)
            frontier_n = nxt.count()
            if frontier_n == 0:
                break
            visited = visited.unionByName(nxt)  # union of checkpoints
            frontier = nxt
    return visited if parents else visited.select("id", "depth")


def sssp(
    edges: DataFrame,
    source: int,
    weight_col: str = "weight",
    max_rounds: int = 50,
    directed: bool = True,
    parents: bool = False,
) -> DataFrame:
    """Weighted single-source shortest paths: ``(id, dist)`` (plus the
    predecessor on a min-cost path as ``parent`` when ``parents=True``).

    Frontier Bellman-Ford: only vertices whose distance improved last
    round propagate relaxations, so each round shuffles just the
    active frontier joined to its out-edges.  Converges to Dijkstra's
    fixpoint for non-negative weights.

    Driver fast path (same guard as MST/SCC/max-flow): below
    DRIVER_EDGE_GUARD edges the SAME frontier relaxation settles on
    the driver — the reference's Dijkstra is likewise sequential
    (pathfinding.rs:91) — instead of one scheduled job per round.
    Identical results including the (dist, parent) struct-min
    tie-break and the strict-improvement rule.
    """
    pdf = _edges_pdf_if_small(
        edges.select(
            "src", "dst", F.col(weight_col).cast("double").alias("w")
        ),
        DRIVER_EDGE_GUARD * _VEC_GUARD_MULT,
    )
    if pdf is not None:
        out = _sssp_driver(
            edges.sparkSession, pdf, int(source), max_rounds, directed
        )
        return out if parents else out.select("id", "dist")
    e = edges.select("src", "dst", F.col(weight_col).cast("double").alias("w"))
    if not directed:
        e = e.unionByName(
            edges.select(
                F.col("dst").alias("src"),
                F.col("src").alias("dst"),
                F.col(weight_col).cast("double").alias("w"),
            )
        )
    spark = edges.sparkSession
    with iteration_scope(spark, edges):
        # edges persisted hash(src): only the (small) frontier and dist
        # vertex frames shuffle per round; each round is ONE scheduled
        # job (the improved-count, which also materializes the lazy
        # checkpoints of this round's improved frame and the previous
        # round's dist merge)
        e = partitioned(e, "src")
        dist = spark.createDataFrame(
            [(source, 0.0, None)], "id long, dist double, parent long"
        )
        frontier = dist

        for _ in range(max_rounds):
            cand = (
                e.join(
                    frontier.hint("shuffle_hash"), e["src"] == frontier["id"]
                )
                .select(
                    F.col("dst").alias("id"),
                    # min over (cost, parent) pairs: least cost, parent
                    # as the deterministic tie-break
                    F.struct(
                        (F.col("dist") + F.col("w")).alias("d"),
                        F.col("src").alias("p"),
                    ).alias("dp"),
                )
                .groupBy("id")
                .agg(F.min("dp").alias("dp"))
                .select(
                    "id", F.col("dp.d").alias("d"), F.col("dp.p").alias("p")
                )
            )
            old = dist.select("id", F.col("dist").alias("old"))
            joined = cand.join(old.hint("shuffle_hash"), "id", "left")
            improved = checkpoint(
                joined.filter(
                    F.col("old").isNull() | (F.col("d") < F.col("old"))
                ).select(
                    "id", F.col("d").alias("dist"), F.col("p").alias("parent")
                ),
                eager=False,  # materialized by the count() in one job
            )
            frontier_n = improved.count()
            if frontier_n == 0:
                break
            dist = checkpoint(
                dist.join(
                    improved.select("id").hint("shuffle_hash"),
                    "id",
                    "left_anti",
                ).unionByName(improved),
                eager=False,  # materialized by the NEXT round's count
            )
            frontier = improved
    return dist if parents else dist.select("id", "dist")


def shortest_path_length(
    edges: DataFrame,
    source: int,
    target: int,
    max_depth: int = 30,
    directed: bool = True,
) -> int | None:
    """Hop count of the shortest path source->target (None if unreachable).
    Cypher: MATCH p = shortestPath((a)-[*]->(b)) RETURN length(p)."""
    reached = bfs(edges, source, max_depth=max_depth, directed=directed)
    row = reached.filter(F.col("id") == target).select("depth").first()
    return None if row is None else int(row[0])


def shortest_path_with_cost(
    edges: DataFrame,
    source: int,
    target: int,
    weight_col: str | None = None,
    max_rounds: int = 30,
    directed: bool = True,
) -> tuple[list[int], float] | None:
    """One shortest path source->target as ``([node ids], cost)``, or
    None if unreachable — the record shape of ``CALL algo.shortestPath``
    / ``algo.weightedPath`` (operator.rs:6381-6432, :6577-6620: YIELD
    path, cost).  Unweighted cost = hop count; weighted = sum of weights
    (Dijkstra fixpoint).

    The frontier search is fully distributed; only the O(path length)
    backward walk over the cached parents table runs point lookups.
    """
    if weight_col is None:
        state = bfs(
            edges, source, max_depth=max_rounds, directed=directed, parents=True
        ).select("id", F.col("depth").cast("double").alias("cost"), "parent")
    else:
        state = sssp(
            edges, source, weight_col,
            max_rounds=max_rounds, directed=directed, parents=True,
        ).select("id", F.col("dist").alias("cost"), "parent")
    state = state.cache()
    try:
        row = state.filter(F.col("id") == target).first()
        if row is None:
            return None
        cost = float(row["cost"])
        path = [target]
        cur = row["parent"]
        while cur is not None:
            path.append(int(cur))
            if cur == source:
                break
            nxt = state.filter(F.col("id") == cur).first()
            cur = None if nxt is None else nxt["parent"]
        return path[::-1], cost
    finally:
        state.unpersist()
