"""PageRank as iterative DataFrame joins.

Semantics follow the reference implementation
(crates/samyama-graph-algorithms/src/pagerank.rs:35; configurable
iterations + damping) and LDBC Graphalytics: fixed iteration count,
uniform init 1/N, dangling-node mass redistributed uniformly each
iteration.

Scale notes: contributions = edges ⋈ ranks on src (shuffle on src),
aggregated by dst (shuffle on dst).  Both shuffles reuse the same
hash partitioning across iterations.  The loop runs EXACTLY ONE job
per iteration: the per-vertex message frame is a lazy localCheckpoint
whose materialization is triggered by the same tiny ``first()`` that
reads off the global message sum, and the dangling mass follows from
the rank-sum invariant (sum(msg) = S - dangling, S tracked as an O(1)
driver scalar) — no per-iteration broadcast exchange, no separate
dangling-aggregate leg, and every iteration's lineage is flat
(checkpointed deg ⋈ checkpointed contrib).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from samyama_graph_spark.algorithms.util import (
    DRIVER_EDGE_GUARD,
    collect_if_small,
    edges_pdf_if_small,
    iteration_scope,
    partitioned,
    trace_plan,
    vertices_from_edges,
)


def _pagerank_driver(spark, pdf, iterations, damping, vertex_ids):
    """Vectorized power iteration over a collected edge list — same
    fixpoint as the distributed loop (uniform init 1/N, dangling mass
    redistributed uniformly), mirroring the reference's own sequential
    solver (pagerank.rs:35).  O(E) numpy per iteration via bincount."""
    import numpy as np
    import pandas as pd

    src = pdf.iloc[:, 0].to_numpy(dtype=np.int64, copy=False)
    dst = pdf.iloc[:, 1].to_numpy(dtype=np.int64, copy=False)
    parts = [src, dst]
    if vertex_ids is not None:
        parts.append(np.asarray(vertex_ids, dtype=np.int64))
    vid = np.unique(np.concatenate(parts))
    n = int(vid.size)
    if n == 0:
        return spark.createDataFrame([], "id long, rank double")
    si = np.searchsorted(vid, src)
    di = np.searchsorted(vid, dst)
    out_deg = np.bincount(si, minlength=n)
    dangling = out_deg == 0
    safe_deg = np.where(dangling, 1, out_deg).astype(np.float64)
    d = float(damping)
    rank = np.full(n, 1.0 / n, dtype=np.float64)
    for _ in range(iterations):
        contrib = rank / safe_deg
        msg = np.bincount(di, weights=contrib[si], minlength=n)
        dang = float(rank[dangling].sum())
        rank = (1.0 - d) / n + d * dang / n + d * msg
    # eager checkpoint: the public contract (and the distributed path)
    # returns a MATERIALIZED frame, so multi-action callers (count +
    # top-k) read stored blocks instead of re-serializing the local
    # relation once per action
    return spark.createDataFrame(
        pd.DataFrame({"id": vid, "rank": rank}),
        schema="id long, rank double",
    ).localCheckpoint()


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    vertices: DataFrame | None = None,
    driver_guard: int = DRIVER_EDGE_GUARD,
) -> DataFrame:
    """Returns ``(id, rank)``; ranks sum to ~1.

    ``vertices`` may be passed to include isolated vertices; it must be
    a superset of the edge endpoints (the rank-sum bookkeeping assumes
    every edge source holds a rank).

    Driver fast path (same guard as BFS/SSSP/MST/SCC): below
    ``driver_guard`` edges the power iteration settles on the driver as
    an O(E) numpy bincount per round — the reference's own solver is
    sequential in-memory — instead of scheduling one shuffle job per
    iteration.  The distributed loop below is the ≥guard path and is
    semantically identical.
    """
    spark = edges.sparkSession
    pdf = edges_pdf_if_small(edges.select("src", "dst"), driver_guard)
    if pdf is not None:
        vrows = None
        if vertices is not None:
            vrows = collect_if_small(vertices, driver_guard, "id")
        if vertices is None or vrows is not None:
            return _pagerank_driver(
                spark,
                pdf,
                iterations,
                damping,
                None if vrows is None else [r[0] for r in vrows],
            )
    with iteration_scope(edges.sparkSession, edges):
        # persist the edge list hash-partitioned on src: every
        # iteration's rank join is then exchange-free on the edge side
        # (only the small vertex frame moves) and the blocks are read
        # from executor storage instead of re-running the source scan —
        # the GraphX-style iterative-workload pattern.  A localCheckpoint
        # would lose the partitioning (Scan ExistingRDD), forcing a
        # re-shuffle of the edges EVERY iteration.
        e = partitioned(edges.select("src", "dst"), "src")
        if vertices is None:
            vertices = vertices_from_edges(e)
        v = vertices.select("id")
        out_deg = e.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("out_deg")
        )
        # (id, out_deg) with 0 for sinks; reused every iteration.  n
        # comes from counting the persisted blocks — no separate
        # distinct job.
        deg = partitioned(
            v.join(out_deg, "id", "left").fillna(0, subset=["out_deg"]), "id"
        )
        n = deg.count()
        if n == 0:
            return v.withColumn("rank", F.lit(0.0))

        ranks = deg.withColumn("rank", F.lit(1.0 / n))
        s_total = 1.0  # exact rank sum, tracked on the driver

        for _ in range(iterations):
            # shuffle-hash joins: the persisted sides are already laid
            # out on the join key, so with AQE's re-planning disabled
            # the whole iteration is ONE scheduled job — join, message
            # aggregation, checkpoint materialization, and the global
            # sum readout below
            contrib = (
                e.join(ranks.hint("shuffle_hash"), e["src"] == ranks["id"])
                .select(
                    F.col("dst").alias("id"),
                    (F.col("rank") / F.col("out_deg")).alias("c"),
                )
                .groupBy("id")
                .agg(F.sum("c").alias("msg"))
                .localCheckpoint(eager=False)
            )
            # Each source's rank splits across its out-edges and sums
            # back, so sum(msg) = S - dangling_mass — the reference's
            # explicit dangling pass (pagerank.rs:35) folded into the
            # aggregate that's already being computed.
            total_msg = float(
                contrib.agg(F.coalesce(F.sum("msg"), F.lit(0.0))).first()[0]
            )
            # superseded contribution checkpoints: iteration i's blocks
            # are last read by iteration i+1's join; once the Python
            # reference is dropped the ContextCleaner unpersists them,
            # so live storage is bounded at ~2 message frames + deg + e
            # regardless of iteration count.
            dang = s_total - total_msg
            base = (1.0 - damping) / n + damping * dang / n
            ranks = deg.join(
                contrib.hint("shuffle_hash"), "id", "left"
            ).select(
                "id",
                "out_deg",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("msg"), F.lit(0.0))
                ).alias("rank"),
            )
            s_total = (1.0 - damping) + damping * dang + damping * total_msg

        # materialize the final ranks inside the loop scope (one job):
        # its exit drops the loop-state persists
        trace_plan("pagerank", ranks)
        ranks = ranks.select("id", "rank").localCheckpoint()
    return ranks
