"""Road-network routing primitives over (src, dst, w) edge tables — the
graph the reference's way denormalization implies (ways = node chains =
road segments; pbf2json.go:354-477 materializes exactly the node links
this module consumes as edges).

shortest_paths is synchronous Bellman-Ford, the shuffle-engine shape of
SSSP: one round = one equi-join (frontier ⋈ edges on src) + one
map-side-combinable min by dst. Dijkstra's priority queue is inherently
sequential and has no distributed analogue; n_rounds bounds the hop count
(delta-stepping's bucket trick reduces rounds, not the per-round shape).
Weights are int64 (nano-degree haversine, milliseconds, cents — caller's
choice): integer min/add is order-independent, so results are bit-exact
across partitionings AND engines, which is what lets a DuckDB recursive
CTE serve as the value oracle.

Scale shape: edges are the big immutable side — repartitioned by src ONCE
and persisted; every round's join reuses that layout (same discipline as
graph.pagerank_int). The frontier (node, dist) is the only thing that
moves. localCheckpoint per few rounds bounds lineage. Early stop when a
round improves nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    n_rounds: int,
    checkpoint_every: int = 3,
    early_stop: bool = True,
) -> DataFrame:
    """Multi-source bounded-hop shortest paths.

    dist(v) = min total weight over all paths from ANY source to v using
    at most `n_rounds` edges (the standard Bellman-Ford invariant after
    `n_rounds` relaxation rounds). Unreached nodes are absent from the
    output — "distance to nearest hub" semantics.

    Output: (node, dist:long). Weights must be non-negative int64 (not
    validated row-by-row; negative weights break the hop-bound ==
    shortest-path equivalence, as in any Bellman-Ford without a final
    negative-cycle check).
    """
    e = edges.select(
        F.col("src"),
        F.col("dst"),
        F.col("w").cast("long").alias("w"),
    ).repartition("src").persist()
    dist = sources.select(
        F.col("node"), F.lit(0).cast("long").alias("dist")
    ).distinct()
    for i in range(n_rounds):
        relaxed = (
            e.join(dist.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
        )
        new_dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        if early_stop:
            improved = not (
                new_dist.join(
                    dist.withColumnRenamed("dist", "_old"), "node", "left"
                )
                .filter(
                    F.col("_old").isNull() | (F.col("dist") < F.col("_old"))
                )
                .isEmpty()
            )
            # isEmpty() already ran the plan; checkpoint unconditionally so
            # the next round starts from materialized state, not lineage.
            dist = new_dist.localCheckpoint(eager=True)
            if not improved:
                break
        else:
            dist = new_dist
            if (i + 1) % checkpoint_every == 0 and i + 1 < n_rounds:
                dist = dist.localCheckpoint(eager=True)
    e.unpersist()
    return dist


def shortest_paths_sql(
    edges_sql: str, sources_sql: str, n_rounds: int
) -> str:
    """DuckDB mirror: min over all walks of <= n_rounds edges from any
    source — the same invariant Bellman-Ford maintains, so values are
    bit-exact (integer adds). `edges_sql` yields (src, dst, w),
    `sources_sql` yields (node). Recursive UNION (not UNION ALL) dedups
    (node, dist, hops) states, bounding the walk explosion on test-scale
    graphs."""
    return f"""
WITH RECURSIVE walk(node, dist, hops) AS (
  SELECT node, CAST(0 AS BIGINT), 0 FROM ({sources_sql})
  UNION
  SELECT e.dst, w.dist + e.w, w.hops + 1
  FROM walk w JOIN ({edges_sql}) e ON e.src = w.node
  WHERE w.hops < {n_rounds}
)
SELECT node, min(dist) AS dist FROM walk GROUP BY node
"""
