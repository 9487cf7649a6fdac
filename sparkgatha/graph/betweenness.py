"""Betweenness centrality — Brandes' algorithm as DataFrame supersteps
(SURVEY.md §2.11 G19).

Betweenness ranks bridge terms — vertices that many shortest paths
cross — the classic "broker" signal complementing PageRank's volume
signal for hypothesis-path analysis.  Exact betweenness is O(|V|·|E|)
(Brandes 2001), so the engine computes the standard sampled estimator:
run Brandes from k pivot sources and scale by n/k (Brandes & Pich
2007).  Pivots are chosen DETERMINISTICALLY by md5 order of the vertex
id — the engine's usual no-RNG rule, so a retry or a different
partitioning samples the identical pivot set.

All k sources advance TOGETHER, keyed by (s, v):

  * forward: BFS layers with path counts — frontier ⋈ adjacency,
    anti-join against the visited set, partial-agg ``sum(sigma)`` per
    (s, v); layer d+1's count is exactly the sum of its layer-d
    predecessors' counts, so no second pass is needed;
  * backward: dependencies by descending layer — layer-(d+1) deltas
    join back through the REVERSED adjacency onto their layer-d
    predecessors with weight (sigma_v / sigma_w) · (1 + delta_w);
    in an unweighted BFS DAG every predecessor of a layer-(d+1) vertex
    sits at layer d, so each layer's delta finalizes in one superstep.

Physical shape: the adjacency is hash(src)-partitioned and persisted
once (G11); state frames are O(k·|V|) and eagerly checkpointed per
layer; every join is keyed, every aggregation partial-aggregable.  At
10^12 edges the cost driver is k — the estimator quality/cost dial the
caller owns.

Semantics match ``networkx.betweenness_centrality`` for UNDIRECTED
graphs when given the symmetrized edge set: pair dependencies are
halved (each unordered pair is counted from both endpoints) and the
exact mode (all sources) reproduces NetworkX to fp precision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from sparkgatha.graph.rounds import fixpoint_rounds
from sparkgatha.util import materialize, no_aqe


def betweenness(
    edges: DataFrame,
    n_sources: int | None = None,
    num_partitions: int = 32,
) -> DataFrame:
    """(vertex, betweenness) over the symmetrized ``edges`` read as an
    undirected graph.  ``n_sources=None`` runs every vertex as a source
    (exact, ``networkx.betweenness_centrality(normalized=False)``);
    otherwise the k md5-smallest vertices are the pivots and scores are
    scaled by n/k (Brandes-Pich deterministic sampling).

    The BFS runs to its fixpoint (the frontier empties) under the round
    and cap policy of graph/rounds.py, without its width: the
    accumulation sums doubles, whose bits depend on the partitioning.
    """
    if n_sources is not None and n_sources < 1:
        raise ValueError(f"n_sources must be >= 1, got {n_sources}")
    spark = edges.sparkSession
    with no_aqe(spark):
        adj = (
            edges.select("src", "dst")
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .repartition(num_partitions, "src")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        adj.count()
        try:
            verts, n = materialize(
                adj.select(F.col("src").alias("v"))
                .unionByName(adj.select(F.col("dst").alias("v")))
                .distinct()
            )
            if n == 0:
                return verts.select(
                    F.col("v").alias("vertex"),
                    F.lit(0.0).alias("betweenness"),
                )
            if n_sources is None or n_sources >= n:
                srcs = verts.select(F.col("v").alias("s"))
                scale = 0.5  # undirected: each pair counted from both ends
            else:
                srcs = (
                    verts.orderBy(F.md5(F.col("v").cast("string")))
                    .limit(n_sources)
                    .select(F.col("v").alias("s"))
                )
                scale = 0.5 * n / n_sources
            # ---- forward: BFS layers with path counts ----------------
            frontier = srcs.select(
                "s", F.col("s").alias("v"), F.lit(1.0).alias("sigma")
            ).localCheckpoint(eager=True)
            layers = [frontier]  # layers[d]: (s, v, sigma) at depth d
            visited = frontier.select("s", "v").localCheckpoint(eager=True)
            for _ in fixpoint_rounds(spark, "betweenness"):
                nxt, n_nxt = materialize(
                    layers[-1]
                    .join(adj, layers[-1].v == adj.src)
                    .select("s", F.col("dst").alias("v"), "sigma")
                    .join(visited, ["s", "v"], "left_anti")
                    .groupBy("s", "v")
                    .agg(F.sum("sigma").alias("sigma"))
                )
                if n_nxt == 0:
                    break
                layers.append(nxt)
                visited = (
                    visited.unionByName(nxt.select("s", "v"))
                    .localCheckpoint(eager=True)
                )
            # ---- backward: dependency accumulation by layer ----------
            # delta finalizes layer by layer from the deepest inward;
            # deltas[d] rows: (s, v, delta) for layer-d vertices
            deepest = len(layers) - 1
            deltas = {
                deepest: layers[deepest].select(
                    "s", "v", F.lit(0.0).alias("delta")
                )
            }
            for r in fixpoint_rounds(spark, "betweenness_backward", deepest):
                d = deepest - r.n
                above = layers[d + 1].join(deltas[d + 1], ["s", "v"]).select(
                    "s",
                    F.col("v").alias("w"),
                    F.col("sigma").alias("sigma_w"),
                    "delta",
                )
                contrib = (
                    above.join(adj, above.w == adj.dst)
                    .select(
                        "s",
                        F.col("src").alias("v"),
                        "sigma_w",
                        "delta",
                    )
                    .join(layers[d], ["s", "v"])  # keeps layer-d preds only
                    .select(
                        "s",
                        "v",
                        (
                            F.col("sigma")
                            / F.col("sigma_w")
                            * (1.0 + F.col("delta"))
                        ).alias("c"),
                    )
                    .groupBy("s", "v")
                    .agg(F.sum("c").alias("delta"))
                )
                deltas[d] = (
                    layers[d]
                    .select("s", "v")
                    .join(contrib, ["s", "v"], "left")
                    .select(
                        "s", "v", F.coalesce("delta", F.lit(0.0)).alias("delta")
                    )
                    .localCheckpoint(eager=True)
                )
            all_deltas = deltas[0]
            for d in range(1, deepest + 1):
                all_deltas = all_deltas.unionByName(deltas[d])
            acc = (
                all_deltas.filter(F.col("v") != F.col("s"))
                .groupBy(F.col("v").alias("vertex"))
                .agg((F.sum("delta") * scale).alias("betweenness"))
            )
            return (
                verts.join(acc, verts.v == acc.vertex, "left")
                .select(
                    F.col("v").alias("vertex"),
                    F.coalesce("betweenness", F.lit(0.0)).alias("betweenness"),
                )
            )
        finally:
            adj.unpersist()
