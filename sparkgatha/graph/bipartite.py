"""G36 — bipartite 2-coloring and odd-cycle detection.

A graph is bipartite iff it has no odd cycle; the constructive check
colors every vertex with the PARITY of its min-hop distance from its
component's root (the component's minimum vertex id — the same
canonical root G5 elects), then looks for an edge joining two
same-colored vertices.  Zero conflict edges ⟺ bipartite, and the
coloring is then the unique 2-partition (up to flip) with the root on
side 0.  The reference family: a term/entity co-occurrence pipeline
meets genuinely bipartite layers (doc–term, part–supplier) where the
two-sided structure is an invariant worth asserting, and the conflict
edges are exactly the witnesses that break it.

Physical discipline: ONE fused superstep loop computes the component
root and the root distance together.  Every vertex starts as its own
candidate root at distance 0 and each round keeps the lexicographic
minimum ``(root, dist)`` over itself and its neighbors' states + 1 hop
— after k rounds every vertex within k hops of its component's true
root (the min id) holds the final ``(root, d(root, ·))``, so the loop
converges in ecc(root) + 1 supersteps.  That is the SAME round count
the previous two-phase design paid for its BFS phase alone, with the
separate G5 star-contraction election (O(log V) extra rounds, each a
shuffle + action) eliminated: the op as a whole was always
diameter-bound through ``max_iter``, so fusing is strictly fewer
rounds at every scale.  Edges live in a stationary
hash(src)-partitioned layout persisted once; the frontier (still-
improving vertices only) broadcasts into the relax join while small
and falls back to a shuffle join beyond BROADCAST_FRONTIER_MAX; the
per-round improved count rides the same action that materializes the
lazily checkpointed next state — one Spark job per superstep; state is
O(V); conflicts are a single self-join of the edge list against the
color table.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from sparkgatha.graph.canon import canonical_undirected
from sparkgatha.graph.paths import BROADCAST_FRONTIER_MAX
from sparkgatha.graph.rounds import fixpoint_rounds
from sparkgatha.util import no_aqe


@dataclass
class BipartiteResult:
    #: (vertex, component, dist, color) — color = dist % 2, root side 0
    colors: DataFrame
    #: (u, v) canonical edges joining two same-colored vertices; empty
    #: iff the graph is bipartite (each is a witness edge on an odd
    #: cycle through its component's root)
    conflicts: DataFrame


def bipartite_color(
    edges: DataFrame,
    max_iter: int = 50,
    num_partitions: int = 32,
) -> BipartiteResult:
    """2-color ``edges`` (read undirected, self-loops dropped by the
    canonicalization; a self-loop is an odd cycle the caller should
    screen separately if it must count).  Raises if the propagation has
    not drained within ``max_iter`` supersteps — a silent truncation
    would mislabel the unreached tail.  ``max_iter`` bounds ecc(root) +
    1, exactly the bound the BFS phase of the previous two-phase design
    carried, so callers' settings are unchanged; the loop is a
    fixed-round loop of graph/rounds.py."""
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    spark = edges.sparkSession
    e = canonical_undirected(edges).localCheckpoint(eager=True)
    sym = e.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionByName(
        e.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    with no_aqe(spark):
        layout = (
            sym.repartition(num_partitions, "src")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        layout.count()  # materialize the one-time stationary layout
        # state: every vertex is its own candidate root at distance 0;
        # sym carries both directions so src covers every endpoint
        state = (
            layout.select(F.col("src").alias("vertex"))
            .distinct()
            .select(
                "vertex",
                F.struct(
                    F.col("vertex").alias("root"),
                    F.lit(0).cast("long").alias("dist"),
                ).alias("s"),
            )
            .localCheckpoint(eager=True)
        )
        frontier = state
        frontier_rows = state.count()
        for _ in fixpoint_rounds(spark, "bipartite_color", max_iter):
            if frontier_rows == 0:
                break
            probe = (
                F.broadcast(frontier)
                if frontier_rows <= BROADCAST_FRONTIER_MAX
                else frontier
            )
            # candidate = lexicographic-min neighbor state + 1 hop;
            # struct min orders by (root, dist) — the true root (the
            # component min id) dominates every transient local
            # minimum, and among its wavefronts the smallest hop wins
            cand = (
                layout.join(probe, layout.src == probe.vertex)
                .select(
                    F.col("dst").alias("vertex"),
                    F.struct(
                        F.col("s.root").alias("root"),
                        (F.col("s.dist") + F.lit(1).cast("long")).alias(
                            "dist"
                        ),
                    ).alias("s"),
                )
                .groupBy("vertex")
                .agg(F.min("s").alias("s"))
            )
            # every vertex is already in state, so a left join suffices
            merged = (
                state.alias("d")
                .join(cand.alias("c"), "vertex", "left")
                .select(
                    "vertex",
                    F.when(
                        F.col("c.s").isNotNull()
                        & (F.col("c.s") < F.col("d.s")),
                        F.col("c.s"),
                    )
                    .otherwise(F.col("d.s"))
                    .alias("s"),
                    (
                        F.col("c.s").isNotNull()
                        & (F.col("c.s") < F.col("d.s"))
                    ).alias("_improved"),
                )
                .localCheckpoint(eager=False)
            )
            frontier_rows = merged.filter(F.col("_improved")).count()
            state = merged.select("vertex", "s")
            frontier = merged.filter(F.col("_improved")).select("vertex", "s")
        layout.unpersist()
    if frontier_rows != 0:
        raise RuntimeError(
            f"bipartite_color: propagation still active after "
            f"max_iter={max_iter} supersteps; raise max_iter "
            "(root eccentricity exceeds it)"
        )
    colors = (
        state.select(
            "vertex",
            F.col("s.root").alias("component"),
            F.col("s.dist").alias("dist"),
            (F.col("s.dist") % 2).alias("color"),
        )
        .localCheckpoint(eager=True)
    )
    cu = colors.select(F.col("vertex").alias("u"), F.col("color").alias("cu"))
    cv = colors.select(F.col("vertex").alias("v"), F.col("color").alias("cv"))
    conflicts = (
        e.join(cu, "u").join(cv, "v")
        .filter(F.col("cu") == F.col("cv"))
        .select("u", "v")
    )
    return BipartiteResult(colors=colors, conflicts=conflicts)
