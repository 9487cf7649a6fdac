"""G25 — k-truss decomposition: the maximal subgraph in which every
edge closes at least k−2 triangles (Cohen 2008 "Trusses: cohesive
subgraphs for social network analysis"; distributed peel à la
Chen et al. / the MapReduce truss family).

Edge-level cohesion, one level up from k-core's vertex degrees: a
k-truss is always a subgraph of the (k−1)-core but far denser —
AGATHA-style hub terms survive coring on raw degree alone, while truss
peeling also demands their neighborhoods interlock.

Synchronous peel, the k-core discipline (graph/kcore.py):

    repeat:  support(e) = #triangles through e  (degree-oriented wedge
             join — the G7 triangle machinery, so hot vertices never
             explode the self-join);  drop edges with support < k−2

Monotonicity gives the same free convergence test as k-core: a round
drops an edge iff the edge count changes, so an unchanged count on the
checkpointed set IS the fixpoint — no extra shuffle.  ``max_iter``
follows the round and cap policy of graph/rounds.py (extra fixed rounds
past the fixpoint are no-ops).

Output: (u, v, support) — canonical u < v edges of the k-truss with
their final within-truss support.  Exact bar: edge set equals
``networkx.k_truss`` (golden-tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from sparkgatha.graph.canon import canonical_undirected
from sparkgatha.graph.rounds import fixpoint_rounds, width
from sparkgatha.graph.triangles import _degrees, _orient, _triangles
from sparkgatha.util import checkpoint_reset_stats, no_aqe


def _edge_support(und: DataFrame) -> DataFrame:
    """(u, v, support) per canonical undirected edge: the number of
    triangles the edge participates in — the G7 degree-oriented wedge
    enumeration (triangles._triangles, hub-safe, one row per triangle)
    projected onto the three edges of each triangle."""
    o = _orient(und, _degrees(und))
    tris = _triangles(o)  # (p, x, y)
    sides = (
        tris.select(
            F.least("p", "x").alias("u"), F.greatest("p", "x").alias("v")
        )
        .unionByName(
            tris.select(
                F.least("p", "y").alias("u"), F.greatest("p", "y").alias("v")
            )
        )
        .unionByName(tris.select(F.col("x").alias("u"), F.col("y").alias("v")))
    )
    return sides.groupBy("u", "v").agg(F.count("*").alias("support"))


def k_truss(
    edges: DataFrame, k: int, max_iter: int | None = None
) -> DataFrame:
    """(u, v, support): the k-truss of ``edges`` read as an undirected
    graph (self-loops dropped, orientations merged)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if max_iter is not None and max_iter < 1:
        raise ValueError(
            f"max_iter must be >= 1 (or None for fixpoint), got {max_iter} "
            "— zero rounds would return the unpeeled input labeled as a "
            "truss"
        )
    spark = edges.sparkSession
    need = k - 2
    with no_aqe(spark):
        # checkpoint_reset_stats, NOT a plain localCheckpoint: the wedge
        # join references the edge set ~12 times per round, and plain
        # checkpoints inherit compounding sizeInBytes estimates that OOM
        # the planner by round ~12 (see the helper's docstring)
        und = checkpoint_reset_stats(canonical_undirected(edges))
        n_edges = und.count()
        for r in fixpoint_rounds(spark, "k_truss", max_iter):
            if n_edges == 0:
                break
            # r6: size this round's exchanges to the surviving edge set
            # (integer supports + anti/left joins — results are
            # partitioning-independent; see util.adaptive_shuffle_
            # partitions)
            with r.width(n_edges):
                sup = _edge_support(und)
                kept = checkpoint_reset_stats(
                    und.join(sup, ["u", "v"], "left")
                    .filter(F.coalesce("support", F.lit(0)) >= need)
                    .select("u", "v")
                )
                n_kept = kept.count()
            if n_kept == n_edges:
                und = kept
                break
            und, n_edges = kept, n_kept
        with width(spark, n_edges):
            out = checkpoint_reset_stats(
                und.join(_edge_support(und), ["u", "v"], "left").select(
                    "u", "v", F.coalesce("support", F.lit(0)).alias("support")
                )
            )
        return out
