"""G25 — k-truss decomposition: the maximal subgraph in which every
edge closes at least k−2 triangles (Cohen 2008 "Trusses: cohesive
subgraphs for social network analysis"; distributed peel à la
Chen et al. / the MapReduce truss family).

Edge-level cohesion, one level up from k-core's vertex degrees: a
k-truss is always a subgraph of the (k−1)-core but far denser —
AGATHA-style hub terms survive coring on raw degree alone, while truss
peeling also demands their neighborhoods interlock.

Synchronous peel, the k-core discipline (graph/kcore.py), run over a
triangle table enumerated ONCE (the G7 degree-oriented wedge join,
hub-safe) instead of re-running the wedge join every round:

    T_0 = the triangles of the canonical edge set E_0
    repeat:  E_r = {e : support of e over T_{r−1} >= k−2}
             T_r = the triangles of T_{r−1} whose three edges are in E_r

Every triangle of E_r is a triangle of E_{r−1}, so T_r is exactly the
triangle set of E_r, and each round is one window count + one group-by
over the surviving triangles — no degrees, no orientation, no wedge
self-join.  T only shrinks, so an unchanged triangle count IS the
fixpoint (the next E would equal this one).  ``max_iter`` follows the
round and cap policy of graph/rounds.py (extra fixed rounds past the
fixpoint are no-ops).

Output: (u, v, support) — canonical u < v edges of E_last with their
support over T_last.  E_last is derived from T_{last−1}, not read off
T_last: in fixed-round mode an edge of E_N whose last triangle died in
round N is still in the output, with support 0.  Exact bar: edge set
equals ``networkx.k_truss`` (golden-tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from sparkgatha.graph.canon import canonical_undirected
from sparkgatha.graph.rounds import fixpoint_rounds, width
from sparkgatha.graph.triangles import _degrees, _orient, _triangles
from sparkgatha.util import checkpoint_reset_stats, no_aqe


def _triangle_table(und: DataFrame) -> DataFrame:
    """(a, b, c), a < b < c: one row per triangle of a canonical edge
    set, i.e. its three canonical edges (a, b), (a, c), (b, c)."""
    t = _triangles(_orient(und, _degrees(und)))  # (p, x, y), x < y
    return t.select(
        F.least("p", "x").alias("a"),
        F.greatest("x", F.least("p", "y")).alias("b"),
        F.greatest("p", "y").alias("c"),
    )


def _triangle_edges(tris: DataFrame) -> DataFrame:
    """(a, b, c, u, v): each triangle once per canonical edge."""
    return tris.selectExpr(
        "a", "b", "c",
        "inline(array(named_struct('u', a, 'v', b), "
        "named_struct('u', a, 'v', c), named_struct('u', b, 'v', c)))",
    )


def _support(tris: DataFrame) -> DataFrame:
    """(u, v, support): triangles of ``tris`` through each edge."""
    return (
        _triangle_edges(tris)
        .groupBy("u", "v")
        .agg(F.count("*").alias("support"))
    )


def _peel(tris: DataFrame, need: int) -> DataFrame:
    """The triangles of ``tris`` whose three edges each close at least
    ``need`` triangles of ``tris``."""
    return (
        _triangle_edges(tris)
        .withColumn("support", F.count("*").over(W.partitionBy("u", "v")))
        .groupBy("a", "b", "c")
        .agg(F.min("support").alias("weakest"))
        .filter(F.col("weakest") >= need)
        .select("a", "b", "c")
    )


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
        # checkpoint_reset_stats, NOT a plain localCheckpoint: the peel
        # rounds chain on the previous round's table, and plain
        # checkpoints inherit compounding sizeInBytes estimates (see the
        # helper's docstring)
        und = checkpoint_reset_stats(canonical_undirected(edges))
        n_edges = und.count()
        with width(spark, n_edges):
            tris = checkpoint_reset_stats(_triangle_table(und))
        n_tris = tris.count()
        keep = und  # k = 2 peels nothing: every edge is in the truss
        if need > 0:
            for r in fixpoint_rounds(spark, "k_truss", max_iter):
                # one exchange row per (triangle, edge)
                with r.width(3 * n_tris):
                    nxt = checkpoint_reset_stats(_peel(tris, need))
                    n_nxt = nxt.count()
                prev, tris = tris, nxt
                if n_nxt == n_tris:
                    break
                n_tris = n_nxt
            keep = (
                _support(prev)
                .filter(F.col("support") >= need)
                .select("u", "v")
            )
        with width(spark, n_edges):
            return checkpoint_reset_stats(
                keep.join(_support(tris), ["u", "v"], "left").select(
                    "u", "v", F.coalesce("support", F.lit(0)).alias("support")
                )
            )
