"""Deterministic parallel maximal matching and the 2-approximate
vertex cover built on it (SURVEY.md §2.11 G33/G33b).

Maximal matching is the EDGE-side symmetry-breaking primitive beside
G29's vertex MIS: a set of pairwise endpoint-disjoint edges no further
edge can join — pairing replicas for co-location, scheduling pairwise
merges, or (its textbook corollary) a 2-approximate minimum vertex
cover: the matched endpoints hit every edge, and any cover needs at
least one endpoint per matched edge, so |cover| = 2|M| ≤ 2·OPT.

Rule (pinned, engine-independent — the Israeli-Itai-flavored greedy
round): in round r an ACTIVE canonical edge (u, v) joins the matching
iff its priority is the strict minimum among all active edges sharing
an endpoint with it, where

    priority_r(u, v) = ( md5int(u ':' v ':' r ':' seed), u, v )

with ``md5int`` the engine-wide first-15-hex-chars-of-md5 convention
(util.md5_long).  "Strict minimum among edges sharing an endpoint" is
evaluated as: the edge's priority tuple equals the per-endpoint minimum
at BOTH endpoints (the tuple is unique per edge, so equality at both
endpoints IS local minimality).  Matched endpoints deactivate, the edge
set shrinks by the k-core double semi-join, repeat.  The globally
minimal active edge always wins its round, so termination is
unconditional; fresh priorities per round give Luby-style O(log m)
expected rounds.

Physical shape (the 100 TB story): the priority is a PURE EXPRESSION of
(u, v, round, seed) — no priority table.  Per round: one projection to
both orientations, one partial-aggregable ``groupBy(endpoint).min(
struct(p, u, v))``, two |V|-row joins back to the candidate edges, and
the double semi-join shrink.  Every per-round frame goes through
``checkpoint_reset_stats`` (multi-reference rounds, util.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from sparkgatha.graph.canon import canonical_undirected
from sparkgatha.graph.rounds import fixpoint_rounds
from sparkgatha.util import (
    checkpoint_reset_stats,
    materialize,
    md5_long,
    no_aqe,
)


def _edge_priority(u: Column, v: Column, rnd: int, seed: int) -> Column:
    return md5_long(
        F.concat(u.cast("string"), F.lit(":"), v.cast("string"),
                 F.lit(f":{rnd}:{seed}"))
    )


def maximal_matching(
    edges: DataFrame,
    seed: int = 0,
    max_rounds: int | None = None,
) -> DataFrame:
    """(u, v, round) — the deterministic greedy maximal matching of the
    undirected graph of ``edges`` (canonical u < v rows) and the round
    each pair matched.

    Self-loops are ignored (a loop cannot be matched).  ``max_rounds``
    follows the round and cap policy of graph/rounds.py; the fixed-round
    result is a prefix of the fixpoint (matching growth is monotone).
    """
    if max_rounds is not None and max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    spark = edges.sparkSession
    with no_aqe(spark):
        # r6: a full count replaces the limit probe and sizes each
        # round's exchanges to the shrinking candidate edge set (md5
        # priorities + min-struct aggs are partitioning-independent)
        e, n_e = materialize(canonical_undirected(edges), reset_stats=True)
        matched = None
        if n_e == 0:
            # edge-free input: empty matching with the right schema
            return e.select(
                "u", "v", F.lit(0).alias("round")
            ).limit(0)
        for r in fixpoint_rounds(spark, "maximal_matching", max_rounds):
            with r.width(n_e):
                pri = e.select(
                    "u",
                    "v",
                    F.struct(
                        _edge_priority(F.col("u"), F.col("v"), r.n, seed).alias(
                            "p"
                        ),
                        F.col("u").alias("pu"),
                        F.col("v").alias("pv"),
                    ).alias("s"),
                )
                both = pri.select(F.col("u").alias("x"), "s").unionByName(
                    pri.select(F.col("v").alias("x"), "s")
                )
                # per-endpoint minimum priority tuple — partial-aggregable
                mins = both.groupBy("x").agg(F.min("s").alias("m"))
                winners = checkpoint_reset_stats(
                    pri.join(
                        mins.select(F.col("x").alias("u"), F.col("m").alias("mu")),
                        "u",
                    )
                    .join(
                        mins.select(F.col("x").alias("v"), F.col("m").alias("mv")),
                        "v",
                    )
                    .filter(
                        (F.col("s") == F.col("mu")) & (F.col("s") == F.col("mv"))
                    )
                    .select("u", "v")
                )
                picked = winners.select("u", "v", F.lit(r.n).alias("round"))
                matched = (
                    picked if matched is None else matched.unionByName(picked)
                )
                if r.last:
                    break  # before the shrink: its frames would never be read
                gone = (
                    winners.select(F.col("u").alias("x"))
                    .unionByName(winners.select(F.col("v").alias("x")))
                    .distinct()
                )
                e, n_e = materialize(
                    e.join(gone.withColumnRenamed("x", "u"), "u", "left_anti")
                    .join(gone.withColumnRenamed("x", "v"), "v", "left_anti"),
                    reset_stats=True,
                )
            if n_e == 0:
                break
        return matched


def vertex_cover(edges: DataFrame, seed: int = 0) -> DataFrame:
    """(vertex) — the matched endpoints of the fixpoint maximal
    matching: a vertex cover at most 2× the minimum (the classic
    matching-based bound; Gavril / Yannakakis folklore).  Deterministic
    under ``seed`` like the matching itself."""
    m = maximal_matching(edges, seed=seed)
    return (
        m.select(F.col("u").alias("vertex"))
        .unionByName(m.select(F.col("v").alias("vertex")))
        .distinct()
    )
