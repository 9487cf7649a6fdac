"""Minimum spanning forest via Borůvka contraction supersteps
(SURVEY.md §2.11 G27).

The MSF is the link-graph backbone: single-linkage clustering of the
co-occurrence graph IS the MSF with its heaviest edges cut (the
reference's agglomerative view of term neighborhoods), and the
lightest-edge tree is the standard sparsifier to ship a trillion-edge
graph's skeleton to a serving layer.  Borůvka is THE parallel MST
algorithm — every component picks its lightest incident edge
simultaneously, so each round is a handful of joins + partial
aggregations and the component count at least halves per round:
O(log |V|) supersteps, no priority queue, no sequential Kruskal scan.

Determinism without assuming distinct weights: edges are totally
ordered by (weight, u, v) — the MSF computed is EXACTLY the unique MST
of that perturbed total order (the classic argument: under a total
order, simultaneous lightest-edge selection can never close a cycle).

Physical shape (the 100 TB story):

  * CONTRACTION, not relabeling: the working edge set carries component
    endpoints and keeps only the single lightest original edge per
    component PAIR — strictly shrinking data instead of re-joining the
    full edge table against a component map every round;
  * per-component selection is one both-orientations explode + one
    partial-aggregable ``min(struct(...))`` groupBy — map-side combine
    collapses each partition to ≤ #components rows before the exchange;
  * component merging runs the engine's own G5 connected-components on
    the CHOSEN edge set only (≤ #components rows, geometrically
    shrinking — the closure cost is a vanishing fraction of round 1);
  * every per-round frame goes through ``checkpoint_reset_stats``: the
    round references the working set several times, and inherited
    sizeInBytes estimates compound across many-reference rounds
    (util.py:60 — the k-truss discovery).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from sparkgatha.graph.cc import connected_components
from sparkgatha.graph.rounds import fixpoint_rounds
from sparkgatha.util import checkpoint_reset_stats, no_aqe


def minimum_spanning_forest(edges: DataFrame) -> DataFrame:
    """(u, v, weight) with u < v — one row per MSF edge of the
    undirected graph of ``edges``, lightest parallel edge kept,
    self-loops dropped.  |result| = |V| − #components; ties broken by
    the (weight, u, v) total order, so the output is unique and
    engine-independent (the golden tests replay the same order through
    NetworkX)."""
    spark = edges.sparkSession
    with no_aqe(spark):
        # canonical undirected working set: (cu, cv) component endpoints,
        # (u, v, weight) the lightest ORIGINAL edge crossing that pair
        work = (
            edges.select(
                F.least("src", "dst").alias("u"),
                F.greatest("src", "dst").alias("v"),
                F.col("weight").cast("double").alias("weight"),
            )
            .filter(F.col("u") != F.col("v"))
            .groupBy("u", "v")
            .agg(F.min("weight").alias("weight"))
            .select(
                F.col("u").alias("cu"), F.col("v").alias("cv"),
                "weight", "u", "v",
            )
        )
        work = checkpoint_reset_stats(work)
        # full count instead of a limit probe: it reads the cached
        # checkpoint blocks, doubles as the emptiness test, and sizes
        # this round's exchanges (r6 scale-adaptive shuffles — the
        # working set shrinks geometrically, so late rounds run on a
        # handful of partitions instead of the session default)
        n_work = work.count()
        if n_work == 0:
            # no non-self-loop edges at all
            return work.select("u", "v", "weight")
        forest = None
        # the component count at least halves per round, so a 65th round
        # means the loop is broken, not the graph large
        for r in fixpoint_rounds(spark, "minimum_spanning_forest", cap=64):
            with r.width(n_work):
                # each component picks its lightest incident crossing
                # edge under the (weight, u, v) total order
                pick = F.struct("weight", "u", "v", "cu", "cv").alias("e")
                both = work.select(F.col("cu").alias("c"), pick).unionByName(
                    work.select(F.col("cv").alias("c"), pick)
                )
                chosen = (
                    both.groupBy("c")
                    .agg(F.min("e").alias("e"))
                    .select("e.weight", "e.u", "e.v", "e.cu", "e.cv")
                    .distinct()  # one edge may be picked by both endpoints
                )
                chosen = checkpoint_reset_stats(chosen)
                # the forest is never joined or re-referenced inside a
                # round, and each picked frame is a select of the already-
                # checkpointed `chosen` — a plain union chain of ≤ 64 flat
                # leaves needs no re-materialization of its own
                picked = chosen.select("u", "v", "weight")
                forest = (
                    picked if forest is None else forest.unionByName(picked)
                )
                # merge: G5 on the chosen component-pair graph (tiny —
                # ≤ #components rows); component label = min member id.
                # Runs inside this round's shuffle scope, so its own
                # adaptive rounds cap at this round's partition count.
                cmap = connected_components(
                    chosen.select(
                        F.col("cu").alias("src"), F.col("cv").alias("dst")
                    )
                )
                mu = cmap.select(
                    F.col("vertex").alias("cu"), F.col("component").alias("nu")
                )
                mv = cmap.select(
                    F.col("vertex").alias("cv"), F.col("component").alias("nv")
                )
                # relabel, drop intra-component edges, re-reduce to the
                # lightest edge per NEW component pair
                work = (
                    work.join(mu, "cu", "left")
                    .join(mv, "cv", "left")
                    .select(
                        F.coalesce("nu", "cu").alias("a"),
                        F.coalesce("nv", "cv").alias("b"),
                        "weight", "u", "v",
                    )
                    .filter(F.col("a") != F.col("b"))
                    .select(
                        F.least("a", "b").alias("cu"),
                        F.greatest("a", "b").alias("cv"),
                        "weight", "u", "v",
                    )
                    .groupBy("cu", "cv")
                    .agg(F.min(F.struct("weight", "u", "v")).alias("e"))
                    .select("cu", "cv", "e.weight", "e.u", "e.v")
                )
                work = checkpoint_reset_stats(work)
                n_work = work.count()
            if n_work == 0:
                break
        return forest.select("u", "v", "weight")


def msf_total_weight(edges: DataFrame) -> float:
    row = (
        minimum_spanning_forest(edges)
        .agg(F.sum("weight").alias("s"))
        .collect()[0]
    )
    return float(row["s"] or 0.0)
