"""Densest-subgraph extraction by threshold peeling (SURVEY.md §2.11
G34) — Bahmani, Kumar, Vassilvitskii, "Densest Subgraph in Streaming
and MapReduce", VLDB 2012.

The densest subgraph (max |E(S)|/|S| over vertex subsets S) is the
standard dense-community / spam-farm / co-edit-cluster detector on link
graphs.  Exact solutions need max-flow (hopeless at 10^12 edges); the
BKV peel is THE MapReduce-shaped algorithm: repeatedly delete every
vertex whose current degree is ≤ 2(1+ε)·ρ(S) (ρ = current edge/vertex
ratio) and remember the densest intermediate.  Guarantees:

  * approximation — the best intermediate has density ≥ ρ*/(2(1+ε)):
    in an optimal S* every vertex has degree ≥ ρ* (dropping it would
    raise the ratio), so the round that first deletes an S*-vertex has
    2(1+ε)·ρ(S) ≥ deg ≥ ρ*;
  * O(log_{1+ε} n) rounds — vertices with degree above the threshold
    number < n/(1+ε) (their degree sum alone would exceed 2|E|), so
    each round keeps less than a 1/(1+ε) fraction.

Everything is deterministic given ε: the threshold is a pure function
of two counts, so the peel unrolls into a DuckDB oracle with scalar
subqueries and replays in pure Python for the golden test.

Physical shape per round (the k-core discipline): one partial-
aggregable degree count over the shrinking checkpointed edge set, one
threshold filter against a 2-count broadcast scalar, one double
semi-join shrink.  The best intermediate is remembered as a
checkpointed |S|-row degree frame — O(best-round vertices), never the
whole history.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from sparkgatha.graph.canon import canonical_undirected
from sparkgatha.graph.rounds import fixpoint_rounds
from sparkgatha.util import materialize, no_aqe


@dataclass(frozen=True)
class DensestResult:
    vertices: DataFrame  # (vertex, deg) — degrees INSIDE the subgraph
    density: float  # |E(S)| / |S| of the returned subgraph
    best_round: int  # 0 = the whole input graph was densest seen
    rounds: int  # peel rounds actually executed


def densest_subgraph(
    edges: DataFrame,
    epsilon: float = 0.1,
    max_rounds: int | None = None,
) -> DensestResult:
    """The densest intermediate of the BKV threshold peel over the
    undirected simple graph of ``edges`` (self-loops dropped) — a
    2(1+ε)-approximate densest subgraph.

    ``max_rounds`` follows the round and cap policy of graph/rounds.py:
    ``None`` peels until the edge set empties (the full guarantee; even
    ε=0.01 empties 10^12 vertices in ~2800 rounds), an integer picks
    the densest among rounds 0..max_rounds (the peel is deterministic,
    so the truncated run is a prefix of the full one).
    """
    if not epsilon > 0.0:
        raise ValueError(f"epsilon must be > 0, got {epsilon}")
    if max_rounds is not None and max_rounds < 0:
        raise ValueError(f"max_rounds must be >= 0, got {max_rounds}")
    spark = edges.sparkSession
    factor = 2.0 * (1.0 + epsilon)
    with no_aqe(spark):
        e, n_e = materialize(canonical_undirected(edges))

        def degrees(ed: DataFrame) -> DataFrame:
            return (
                ed.select(F.col("u").alias("vertex"))
                .unionByName(ed.select(F.col("v").alias("vertex")))
                .groupBy("vertex")
                .agg(F.count("*").alias("deg"))
            )

        deg, n_v = materialize(degrees(e))
        if n_e == 0:
            return DensestResult(
                vertices=deg, density=0.0, best_round=0, rounds=0
            )
        best, best_rho, best_round = deg, n_e / n_v, 0
        rnd = 0
        for r in fixpoint_rounds(spark, "densest_subgraph", max_rounds):
            rnd = r.n
            rho = n_e / n_v
            keep = deg.filter(F.col("deg") > factor * rho).select("vertex")
            # r6: exchanges sized to the shrinking edge set (integer
            # degrees + semi-joins, partitioning-independent)
            with r.width(n_e):
                e, n_e = materialize(
                    e.join(
                        keep.withColumnRenamed("vertex", "u"), "u", "left_semi"
                    ).join(
                        keep.withColumnRenamed("vertex", "v"), "v", "left_semi"
                    )
                )
                if n_e == 0:
                    break
                deg, n_v = materialize(degrees(e))
            if n_e / n_v > best_rho:
                best, best_rho, best_round = deg, n_e / n_v, rnd
        return DensestResult(
            vertices=best,
            density=best_rho,
            best_round=best_round,
            rounds=rnd,
        )
