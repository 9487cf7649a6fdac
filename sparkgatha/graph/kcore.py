"""k-core decomposition by synchronous peeling (SURVEY.md §2.11).

The k-core is the maximal subgraph in which every vertex has degree
≥ k within the subgraph — the standard "dense backbone" filter a
literature-graph pipeline runs before expensive downstream ranking
(peripheral one-paper terms drop out; the reference prunes rare terms
the same way before graph construction [P1]).

Algorithm: synchronous peel rounds.  Round i keeps every vertex whose
degree COUNTING ONLY round-(i-1) survivors is ≥ k; iterate to fixpoint.
This is the Montresor-De Pellegrini-Miorandi message-passing scheme
restricted to a single k — each round is

  * one semi-join of the cached edge set against the survivor set on
    BOTH endpoints (sort-merge, keyed, no data-dependent blowup), and
  * one partial-aggregable degree count + threshold filter.

The edge set is filtered IN PLACE each round (surviving edges only),
so at web scale every subsequent round scans a shrinking table, and it
is localCheckpointed per round to truncate lineage.  Convergence = edge
count unchanged: a round drops an edge iff it drops a vertex (every
surviving-edge endpoint has degree ≥ 1, so a removed vertex removes
edges, and an edge is only removed when an endpoint leaves), so an
equal count on the just-checkpointed table IS the fixpoint — no extra
shuffle, no fingerprint.

``max_iter`` follows the round and cap policy of graph/rounds.py:
``None`` (the default) peels to the exact k-core — silent truncation
would label mid-path vertices as core members, since a long path at
k=2 peels only its two endpoints per round — and an integer is the
fixed-round oracle mode (relational.py:q_k_core).

``core_numbers`` runs the peel for k = 1, 2, ... on the previous
core's residual graph (the (k+1)-core is a subgraph of the k-core, so
each pass starts from the already-peeled edge set — total work is the
telescoping sum, not k × full-graph).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from sparkgatha.graph.canon import canonical_undirected
from sparkgatha.graph.rounds import fixpoint_rounds
from sparkgatha.util import no_aqe


def _peel(e: DataFrame, k: int, max_iter: int | None) -> DataFrame:
    """Iterate the degree-≥-k filter over a checkpointed canonical edge
    set under the graph/rounds.py policy.  Returns the surviving edge
    set."""
    n_prev = e.count()
    if n_prev == 0:
        return e
    for r in fixpoint_rounds(e.sparkSession, "k_core", max_iter):
        # r6: size each peel round's exchanges to the surviving edge
        # set (integer degrees + semi-joins, partitioning-independent)
        with r.width(n_prev):
            deg = (
                e.select(F.col("u").alias("x"))
                .unionByName(e.select(F.col("v").alias("x")))
                .groupBy("x")
                .agg(F.count("*").alias("d"))
            )
            keep = deg.filter(F.col("d") >= k).select("x")
            e = (
                e.join(keep.withColumnRenamed("x", "u"), "u", "left_semi")
                .join(keep.withColumnRenamed("x", "v"), "v", "left_semi")
                .select("u", "v")
                .localCheckpoint(eager=True)
            )
            n = e.count()
        if n == n_prev:
            break
        n_prev = n
    return e


def k_core(
    edges: DataFrame,
    k: int,
    max_iter: int | None = None,
    *,
    assume_canonical: bool = False,
) -> DataFrame:
    """(vertex, core_degree): vertices of the k-core with their degree
    inside the core.  Empty result when the k-core is empty.

    ``max_iter``: see the module docstring.  ``assume_canonical`` skips the
    least/greatest + distinct normalization when the caller's edge set
    is already distinct canonical u < v pairs without self-loops — one
    less full-edge-set shuffle, which matters when the input is the
    10^12-edge table itself.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    spark = edges.sparkSession
    with no_aqe(spark):
        if assume_canonical:
            # trust the caller's edge set (ideally already materialized
            # — a cached/checkpointed table) and skip both the
            # normalization shuffle and the extra materialization
            e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        else:
            e = canonical_undirected(edges).localCheckpoint(eager=True)
        e = _peel(e, k, max_iter)
        return (
            e.select(F.col("u").alias("vertex"))
            .unionByName(e.select(F.col("v").alias("vertex")))
            .groupBy("vertex")
            .agg(F.count("*").alias("core_degree"))
        )


def core_numbers(
    edges: DataFrame, max_k: int = 1000, max_iter: int | None = None
) -> DataFrame:
    """(vertex, core): the largest k for which the vertex survives the
    k-core peel — exact (``networkx.core_number`` semantics) with the
    default ``max_iter=None`` (the graph/rounds.py policy, per peel).
    Peels k = 1, 2, ... over the telescoping residual graph until it
    empties (or ``max_k``, a runaway bound for degenerate inputs)."""
    spark = edges.sparkSession
    with no_aqe(spark):
        e = canonical_undirected(edges).localCheckpoint(eager=True)
        # every edge endpoint is at least in the 1-core
        labels = (
            e.select(F.col("u").alias("vertex"))
            .unionByName(e.select(F.col("v").alias("vertex")))
            .distinct()
            .select("vertex", F.lit(1).alias("core"))
            .localCheckpoint(eager=True)
        )
        k = 1
        while k < max_k:
            k += 1
            e = _peel(e, k, max_iter)
            survivors = (
                e.select(F.col("u").alias("vertex"))
                .unionByName(e.select(F.col("v").alias("vertex")))
                .distinct()
            )
            if survivors.limit(1).count() == 0:
                break
            labels = (
                labels.join(
                    survivors.select("vertex", F.lit(k).alias("k2")),
                    "vertex",
                    "left",
                )
                .select(
                    "vertex",
                    F.coalesce("k2", "core").alias("core"),
                )
                .localCheckpoint(eager=True)
            )
        return labels
