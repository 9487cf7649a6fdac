"""Maximal independent set via deterministic Luby rounds, and the
greedy coloring built on it (SURVEY.md §2.11 G29/G29b).

MIS is the classic symmetry-breaking primitive (Luby 1986): the
standard way to pick a non-conflicting vertex subset in parallel —
scheduling independent updates, seeding cluster centers, or thinning a
near-duplicate graph to representatives no two of which are adjacent.

Rule (pinned, engine-independent): in round r an ACTIVE vertex joins
the MIS iff its priority is a strict minimum among its active
neighbors, where

    priority_r(v) = ( md5int(v ':' r ':' seed), v )

with ``md5int`` the engine-wide first-15-hex-chars-of-md5 convention
(util.md5_long — the same hash the walk stepper and dedup signatures
use, so DuckDB replays it exactly); the vertex id itself breaks md5
ties, making the winner set unique.  Winners and their neighbors
deactivate; iterate until no active vertex remains.  Fresh priorities
per round give Luby's O(log n) expected round count; at least the
globally-smallest-priority active vertex wins every round, so
termination is unconditional.

Physical shape (the 100 TB story): the priority is a PURE EXPRESSION
of (vertex, round, seed) — no priority table, no priority join.  Per
round: one whole-stage-codegen projection over the active edge set
finds every BLOCKED vertex (the larger-priority endpoint of each
edge), one anti-join yields the winners (isolated actives win by
having no blocking row), one semi-join marks the winners' neighbors,
and a double semi-join (the k-core discipline) shrinks the edge set —
which only ever SHRINKS, geometrically in practice.  Per-round frames
go through ``checkpoint_reset_stats`` (multi-reference rounds,
util.py:60).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from sparkgatha.graph.canon import canonical_undirected
from sparkgatha.graph.rounds import fixpoint_rounds, width
from sparkgatha.util import checkpoint_reset_stats, md5_long, no_aqe


def _priority(v: Column, rnd: int, seed: int) -> Column:
    return md5_long(
        F.concat(v.cast("string"), F.lit(f":{rnd}:{seed}"))
    )


def _endpoints(edges: DataFrame, a: str, b: str) -> DataFrame:
    """Checkpointed distinct single-column ``x`` universe of the
    endpoints ``a`` and ``b`` of ``edges``."""
    return checkpoint_reset_stats(
        edges.select(F.col(a).alias("x"))
        .unionByName(edges.select(F.col(b).alias("x")))
        .distinct()
    )


def maximal_independent_set(
    edges: DataFrame,
    seed: int = 0,
    max_rounds: int | None = None,
    assume_canonical: bool = False,
    vertices: DataFrame | None = None,
) -> DataFrame:
    """(vertex, round) — the deterministic-Luby MIS members of the
    undirected graph of ``edges`` and the round each joined.

    Self-loops are ignored for adjacency (a loop-only vertex is
    isolated, wins round 1).  ``max_rounds`` follows the round and cap
    policy of graph/rounds.py; the fixed-round result is a prefix of
    the fixpoint (MIS growth is monotone).

    ``assume_canonical``: the caller guarantees ``edges`` is already
    the distinct canonical src<dst loop-free set with flat lineage
    (k_core's contract) — skips the canonicalization shuffle +
    checkpoint.  ``vertices``: optional pre-built distinct single-
    column ``x`` endpoint universe (must cover the edge endpoints);
    skips the endpoint union+distinct.  Both exist for composition
    (luby_coloring calls this once per color class)."""
    if max_rounds is not None and max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    spark = edges.sparkSession
    with no_aqe(spark):
        if assume_canonical:
            e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
            active = (
                vertices.select("x") if vertices is not None
                else _endpoints(edges, "src", "dst")
            )
        else:
            # r6: one materialization of the (possibly expensive lazy)
            # input — canonicalization and the active-vertex universe
            # each consumed `edges`, re-running its whole upstream plan
            pre = edges.select("src", "dst").localCheckpoint(eager=True)
            with width(spark, pre.count()):
                e = checkpoint_reset_stats(canonical_undirected(pre))
                active = (
                    vertices.select("x") if vertices is not None
                    else _endpoints(pre, "src", "dst")
                )
        mis = None
        # r6: full cached counts instead of limit probes — they double
        # as the emptiness test and size each round's exchanges to the
        # CURRENT (geometrically shrinking) frontier; md5 priorities
        # and anti/semi joins are partitioning-independent, so the MIS
        # is bit-identical at any partition count
        n_active = active.count()
        n_e = e.count()
        if n_active == 0:
            return active.select(
                F.col("x").alias("vertex"), F.lit(0).alias("round")
            )
        for r in fixpoint_rounds(spark, "maximal_independent_set", max_rounds):
            with r.width(max(n_e, n_active)):
                pu, pv = _priority(F.col("u"), r.n, seed), _priority(
                    F.col("v"), r.n, seed
                )
                u_loses = (pu > pv) | ((pu == pv) & (F.col("u") > F.col("v")))
                # the larger-priority endpoint of every active edge cannot
                # win this round — a pure projection, no join
                blocked = e.select(
                    F.when(u_loses, F.col("u")).otherwise(F.col("v")).alias("x")
                ).distinct()
                winners = checkpoint_reset_stats(
                    active.join(blocked, "x", "left_anti")
                )
                picked = winners.select("x", F.lit(r.n).alias("round"))
                mis = picked if mis is None else mis.unionByName(picked)
                if r.last:
                    break  # before the shrink: its frames would never be read
                # winners + their neighbors deactivate
                removed = (
                    winners.unionByName(
                        e.join(
                            winners.withColumnRenamed("x", "u"), "u", "left_semi"
                        ).select(F.col("v").alias("x"))
                    )
                    .unionByName(
                        e.join(
                            winners.withColumnRenamed("x", "v"), "v", "left_semi"
                        ).select(F.col("u").alias("x"))
                    )
                    .distinct()
                )
                active = checkpoint_reset_stats(
                    active.join(removed, "x", "left_anti")
                )
                n_active = active.count()
                e = checkpoint_reset_stats(
                    e.join(active.withColumnRenamed("x", "u"), "u", "left_semi")
                    .join(active.withColumnRenamed("x", "v"), "v", "left_semi")
                )
                n_e = e.count()
            if n_active == 0:
                break
        return mis.select(F.col("x").alias("vertex"), "round")


def luby_coloring(
    edges: DataFrame,
    seed: int = 0,
    max_colors: int | None = None,
) -> DataFrame:
    """(vertex, color) — a PROPER vertex coloring (no edge
    monochromatic) by iterated deterministic-Luby MIS: color c is the
    MIS of the still-uncolored induced subgraph (seeded ``seed + c`` so
    every color draws fresh priorities), colored vertices drop out,
    repeat until none remain.  The classic parallel scheduling
    primitive: each color class is an independent set whose members can
    be processed concurrently with no neighbor conflicts.

    Deterministic and partitioning-independent (everything reduces to
    the md5 priority rule), so the pure-Python replay in the tests
    matches vertex-for-vertex.  ``max_colors`` is the round bound of
    graph/rounds.py, one class per round; in fixpoint mode the cap is
    256 classes, since greedy coloring needs at most Δ+1 and a web-scale
    co-occurrence graph needs a few dozen, so only a broken shrink step
    reaches it.
    """
    if max_colors is not None and max_colors < 1:
        raise ValueError(f"max_colors must be >= 1, got {max_colors}")
    spark = edges.sparkSession
    with no_aqe(spark):
        # r6: one materialization of the lazy input (see
        # maximal_independent_set — same double-consumption), entry
        # exchanges sized to the materialized input
        pre = edges.select("src", "dst").localCheckpoint(eager=True)
        with width(spark, pre.count()):
            e = checkpoint_reset_stats(canonical_undirected(pre))
            remaining = _endpoints(pre, "src", "dst")
        colored = None
        # r6: cached full counts replace the limit probes and size the
        # per-class exchanges to the shrinking uncolored subgraph (see
        # maximal_independent_set — same exactness argument)
        n_remaining = remaining.count()
        n_e = e.count()
        if n_remaining == 0:
            return remaining.select(
                F.col("x").alias("vertex"), F.lit(0).alias("color")
            )
        for r in fixpoint_rounds(spark, "luby_coloring", max_colors, cap=256):
            with r.width(max(n_e, n_remaining)):
                # endpoint universe of the surviving edge set, built ONCE
                # per class and shared with the MIS call
                eps = _endpoints(e, "u", "v")
                mis = maximal_independent_set(
                    e.select(F.col("u").alias("src"), F.col("v").alias("dst")),
                    seed=seed + r.n,
                    assume_canonical=True,
                    vertices=eps,
                ).select("vertex")
                # isolated uncolored vertices never appear in e — they are
                # trivially independent, so the whole remainder joins this
                # class alongside the MIS of the edged part
                isolated = remaining.join(eps, "x", "left_anti")
                cls = checkpoint_reset_stats(
                    mis.withColumnRenamed("vertex", "x").unionByName(isolated)
                )
                picked = cls.select("x", F.lit(r.n).alias("color"))
                colored = (
                    picked if colored is None else colored.unionByName(picked)
                )
                if r.last:
                    break  # before the shrink: its frames would never be read
                remaining = checkpoint_reset_stats(
                    remaining.join(cls, "x", "left_anti")
                )
                n_remaining = remaining.count()
                e = checkpoint_reset_stats(
                    e.join(remaining.withColumnRenamed("x", "u"), "u", "left_semi")
                    .join(remaining.withColumnRenamed("x", "v"), "v", "left_semi")
                )
                n_e = e.count()
            if n_remaining == 0:
                break
        return colored.select(F.col("x").alias("vertex"), "color")
