"""G39 — Louvain-style modularity-gain local move (one synchronous
round from the singleton partition).

Louvain phase 1 (Blondel et al. 2008) sweeps vertices SEQUENTIALLY,
which does not distribute; every scalable implementation replaces the
sweep with synchronous rounds where all vertices evaluate their best
move against the previous round's partition simultaneously (Que et
al., "Scalable Community Detection with the Louvain Algorithm", IPDPS
2015 — the same semisynchronous discipline as G6 LPA).  This module
provides that round as a first-class operator, pinned to the
deterministic rule a cross-engine oracle can replay:

    from the singleton partition, vertex u's gain of joining the
    community of neighbor v is  g(u→v) = w_uv − k_u·k_v / 2m
    (the modularity-delta numerator; k = weighted degree, m = total
    undirected edge weight); u adopts the argmax neighbor iff
    round(g, 8) > 0, ties broken (gain desc, neighbor asc).

One round from singletons is exactly the seeding step full Louvain
iterates; composing further rounds re-aggregates community weights and
repeats the same plan shape.  LPA (G6) is the mode-seeking variant;
this is the modularity-seeking one — the two disagree precisely on
hub-heavy graphs, where LPA lets a hub's label flood and the k_u·k_v
penalty here resists it.

Scale shape: symmetrize → ONE weighted-degree groupBy → gain join on
the stationary edge layout (two broadcast-able degree joins; 2m is a
bounded 1-row driver scalar baked in as a literal, the G13
convergence-stats class) → per-vertex argmax as a partial-aggregable
struct-min (no window: the struct trick from G6's tie-break, so hub
vertices never sort).  No Python, no data-plane collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from sparkgatha.graph.rounds import fixpoint_rounds
from sparkgatha.util import materialize


def louvain_move_round(
    edges: DataFrame, count_self_loops: bool = False
) -> DataFrame:
    """(vertex, move_to, gain) over a canonical undirected weighted
    edge list (src < dst, weight) — one synchronous Louvain local-move
    round from the singleton partition.  ``move_to == vertex`` and
    ``gain == 0.0`` when no neighbor move has positive rounded gain.

    gain = round(w_uv − k_u·k_v / 2m, 8): rounding BEFORE the argmax
    makes the ranking engine-independent (fp summation-order noise in
    k_u cannot exist — weighted degrees are exact integer sums — and
    the single divide is the identical double expression in both
    engines).

    ``count_self_loops=True`` (the multi-level ``louvain`` path): a
    self-loop stays ineligible as a move target but its weight counts —
    the standard A_ii = 2w convention adds 2·w_self to the vertex's
    degree and to 2m, so a contracted community's internal mass resists
    further merges.  The default drops self-loops entirely: that is the
    pinned cross-engine rule the q_louvain_move oracle replays, and raw
    corpora have none."""
    # one materialization of the (possibly expensive) upstream: base,
    # loops, and the m2 scans all derive from this cached frame
    pre = edges.select("src", "dst", "weight").localCheckpoint(eager=True)
    base = pre.filter(
        F.col("src") != F.col("dst")  # a self-move is a no-op, not a gain
    )
    if count_self_loops:
        loops = (
            pre.filter(F.col("src") == F.col("dst"))
            .groupBy(F.col("src").alias("v"))
            .agg((F.lit(2.0) * F.sum("weight")).alias("k_self"))
        )
    else:
        loops = None
    se = (
        base.unionByName(
            base.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
            )
        )
        # merge duplicate rows: the rule's w_uv is the TOTAL weight
        # between u and v, whatever shape the caller's edge list is in
        .groupBy("src", "dst")
        .agg(F.sum("weight").alias("weight"))
        .localCheckpoint(eager=True)  # feeds deg, 2m, and the gain join
    )
    deg = se.groupBy(F.col("src").alias("v")).agg(
        F.sum("weight").cast("double").alias("k")
    )
    if loops is not None:
        deg = deg.join(
            loops.withColumnRenamed("v", "lv"), deg.v == F.col("lv"), "left"
        ).select(
            "v",
            (F.col("k") + F.coalesce(F.col("k_self"), F.lit(0.0)))
            .alias("k"),
        )
    # 2m as a bounded 1-row driver scalar baked in as a literal (the
    # G13 convergence-stats class — a 1-row crossJoin would plan as
    # the BNLJ node the hygiene sweep bans); on loop-free integer-weight
    # corpora the sum is an exact integer, identical in both engines
    m2row = (
        se.agg(F.sum("weight").alias("m2")).collect()[0]["m2"] or 0.0
    )
    loop_m2 = 0.0
    if loops is not None:
        loop_m2 = (
            loops.agg(F.sum("k_self").alias("l2")).collect()[0]["l2"] or 0.0
        )
    m2 = float(m2row) + float(loop_m2)
    if m2 == 0.0:
        raise ValueError("louvain_move_round: empty or zero-weight edge list")
    du = deg.select(F.col("v").alias("src"), F.col("k").alias("ku"))
    dv = deg.select(F.col("v").alias("dst"), F.col("k").alias("kv"))
    g = (
        se.join(du, "src")
        .join(dv, "dst")
        .select(
            F.col("src").alias("u"),
            F.col("dst").alias("nbr"),
            F.round(
                F.col("weight").cast("double")
                - (F.col("ku") * F.col("kv")) / F.lit(m2),
                8,
            ).alias("g8"),
        )
    )
    # argmax without a window: max of (g8, -reversed(nbr)) struct —
    # but nbr is a string key, so encode "nbr asc" as the struct-min
    # over (-g8, nbr) instead, one partial-aggregable min_by
    best = g.groupBy(F.col("u").alias("vertex")).agg(
        F.min(F.struct(F.negate(F.col("g8")).alias("ng"), F.col("nbr"))).alias("b")
    )
    return best.select(
        "vertex",
        F.when(-F.col("b.ng") > 0, F.col("b.nbr"))
        .otherwise(F.col("vertex"))
        .alias("move_to"),
        F.when(-F.col("b.ng") > 0, -F.col("b.ng"))
        .otherwise(F.lit(0.0))
        .alias("gain"),
    )


def coarsen_by_labels(
    edges: DataFrame,
    labels: DataFrame,
    vertex_col: str = "vertex",
    label_col: str = "label",
) -> DataFrame:
    """Louvain phase-2 contraction (Blondel et al. 2008 §2): collapse
    every community to one supervertex and sum edge weights —
    ``(c_src, c_dst, weight)``, canonical ``c_src <= c_dst``, where a
    community's internal weight surfaces as its ``c_src == c_dst``
    self-loop row (exactly the self-loop full Louvain's next level
    needs, since modularity counts internal weight).

    Total weight is conserved by construction: sum(weight) in == out
    (tests).  Scale shape: two |V|-row label joins against the edge
    table — the same vertex-state join every superstep runs, so the
    same layout discipline applies (labels broadcast when small,
    hash(src)/hash(dst) co-partition beyond that) — then ONE groupBy
    whose key count is the community count (<< |E|), with partial
    map-side combine.  Each Louvain level shrinks the graph, so the
    contraction is cheapest exactly when it runs most often."""
    lu = labels.select(
        F.col(vertex_col).alias("src"), F.col(label_col).alias("_cs")
    )
    lv = labels.select(
        F.col(vertex_col).alias("dst"), F.col(label_col).alias("_cd")
    )
    return (
        edges.select("src", "dst", "weight")
        .join(lu, "src")
        .join(lv, "dst")
        .select(
            F.least("_cs", "_cd").alias("c_src"),
            F.greatest("_cs", "_cd").alias("c_dst"),
            "weight",
        )
        .groupBy("c_src", "c_dst")
        .agg(F.sum("weight").alias("weight"))
    )


def louvain_level(edges: DataFrame):
    """One full G43 Louvain level over ``(src, dst, weight)``:
    self-loop-aware move round → connected components of the
    positive-gain move graph (G5, min-vertex labels — merges mutual
    moves and chains that raw move targets would only relabel) →
    contraction.

    Returns ``(labels, coarse)``: ``labels(vertex, label)`` covers
    EVERY vertex of ``edges`` (non-movers keep themselves), ``coarse``
    is the contracted ``(src, dst, weight)`` graph with community-
    internal weight as self-loops.  Returns ``(None, edges)`` when the
    round proposes no move (the level fixpoint)."""
    from sparkgatha.graph.cc import connected_components

    cur = edges.select("src", "dst", "weight")
    moves = louvain_move_round(cur, count_self_loops=True)
    # r6: materialize the move graph ONCE — it feeds the emptiness
    # probe, CC's vertex universe AND CC's canonicalization; lazy, each
    # of those re-ran the whole gain join + argmax (measured ~2x 2.3 s
    # recompute jobs per level at 2e6 edges)
    move_e, n_moves = materialize(
        moves.filter(F.col("move_to") != F.col("vertex")).select(
            F.col("vertex").alias("src"),
            F.col("move_to").alias("dst"),
            F.lit(1.0).alias("weight"),
        )
    )
    if n_moves == 0:
        return None, cur
    sym = move_e.unionByName(
        move_e.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        )
    )
    comp = connected_components(sym).select(
        "vertex", F.col("component").alias("label")
    )
    # vertices with no positive-gain move keep their own community
    verts = (
        cur.select(F.col("src").alias("vertex"))
        .unionByName(cur.select(F.col("dst").alias("vertex")))
        .distinct()
    )
    labels = (
        verts.join(comp, "vertex", "left")
        .select(
            "vertex", F.coalesce("label", F.col("vertex")).alias("label")
        )
        .localCheckpoint(eager=True)
    )
    coarse = coarsen_by_labels(cur, labels).select(
        F.col("c_src").alias("src"), F.col("c_dst").alias("dst"), "weight"
    )
    return labels, coarse


def louvain(edges: DataFrame, max_levels: int = 4) -> DataFrame:
    """(vertex, community) — multi-level Louvain: repeat [one G39
    singleton move round on the current graph → contract] until a round
    proposes no move or ``max_levels`` is reached.

    Synchronous singleton rounds can propose swaps (u→v while v→u) and
    chains; contracting by the raw move target would relabel without
    merging and oscillate.  Each level therefore contracts by the
    CONNECTED COMPONENTS of the positive-gain move graph (G5,
    deterministic min-vertex labels): mutual moves merge, chains
    agglomerate, and the vertex count strictly decreases whenever any
    move was proposed — so the level loop terminates.  Contraction
    self-loops carry internal weight into the next level's degrees
    (louvain_move_round's A_ii = 2w handling), which is what makes
    merged communities progressively harder to absorb.

    Scale shape per level: one move round (two degree joins + struct
    argmax), one CC run on the ≤|V|-edge pointer graph, one |V|-row
    mapping composition join, one contraction groupBy — each level runs
    on a strictly smaller graph, so the first level dominates."""
    cur = edges.select("src", "dst", "weight")
    mapping = None  # (vertex, community) over the ORIGINAL vertex set
    # fixed rounds of graph/rounds.py, for the louvain:<level> job
    # labels only; a level that proposes no move ends the loop
    for _ in fixpoint_rounds(
        edges.sparkSession, "louvain", max(max_levels, 1)
    ):
        labels, coarse = louvain_level(cur)
        if labels is None:
            break
        if mapping is None:
            mapping = labels.select(
                "vertex", F.col("label").alias("community")
            )
        else:
            lbl2 = labels.select(
                F.col("vertex").alias("community"),
                F.col("label").alias("_next"),
            )
            mapping = mapping.join(lbl2, "community", "left").select(
                "vertex",
                F.coalesce("_next", "community").alias("community"),
            )
        mapping = mapping.localCheckpoint(eager=True)
        cur = coarse.localCheckpoint(eager=True)
    if mapping is None:
        verts = (
            cur.select(F.col("src").alias("vertex"))
            .unionByName(cur.select(F.col("dst").alias("vertex")))
            .distinct()
        )
        mapping = verts.select("vertex", F.col("vertex").alias("community"))
    return mapping
