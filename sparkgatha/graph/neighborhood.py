"""G22 — neighborhood function / ANF (approximate neighborhood
function, Palmer-Gibbons-Faloutsos "ANF" KDD 2002; HADI's Hadoop
formulation, Kang et al. ICDM 2009).

Per-vertex h-hop reach sizes over a DIRECTED edge table:

    R_0(v) = {v};   R_h(v) = {v} ∪ ⋃_{(v,u) ∈ E} R_{h-1}(u)

Two paths, same recurrence:

  * :func:`hop_neighborhood_exact` materializes the (source, reached)
    pair set — exact, but the pair table grows toward |V|·ball-size, so
    it is the ORACLE-SCALE verification form (used by the DuckDB-checked
    registry query);
  * :func:`neighborhood_function` carries one fixed-size HLL sketch per
    vertex (Spark's built-in Apache DataSketches ``hll_sketch_agg`` /
    ``hll_union_agg`` / ``hll_union`` — JVM aggregates, no UDF) — the
    10^12-edge path: per superstep one join + one partial-aggregable
    union-agg, state stays |V| rows × ~2^lgk bytes regardless of how
    large the reach balls grow.  This is the same sketch-instead-of-set
    trade the engine already makes for distinct counts (A2 HLL variant).

Both run exactly ``hops`` rounds (fixed-round loops of
graph/rounds.py); there is no hidden convergence cutoff.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from sparkgatha.graph.rounds import fixpoint_rounds
from sparkgatha.util import no_aqe


def _prep(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(traversal edges, vertex universe): self-loops are dropped from
    the TRAVERSAL set (they never change a hop distance) but their
    endpoints stay in the vertex universe — a self-loop-only vertex is
    a row with reach {itself}, not an absent row (the same coverage
    rule triangle_profile pins for the triangle family)."""
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    verts = (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    return e, verts


def hop_neighborhood_exact(edges: DataFrame, hops: int) -> DataFrame:
    """(vertex, n_reach): EXACT count of distinct vertices within
    ``hops`` forward hops, the vertex itself included.

    Materializes the reach-pair table (s, v) and distincts it per hop —
    exact and simple, but output is Σ ball sizes: use for verification
    and small/bounded-hop graphs; the sketch path scales.
    """
    if hops < 0:
        raise ValueError(f"hops must be >= 0, got {hops}")
    spark = edges.sparkSession
    with no_aqe(spark):
        e, verts = _prep(edges)
        e = e.localCheckpoint(eager=True)
        reach = verts.select(
            F.col("v").alias("s"), F.col("v")
        ).localCheckpoint(eager=True)
        # NOTE r6: adaptive per-hop exchange sizing was tried here and
        # REVERTED — the extra per-hop count job outweighed the
        # smaller exchanges on this operator's sub-2 s fixture walls
        # (bench.q_hop_neighborhood +0.5 s across three runs)
        for _ in fixpoint_rounds(spark, "hop_neighborhood_exact", hops):
            step = (
                reach.join(e, reach.v == e.src)
                .select("s", F.col("dst").alias("v"))
            )
            reach = (
                reach.unionByName(step).distinct().localCheckpoint(eager=True)
            )
        return reach.groupBy(F.col("s").alias("vertex")).agg(
            F.count("*").alias("n_reach")
        )


def _min_hop_pairs(edges: DataFrame, hops: int) -> tuple[DataFrame, DataFrame]:
    """(seen(s, v, hop), verts(v)): exact all-sources BFS min-hop pairs
    within ``hops`` forward hops — the machinery harmonic and closeness
    centrality share.  The first time a (source, vertex) pair is reached
    IS its min hop, so each layer is one join + one anti-join vs the
    seen set — no per-pair min-agg needed.  Both returned frames are
    materialized (localCheckpoint) before returning."""
    if hops < 1:
        raise ValueError(f"hops must be >= 1, got {hops}")
    e, verts = _prep(edges)
    e = e.localCheckpoint(eager=True)
    verts = verts.localCheckpoint(eager=True)
    seen = verts.select(
        F.col("v").alias("s"), F.col("v"), F.lit(0).alias("hop")
    ).localCheckpoint(eager=True)
    frontier = seen
    # r6: exchanges sized to the growing seen-pair set (exact integer
    # hops + anti-joins, partitioning-independent); the per-layer count
    # already exists as the emptiness test
    n_seen = seen.count()
    n_e = e.count()
    for r in fixpoint_rounds(edges.sparkSession, "min_hop_pairs", hops):
        with r.width(max(n_seen, n_e)):
            nxt = (
                frontier.join(e, frontier.v == e.src)
                .select("s", F.col("dst").alias("v"))
                .distinct()
                .join(seen, ["s", "v"], "left_anti")
                .select("s", "v", F.lit(r.n).alias("hop"))
                .localCheckpoint(eager=False)
            )
            n_nxt = nxt.count()
            if n_nxt == 0:
                break
            seen = seen.unionByName(nxt).localCheckpoint(eager=False)
            n_seen += n_nxt
            frontier = nxt
    return seen, verts


def harmonic_centrality(edges: DataFrame, hops: int) -> DataFrame:
    """(vertex, harmonic): OUT-harmonic centrality Σ_{u reachable,
    u≠v} 1/d(v,u) over exact BFS hop distances, bounded at ``hops``.

    With ``hops`` ≥ the graph diameter this is exactly
    ``networkx.harmonic_centrality(G.reverse())`` (NetworkX sums over
    INCOMING distances; this engine ranks how well a vertex REACHES the
    graph, the natural direction for a link graph).
    """
    spark = edges.sparkSession
    with no_aqe(spark):
        seen, verts = _min_hop_pairs(edges, hops)
        h = (
            seen.filter(F.col("hop") > 0)
            .groupBy("s")
            .agg(F.sum(1.0 / F.col("hop")).alias("harmonic"))
        )
        return verts.join(h, verts.v == h.s, "left").select(
            F.col("v").alias("vertex"),
            F.coalesce("harmonic", F.lit(0.0)).alias("harmonic"),
        )


def closeness_centrality(
    edges: DataFrame, hops: int, wf_improved: bool = True
) -> DataFrame:
    """(vertex, closeness): OUT-closeness centrality over exact BFS hop
    distances bounded at ``hops`` — reach / total-distance, scaled by
    the Wasserman-Faust reachable fraction when ``wf_improved``:

        closeness(v) = (r_v / Σ_{u reached} d(v,u)) · (r_v / (n − 1))

    with r_v the number of vertices v reaches (self excluded) and n the
    vertex-universe size; the second factor is dropped when
    ``wf_improved=False`` (the classic per-component formula).  With
    ``hops`` ≥ the graph diameter this is exactly
    ``networkx.closeness_centrality(G.reverse(), wf_improved=...)`` —
    NetworkX closeness uses INCOMING distance; this engine ranks how
    well a vertex REACHES the graph, the same direction harmonic uses.
    Vertices reaching nothing score 0.0 (the NetworkX convention).
    """
    spark = edges.sparkSession
    with no_aqe(spark):
        seen, verts = _min_hop_pairs(edges, hops)
        n = verts.count()
        c = (
            seen.filter(F.col("hop") > 0)
            .groupBy("s")
            .agg(
                F.count("*").alias("r"),
                F.sum(F.col("hop").cast("double")).alias("totd"),
            )
        )
        score = F.col("r") / F.col("totd")
        if wf_improved:
            # n > 1 is guaranteed on any row here: a reached pair needs
            # two distinct vertices, so the n-1 denominator is safe
            score = score * (F.col("r") / F.lit(float(n - 1)))
        return verts.join(c, verts.v == c.s, "left").select(
            F.col("v").alias("vertex"),
            F.coalesce(score, F.lit(0.0)).alias("closeness"),
        )


def neighborhood_function(
    edges: DataFrame, hops: int, lgk: int = 12
) -> DataFrame:
    """(vertex, est_reach): HLL-sketch ESTIMATE of the ≤``hops``-hop
    forward reach size, self included — the ANF/HADI scale path.

    State is one DataSketches HLL sketch (≈ 2^lgk bytes) per vertex;
    each superstep is one edge join + one ``hll_union_agg`` groupBy
    (partial-aggregable) + one two-sketch ``hll_union`` with the
    previous state.  Default lgk=12 ≈ 1.6 % standard error
    (tests pin a 5 % band vs the exact form).
    """
    if hops < 0:
        raise ValueError(f"hops must be >= 0, got {hops}")
    spark = edges.sparkSession
    with no_aqe(spark):
        e, verts = _prep(edges)
        e = e.localCheckpoint(eager=True)
        # build the singleton sketches: hll_sketch_agg is an aggregate,
        # so group by the vertex itself (one-row groups)
        state = (
            verts.groupBy("v")
            .agg(F.hll_sketch_agg("v", lgk).alias("sk"))
            .localCheckpoint(eager=True)
        )
        # NOTE r6: adaptive superstep sizing was tried here and
        # REVERTED — the extra sizing counts outweighed the smaller
        # exchanges at this operator's fixture walls (bench.q_anf_sketch
        # +0.6 s across three runs); sketch rows are also byte-heavy,
        # so row-count sizing underestimates their partitions anyway
        for _ in fixpoint_rounds(spark, "neighborhood_function", hops):
            gathered = (
                e.join(state, e.dst == state.v)
                .groupBy(F.col("src").alias("v"))
                .agg(F.hll_union_agg("sk").alias("gsk"))
            )
            state = (
                state.join(gathered, "v", "left")
                .select(
                    "v",
                    F.when(
                        F.col("gsk").isNull(), F.col("sk")
                    )
                    .otherwise(F.hll_union("sk", "gsk"))
                    .alias("sk"),
                )
                .localCheckpoint(eager=True)
            )
        return state.select(
            F.col("v").alias("vertex"),
            F.hll_sketch_estimate("sk").alias("est_reach"),
        )


def hop_plot(edges: DataFrame, hops: int) -> DataFrame:
    """(hop, pairs, cum_pairs, frac): the hop-plot — how many ordered
    (source, target) pairs are connected at EXACTLY h hops, cumulated
    and normalized by all pairs connected within the bound ("Graphs
    over Time", Leskovec-Kleinberg-Faloutsos KDD'05 — the reachability
    profile the effective diameter reads off).  Self-pairs (hop 0) are
    excluded, matching the hop-plot convention.

    Scale shape: the exact min-hop machinery (shared with harmonic /
    closeness) reduces to a ≤``hops``-row per-hop count table; the
    cumulative runs as a self-join ON THAT TINY TABLE (broadcast, ≤
    hops² candidate rows — never a window over the pair set), and the
    normalizing total rides the same 1-row broadcast pattern.  For
    10^12-edge graphs the pair table is the bottleneck — swap in
    ``neighborhood_function``'s HLL sketches (sum of per-vertex
    estimates) for the approximate hop-plot; this exact form is the
    oracle-scale verification path.
    """
    spark = edges.sparkSession
    with no_aqe(spark):
        seen, _ = _min_hop_pairs(edges, hops)
        per = (
            seen.filter(F.col("hop") > 0)
            .groupBy("hop")
            .agg(F.count("*").alias("pairs"))
            .localCheckpoint(eager=False)  # 3 consumers below
        )
        cum = (
            per.alias("a")
            .join(
                F.broadcast(per.alias("b")),
                F.col("b.hop") <= F.col("a.hop"),
            )
            .groupBy(F.col("a.hop").alias("hop"), F.col("a.pairs").alias("pairs"))
            .agg(F.sum("b.pairs").alias("cum_pairs"))
        )
        total = F.broadcast(per.agg(F.sum("pairs").alias("_total")))
        return cum.crossJoin(total).select(
            "hop",
            "pairs",
            "cum_pairs",
            (F.col("cum_pairs").cast("double") / F.col("_total")).alias(
                "frac"
            ),
        )


def effective_diameter(
    edges: DataFrame, hops: int, q: float = 0.9
) -> float:
    """The q-effective diameter (default 90th percentile): the
    interpolated hop count at which a fraction ``q`` of all connected
    pairs (within the ``hops`` bound) are reachable — the standard
    "how small is this world" scalar read off the hop-plot.  Linear
    interpolation between the two straddling integer hops
    (Leskovec et al. convention); collects only the ≤``hops``-row
    hop-plot, never pair data.
    """
    if not 0 < q <= 1:
        raise ValueError(f"q must be in (0, 1], got {q}")
    rows = sorted(
        (r.hop, r.cum_pairs, r.frac)
        for r in hop_plot(edges, hops).collect()
    )
    if not rows:
        return 0.0
    prev_hop, prev_frac = 0, 0.0
    for hop, _cum, frac in rows:
        if frac >= q:
            return prev_hop + (q - prev_frac) / (frac - prev_frac) * (
                hop - prev_hop
            )
        prev_hop, prev_frac = hop, frac
    raise AssertionError("unreachable: frac ends at 1.0 by construction")
