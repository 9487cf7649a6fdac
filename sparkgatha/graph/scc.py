"""G23 — strongly connected components of a DIRECTED edge table via
iterative coloring (Orzan 2004; the Pregel/GraphX "coloring" SCC, e.g.
Slota-Rajamanickam-Madduri IPDPS 2014's FW-BW-coloring family).

Each outer round:

  1. **color**: propagate the MAX vertex id forward along edges to a
     fixpoint — color(v) = max id over {v} ∪ ancestors(v) within the
     remaining subgraph (a min/max-label loop, the same superstep shape
     as connected components: join + partial-aggregable groupBy().max());
  2. **collect**: every color root r (color(r) == r) backward-BFSes
     along reversed edges restricted to its own color class; the
     vertices it reaches ARE exactly SCC(r);
  3. **peel**: assign those vertices their component id (the MIN member
     id, a canonical choice independent of the algorithm's max-based
     coloring), drop them from the vertex and edge sets, repeat.

Rounds needed = longest chain of SCCs whose root ids decrease along the
chain — small on real link graphs (few deep decreasing chains), O(n)
adversarial worst case (a path with strictly decreasing ids).  All four
loops (peel, color, backward BFS, ``condensation_layers``' relaxation)
follow the round and cap policy of graph/rounds.py.

Every per-round state is eagerly localCheckpointed: lineage stays O(1)
per round, and the loop is AQE-scoped off like the other superstep
loops (util.no_aqe).

Output: (vertex long, scc_id long), scc_id = min vertex id in the SCC —
matching the DuckDB mutual-reachability closure oracle and
``networkx.strongly_connected_components`` partition in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from sparkgatha.graph.rounds import fixpoint_rounds, width
from sparkgatha.util import checkpoint_reset_stats, no_aqe


def strongly_connected_components(edges: DataFrame) -> DataFrame:
    """(vertex, scc_id) over directed ``edges(src, dst, ...)``.  Every
    loop runs to its fixpoint or raises (graph/rounds.py) — a silent
    cut would mislabel components."""
    spark = edges.sparkSession
    with no_aqe(spark):
        # r6: one materialization of the lazy input — the edge distinct
        # and the vertex universe each consumed `edges`, re-running its
        # whole upstream plan; exchanges sized to the materialized rows
        pre = edges.select("src", "dst").localCheckpoint(eager=True)
        with width(spark, pre.count()):
            e = (
                pre.filter(F.col("src") != F.col("dst"))
                .distinct()
                .localCheckpoint(eager=True)
            )
            # vertex universe from the RAW endpoints, BEFORE the
            # self-loop filter: a vertex whose only edge is a self-loop
            # is a singleton SCC (networkx semantics), not an absent row
            verts = (
                pre.select(F.col("src").alias("v"))
                .unionByName(pre.select(F.col("dst").alias("v")))
                .distinct()
                .localCheckpoint(eager=True)
            )
        n_e = e.count()
        assigned = None  # union of (vertex, scc_id) across rounds
        # Job-count discipline: every per-iteration frame is a LAZY
        # localCheckpoint whose materialization rides on the one FULL
        # count() the loop already needs for its convergence test — one
        # Spark job per superstep instead of two (the counts are full
        # scans on purpose: a limit() probe would materialize only some
        # partitions of the lazy checkpoint).
        for r in fixpoint_rounds(spark, "scc_peel"):
            n_verts = verts.count()
            if n_verts == 0:
                break
            # r6: size this peel round's exchanges to the surviving
            # subgraph (all ops are exact integer min/max/anti-joins —
            # partitioning-independent results); the color and BFS
            # loops below run at this round's width
            with r.width(max(n_e, n_verts)):
                # ---- 1. forward max-color fixpoint ----------------------
                color = verts.select(
                    "v", F.col("v").alias("c")
                ).localCheckpoint(eager=True)
                for _ in fixpoint_rounds(spark, "scc_color"):
                    incoming = (
                        e.join(color, e.src == color.v)
                        .groupBy(F.col("dst").alias("v"))
                        .agg(F.max("c").alias("ic"))
                    )
                    nxt = (
                        color.join(incoming, "v", "left")
                        .select(
                            "v",
                            F.col("c").alias("old"),
                            # greatest() skips NULLs, so a no-incoming
                            # vertex keeps its own color
                            F.greatest("c", "ic").alias("c"),
                        )
                        .localCheckpoint(eager=False)
                    )
                    changed = nxt.filter(F.col("c") != F.col("old")).count()
                    color = nxt.select("v", "c")
                    if changed == 0:
                        break
                # ---- 2. backward BFS from roots per color class ---------
                # members(v, c): v known to be in SCC(root of color c)
                members = color.filter(F.col("v") == F.col("c"))
                for _ in fixpoint_rounds(spark, "scc_bfs"):
                    # reversed step: (u → w) with w already a member and
                    # color(u) == the member's color → u joins that SCC
                    step = (
                        e.join(members, e.dst == members.v)
                        .select(F.col("src").alias("v"), "c")
                        .join(color.withColumnRenamed("c", "uc"), "v")
                        .filter(F.col("c") == F.col("uc"))
                        .select("v", "c")
                        .join(members, ["v", "c"], "left_anti")
                        .distinct()
                        .localCheckpoint(eager=False)
                    )
                    if step.count() == 0:
                        break
                    members = members.unionByName(step).localCheckpoint(
                        eager=False
                    )
                # ---- 3. canonical id + peel -----------------------------
                comp = members.groupBy("c").agg(F.min("v").alias("scc_id"))
                found = (
                    members.join(comp, "c")
                    .select(F.col("v").alias("vertex"), "scc_id")
                    .localCheckpoint(eager=False)
                )
                assigned = (
                    found
                    if assigned is None
                    else assigned.unionByName(found).localCheckpoint(
                        eager=False
                    )
                )
                done = found.select(F.col("vertex").alias("v"))
                verts = verts.join(done, "v", "left_anti").localCheckpoint(
                    eager=False
                )
                e = (
                    e.join(
                        done.withColumnRenamed("v", "src"), "src", "left_anti"
                    )
                    .join(
                        done.withColumnRenamed("v", "dst"), "dst", "left_anti"
                    )
                    .localCheckpoint(eager=False)
                )
                # materialize + count: sizes the next round's exchanges
                # (e only shrinks, so the count doubles as its action)
                n_e = e.count()
        if assigned is None:
            return spark.createDataFrame([], "vertex long, scc_id long")
        return assigned


def _cross_component_edges(labels: DataFrame, edges: DataFrame) -> DataFrame:
    """Distinct cross-component (src_scc, dst_scc) edges under a
    vertex→scc_id labeling: two label joins + a partial-agg distinct —
    the relabel step shared by ``condensation`` and
    ``condensation_layers`` (which precomputes the labels itself, so it
    cannot just call ``condensation``)."""
    ls = labels.select(F.col("vertex").alias("src"), F.col("scc_id").alias("src_scc"))
    ld = labels.select(F.col("vertex").alias("dst"), F.col("scc_id").alias("dst_scc"))
    return (
        edges.select("src", "dst")
        .distinct()
        .join(ls, "src")
        .join(ld, "dst")
        .filter(F.col("src_scc") != F.col("dst_scc"))
        .select("src_scc", "dst_scc")
        .distinct()
    )


def condensation(edges: DataFrame) -> DataFrame:
    """(src_scc, dst_scc) — the condensation DAG: every SCC collapsed
    to one node (labeled by its min member id, the
    ``strongly_connected_components`` convention), distinct
    cross-component edges only.  Always acyclic (``networkx.
    condensation`` semantics, with min-member labels instead of nx's
    dense renumbering) — the topological skeleton a pipeline needs to
    process a cyclic link graph in dependency order.

    One SCC run + two label joins + a partial-agg distinct; the label
    frame is checkpointed by the SCC loop, so the relabel plan is
    flat."""
    return _cross_component_edges(strongly_connected_components(edges), edges)


def condensation_layers(edges: DataFrame) -> DataFrame:
    """(scc_id, layer): longest-path topological layering of the SCC
    condensation DAG — layer 0 = source components, layer of any other
    component = 1 + max layer among its predecessors.  Components in
    the same layer have no dependency path between them, so a pipeline
    can process a CYCLIC link graph layer-by-layer with full
    parallelism inside each layer (the scheduling order G23b's DAG
    promises, made explicit).

    Iteration: synchronous Bellman-Ford-style relaxation
    ``layer(v) = max(layer(v), max_pred(layer(u) + 1))`` to fixpoint —
    monotone and bounded by the DAG depth, so it converges in ≤ depth
    rounds (the DAG is acyclic by construction).  Per round: one keyed
    join + one partial-agg ``groupBy().max()`` + one |C|-row left join,
    over the CONDENSATION (≤ #components rows, typically orders of
    magnitude smaller than the graph).  Every state frame goes through
    ``checkpoint_reset_stats`` (§4.3 item 5 — the per-round plan
    references the state twice), which materializes it eagerly; the
    1-row layer-sum fetch that follows is the convergence check, a
    bounded extra job per round that only reads the cached blocks.

    The loop runs to the exact fixpoint under graph/rounds.py with the
    proven cap of |C| + 1 rounds (a DAG's depth is < |C|, plus the
    round that sees no change): reaching it means the input was not
    the output of ``condensation``, and it raises.
    """
    spark = edges.sparkSession
    with no_aqe(spark):
        labels = strongly_connected_components(edges)
        comps = (
            labels.select(F.col("scc_id"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        ce = _cross_component_edges(labels, edges).localCheckpoint(
            eager=True
        )
        n_comps = comps.count()
        # r6: the relaxation runs on the condensation (≤ #components
        # rows, usually tiny) — size its exchanges accordingly; exact
        # integer max/plus arithmetic, partitioning-independent
        n_rows = max(n_comps, ce.count())
        with width(spark, n_rows):
            state = comps.select("scc_id", F.lit(0).alias("layer"))
            state = checkpoint_reset_stats(state)
        prev_sum = 0  # the all-zero start state's layer total
        for r in fixpoint_rounds(
            spark, "condensation_layers", cap=max(n_comps, 1) + 1
        ):
            prop = (
                ce.join(state, ce.src_scc == state.scc_id)
                .groupBy(F.col("dst_scc").alias("scc_id"))
                .agg((F.max("layer") + 1).alias("pl"))
            )
            nxt = (
                state.join(prop, "scc_id", "left")
                .select(
                    "scc_id",
                    F.greatest(
                        "layer", F.coalesce("pl", F.lit(0))
                    ).alias("layer"),
                )
            )
            with r.width(n_rows):
                nxt = checkpoint_reset_stats(nxt)  # eager: round runs here
            # layers only ever grow, so an unchanged total IS the
            # fixpoint — a bounded 1-row fetch over the already-cached
            # checkpoint blocks (it re-runs nothing)
            new_sum = nxt.agg(F.sum("layer")).collect()[0][0] or 0
            state = nxt
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
        return state.select("scc_id", "layer")
