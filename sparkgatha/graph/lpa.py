"""G6 — synchronous label propagation with deterministic min-label
tie-break (SURVEY.md §2.11 G6, §7.4.1).

Exact-match bar (BASELINE.json): community labels must match exactly at
convergence, so every source of nondeterminism is pinned:

  * synchronous updates (all vertices update from the previous state);
  * a vertex adopts the neighbor label with the greatest total incident
    edge weight; ties break to the SMALLEST label (A7 mode-agg with
    deterministic tie-break);
  * a vertex with no neighbors keeps its label;
  * convergence = zero label changes (or max_iter).

NetworkX's own asynchronous LPA is order-sensitive, so the golden is a
pure-Python implementation of this exact rule in the test suite
(tests/test_graph_golden.py), per SURVEY.md §7.4.1.

Physical discipline (the same G11/PageRank treatment):
  * edges are hash(dst)-partitioned and persisted ONCE — they never
    move again; each superstep broadcasts the label vector into a
    BroadcastHashJoin, so the vote aggregation's map-side combine runs
    against stationary edges and the exchanges carry only the
    (dst, label) partials and the |V|-row best-label table;
  * beyond a broadcastable label table, the ``shuffle`` strategy lays
    edges out by src instead and salts hot srcs (G10, policy and
    strategy rule in graph/skew.py);
  * the mode-agg tie-break is max(struct(wsum, -label)) — an ordinary
    hash aggregation, not a row_number window (no per-dst sort);
  * one Spark action per superstep: the changed-vertex count
    materializes the lazily local-checkpointed next state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from sparkgatha.graph.metrics import MetricsSink
from sparkgatha.graph.rounds import DurableRounds, job_description
from sparkgatha.graph.skew import hot_keys, resolve_strategy, salted_layout
from sparkgatha.util import materialize, no_aqe


def label_propagation(
    edges: DataFrame,
    max_iter: int = 20,
    num_partitions: int = 32,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    resume: bool = False,
    metrics_sink: MetricsSink | None = None,
    strategy: str = "auto",
    check_every: int = 1,
) -> DataFrame:
    """(vertex long, label long) over symmetrized ``edges(src,dst,weight)``.

    Pass both orientations (extract.symmetrize) for undirected graphs:
    messages flow src → dst only.  ``checkpoint_dir``,
    ``checkpoint_every``, ``resume`` and ``metrics_sink`` follow the
    durable-round policy of graph/rounds.py (the sink row's delta and
    active count are the changed-vertex count; jobs labelled
    ``label_propagation:<superstep>``, and the entry build's
    ``label_propagation:prepare``).

    ``strategy``: 'broadcast' (label table broadcast each superstep —
    the ≤2x10^7-vertex regime) | 'shuffle' (labels co-partitioned
    hash(vertex)=hash(src) into a shuffle join — the beyond-broadcast
    regime; in that mode the layout partitions by src so the vote join
    is exchange-free on the edge side, and hot srcs are salted as
    graph/skew.py states) | 'auto' (the graph/skew.py rule).  Both
    strategies are result-identical (tests).

    ``check_every``: fuse this many supersteps into ONE Spark job (the
    pagerank fused-block discipline — interior steps end in a lazy
    ``localCheckpoint`` so each materializes exactly once inside the
    block-end action).  Labels are bit-identical to per-step execution
    (the superstep is a pure synchronous transform); only the metric /
    convergence-check granularity coarsens to block boundaries, so a run
    that converges mid-block does up to ``check_every - 1`` idempotent
    extra supersteps (a fixpoint is stable under the deterministic
    tie-break).  Durable checkpoints keep their ``checkpoint_every``
    cadence: blocks are clamped so boundaries land on it.
    """
    spark = edges.sparkSession
    loop = DurableRounds(
        spark, "label_propagation", checkpoint_dir,
        checkpoint_every, resume, metrics_sink,
    )
    # the jobs before the first round carry the entry build's label
    with no_aqe(spark), job_description(spark, "label_propagation:prepare"):
        pre = edges.select("src", "dst", "weight")
        vertices, n = materialize(
            pre.select(F.col("src").alias("vertex"))
            .unionByName(pre.select(F.col("dst").alias("vertex")))
            .distinct()
        )
        strategy = resolve_strategy(strategy, n)
        # broadcast mode: hash(dst) layout → the vote agg's combine is
        # partition-local; shuffle mode: hash(src) layout → the label
        # join is exchange-free on the edge side and only the |V|-row
        # label table shuffles per superstep, with hot srcs salted
        # (graph/skew.py).  Exact: the vote agg groups by
        # (dst, label) AFTER the union, identical algebra either way.
        hot_layout = None
        hot_srcs_v = None
        if strategy == "broadcast":
            layout = pre.repartition(num_partitions, "dst").persist(
                StorageLevel.MEMORY_AND_DISK
            )
            layout.count()  # materialize the one-time layout
        else:
            # own a raw-lineage input the way prepare_pagerank does:
            # persisted for the count, detection and layout scans,
            # released once the layouts are cached
            owned = edges.storageLevel == StorageLevel.NONE
            if owned:
                pre = pre.persist(StorageLevel.MEMORY_AND_DISK)
            hot = hot_keys(pre, "src", num_partitions, pre.count())
            split = salted_layout(pre, "src", num_partitions, hot)
            if owned:
                pre.unpersist()
            layout, hot_layout = split.cold, split.hot
            if hot is not None:
                hot_srcs_v = hot.select(F.col("src").alias("vertex"))
        labels = loop.resumed
        if labels is None:
            # eager on purpose: the start state feeds several consumers
            # inside the first fused block (state broadcast + update
            # join), and a lazy checkpoint's racing consumer stages
            # re-run the projection instead of sharing it (the cc.py
            # race note) — measured as a b_lpa regression in r6
            labels = vertices.select(
                "vertex", F.col("vertex").alias("label")
            ).localCheckpoint(eager=True)

        def step(lbl: DataFrame) -> DataFrame:
            """One synchronous superstep as a pure transform of
            ``lbl(vertex, label)`` → (vertex, label, _changed)."""
            cur = lbl.select("vertex", "label")
            state = F.broadcast(cur) if strategy == "broadcast" else (
                cur.repartition(num_partitions, "vertex")
            )
            # gather: total incident weight per (vertex, neighbor label);
            # partial agg is partition-local against the stationary layout
            contrib = layout.join(state, layout.src == state.vertex).select(
                "dst", "label", "weight"
            )
            if hot_layout is not None:
                # ≤HOT_MIRROR_CAP hot-src label rows, broadcast into the
                # salted hot edges — no shuffle on the hot branch
                hot_state = F.broadcast(
                    cur.join(F.broadcast(hot_srcs_v), "vertex", "left_semi")
                )
                contrib = contrib.unionByName(
                    hot_layout.join(
                        hot_state, hot_layout.src == hot_state.vertex
                    ).select("dst", "label", "weight")
                )
            votes = contrib.groupBy("dst", "label").agg(
                F.sum("weight").alias("wsum")
            )
            # A7 mode-agg: greatest wsum, ties to smallest label —
            # field-wise struct max, no sort
            best = (
                votes.groupBy("dst")
                .agg(
                    F.max(
                        F.struct(
                            F.col("wsum").alias("w"),
                            (-F.col("label")).alias("nl"),
                            F.col("label").alias("label"),
                        )
                    ).alias("b")
                )
                .select(
                    F.col("dst").alias("vertex"), F.col("b.label").alias("new_label")
                )
            )
            return cur.join(best, "vertex", "left").select(
                "vertex",
                F.coalesce("new_label", "label").alias("label"),
                (F.coalesce("new_label", "label") != F.col("label")).alias(
                    "_changed"
                ),
            )

        for r in loop.rounds(max_iter, check_every=check_every):
            # fused block: `r.steps` supersteps chained lazily, ONE
            # driver action (the changed-count) at the end; each interior
            # frame feeds two consumers (state broadcast/shuffle +
            # self-join) and materializes once via the lazy localCheckpoint
            new_labels = labels
            for _ in range(r.steps):
                new_labels = step(new_labels).localCheckpoint(eager=False)
            changed = new_labels.filter(F.col("_changed")).count()
            labels = loop.commit(
                r, new_labels.select("vertex", "label"), done=changed == 0,
                delta=float(changed), active=changed, rows=n,
            )
            if changed == 0:
                break
        layout.unpersist()
        if hot_layout is not None:
            hot_layout.unpersist()
    return labels
