"""G5 — connected components via small-star/large-star (SURVEY.md §2.11 G5).

Algorithm: Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
"Connected Components in MapReduce and Beyond", SoCC 2014 — named
explicitly by the north rule (BASELINE.json).  Exact-match bar: the
final label of every vertex is the minimum vertex id of its component.

Each round is two DataFrame supersteps over the current parent-edge set:

  large-star: for every vertex u (neighbors from *both* orientations),
      m = min(N(u) ∪ {u}); re-link every strictly-larger neighbor to m.
  small-star: with neighbors v ≤ u only, m = min(N≤(u) ∪ {u});
      link u and all those neighbors to m.

Physical discipline (the G11 treatment PageRank gets):
  * the per-vertex minimum is a partial-aggregable ``groupBy().min()``
    — the map-side combine collapses the hub vertex's neighbor list
    BEFORE the exchange, so the min shuffle carries ~|V| tiny rows and
    degree skew never concentrates (measured: the WindowExec
    formulation of the same min spent 300+ s executor time and ~30%
    GC on a 3.6M-row round — per-group buffer machinery over ~10^6
    tiny groups — versus ~5 s for groupBy+join; a window is the wrong
    physical shape when groups are numerous and tiny);
  * the join back (neighbor row ⋈ its group min) is a sort-merge join
    whose build side has exactly one row per key, so the hub partition
    streams linearly — no buffering, no blowup;
  * intermediate duplicate links ride through (min is idempotent,
    dupes don't change it) — exactly one ``distinct`` per round, at
    the end, where it also canonicalizes the fingerprint;
  * one Spark action per round: the order-insensitive
    xxhash64/bit_xor fingerprint materializes the lazily
    local-checkpointed next edge set (lineage truncation) and detects
    the fixpoint in the same job; its per-partition XORs are the
    round's lineage, so a durable round adds no fingerprint job.

A round is therefore 2 neighbor-list exchanges (one per star's join)
plus the final distinct, with the min tables riding as tiny
partial-agg shuffles; at 10^12 scale every exchange carries only the
shrinking parent-link set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from sparkgatha.graph.canon import canonical_undirected
from sparkgatha.graph.metrics import Lineage, MetricsSink, lineage
from sparkgatha.graph.rounds import DurableRounds
from sparkgatha.util import concurrently, materialize, no_aqe


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge set as (u > v) canonical pairs, self-loops
    dropped — larger endpoint first so min-aggregation lands on v."""
    return canonical_undirected(edges, greater_first=True)


def _large_star(e: DataFrame) -> DataFrame:
    """Connect all strictly-larger neighbors of a to min(N(a) ∪ {a}).

    Output links (b, m) keep the canonical first > second orientation
    (m ≤ a < b).  May contain duplicates — the round's final distinct
    owns dedup."""
    nbrs = e.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        e.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    mins = nbrs.groupBy("a").agg(F.min("b").alias("mb"))
    return (
        nbrs.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(
            F.col("b").alias("u"),
            F.least("mb", F.col("a")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """With neighbors v ≤ u (canonical orientation is exactly that),
    link u and each such neighbor to the minimum.

    Emits both (v, m) and (u, m) per row — the (u, m) self-link rides
    on every row; duplicates collapse in the final distinct."""
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    pairs = (
        e.join(mins, "u")
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("v").alias("p1"), F.col("m").alias("p2")),
                    F.struct(F.col("u").alias("p1"), F.col("m").alias("p2")),
                )
            ).alias("p")
        )
        .select(F.col("p.p1").alias("u"), F.col("p.p2").alias("v"))
    )
    return pairs.filter(F.col("u") != F.col("v")).distinct()


def _fingerprint(e: DataFrame) -> Lineage:
    # multi-arg xxhash64 — no per-row string materialization (r6: the
    # concat_ws form allocated a UTF8String per edge per round; only the
    # equality of consecutive fingerprints matters, not the hash family)
    return lineage(e, F.xxhash64(F.col("u"), F.col("v")))


def connected_components(
    edges: DataFrame,
    max_iter: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    resume: bool = False,
    metrics_sink: MetricsSink | None = None,
) -> DataFrame:
    """(vertex long, component long) — component = min vertex id, exact.

    Isolated vertices never appear in an edge table; callers with a
    separate vertex set should left-join and coalesce(component, vertex).
    ``max_iter`` follows the round and cap policy of graph/rounds.py:
    ``None`` runs to the fixpoint, an integer stops silently after that
    round.  ``checkpoint_dir``, ``checkpoint_every``, ``resume`` and
    ``metrics_sink`` follow its durable-round policy: the state is the
    parent-link edge set (so restarting on it is exact), and the round's
    own fingerprint job is its lineage.
    """
    spark = edges.sparkSession
    loop = DurableRounds(
        spark, "connected_components", checkpoint_dir, checkpoint_every,
        resume, metrics_sink,
    )
    with no_aqe(spark):
        # r6: the vertex universe and the canonical edge set are
        # independent builds over the same input — overlap them (guide
        # §2.6); contents are identical either way
        def _build_vertices():
            return materialize(
                edges.select(F.col("src").alias("vertex"))
                .unionByName(edges.select(F.col("dst").alias("vertex")))
                .distinct()
            )

        def _build_edges():
            if loop.resumed is not None:
                return loop.resumed
            return _canonical(edges).localCheckpoint(eager=True)

        (vertices, n), e = concurrently(spark, _build_vertices, _build_edges)
        prev_fp = _fingerprint(e)
        for r in loop.rounds(max_iter):
            # r6 scale-adaptive exchanges: size this round's shuffles to
            # the CURRENT link count (the fingerprint already tallies
            # it) — labels are partitioning-independent exact integers,
            # so only wall changes
            with r.width(prev_fp.rows):
                # r6: the large-star output feeds BOTH small-star
                # branches (its min agg and its join), and the two
                # copies optimize into non-canonically-equal subtrees
                # (filter/pruning pushdown diverges), so ReusedExchange
                # never collapses them — a lazy chain computes the large
                # star TWICE per round (measured: 4x 64-task map stages
                # per round job at 2e7 edges).  Materializing it eagerly
                # costs one extra job per round and removes the
                # duplicate compute outright; labels are bit-identical
                # (same algebra, same round count).
                e = _small_star(
                    _large_star(e).localCheckpoint(eager=True)
                ).localCheckpoint(eager=False)
                fp = _fingerprint(e)
            converged = fp.sha == prev_fp.sha
            e = loop.commit(
                r, e, done=converged, delta=float(abs(fp.rows - prev_fp.rows)),
                active=fp.rows, rows=n, known=fp,
            )
            if converged:
                break
            prev_fp = fp
    # fixpoint: e is a star forest (u → component min)
    labels = e.select(F.col("u").alias("vertex"), F.col("v").alias("component"))
    return (
        vertices.join(labels, "vertex", "left")
        .select(
            "vertex", F.coalesce("component", "vertex").alias("component")
        )
    )
