"""G9 — weighted shortest paths as Bellman-Ford-style frontier supersteps
(SURVEY.md §2.11 G9).

Reference analog: AGATHA's topic query runs a lazy bidirectional Dijkstra
over the SQLite adjacency store, paging neighbor lists on demand
(agatha/topic_query/path_util.py, agatha/util/sqlite3_lookup.py — per
SURVEY.md §3.2).  The distributed replacement relaxes the whole frontier
each superstep: dist ⋈ edges → min-agg → join-compare, until no distance
improves.  The LDA topic stage is out of scope (SURVEY.md §2.12);
neighborhood collection around the path is a semi-join (J4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from sparkgatha.graph.rounds import fixpoint_rounds
from sparkgatha.util import materialize, no_aqe

#: frontier rows below which the relax join broadcasts the frontier
#: (above it the join falls back to shuffle against the fixed layout)
BROADCAST_FRONTIER_MAX = 5_000_000


def min_dist_from_seeds(
    edges: DataFrame,
    seeds: DataFrame,
    max_iter: int = 50,
    num_partitions: int = 32,
) -> tuple[DataFrame, bool]:
    """Multi-source min-distance relaxation — the superstep loop behind
    ``shortest_paths`` and ``ego_hops``.  ``seeds(vertex, distance)`` is
    the initial frontier FRAME (any number of sources); returns
    ``(dist, drained)`` where ``dist(vertex, distance)`` covers every
    vertex reachable from a seed and ``drained`` says whether the
    frontier emptied within ``max_iter`` supersteps (a fixed-round loop
    of graph/rounds.py; callers choose their own exhaustion policy).

    Physical discipline (G11): edges are hash(src)-partitioned and
    persisted ONCE; each superstep broadcasts the (small) frontier into
    the relax join so the stationary edge layout never re-shuffles, and
    the improved-vertex count rides the same action that materializes
    the lazily checkpointed next state — one Spark job per superstep.
    """
    spark = edges.sparkSession
    dist, frontier_rows = materialize(seeds.select("vertex", "distance"))
    frontier = dist
    with no_aqe(spark):
        layout = (
            edges.select("src", "dst", "weight")
            .repartition(num_partitions, "src")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n_edges = layout.count()  # materialize the one-time layout
        # r6: superstep exchanges sized to the edge set (min-relaxation
        # is a pure per-row add + min-agg — the min is order-independent
        # even over doubles, so results are partitioning-independent)
        for r in fixpoint_rounds(spark, "min_dist_from_seeds", max_iter):
            if frontier_rows == 0:
                break
            with r.width(n_edges):
                probe = (
                    F.broadcast(frontier)
                    if frontier_rows <= BROADCAST_FRONTIER_MAX
                    else frontier
                )
                cand = (
                    layout.join(probe, layout.src == probe.vertex)
                    .select(
                        F.col("dst").alias("vertex"),
                        (F.col("distance") + F.col("weight")).alias("distance"),
                    )
                    .groupBy("vertex")
                    .agg(F.min("distance").alias("distance"))
                )
                merged = (
                    dist.alias("d")
                    .join(cand.alias("c"), "vertex", "full_outer")
                    .select(
                        "vertex",
                        F.least(
                            F.coalesce(F.col("d.distance"), F.lit(float("inf"))),
                            F.coalesce(F.col("c.distance"), F.lit(float("inf"))),
                        ).alias("distance"),
                        (
                            F.coalesce(F.col("c.distance"), F.lit(float("inf")))
                            < F.coalesce(F.col("d.distance"), F.lit(float("inf")))
                        ).alias("_improved"),
                    )
                    .localCheckpoint(eager=False)
                )
                frontier_rows = merged.filter(F.col("_improved")).count()
                dist = merged.select("vertex", "distance")
                frontier = merged.filter(F.col("_improved")).select(
                    "vertex", "distance"
                )
        layout.unpersist()
    return dist, frontier_rows == 0


def shortest_paths(
    edges: DataFrame,
    source: int,
    max_iter: int = 50,
    num_partitions: int = 32,
) -> DataFrame:
    """Single-source weighted distances (vertex long, distance double)
    over directed ``edges(src, dst, weight)``; unreachable vertices are
    absent.  Non-negative weights assumed (as in the reference's use).
    Exhausting ``max_iter`` returns the partial relaxation
    (Bellman-Ford semantics); see ``min_dist_from_seeds`` for the
    shared physical discipline.
    """
    spark = edges.sparkSession
    seeds = spark.createDataFrame(
        [(source, 0.0)], "vertex long, distance double"
    )
    dist, _ = min_dist_from_seeds(
        edges, seeds, max_iter=max_iter, num_partitions=num_partitions
    )
    return dist


def pair_distance(
    edges: DataFrame, a: int, b: int, max_iter: int = 50
) -> float | None:
    """Topic-query shape: distance between two terms (SURVEY.md §3.2),
    by the meet-in-the-middle search (the reference's analog is a lazy
    bidirectional Dijkstra)."""
    return pair_distance_bidirectional(edges, a, b, max_iter)


def pair_distance_bidirectional(
    edges: DataFrame, a: int, b: int, max_iter: int = 50,
    num_partitions: int = 32,
) -> float | None:
    """Meet-in-the-middle pair distance: a forward frontier search from
    ``a`` and a backward search from ``b`` (over reversed edges),
    expanding the SMALLER frontier each round; ``best`` tracks the
    cheapest known meet (min over v of da(v)+db(v), maintained
    incrementally by joining each new frontier against the other side's
    distance map).

    Work bound: a full SSSP relaxes until no vertex in the component
    improves; this stops both searches once nothing outside the two
    radius-``best`` balls around a and b can matter, so a short a—b path
    touches ~2 small balls instead of the whole component.

    Stopping rule (non-negative weights): every future improvement on a
    side carries a distance >= that side's current frontier minimum, so
    a future meet costs >= min(min_fa, min_fb); once
    ``best <= min(min_fa, min_fb)`` no expansion can beat it.  (This is
    deliberately weaker than Dijkstra's top_a+top_b bound, which is
    unsound under frontier Bellman-Ford's non-settled order.)
    Goal-direction: frontier rows and relax candidates at distance >=
    ``best`` are pruned — they cannot lie on a better a—b path.
    ``max_iter`` bounds the expansions (a fixed-round loop of
    graph/rounds.py).
    """
    spark = edges.sparkSession
    inf = float("inf")

    def _init(src_vertex):
        d = spark.createDataFrame(
            [(src_vertex, 0.0)], "vertex long, distance double"
        ).localCheckpoint(eager=True)
        return {"dist": d, "frontier": d, "rows": 1, "min_f": 0.0}

    with no_aqe(spark):
        fwd_layout = (
            edges.select("src", "dst", "weight")
            .repartition(num_partitions, "src")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        bwd_layout = (
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
            )
            .repartition(num_partitions, "src")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        fwd_layout.count()
        bwd_layout.count()
        fwd = _init(a)
        bwd = _init(b)
        best = 0.0 if a == b else inf
        sides = {"f": (fwd, fwd_layout, bwd), "b": (bwd, bwd_layout, fwd)}
        for _ in fixpoint_rounds(
            spark, "pair_distance_bidirectional", max_iter
        ):
            if fwd["rows"] == 0 and bwd["rows"] == 0:
                break
            if best <= min(fwd["min_f"], bwd["min_f"]):
                break  # no future meet can improve best
            # expand the smaller non-empty frontier
            key = "f" if (fwd["rows"] <= bwd["rows"] and fwd["rows"] > 0
                          ) or bwd["rows"] == 0 else "b"
            side, layout, other = sides[key]
            probe = (
                F.broadcast(side["frontier"])
                if side["rows"] <= BROADCAST_FRONTIER_MAX
                else side["frontier"]
            )
            cand = (
                layout.join(probe, layout.src == probe.vertex)
                .select(
                    F.col("dst").alias("vertex"),
                    (F.col("distance") + F.col("weight")).alias("distance"),
                )
                .groupBy("vertex")
                .agg(F.min("distance").alias("distance"))
            )
            if best < inf:
                cand = cand.filter(F.col("distance") < best)
            merged = (
                side["dist"].alias("d")
                .join(cand.alias("c"), "vertex", "full_outer")
                .select(
                    "vertex",
                    F.least(
                        F.coalesce(F.col("d.distance"), F.lit(inf)),
                        F.coalesce(F.col("c.distance"), F.lit(inf)),
                    ).alias("distance"),
                    (
                        F.coalesce(F.col("c.distance"), F.lit(inf))
                        < F.coalesce(F.col("d.distance"), F.lit(inf))
                    ).alias("_improved"),
                )
                .localCheckpoint(eager=False)
            )
            improved = merged.filter(F.col("_improved"))
            stats = improved.agg(
                F.count("*").alias("n"), F.min("distance").alias("mn")
            ).collect()[0]
            side["rows"] = stats["n"]
            side["min_f"] = stats["mn"] if stats["mn"] is not None else inf
            side["dist"] = merged.select("vertex", "distance")
            side["frontier"] = improved.select("vertex", "distance")
            if side["rows"] > 0:
                # incremental meet: only the new frontier can create one
                meet = (
                    side["frontier"].alias("x")
                    .join(other["dist"].alias("y"), "vertex")
                    .agg(F.min(
                        F.col("x.distance") + F.col("y.distance")
                    ).alias("m"))
                    .collect()[0]["m"]
                )
                if meet is not None and meet < best:
                    best = float(meet)
        fwd_layout.unpersist()
        bwd_layout.unpersist()
    return best if best < inf else None


def ego_hops(
    edges: DataFrame,
    source: int,
    hops: int,
    num_partitions: int = 32,
) -> DataFrame:
    """(vertex, hop): the ≤``hops``-hop ego network of ``source`` with
    BFS hop counts — the topic query's neighborhood-collection shape
    (SURVEY.md §3.2) with an explicit radius.

    Unit-weight Bellman-Ford rounds ARE BFS layers: after k supersteps
    every reachable vertex within k hops carries its exact hop count and
    nothing farther has been touched, so the bound needs no filter."""
    if hops < 1:
        raise ValueError(f"hops must be >= 1, got {hops}")
    unit = edges.select("src", "dst", F.lit(1.0).alias("weight"))
    d = shortest_paths(
        unit, source, max_iter=hops, num_partitions=num_partitions
    )
    return d.select("vertex", F.col("distance").cast("int").alias("hop"))


def neighborhood(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """J4 semi-join: edges incident to a vertex set (the reference's
    'collect sentences adjacent to path nodes' step)."""
    vs = vertices.select(F.col("vertex"))
    return edges.join(
        vs, edges.src == vs.vertex, "left_semi"
    ).unionByName(
        edges.join(vs.alias("v2"), edges.dst == F.col("v2.vertex"), "left_semi")
    ).distinct()
