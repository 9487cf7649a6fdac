"""Power iteration: HITS, eigenvector and Katz centrality as DataFrame
supersteps (SURVEY.md §2.11 G15, G26, G30).

The three operators are one loop — gather the state along a cached
edge table, maybe normalize, measure the L1 delta — and differ only in
the step:

* HITS (Kleinberg hubs & authorities) on the DIRECTED distinct edge
  set without self-loops: authorities are vertices many hubs point at,
  with L1 (sum-to-one) normalization after each half-step::

      auth_k(v) = Σ_{u→v} hub_{k-1}(u)     then auth_k /= Σ auth_k
      hub_k(u)  = Σ_{u→v} auth_k(v)        then hub_k  /= Σ hub_k

* eigenvector centrality, ``networkx.eigenvector_centrality``
  semantics: x ← (A + I)·x from the uniform vector (the +I shift kills
  the period-2 oscillation a bipartite component would otherwise never
  converge out of), L1-normalized per round instead of L2.
* Katz centrality, ``networkx.katz_centrality`` semantics:
  x ← α·Aᵀx + β from the zero vector, un-normalized — the +β offset
  keeps the iterate bounded whenever α < 1/λ_max, so every round is a
  pure affine map; :func:`katz_l2` gives NetworkX's ``normalized=True``
  output.

L1 normalization (instead of the textbook L2) keeps every quantity a
sum — partial-aggregable in Spark and expressible in the unrolled
DuckDB oracle without sqrt round-trip noise.  A scalar norm never
changes the iterate's direction, so the converged direction is the
principal eigenvector either way; the goldens rescale to L2 before
comparing with NetworkX.

Rounds and tol (:func:`_iterate`, on graph/rounds.py's driver, which
labels each round's jobs ``<operator>:<round>``; never its width —
partitioning changes the bits of a double sum):

* ``tol=0.0`` runs exactly ``max_iter`` rounds — the fixed-round oracle
  mode every iterative operator here shares;
* otherwise the loop stops once the summed L1 delta ≤ ``tol``, and
  RAISES the driver's ``RuntimeError`` naming the operator if
  ``max_iter`` rounds pass first, instead of returning an unconverged
  vector (NetworkX's PowerIterationFailedConvergence contract; for Katz
  it means α exceeds 1/λ_max for this graph).

``delta`` is the summed L1 delta of the last round against the one
before (round 1 against the start vector), finite in both modes.

Physical shape: the edge table is deduplicated and cached once and
never moves; each gather is one keyed join (state ⋈ edges) plus one
partial-aggregable groupBy.  ``_normalized`` materializes the gather
eagerly — the division reads it twice (the total and the crossJoin),
so a lazy gather was recomputed per branch, and the checkpoint keeps
lineage O(1).  The normalized state is a flat projection over the
cached gather (same algebra, same aggregation partitions —
bit-identical values); it is materialized only when a delta job is
about to read it, which includes the last round, so the returned plan
carries no 1-row crossJoin (the plan-hygiene sweep bans BNLJ nodes).
Eigenvector's (A + I) is literally the edge table UNION one unit
self-loop row per vertex, so its step is one join + one agg and every
vertex survives every round.  Katz's step adds one |V|-row left join
back to the vertex universe, which holds in-degree-0 vertices at the β
floor (their walks all have length 0); its state is materialized every
round.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, TypeVar

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from sparkgatha.graph.rounds import fixpoint_rounds
from sparkgatha.util import no_aqe

S = TypeVar("S")


@dataclass(frozen=True)
class PowerResult:
    # HITS: (vertex, hub, authority); eigenvector: (vertex, score)
    # summing to 1; Katz: (vertex, score) un-normalized (see katz_l2)
    scores: DataFrame
    iterations: int
    delta: float


def _adjacency(edges: DataFrame, weighted: bool) -> DataFrame:
    """(src, dst, weight), cached: parallel rows weight-summed, or with
    ``weighted=False`` (or no ``weight`` column) collapsed to ONE unit
    row — a simple graph's duplicates must not weight-sum.  Self-loops
    are kept: NetworkX puts a loop's weight on the diagonal of A, and
    the repo's vertex-coverage rule (triangle_profile /
    neighborhood._prep) makes a loop-only vertex a row."""
    if weighted and "weight" in edges.columns:
        e = (
            edges.select("src", "dst", F.col("weight").cast("double"))
            .groupBy("src", "dst")
            .agg(F.sum("weight").alias("weight"))
        )
    else:
        e = (
            edges.select("src", "dst")
            .distinct()
            .withColumn("weight", F.lit(1.0))
        )
    return e.localCheckpoint(eager=True)


def _vertices(e: DataFrame) -> DataFrame:
    """The cached vertex universe: every endpoint of ``e``."""
    return (
        e.select(F.col("src").alias("vertex"))
        .unionByName(e.select(F.col("dst").alias("vertex")))
        .distinct()
        .localCheckpoint(eager=True)
    )


def _no_rounds(vertices: DataFrame, *cols: str) -> PowerResult:
    """The empty graph's result: no rows, no rounds."""
    scores = vertices.select("vertex", *(F.lit(0.0).alias(c) for c in cols))
    return PowerResult(scores=scores, iterations=0, delta=0.0)


def _gather(
    e: DataFrame,
    x: DataFrame,
    term: Column,
    out: str,
    frm: str = "src",
    to: str = "dst",
) -> DataFrame:
    """(vertex, out): Σ ``term`` over the edges ``frm → to`` of ``e``
    joined with the state ``x``, keyed by the ``to`` endpoint."""
    return (
        e.join(x.withColumnRenamed("vertex", frm), frm)
        .groupBy(F.col(to).alias("vertex"))
        .agg(F.sum(term).alias(out))
    )


def _normalized(gather: DataFrame, col: str) -> DataFrame:
    """Materialize ``gather``, then divide ``col`` by its global sum — a
    grouping-free partial agg joined back as a 1-row broadcast scalar
    (the same in-plan pattern pagerank uses for the dangling mass)."""
    df = gather.localCheckpoint(eager=True)
    total = df.agg(F.sum(col).alias("s"))
    return df.crossJoin(F.broadcast(total)).select(
        "vertex", (F.col(col) / F.col("s")).alias(col)
    )


def _l1_delta(cur: DataFrame, prev: DataFrame, col: str) -> DataFrame:
    """Per-row |cur - prev| of ``col`` as ``dd`` over a full-outer
    vertex join (vertices absent from one side count their full mass)."""
    return cur.join(
        prev.select("vertex", F.col(col).alias("_p")), "vertex", "full_outer"
    ).select(
        F.abs(
            F.coalesce(col, F.lit(0.0)) - F.coalesce("_p", F.lit(0.0))
        ).alias("dd")
    )


def _total(dd: DataFrame) -> float:
    """Σ ``dd`` — one job."""
    return float(dd.agg(F.sum("dd").alias("d")).collect()[0]["d"] or 0.0)


def _score_delta(x: DataFrame, prev: DataFrame) -> float:
    return _total(_l1_delta(x, prev, "score"))


def _iterate(
    spark: SparkSession,
    op: str,
    x: S,
    step: Callable[[S, bool], S],
    delta: Callable[[S, S], float],
    max_iter: int,
    tol: float,
) -> tuple[S, int, float]:
    """Run ``x = step(x, want_delta)`` under the module's round and tol
    policy; return (x, rounds run, last delta)."""
    d = float("inf")
    for r in fixpoint_rounds(
        spark, op, None if tol > 0.0 else max_iter, cap=max_iter
    ):
        prev = x
        want_delta = tol > 0.0 or r.last
        x = step(x, want_delta)
        if want_delta:
            d = delta(x, prev)
            if tol > 0.0 and d <= tol:
                break
    return x, r.n, d


def _check(max_iter: int) -> None:
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")


def hits(
    edges: DataFrame, max_iter: int = 30, tol: float = 1e-8
) -> PowerResult:
    """(vertex, hub, authority), L1-normalized, over the DIRECTED
    distinct edge set of ``edges`` without self-loops.  Rounds and
    ``tol``: the module docstring."""
    _check(max_iter)
    spark = edges.sparkSession
    with no_aqe(spark):
        e = (
            edges.select("src", "dst")
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        vertices = _vertices(e)
        n = vertices.count()
        if n == 0:
            return _no_rounds(vertices, "hub", "authority")

        def step(state, want_delta):
            hub, _ = state
            auth = _normalized(
                _gather(e, hub, F.col("hub"), "authority"), "authority"
            )
            # the hub half-step gathers the fresh authority mass back
            hub = _normalized(
                _gather(e, auth, F.col("authority"), "hub", "dst", "src"),
                "hub",
            )
            if want_delta:
                auth = auth.localCheckpoint(eager=True)
                hub = hub.localCheckpoint(eager=True)
            return hub, auth

        def delta(state, prev):
            return _total(
                _l1_delta(state[0], prev[0], "hub").unionByName(
                    _l1_delta(state[1], prev[1], "authority")
                )
            )

        # the uniform authority start is only round 1's delta baseline
        start = tuple(
            vertices.select("vertex", F.lit(1.0 / n).alias(c))
            for c in ("hub", "authority")
        )
        (hub, auth), it, d = _iterate(
            spark, "hits", start, step, delta, max_iter, tol
        )
        scores = (
            vertices.join(hub, "vertex", "left")
            .join(auth, "vertex", "left")
            .select(
                "vertex",
                F.coalesce("hub", F.lit(0.0)).alias("hub"),
                F.coalesce("authority", F.lit(0.0)).alias("authority"),
            )
        )
        return PowerResult(scores=scores, iterations=it, delta=d)


def eigenvector_centrality(
    edges: DataFrame,
    max_iter: int = 50,
    tol: float = 1e-8,
    weighted: bool = True,
) -> PowerResult:
    """(vertex, score) — L1-normalized (A + I) power iteration over the
    directed adjacency rows of ``edges`` (pass both orientations for an
    undirected graph, the convention every operator here shares).
    Rounds and ``tol``: the module docstring.

    ``weighted=False`` (or a missing ``weight`` column) scores the
    simple graph; parallel (src, dst) duplicates are weight-summed
    either way, so the input need not be pre-deduplicated.  Self-loops
    are KEPT (:func:`_adjacency`).  A loop's two orientations coincide,
    so pass each loop ONCE in weighted mode — a blind symmetrize that
    re-emits loops doubles their diagonal weight (simple mode is
    immune: duplicates collapse).
    """
    _check(max_iter)
    spark = edges.sparkSession
    with no_aqe(spark):
        e = _adjacency(edges, weighted)
        vertices = _vertices(e)
        n = vertices.count()
        if n == 0:
            return _no_rounds(vertices, "score")
        es = e.unionByName(
            vertices.select(
                F.col("vertex").alias("src"),
                F.col("vertex").alias("dst"),
                F.lit(1.0).alias("weight"),
            )
        ).localCheckpoint(eager=True)

        def step(x, want_delta):
            x = _normalized(
                _gather(es, x, F.col("weight") * F.col("score"), "score"),
                "score",
            )
            return x.localCheckpoint(eager=True) if want_delta else x

        x, it, d = _iterate(
            spark,
            "eigenvector_centrality",
            vertices.select("vertex", F.lit(1.0 / n).alias("score")),
            step,
            _score_delta,
            max_iter,
            tol,
        )
        return PowerResult(scores=x, iterations=it, delta=d)


def katz_centrality(
    edges: DataFrame,
    alpha: float = 0.1,
    beta: float = 1.0,
    max_iter: int = 100,
    tol: float = 1e-8,
    weighted: bool = True,
) -> PowerResult:
    """(vertex, score) — Katz centrality over the directed adjacency
    rows of ``edges`` (pass both orientations for an undirected graph).

    Scores are UN-normalized (the raw fixpoint of x = α·Aᵀx + β); divide
    by the L2 norm (:func:`katz_l2`) for NetworkX's ``normalized=True``
    output — a single global scalar that never changes the ranking.
    Rounds and ``tol``: the module docstring; in tol mode a diverging
    series (α too large for this graph's spectral radius) raises.

    ``weighted=False`` (or a missing ``weight`` column) scores the
    simple graph; parallel (src, dst) duplicates are weight-summed
    either way.  Self-loops are kept (diagonal mass, NetworkX
    semantics).
    """
    _check(max_iter)
    if not alpha > 0.0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    spark = edges.sparkSession
    with no_aqe(spark):
        e = _adjacency(edges, weighted)
        vertices = _vertices(e)
        if vertices.isEmpty():
            return _no_rounds(vertices, "score")

        def step(x, _):
            g = _gather(e, x, F.col("weight") * F.col("score"), "g")
            return (
                vertices.join(g, "vertex", "left")
                .select(
                    "vertex",
                    (
                        F.lit(float(alpha)) * F.coalesce("g", F.lit(0.0))
                        + F.lit(float(beta))
                    ).alias("score"),
                )
                .localCheckpoint(eager=True)
            )

        # NetworkX starts from the zero vector, so round 1 lands every
        # vertex exactly at beta — matched here and in the oracle
        x, it, d = _iterate(
            spark,
            "katz_centrality",
            vertices.select("vertex", F.lit(0.0).alias("score")),
            step,
            _score_delta,
            max_iter,
            tol,
        )
        return PowerResult(scores=x, iterations=it, delta=d)


def katz_l2(result: PowerResult) -> DataFrame:
    """(vertex, score) rescaled to unit L2 norm — NetworkX's
    ``normalized=True`` output (one global scalar; ranking unchanged)."""
    x = result.scores
    norm = x.agg(F.sqrt(F.sum(F.col("score") * F.col("score"))).alias("n"))
    return x.crossJoin(F.broadcast(norm)).select(
        "vertex", (F.col("score") / F.col("n")).alias("score")
    )
