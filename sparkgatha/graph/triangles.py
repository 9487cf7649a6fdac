"""G7 — triangle counting via degree-ordered wedge join (SURVEY.md §2.11 G7).

The classic MapReduce scheme (Suri & Vassilvitskii, "Counting Triangles
and the Curse of the Last Reducer", WWW 2011): orient every undirected
edge from the lower-(degree, id) endpoint to the higher one — hubs then
have tiny out-degree, so the wedge self-join (J6) never explodes on a
hot vertex.  Wedges (a→b, a→c) complete to triangles iff (b→c) is in the
oriented edge set (U2 intersect, expressed as a semi-joinable inner join
so each triangle is found exactly once).

Exact bar: per-vertex counts match ``networkx.triangles`` exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from sparkgatha.graph.canon import canonical_undirected
from sparkgatha.util import materialize


def _degrees(und: DataFrame) -> DataFrame:
    """(vertex, deg) over a canonical undirected edge set."""
    return (
        und.select(F.col("u").alias("vertex"))
        .unionByName(und.select(F.col("v").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count("*").alias("deg"))
    )


def _orient(und: DataFrame, deg: DataFrame) -> DataFrame:
    """Orient canonical undirected edges by (degree, id)."""
    du = deg.select(F.col("vertex").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("vertex").alias("v"), F.col("deg").alias("dv"))
    withdeg = und.join(du, "u").join(dv, "v")
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return withdeg.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    )


def _oriented(edges: DataFrame) -> DataFrame:
    """Canonical undirected edges oriented by (degree, id)."""
    und = canonical_undirected(edges)
    return _orient(und, _degrees(und))


def _triangles(o: DataFrame) -> DataFrame:
    """(p, x, y): ONE row per triangle of a degree-oriented edge set —
    the shared enumeration behind per-corner counts (G7/G17) and
    per-edge support (G25).  p is the wedge pivot, x < y the closing
    pair."""
    # wedges at pivot a: (a→b, a→c) with b < c to canonicalize
    e1 = o.select(F.col("a").alias("p"), F.col("b").alias("x"))
    e2 = o.select(F.col("a").alias("p"), F.col("b").alias("y"))
    wedges = e1.join(e2, "p").filter(F.col("x") < F.col("y"))
    closing = o.select(
        F.least("a", "b").alias("x"), F.greatest("a", "b").alias("y")
    )
    return wedges.join(closing, ["x", "y"])


def _corner_counts(o: DataFrame) -> DataFrame:
    """(vertex, n_triangles) for triangle CORNERS only (no zero-fill),
    from a degree-oriented edge set."""
    tris = _triangles(o)
    return (
        tris.select(F.col("p").alias("vertex"))
        .unionByName(tris.select(F.col("x").alias("vertex")))
        .unionByName(tris.select(F.col("y").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count("*").alias("n_triangles"))
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """(vertex long, n_triangles long), exact, plus isolated endpoints 0.

    Global triangle count = sum(n_triangles) / 3 (each triangle counted
    once per corner here, not once per orientation).
    """
    o = _oriented(edges).localCheckpoint(eager=True)
    per_corner = _corner_counts(o)
    vertices = (
        edges.select(F.col("src").alias("vertex"))
        .unionByName(edges.select(F.col("dst").alias("vertex")))
        .distinct()
    )
    return vertices.join(per_corner, "vertex", "left").select(
        "vertex", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles")
    )


def triangle_profile(edges: DataFrame) -> DataFrame:
    """(vertex, n_triangles, clustering) in ONE wedge-join pass.

    The wedge self-join is the dominant cost of both per-vertex triangle
    counts and clustering coefficients; callers that want both (the
    ``profile`` CLI) must not pay it twice.  Vertex coverage matches
    ``triangle_counts``: every raw src/dst endpoint appears, zero-filled
    — including vertices whose only edges are self-loops (dropped by
    canonicalization, hence absent from ``deg``; they get deg 0 →
    clustering 0.0)."""
    und = canonical_undirected(edges).localCheckpoint(eager=True)
    deg = _degrees(und)
    o = _orient(und, deg).localCheckpoint(eager=True)
    per_corner = _corner_counts(o)
    vertices = (
        edges.select(F.col("src").alias("vertex"))
        .unionByName(edges.select(F.col("dst").alias("vertex")))
        .distinct()
    )
    d = F.coalesce("deg", F.lit(0)).cast("double")
    nt = F.coalesce("n_triangles", F.lit(0))
    return (
        vertices.join(deg, "vertex", "left")
        .join(per_corner, "vertex", "left")
        .select(
            "vertex",
            nt.alias("n_triangles"),
            F.when(F.coalesce("deg", F.lit(0)) >= 2, 2.0 * nt / (d * (d - 1.0)))
            .otherwise(0.0)
            .alias("clustering"),
        )
    )


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """(vertex, clustering): the local clustering coefficient
    2·T(v) / (deg(v)·(deg(v)−1)), 0.0 below degree 2 —
    ``networkx.clustering`` (unweighted) semantics, over every raw
    src/dst endpoint (same vertex coverage as ``triangle_counts``)."""
    return triangle_profile(edges).select("vertex", "clustering")


def global_triangle_count(edges: DataFrame) -> int:
    row = triangle_counts(edges).agg(F.sum("n_triangles").alias("s")).collect()[0]
    return int((row["s"] or 0) // 3)


def triangle_estimate_doulion(
    edges: DataFrame, keep_hex: int = 64
) -> DataFrame:
    """One row ``(sampled_edges, sampled_triangles, est_triangles)`` —
    DOULION (Tsourakakis, Kang & Faloutsos, KDD 2009): toss a p-coin
    per UNDIRECTED edge, count triangles exactly on the sparsified
    graph with the same degree-oriented wedge join, and scale the count
    by 1/p³ (an unbiased estimator of the true global triangle count).

    This is the 100 TB path when the exact wedge join is too expensive:
    sampling at p thins the wedge self-join by ~p² and the closing join
    input by p, for a variance the paper bounds — the standard
    sparsify-then-count trade on massive graphs.  ``keep_hex``/256 = p
    (default 64 → p = 0.25, a 16× wedge reduction).

    The coin is NOT random-state: an edge survives iff the first two
    hex chars of md5("u:v") of its canonical (u < v) key sort below
    ``keep_hex``'s hex form — deterministic across engines, retries,
    partitionings (the q_sample_hash discipline), so the DuckDB oracle
    replays the identical sample and the estimate is value-checkable
    bit-for-bit.  keep_hex ≥ 256 keeps every edge (p = 1) and must
    reproduce the exact count — pinned by a pytest invariant.
    """
    if keep_hex < 1:
        raise ValueError(f"keep_hex must be >= 1, got {keep_hex}")
    p = min(keep_hex, 256) / 256.0
    # 'g' sorts above every lowercase-hex string: p=1 keeps all edges
    thr = "g" if keep_hex >= 256 else format(keep_hex, "02x")
    und = canonical_undirected(edges)
    coin = F.substring(
        F.md5(
            F.concat_ws(
                ":", F.col("u").cast("string"), F.col("v").cast("string")
            )
        ),
        1,
        2,
    )
    # bounded 1-row driver scalar baked as a literal (the bm25-N /
    # louvain-2m discipline) — a crossJoin scalar attach would put a
    # BroadcastNestedLoopJoin in the plan for no reason
    samp, n_samp = materialize(und.filter(coin < F.lit(thr)))
    o = _orient(samp, _degrees(samp))
    return (
        _triangles(o)
        .agg(F.count("*").alias("sampled_triangles"))
        .select(
            F.lit(n_samp).cast("bigint").alias("sampled_edges"),
            "sampled_triangles",
            F.round(F.col("sampled_triangles") / F.lit(p) ** 3, 4).alias(
                "est_triangles"
            ),
        )
    )


def bipartite_square_count(edges: DataFrame, pivot: str = "src") -> DataFrame:
    """One row ``(n_squares, n_codiag_pairs)`` — the number of 4-cycles
    (squares / butterflies) in a BIPARTITE edge list, the standard
    bipartite cohesion motif (triangles cannot exist there, so squares
    play their role — "butterfly counting", Sanei-Mehri et al., KDD
    2018).

    Counting rule: every square p1–s1–p2–s2 has exactly one diagonal
    pair on each side; wedging through the ``pivot`` side and grouping
    by the OTHER side's pairs counts each square once as
    C(common_neighbors, 2).  All arithmetic is integer, so the result
    is value-checkable cross-engine with no rounding.

    Scale shape — the degree-oriented choice is WHICH side to pivot on:
    the wedge explosion is sum(deg^2) over pivot-side vertices, so the
    caller pivots on the LOW-degree side (parts ~10-30 suppliers each,
    vs suppliers with hundreds of parts: pivoting on parts is ~100x
    fewer wedge rows than pivoting on suppliers for the same answer).
    The wedge join itself is one hash-partitioned self-join on the
    pivot key (co-located), then two partial-aggregable groupBys —
    no window, no Python, no driver data.
    """
    if pivot not in ("src", "dst"):
        raise ValueError(f"pivot must be 'src' or 'dst', got {pivot}")
    other = "dst" if pivot == "src" else "src"
    e = edges.select(F.col(pivot).alias("p"), F.col(other).alias("s")).distinct()
    a, b = e.alias("a"), e.alias("b")
    cn = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(F.count("*").alias("cn"))
    )
    # integer floor-div, not /2.0: n_squares can pass 2^53 at real
    # scale, where a double-divide would silently lose exactness
    return cn.agg(
        F.coalesce(F.sum(F.col("cn") * (F.col("cn") - 1)), F.lit(0)).alias("s2"),
        F.count("*").alias("n_codiag_pairs"),
    ).select(
        F.expr("s2 div 2").alias("n_squares"), "n_codiag_pairs"
    )
