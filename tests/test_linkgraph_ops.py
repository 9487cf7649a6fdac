"""L2 goldens + unit tests for the round-4 link-graph additions:
HITS (graph/power.py), k-core (graph/kcore.py), link-prediction
features (graph/linkpred.py) and window-1 adjacency extraction
(extract.extract_adjacency_edges).

NetworkX is the golden where its implementation is pure Python
(core_number, the link-prediction generators); HITS uses the pure
Python oracle in graph_helpers (networkx.hits needs scipy, absent
in this sandbox)."""

import functools
import math

import networkx as nx
import pytest

from graph_helpers import hits_oracle, random_graph, to_spark_edges

from sparkgatha.extract import extract_adjacency_edges
from sparkgatha.graph import (
    core_numbers,
    hits,
    k_core,
    link_prediction_features,
)


@pytest.fixture(scope="module")
def triples():
    return random_graph(n=80, m=220, seed=11)


def _directed(spark, triples):
    """Directed a<b Spark edges + the matching (u, v) pair list."""
    return (
        to_spark_edges(spark, triples, symmetric=False),
        [(a, b) for a, b, _ in triples],
    )


# ---------------------------------------------------------------------------
# HITS
# ---------------------------------------------------------------------------


def test_hits_fixed_rounds_match_oracle(spark, triples):
    """Strict semantic check: after exactly k rounds the engine equals
    the pure-Python L1-normalized iterate to fp precision."""
    edges, pairs = _directed(spark, triples)
    res = hits(edges, max_iter=15, tol=0.0)
    oh, oa, _ = hits_oracle(pairs, max_iter=15)
    got = {r["vertex"]: (r["hub"], r["authority"]) for r in res.scores.collect()}
    assert set(got) == set(oh)
    for v in oh:
        assert abs(got[v][0] - oh[v]) < 1e-12, v
        assert abs(got[v][1] - oa[v]) < 1e-12, v
    assert res.iterations == 15


def test_hits_converges_and_sums_to_one(spark, triples):
    edges, pairs = _directed(spark, triples)
    res = hits(edges, max_iter=100, tol=1e-10)
    assert res.iterations < 100  # converged, not exhausted
    assert res.delta <= 1e-10
    rows = res.scores.collect()
    assert abs(sum(r["hub"] for r in rows) - 1.0) < 1e-9
    assert abs(sum(r["authority"] for r in rows) - 1.0) < 1e-9
    oh, oa, _ = hits_oracle(pairs, max_iter=500, tol=1e-13)
    got = {r["vertex"]: (r["hub"], r["authority"]) for r in rows}
    for v in oh:
        assert abs(got[v][0] - oh[v]) < 1e-6
        assert abs(got[v][1] - oa[v]) < 1e-6


def test_hits_pure_sink_and_source(spark):
    """A source-only vertex ends with 0 authority, a sink-only vertex
    with 0 hub — and both still appear in the output."""
    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0)], "src long, dst long, weight double"
    )
    got = {
        r["vertex"]: (r["hub"], r["authority"])
        for r in hits(edges, max_iter=20, tol=0.0).scores.collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1][1] == 0.0  # no in-edges → no authority
    assert got[3][0] == 0.0  # no out-edges → no hub


def test_hits_fixed_round_delta_finite(spark, triples):
    """delta must be a real number in fixed-round mode (it is the G13
    convergence metric)."""
    edges, _ = _directed(spark, triples)
    res = hits(edges, max_iter=6, tol=0.0)
    assert math.isfinite(res.delta) and res.delta >= 0.0
    assert res.iterations == 6


def test_hits_tol_mode_raises_when_unconverged(spark, triples):
    """tol mode never returns a truncated vector: max_iter rounds
    without reaching tol raise, naming the operator."""
    edges, _ = _directed(spark, triples)
    with pytest.raises(RuntimeError, match="hits did not reach"):
        hits(edges, max_iter=2, tol=1e-15)


def test_hits_rejects_bad_max_iter(spark):
    edges = spark.createDataFrame([(1, 2, 1.0)], "src long, dst long, weight double")
    with pytest.raises(ValueError, match="max_iter"):
        hits(edges, max_iter=0)


# ---------------------------------------------------------------------------
# k-core
# ---------------------------------------------------------------------------


def test_k_core_matches_networkx(spark, triples):
    g = nx.Graph()
    g.add_edges_from((a, b) for a, b, _ in triples)
    edges = to_spark_edges(spark, triples, symmetric=False)
    for k in (2, 3, 4, 5):
        want = nx.k_core(g, k)
        got = {r["vertex"]: r["core_degree"] for r in k_core(edges, k).collect()}
        assert set(got) == set(want.nodes), f"k={k}"
        for v, d in dict(want.degree()).items():
            assert got[v] == d, f"k={k} v={v}"


def test_core_numbers_match_networkx(spark, triples):
    g = nx.Graph()
    g.add_edges_from((a, b) for a, b, _ in triples)
    edges = to_spark_edges(spark, triples, symmetric=False)
    got = {r["vertex"]: r["core"] for r in core_numbers(edges).collect()}
    assert got == nx.core_number(g)


def test_k_core_empty_when_k_exceeds_degeneracy(spark, triples):
    edges = to_spark_edges(spark, triples, symmetric=False)
    assert k_core(edges, k=1000).count() == 0


def test_k_core_rejects_bad_k(spark):
    edges = spark.createDataFrame([(1, 2, 1.0)], "src long, dst long, weight double")
    with pytest.raises(ValueError, match="k must be"):
        k_core(edges, k=0)


def test_k_core_long_chain_peels_to_fixpoint(spark):
    """A 120-vertex path at k=2 strips only its two endpoints per
    synchronous round (~60 waves) — a silent round cap would label
    mid-path vertices as a fake 2-core.  Default mode must run to
    fixpoint: the 2-core of a path is empty and every core number 1."""
    n = 120
    triples = [(i, i + 1, 1.0) for i in range(n - 1)]
    edges = to_spark_edges(spark, triples, symmetric=False)
    assert k_core(edges, k=2).count() == 0
    got = {r["vertex"]: r["core"] for r in core_numbers(edges).collect()}
    assert got == {v: 1 for v in range(n)}


def test_k_core_fixed_round_mode_truncates_at_bound(spark):
    """Explicit integer max_iter = the documented oracle mode: exactly
    that many peel rounds, silent stop (relational.py:q_k_core relies
    on round-for-round parity with the unrolled SQL peel)."""
    triples = [(i, i + 1, 1.0) for i in range(9)]
    edges = to_spark_edges(spark, triples, symmetric=False)
    # 10-vertex path, k=2, one round: only the two endpoints peel off
    got = {r["vertex"] for r in k_core(edges, k=2, max_iter=1).collect()}
    assert got == set(range(1, 9))


def test_k_core_assume_canonical_matches_default(spark, triples):
    """random_graph triples are already distinct canonical a<b pairs, so
    the shuffle-skipping path must produce the identical core."""
    edges = to_spark_edges(spark, triples, symmetric=False)
    base = {(r["vertex"], r["core_degree"]) for r in k_core(edges, 3).collect()}
    fast = {
        (r["vertex"], r["core_degree"])
        for r in k_core(edges, 3, assume_canonical=True).collect()
    }
    assert base == fast


# ---------------------------------------------------------------------------
# link prediction
# ---------------------------------------------------------------------------


def test_linkpred_matches_networkx(spark, triples):
    g = nx.Graph()
    g.add_edges_from((a, b) for a, b, _ in triples)
    edges = to_spark_edges(spark, triples, symmetric=False)
    got = {
        (r["src"], r["dst"]): r
        for r in link_prediction_features(edges).collect()
    }
    # candidate set: exactly the non-adjacent 2-hop pairs
    want_pairs = set()
    for z in g:
        nbrs = sorted(g[z])
        for i, a in enumerate(nbrs):
            for b in nbrs[i + 1 :]:
                if not g.has_edge(a, b):
                    want_pairs.add((min(a, b), max(a, b)))
    assert set(got) == want_pairs
    eb = sorted(want_pairs)
    for (a, b, j), (_, _, aa), (_, _, pa) in zip(
        nx.jaccard_coefficient(g, eb),
        nx.adamic_adar_index(g, eb),
        nx.preferential_attachment(g, eb),
    ):
        r = got[(a, b)]
        assert r["common_neighbors"] == len(
            list(nx.common_neighbors(g, a, b))
        )
        assert abs(r["jaccard"] - j) < 1e-12
        assert abs(r["adamic_adar"] - aa) < 1e-12
        assert r["pref_attachment"] == pa


def test_linkpred_hub_cap_bounds_candidates(spark):
    """A star hub is the only witness for its leaf pairs: capping below
    the hub degree removes the O(deg^2) wedge work (and those pairs);
    uncapped, every leaf pair is a candidate."""
    n_leaves = 30
    rows = [(0, i, 1.0) for i in range(1, n_leaves + 1)]
    edges = spark.createDataFrame(rows, "src long, dst long, weight double")
    exact = link_prediction_features(edges)
    assert exact.count() == n_leaves * (n_leaves - 1) // 2
    capped = link_prediction_features(edges, hub_degree_cap=n_leaves - 1)
    assert capped.count() == 0
    # scores on the exact path: every leaf pair has exactly the hub in
    # common; deg(leaf)=1 so jaccard = 1/(1+1-1), aa = 1/ln(n_leaves)
    row = exact.limit(1).collect()[0]
    assert row["common_neighbors"] == 1
    assert abs(row["jaccard"] - 1.0) < 1e-12
    assert abs(row["adamic_adar"] - 1.0 / math.log(n_leaves)) < 1e-12
    assert row["pref_attachment"] == 1


# ---------------------------------------------------------------------------
# window-1 adjacency extraction
# ---------------------------------------------------------------------------


def test_adjacency_edges_semantics(spark):
    """Stopword neighbors DROP the pair (no bridging); weights count
    occurrences; pairs are canonical src < dst."""
    docs = spark.createDataFrame(
        [
            ("x y z y x",),   # pairs: xy yz zy yx → (x,y)*2 (y,z)*2
            ("x the z",),     # 'the' kills both its pairs
            ("w w q",),       # self-pair dropped, (q,w) kept
            ("",),            # empty text → nothing
        ],
        "text string",
    )
    got = {
        (r["src"], r["dst"]): r["weight"]
        for r in extract_adjacency_edges(docs).collect()
    }
    assert got == {("x", "y"): 2, ("y", "z"): 2, ("q", "w"): 1}


# ---------------------------------------------------------------------------
# clustering coefficient + random walks (round-4 continuation)
# ---------------------------------------------------------------------------

from sparkgatha.graph import clustering_coefficients, random_walks  # noqa: E402


def test_clustering_coefficients_match_networkx(spark, triples):
    g = nx.Graph()
    g.add_edges_from((a, b) for a, b, _ in triples)
    edges = to_spark_edges(spark, triples, symmetric=False)
    want = nx.clustering(g)
    got = {
        r["vertex"]: r["clustering"]
        for r in clustering_coefficients(edges).collect()
    }
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12, v


def test_clustering_covers_self_loop_only_vertices(spark):
    """triangle_counts and clustering_coefficients must agree on vertex
    coverage: a vertex whose only edge is a self-loop (dropped by
    canonicalization) appears in BOTH outputs, zero-filled (regression:
    clustering used to omit it)."""
    from sparkgatha.graph.triangles import triangle_counts, triangle_profile

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, 1.0), (5, 5, 1.0)],
        "src long, dst long, weight double",
    )
    tc = {r["vertex"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    cc = {r["vertex"]: r["clustering"]
          for r in clustering_coefficients(edges).collect()}
    assert set(tc) == set(cc) == {1, 2, 5}
    assert tc[5] == 0 and cc[5] == 0.0
    prof = {r["vertex"]: (r["n_triangles"], r["clustering"])
            for r in triangle_profile(edges).collect()}
    assert prof == {v: (tc[v], cc[v]) for v in tc}


def test_random_walks_follow_edges_and_are_deterministic(spark, triples):
    edges = to_spark_edges(spark, triples, symmetric=True)
    adj = {(a, b) for a, b, _ in triples} | {(b, a) for a, b, _ in triples}
    rows = random_walks(edges, length=5, seed=3).collect()
    rows2 = random_walks(edges, length=5, seed=3).collect()
    key = lambda r: (r["walk_id"], r["step"], r["vertex"])  # noqa: E731
    assert sorted(map(key, rows)) == sorted(map(key, rows2))
    walks = {}
    for r in rows:
        walks.setdefault(r["walk_id"], {})[r["step"]] = r["vertex"]
    n_vertices = len({v for e in adj for v in e})
    assert len(walks) == n_vertices  # one walk per vertex with out-edges
    for wid, seq in walks.items():
        assert set(seq) == set(range(6)), wid  # symmetric graph: no sinks
        start = int(wid.split("#")[0])
        assert seq[0] == start, wid
        for t in range(1, 6):
            assert (seq[t - 1], seq[t]) in adj, (wid, t)


def test_random_walks_seed_changes_paths(spark, triples):
    edges = to_spark_edges(spark, triples, symmetric=True)
    a = {(r["walk_id"], r["step"], r["vertex"])
         for r in random_walks(edges, length=5, seed=0).collect()}
    b = {(r["walk_id"], r["step"], r["vertex"])
         for r in random_walks(edges, length=5, seed=1).collect()}
    assert a != b


def test_random_walks_stop_at_sinks(spark):
    # directed chain 1→2→3: the walk from 3 has no hop rows, the walk
    # from 2 ends after one hop, the walk from 1 after two
    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0)], "src long, dst long, weight double"
    )
    rows = random_walks(edges, length=5).collect()
    by_walk = {}
    for r in rows:
        by_walk.setdefault(r["walk_id"], []).append((r["step"], r["vertex"]))
    # vertex 3 has no out-edges, so no walk starts there
    assert set(by_walk) == {"1#0", "2#0"}
    assert sorted(by_walk["1#0"]) == [(0, 1), (1, 2), (2, 3)]
    assert sorted(by_walk["2#0"]) == [(0, 2), (1, 3)]


def test_random_walks_multiple_walks_per_vertex(spark, triples):
    edges = to_spark_edges(spark, triples, symmetric=True)
    rows = random_walks(edges, length=2, walks_per_vertex=3).collect()
    ids = {r["walk_id"] for r in rows}
    starts = {w.split("#")[0] for w in ids}
    assert all(w.split("#")[1] in {"0", "1", "2"} for w in ids)
    assert len(ids) == 3 * len(starts)


def test_random_walks_reject_bad_args(spark):
    edges = spark.createDataFrame([(1, 2, 1.0)], "src long, dst long, weight double")
    with pytest.raises(ValueError, match="length"):
        random_walks(edges, length=0)
    with pytest.raises(ValueError, match="walks_per_vertex"):
        random_walks(edges, length=1, walks_per_vertex=0)


def test_random_walk_step_reuses_stationary_layout(spark):
    """The at-scale (SMJ) walk step must read the persisted
    adjacency-list table with no Exchange above the cache: only the
    O(#walks) frontier side shuffles, and the step is a join + O(1)
    array index — NO per-neighbor row expansion and NO aggregation
    (mirrors the G11 PageRank layout contract; the naive
    neighbor-explode form is O(deg) rows per walk at a hub)."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        edges = spark.createDataFrame(
            [(i, (i * 7 + 1) % 50, 1.0) for i in range(200)],
            "src long, dst long, weight double",
        )
        adj = (
            edges.select("src", "dst")
            .groupBy("src")
            .agg(F.sort_array(F.collect_set("dst")).alias("nbrs"))
            .withColumn("deg", F.size("nbrs"))
            .repartition(n_part, "src")
            .sortWithinPartitions("src")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        adj.count()
        try:
            frontier = (
                adj.select(F.col("src").alias("walk_id"), F.col("src").alias("cur"))
                .localCheckpoint()
            )
            idx = (
                F.pmod(
                    F.conv(
                        F.substring(F.md5(F.col("walk_id").cast("string")), 1, 15),
                        16,
                        10,
                    ).cast("bigint"),
                    F.col("deg"),
                )
                + 1
            ).cast("int")
            step = frontier.join(adj, frontier.cur == adj.src).select(
                "walk_id", F.element_at("nbrs", idx).alias("cur")
            )
            plan = step._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "InMemoryTableScan" in plan
            # the list build's collect_set agg lives INSIDE the cached
            # relation; the step itself is a join + O(1) array index —
            # no argmin aggregation, no exchange on the adjacency side
            above_cache = plan.split("InMemoryRelation", 1)[0]
            assert "Aggregate" not in above_cache
            for line in above_cache.splitlines():
                if "Exchange hashpartitioning" in line:
                    assert "walk_id" in line or "cur" in line, line
        finally:
            adj.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_random_walks_max_neighbors_cap(spark):
    """cap=1 keeps only the lexicographically smallest neighbor, so
    every hop is forced onto it — deterministic and SQL-mirrorable."""
    edges = spark.createDataFrame(
        [(1, 9, 1.0), (1, 2, 1.0), (9, 1, 1.0), (2, 1, 1.0)],
        "src long, dst long, weight double",
    )
    rows = random_walks(edges, length=3, max_neighbors=1).collect()
    seq = {}
    for r in rows:
        seq.setdefault(r["walk_id"], {})[r["step"]] = r["vertex"]
    # from 1 the only stored neighbor is 2 (smallest); from 2 it is 1
    assert seq["1#0"] == {0: 1, 1: 2, 2: 1, 3: 2}
    with pytest.raises(ValueError, match="max_neighbors"):
        random_walks(edges, length=1, max_neighbors=0)


def test_ego_hops_bounds_radius_and_counts_hops(spark):
    """Path 0-1-2-3-4-5 (symmetric), seed 0, radius 2: exactly
    {0,1,2} with exact hop counts — vertices beyond the radius are
    never touched (BFS-layer semantics, no post-filter)."""
    from sparkgatha.graph.paths import ego_hops

    triples = [(i, i + 1, 1.0) for i in range(5)]
    edges = to_spark_edges(spark, triples, symmetric=True)
    got = {r["vertex"]: r["hop"] for r in ego_hops(edges, 0, hops=2).collect()}
    assert got == {0: 0, 1: 1, 2: 2}
    with pytest.raises(ValueError, match="hops"):
        ego_hops(edges, 0, hops=0)


# ---------------------------------------------------------------------------
# betweenness centrality
# ---------------------------------------------------------------------------

from sparkgatha.graph import betweenness  # noqa: E402


def test_betweenness_exact_matches_networkx(spark):
    """All-sources mode reproduces
    networkx.betweenness_centrality(normalized=False) on the undirected
    graph to fp precision."""
    triples = random_graph(n=40, m=90, seed=5)
    g = nx.Graph()
    g.add_edges_from((a, b) for a, b, _ in triples)
    edges = to_spark_edges(spark, triples, symmetric=True)
    want = nx.betweenness_centrality(g, normalized=False)
    got = {
        r["vertex"]: r["betweenness"] for r in betweenness(edges).collect()
    }
    assert set(got) == set(want)
    for v in want:
        assert math.isclose(got[v], want[v], rel_tol=1e-9, abs_tol=1e-9), v


def test_betweenness_sampled_is_deterministic_and_scales(spark):
    triples = random_graph(n=40, m=90, seed=5)
    edges = to_spark_edges(spark, triples, symmetric=True)
    a = {r["vertex"]: r["betweenness"]
         for r in betweenness(edges, n_sources=10).collect()}
    b = {r["vertex"]: r["betweenness"]
         for r in betweenness(edges, n_sources=10).collect()}
    assert a == b  # md5-pivot sampling: no RNG, bit-identical reruns
    # k >= n degenerates to the exact computation
    n = len({v for t in triples for v in t[:2]})
    exact = {r["vertex"]: r["betweenness"]
             for r in betweenness(edges).collect()}
    full = {r["vertex"]: r["betweenness"]
            for r in betweenness(edges, n_sources=n).collect()}
    for v in exact:
        assert math.isclose(full[v], exact[v], rel_tol=1e-9, abs_tol=1e-9), v


def test_betweenness_path_graph_values(spark):
    """Path 0-1-2-3-4: interior betweenness is (i)(n-1-i) pairs."""
    triples = [(i, i + 1, 1.0) for i in range(4)]
    edges = to_spark_edges(spark, triples, symmetric=True)
    got = {r["vertex"]: r["betweenness"] for r in betweenness(edges).collect()}
    assert got == {0: 0.0, 1: 3.0, 2: 4.0, 3: 3.0, 4: 0.0}


def test_betweenness_rejects_bad_sources(spark):
    edges = spark.createDataFrame([(1, 2, 1.0)], "src long, dst long, weight double")
    with pytest.raises(ValueError, match="n_sources"):
        betweenness(edges, n_sources=0)


# ---------------------------------------------------------------------------
# graph statistics: assortativity + modularity
# ---------------------------------------------------------------------------

from sparkgatha.graph.stats import degree_assortativity, modularity  # noqa: E402


def test_degree_assortativity_matches_networkx(spark, triples):
    g = nx.Graph()
    g.add_edges_from((a, b) for a, b, _ in triples)
    edges = to_spark_edges(spark, triples, symmetric=True)
    got = degree_assortativity(edges).collect()[0]["assortativity"]
    want = nx.degree_assortativity_coefficient(g)
    assert math.isclose(got, want, rel_tol=1e-12, abs_tol=1e-12)


def test_degree_assortativity_regular_graph_is_null(spark):
    """A regular graph has zero degree variance — NULL, not a crash
    (ANSI divide-by-zero is the failure mode try_divide guards)."""
    cyc = [(i, (i + 1) % 6, 1.0) for i in range(6)]
    edges = to_spark_edges(spark, cyc, symmetric=True)
    assert degree_assortativity(edges).collect()[0]["assortativity"] is None


def test_modularity_matches_networkx(spark, triples):
    from networkx.algorithms import community as nxc

    g = nx.Graph()
    g.add_edges_from((a, b) for a, b, _ in triples)
    parts = nxc.greedy_modularity_communities(g)
    want = nxc.modularity(g, parts)
    lab = [(v, i) for i, p in enumerate(parts) for v in p]
    edges = to_spark_edges(spark, triples, symmetric=True)
    labels = spark.createDataFrame(lab, "vertex long, label long")
    got = modularity(edges, labels).collect()[0]["modularity"]
    assert math.isclose(got, want, rel_tol=1e-12, abs_tol=1e-12)


def test_modularity_single_community_is_zero(spark, triples):
    verts = sorted({v for t in triples for v in t[:2]})
    edges = to_spark_edges(spark, triples, symmetric=True)
    labels = spark.createDataFrame([(v, 0) for v in verts],
                                   "vertex long, label long")
    got = modularity(edges, labels).collect()[0]["modularity"]
    assert abs(got) < 1e-12


# ---------------------------------------------------------------------------
# strongly connected components + neighborhood function (ANF)
# ---------------------------------------------------------------------------

from sparkgatha.graph.neighborhood import (  # noqa: E402
    hop_neighborhood_exact,
    neighborhood_function,
)
from sparkgatha.graph.scc import strongly_connected_components  # noqa: E402


def _nx_scc_labels(edge_list):
    g = nx.DiGraph(edge_list)
    want = {}
    for comp in nx.strongly_connected_components(g):
        m = min(comp)
        for v in comp:
            want[v] = m
    return want


def _digraph_triples(n, m, seed):
    import random as _r

    _r.seed(seed)
    es = set()
    while len(es) < m:
        a, b = _r.randrange(n), _r.randrange(n)
        if a != b:
            es.add((a, b))
    return sorted(es)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_scc_matches_networkx_random(spark, seed):
    es = _digraph_triples(60, 90, seed)
    df = spark.createDataFrame([(a, b, 1.0) for a, b in es],
                               "src long, dst long, weight double")
    got = {r["vertex"]: r["scc_id"]
           for r in strongly_connected_components(df).collect()}
    assert got == _nx_scc_labels(es)


def test_scc_shapes(spark):
    """Two cycles bridged one-way + tail; decreasing path (adversarial
    for the coloring round count); a single big cycle."""
    for es in (
        [(1, 2), (2, 3), (3, 1), (3, 10), (10, 11), (11, 12), (12, 10),
         (12, 20)],
        [(i + 1, i) for i in range(10)],
        [(i, (i + 1) % 12) for i in range(12)],
    ):
        df = spark.createDataFrame([(a, b, 1.0) for a, b in es],
                                   "src long, dst long, weight double")
        got = {r["vertex"]: r["scc_id"]
               for r in strongly_connected_components(df).collect()}
        assert got == _nx_scc_labels(es)


def test_scc_round_rails_raise(spark, monkeypatch):
    """Under a 3-round cap the decreasing path (9 singleton SCCs; its
    first coloring needs 9 rounds) raises naming the loop, never
    returns a partial labeling."""
    from sparkgatha.graph import rounds, scc

    monkeypatch.setattr(
        scc, "fixpoint_rounds",
        functools.partial(rounds.fixpoint_rounds, cap=3),
    )
    es = [(i + 1, i) for i in range(8)]
    df = spark.createDataFrame([(a, b, 1.0) for a, b in es],
                               "src long, dst long, weight double")
    with pytest.raises(RuntimeError, match="scc_color did not reach"):
        strongly_connected_components(df)


def test_hop_neighborhood_exact_matches_networkx(spark):
    es = _digraph_triples(80, 200, 7)
    df = spark.createDataFrame([(a, b, 1.0) for a, b in es],
                               "src long, dst long, weight double")
    g = nx.DiGraph(es)
    for hops in (0, 1, 3):
        got = {r["vertex"]: r["n_reach"]
               for r in hop_neighborhood_exact(df, hops).collect()}
        want = {v: len(nx.single_source_shortest_path_length(g, v,
                                                             cutoff=hops))
                for v in g}
        assert got == want, f"hops={hops}"


def test_neighborhood_sketch_within_error_band(spark):
    """HLL estimates stay within 5% of the exact ball sizes (lgk=12 is
    ~1.6% standard error; small balls are exact via the sparse mode)."""
    es = _digraph_triples(150, 600, 9)
    df = spark.createDataFrame([(a, b, 1.0) for a, b in es],
                               "src long, dst long, weight double")
    exact = {r["vertex"]: r["n_reach"]
             for r in hop_neighborhood_exact(df, 2).collect()}
    est = {r["vertex"]: r["est_reach"]
           for r in neighborhood_function(df, 2).collect()}
    assert set(est) == set(exact)
    for v, n in exact.items():
        assert abs(est[v] - n) <= max(1, 0.05 * n), (v, est[v], n)


def test_neighborhood_rejects_bad_hops(spark):
    df = spark.createDataFrame([(1, 2, 1.0)],
                               "src long, dst long, weight double")
    with pytest.raises(ValueError, match="hops"):
        hop_neighborhood_exact(df, -1)
    with pytest.raises(ValueError, match="hops"):
        neighborhood_function(df, -1)


def test_extract_adjacency_directed_keeps_order(spark):
    docs = spark.createDataFrame(
        [(1, "x y z y x"), (2, "z y")], "doc_id long, text string"
    )
    got = {(r["src"], r["dst"]): r["weight"]
           for r in extract_adjacency_edges(docs, directed=True).collect()}
    assert got == {("x", "y"): 1.0, ("y", "z"): 1.0, ("z", "y"): 2.0,
                   ("y", "x"): 1.0}


def test_harmonic_centrality_matches_networkx(spark):
    """Full-diameter bounded run equals
    networkx.harmonic_centrality(G.reverse()) (the OUT-direction sum)."""
    from sparkgatha.graph.neighborhood import harmonic_centrality

    es = _digraph_triples(50, 120, 5)
    df = spark.createDataFrame([(a, b, 1.0) for a, b in es],
                               "src long, dst long, weight double")
    got = {r["vertex"]: r["harmonic"]
           for r in harmonic_centrality(df, hops=60).collect()}
    want = nx.harmonic_centrality(nx.DiGraph(es).reverse())
    assert set(got) == set(want)
    for v in want:
        assert math.isclose(got[v], want[v], rel_tol=1e-12, abs_tol=1e-12), v


def test_harmonic_centrality_rejects_bad_hops(spark):
    from sparkgatha.graph.neighborhood import harmonic_centrality

    df = spark.createDataFrame([(1, 2, 1.0)],
                               "src long, dst long, weight double")
    with pytest.raises(ValueError, match="hops"):
        harmonic_centrality(df, 0)


# ---------------------------------------------------------------------------
# k-truss
# ---------------------------------------------------------------------------

from sparkgatha.graph.truss import k_truss  # noqa: E402


@pytest.mark.parametrize("k", [3, 4, 5])
def test_k_truss_matches_networkx(spark, k):
    es = _digraph_triples(40, 200, 4)
    es = sorted({tuple(sorted(e)) for e in es})
    df = spark.createDataFrame([(a, b, 1.0) for a, b in es],
                               "src long, dst long, weight double")
    rows = k_truss(df, k).collect()
    t = nx.k_truss(nx.Graph(es), k)
    want = {tuple(sorted(e)) for e in t.edges()}
    assert {(r["u"], r["v"]) for r in rows} == want
    # final support = common-neighbor count within the truss
    for r in rows:
        assert r["support"] == len(set(t[r["u"]]) & set(t[r["v"]])), r


def test_k_truss_k5_with_pendant_path(spark):
    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    df = spark.createDataFrame(
        [(a, b, 1.0) for a, b in k5 + [(4, 10), (10, 11)]],
        "src long, dst long, weight double",
    )
    got = {(r["u"], r["v"]) for r in k_truss(df, 5).collect()}
    assert got == set(k5)  # the pendant path peels, the clique survives


def test_k_truss_rejects_bad_k(spark):
    df = spark.createDataFrame([(1, 2, 1.0)],
                               "src long, dst long, weight double")
    with pytest.raises(ValueError, match="k must be"):
        k_truss(df, 1)


def test_k_truss_fixed_round_mode_truncates(spark):
    """Integer max_iter = the oracle mode: exactly that many peel
    rounds.  One round of k=4 on a triangle chain drops only the edges
    with support < 2 at the ORIGINAL supports."""
    # two triangles sharing edge (1,2): (1,2) has support 2, rest 1
    es = [(1, 2), (1, 3), (2, 3), (1, 4), (2, 4)]
    df = spark.createDataFrame([(a, b, 1.0) for a, b in es],
                               "src long, dst long, weight double")
    got = {(r["u"], r["v"]) for r in k_truss(df, 4, max_iter=1).collect()}
    assert got == {(1, 2)}  # after one round; fixpoint would be empty
    assert k_truss(df, 4).count() == 0


def _truss_peel_reference(es, k, rounds):
    """Synchronous peel in pure Python: {(u, v): support} after at
    most ``rounds`` rounds, support counted within the kept edges."""
    kept = {tuple(sorted(e)) for e in es if e[0] != e[1]}

    def support(edge_set):
        adj = {}
        for a, b in edge_set:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        return {e: len(adj[e[0]] & adj[e[1]]) for e in edge_set}

    for _ in range(rounds):
        s = support(kept)
        kept = {e for e in kept if s[e] >= k - 2}
    return support(kept)


def test_k_truss_fixed_rounds_match_reference_every_round(spark):
    """Every fixed round count up to the fixpoint equals the pure-Python
    synchronous peel, edges AND supports — including edges still in
    E_N whose last triangle died in round N (support 0)."""
    es = [(0, 4), (0, 7), (0, 9), (1, 2), (1, 4), (1, 5), (1, 6), (1, 9),
          (2, 4), (2, 5), (2, 7), (2, 8), (3, 4), (3, 7), (3, 8), (4, 6),
          (4, 7), (5, 6), (5, 7), (5, 8), (7, 8), (7, 9)]
    df = spark.createDataFrame([(a, b, 1.0) for a, b in es],
                               "src long, dst long, weight double")
    fixpoint = _truss_peel_reference(es, 4, len(es))
    rounds = next(n for n in range(1, len(es))
                  if _truss_peel_reference(es, 4, n) == fixpoint)
    assert rounds >= 3  # the graph needs a multi-round cascade
    assert 0 in _truss_peel_reference(es, 4, 1).values()
    for n in range(1, rounds + 1):
        got = {(r["u"], r["v"]): r["support"]
               for r in k_truss(df, 4, max_iter=n).collect()}
        assert got == _truss_peel_reference(es, 4, n), n


def test_scc_self_loops_are_singletons(spark):
    """A self-loop-only vertex is a singleton SCC, not an absent row."""
    loop = spark.createDataFrame([(5, 5, 1.0), (1, 2, 1.0)],
                                 "src long, dst long, weight double")
    got = {r["vertex"]: r["scc_id"]
           for r in strongly_connected_components(loop).collect()}
    assert got == {1: 1, 2: 2, 5: 5}


def test_neighborhood_ops_cover_self_loop_only_vertices(spark):
    """hop/harmonic/sketch all keep a self-loop-only vertex as a row
    (reach = itself, harmonic 0.0) — networkx coverage semantics."""
    from sparkgatha.graph.neighborhood import harmonic_centrality

    df = spark.createDataFrame([(1, 1, 1.0), (2, 3, 1.0)],
                               "src long, dst long, weight double")
    hop = {r["vertex"]: r["n_reach"]
           for r in hop_neighborhood_exact(df, 1).collect()}
    assert hop == {1: 1, 2: 2, 3: 1}
    harm = {r["vertex"]: r["harmonic"]
            for r in harmonic_centrality(df, 2).collect()}
    assert harm == {1: 0.0, 2: 1.0, 3: 0.0}
    est = {r["vertex"]: r["est_reach"]
           for r in neighborhood_function(df, 1).collect()}
    assert set(est) == {1, 2, 3} and est[1] == 1


def test_k_truss_rejects_zero_rounds(spark):
    df = spark.createDataFrame([(1, 2, 1.0)],
                               "src long, dst long, weight double")
    with pytest.raises(ValueError, match="max_iter"):
        k_truss(df, 4, max_iter=0)


def test_modularity_rejects_incomplete_partition(spark):
    from sparkgatha.graph.stats import modularity as _mod

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, 1.0), (2, 3, 1.0), (3, 2, 1.0)],
        "src long, dst long, weight double",
    )
    labels = spark.createDataFrame([(1, 0), (2, 0)],  # vertex 3 missing
                                   "vertex long, label long")
    with pytest.raises(ValueError, match="partition"):
        _mod(edges, labels).collect()


# ---------------------------------------------------------------------------
# eigenvector centrality
# ---------------------------------------------------------------------------

from graph_helpers import (  # noqa: E402
    eigenvector_oracle,
    nx_graph,
    undirected_both,
)

from sparkgatha.graph.power import eigenvector_centrality  # noqa: E402


def test_eigenvector_fixed_rounds_match_oracle(spark, triples):
    """Strict semantic check: after exactly k rounds the engine equals
    the pure-Python L1-normalized (A + I) iterate to fp precision."""
    edges = to_spark_edges(spark, triples, symmetric=True)
    res = eigenvector_centrality(edges, max_iter=12, tol=0.0)
    want, _ = eigenvector_oracle(undirected_both(triples), max_iter=12)
    got = {r["vertex"]: r["score"] for r in res.scores.collect()}
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12, v
    assert res.iterations == 12


def test_eigenvector_converged_matches_networkx(spark, triples):
    """Converged direction equals networkx.eigenvector_centrality
    (weighted) after rescaling our L1-normalized vector to unit L2 —
    scalar normalization never changes the iterate's direction."""
    edges = to_spark_edges(spark, triples, symmetric=True)
    res = eigenvector_centrality(edges, max_iter=500, tol=1e-13)
    assert res.iterations < 500  # converged, not exhausted
    rows = res.scores.collect()
    assert abs(sum(r["score"] for r in rows) - 1.0) < 1e-9
    l2 = math.sqrt(sum(r["score"] ** 2 for r in rows))
    got = {r["vertex"]: r["score"] / l2 for r in rows}
    want = nx.eigenvector_centrality(
        nx_graph(triples), max_iter=1000, tol=1e-12, weight="weight"
    )
    for v in want:
        assert abs(got[v] - want[v]) < 1e-7, v


def test_eigenvector_bipartite_converges(spark):
    """A 4-path is bipartite: plain A·x oscillates with period 2, the
    +I shift converges — and to the known P4 principal eigenvector."""
    es = [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0)]
    edges = to_spark_edges(spark, es, symmetric=True)
    res = eigenvector_centrality(edges, max_iter=300, tol=1e-12)
    assert res.iterations < 300
    rows = res.scores.collect()
    l2 = math.sqrt(sum(r["score"] ** 2 for r in rows))
    got = {r["vertex"]: r["score"] / l2 for r in rows}
    want = nx.eigenvector_centrality(nx.path_graph([1, 2, 3, 4]),
                                     max_iter=1000, tol=1e-12)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-7, v


def test_eigenvector_simple_graph_collapses_duplicates(spark):
    """weighted=False must collapse parallel rows to ONE unit entry,
    not weight-sum them — duplicated edges change nothing."""
    base = [(1, 2, 5.0), (2, 3, 0.5)]
    once = to_spark_edges(spark, base, symmetric=True)
    twice = once.unionByName(once)
    a = {r["vertex"]: r["score"]
         for r in eigenvector_centrality(
             once, max_iter=8, tol=0.0, weighted=False).scores.collect()}
    b = {r["vertex"]: r["score"]
         for r in eigenvector_centrality(
             twice, max_iter=8, tol=0.0, weighted=False).scores.collect()}
    assert a.keys() == b.keys()
    for v in a:
        assert abs(a[v] - b[v]) < 1e-15, v
    # and unweighted really ignores the 10x weight spread
    want, _ = eigenvector_oracle(
        undirected_both(base), max_iter=8, weighted=False)
    for v in want:
        assert abs(a[v] - want[v]) < 1e-12, v


def test_eigenvector_rejects_bad_args(spark):
    edges = spark.createDataFrame([(1, 2, 1.0)],
                                  "src long, dst long, weight double")
    with pytest.raises(ValueError, match="max_iter"):
        eigenvector_centrality(edges, max_iter=0)


def test_eigenvector_tol_mode_raises_when_unconverged(spark, triples):
    edges = to_spark_edges(spark, triples, symmetric=True)
    with pytest.raises(
        RuntimeError, match="eigenvector_centrality did not reach"
    ):
        eigenvector_centrality(edges, max_iter=2, tol=1e-15)


# ---------------------------------------------------------------------------
# edge similarity (SNN profile — the adjacent-pair dual of linkpred)
# ---------------------------------------------------------------------------

from sparkgatha.graph.linkpred import edge_similarity  # noqa: E402


def test_edge_similarity_matches_networkx(spark, triples):
    """One row per undirected edge; all four scores equal the NetworkX
    generators evaluated on the EXISTING edges."""
    g = nx.Graph()
    g.add_edges_from((a, b) for a, b, _ in triples)
    edges = to_spark_edges(spark, triples, symmetric=False)
    got = {
        (r["src"], r["dst"]): r for r in edge_similarity(edges).collect()
    }
    want_pairs = {(min(a, b), max(a, b)) for a, b, _ in triples}
    assert set(got) == want_pairs
    eb = sorted(want_pairs)
    for (a, b, j), (_, _, aa), (_, _, pa) in zip(
        nx.jaccard_coefficient(g, eb),
        nx.adamic_adar_index(g, eb),
        nx.preferential_attachment(g, eb),
    ):
        r = got[(a, b)]
        assert r["common_neighbors"] == len(list(nx.common_neighbors(g, a, b)))
        assert abs(r["jaccard"] - j) < 1e-12
        assert abs(r["adamic_adar"] - aa) < 1e-12
        assert r["pref_attachment"] == pa


def test_edge_similarity_zero_support_bridge(spark):
    """A bridge between two triangles has NO shared neighbors — it must
    still appear, zero-filled (the wedge join alone would drop it)."""
    es = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    df = spark.createDataFrame([(a, b, 1.0) for a, b in es],
                               "src long, dst long, weight double")
    got = {(r["src"], r["dst"]): r for r in edge_similarity(df).collect()}
    assert set(got) == set(es)
    bridge = got[(3, 4)]
    assert bridge["common_neighbors"] == 0
    assert bridge["jaccard"] == 0.0
    assert bridge["adamic_adar"] == 0.0
    assert bridge["pref_attachment"] == 9  # deg(3) = deg(4) = 3
    # intra-triangle edges have exactly one witness each
    assert got[(1, 2)]["common_neighbors"] == 1


def test_edge_similarity_support_equals_truss_support(spark, triples):
    """common_neighbors IS the k-truss edge support: k_truss(k=2) peels
    nothing, so its per-edge support must agree edge-for-edge."""
    df = to_spark_edges(spark, triples, symmetric=False)
    sim = {(r["src"], r["dst"]): r["common_neighbors"]
           for r in edge_similarity(df).collect()}
    tr = {(r["u"], r["v"]): r["support"]
          for r in k_truss(df, 2).collect()}
    assert sim == tr


# ---------------------------------------------------------------------------
# minimum spanning forest (Borůvka)
# ---------------------------------------------------------------------------

from sparkgatha.graph.mst import minimum_spanning_forest  # noqa: E402


def test_msf_matches_networkx_kruskal(spark, triples):
    """random_graph weights are distinct (continuous rng), so the MST
    is unique — exact edge-set equality with NetworkX Kruskal."""
    edges = to_spark_edges(spark, triples, symmetric=False)
    got = {(r["u"], r["v"]): r["weight"]
           for r in minimum_spanning_forest(edges).collect()}
    g = nx_graph(triples)
    want = {tuple(sorted((a, b))): d["weight"]
            for a, b, d in nx.minimum_spanning_edges(g, data=True)}
    assert got == want
    # spanning-forest size invariant
    assert len(got) == g.number_of_nodes() - nx.number_connected_components(g)


def test_msf_disconnected_forest(spark):
    """Two islands: the result is a forest — one tree per component,
    |E| = |V| - #components, and the cross-island pair never appears."""
    left = random_graph(n=30, m=60, seed=3)
    right = [(a + 100, b + 100, w) for a, b, w in random_graph(n=25, m=50, seed=4)]
    edges = to_spark_edges(spark, left + right, symmetric=True)
    rows = minimum_spanning_forest(edges).collect()
    g = nx_graph(left + right)
    assert len(rows) == g.number_of_nodes() - nx.number_connected_components(g)
    want = {tuple(sorted((a, b))) for a, b in
            nx.minimum_spanning_tree(g).edges()}
    assert {(r["u"], r["v"]) for r in rows} == want


def test_msf_tie_break_is_weight_then_endpoints(spark):
    """All-equal weights on a 4-cycle: the (weight, u, v) total order
    keeps (1,2), (1,4), (2,3) and drops (3,4) — deterministic, and the
    total weight matches NetworkX (every MST has the same weight)."""
    es = [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0), (1, 4, 1.0)]
    edges = to_spark_edges(spark, es, symmetric=False)
    got = {(r["u"], r["v"]) for r in minimum_spanning_forest(edges).collect()}
    assert got == {(1, 2), (1, 4), (2, 3)}


def test_msf_parallel_edges_and_self_loops(spark):
    """Self-loops are dropped; parallel edges collapse to the lightest."""
    rows = [(1, 1, 0.1), (1, 2, 5.0), (2, 1, 2.0), (2, 3, 1.0), (3, 2, 4.0)]
    edges = spark.createDataFrame(rows, "src long, dst long, weight double")
    got = {(r["u"], r["v"]): r["weight"]
           for r in minimum_spanning_forest(edges).collect()}
    assert got == {(1, 2): 2.0, (2, 3): 1.0}


def test_msf_empty_and_single_edge(spark):
    empty = spark.createDataFrame([], "src long, dst long, weight double")
    assert minimum_spanning_forest(empty).count() == 0
    only_loops = spark.createDataFrame([(7, 7, 1.0)],
                                       "src long, dst long, weight double")
    assert minimum_spanning_forest(only_loops).count() == 0
    one = spark.createDataFrame([(1, 2, 3.5)],
                                "src long, dst long, weight double")
    assert [tuple(r) for r in minimum_spanning_forest(one).collect()] == [
        (1, 2, 3.5)
    ]


def test_q_msf_fixture_matches_python_kruskal(spark):
    """Value check for the rows-only registry entry: replay the same
    inverted-weight bigram graph through a pure-Python Kruskal under
    the engine's (weight, u, v) total order — with ties (inverse counts
    collide), edge-set equality pins the tie-break, not just the
    weight sum."""
    import os

    from sparkgatha.extract import extract_adjacency_edges
    from sparkgatha.relational import REGISTRY, read_table

    sf_dir = os.environ.get(
        "SPARKGATHA_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    d = read_table(spark, sf_dir, "documents")
    sampled = d.filter(
        "substring(md5(cast(doc_id as string)), 1, 1) < '2'"
    )
    ew = [
        (r["src"], r["dst"], 1.0 / r["weight"])
        for r in extract_adjacency_edges(sampled, text_col="text").collect()
    ]
    # pure-Python Kruskal with union-find over the same total order
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    want = {}
    for w, u, v in sorted(
        (w, min(a, b), max(a, b)) for a, b, w in ew
    ):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            want[(u, v)] = w
    got = {
        (r["u"], r["v"]): r["weight"]
        for r in REGISTRY["q_msf"].fn(spark, sf_dir).collect()
    }
    # edge sets must agree exactly; weights within the 6-digit rounding
    # the registry applies (Spark F.round is HALF_UP, Python round is
    # HALF_EVEN — comparing rounded-to-rounded would flake on any
    # exactly-half-way 1/count weight)
    assert set(got) == set(want)
    for uv, w in want.items():
        assert abs(got[uv] - w) <= 6e-7, uv


def test_eigenvector_self_loops_kept_and_loop_only_vertex_covered(spark):
    """The repo's vertex-coverage rule: a self-loop-only vertex gets a
    ROW; and a loop's weight lands on the diagonal of A (NetworkX
    semantics), boosting its owner."""
    es = [(7, 7, 1.0), (1, 2, 1.0), (2, 1, 1.0)]
    df = spark.createDataFrame(es, "src long, dst long, weight double")
    got = {r["vertex"]: r["score"]
           for r in eigenvector_centrality(df, max_iter=10,
                                           tol=0.0).scores.collect()}
    assert set(got) == {1, 2, 7}
    want, _ = eigenvector_oracle(es, max_iter=10)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12, v
    # weighted diagonal parity with networkx on a looped triangle —
    # the loop is passed ONCE (its two orientations coincide; the
    # docstring's symmetrize caveat), non-loop edges both ways
    es2 = [(1, 1, 3.0), (1, 2, 1.0), (2, 3, 1.0), (1, 3, 1.0)]
    g = nx.Graph()
    for a, b, w in es2:
        g.add_edge(a, b, weight=w)
    rows2 = [(a, b, w) for a, b, w in es2] + [
        (b, a, w) for a, b, w in es2 if a != b
    ]
    edges2 = spark.createDataFrame(rows2, "src long, dst long, weight double")
    res = eigenvector_centrality(edges2, max_iter=400, tol=1e-13)
    rows = res.scores.collect()
    l2 = math.sqrt(sum(r["score"] ** 2 for r in rows))
    nxw = nx.eigenvector_centrality(g, max_iter=2000, tol=1e-12,
                                    weight="weight")
    for r in rows:
        assert abs(r["score"] / l2 - nxw[r["vertex"]]) < 1e-7, r["vertex"]


# ---------------------------------------------------------------------------
# maximal independent set (deterministic Luby)
# ---------------------------------------------------------------------------

from graph_helpers import mis_oracle  # noqa: E402

from sparkgatha.graph.mis import maximal_independent_set  # noqa: E402


def test_mis_matches_python_oracle_to_the_round(spark, triples):
    """Exact semantic check: vertex set AND join-round of every member
    equal the pure-Python pinned rule, fixpoint mode."""
    edges = to_spark_edges(spark, triples, symmetric=False)
    got = {r["vertex"]: r["round"]
           for r in maximal_independent_set(edges, seed=7).collect()}
    assert got == mis_oracle([(a, b) for a, b, _ in triples], seed=7)


def test_mis_fixed_rounds_is_prefix_of_fixpoint(spark, triples):
    edges = to_spark_edges(spark, triples, symmetric=False)
    fix = {r["vertex"]: r["round"]
           for r in maximal_independent_set(edges, seed=7).collect()}
    two = {r["vertex"]: r["round"]
           for r in maximal_independent_set(edges, seed=7,
                                            max_rounds=2).collect()}
    assert two == {v: r for v, r in fix.items() if r <= 2}
    assert two == mis_oracle([(a, b) for a, b, _ in triples], seed=7,
                             max_rounds=2)


def test_mis_independent_and_maximal(spark, triples):
    """The two defining properties, against the NetworkX graph."""
    g = nx.Graph()
    g.add_edges_from((a, b) for a, b, _ in triples)
    edges = to_spark_edges(spark, triples, symmetric=False)
    mis = {r["vertex"]
           for r in maximal_independent_set(edges, seed=3).collect()}
    for u, v in g.edges():
        assert not (u in mis and v in mis), (u, v)  # independent
    for v in g:
        assert v in mis or any(n in mis for n in g[v]), v  # maximal


def test_mis_partitioning_invariant(spark, triples):
    edges = to_spark_edges(spark, triples, symmetric=False)
    a = {(r["vertex"], r["round"])
         for r in maximal_independent_set(
             edges.repartition(2), seed=1).collect()}
    b = {(r["vertex"], r["round"])
         for r in maximal_independent_set(
             edges.repartition(16), seed=1).collect()}
    assert a == b


def test_mis_loop_only_vertex_and_empty(spark):
    df = spark.createDataFrame([(7, 7, 1.0), (1, 2, 1.0)],
                               "src long, dst long, weight double")
    got = {r["vertex"]: r["round"]
           for r in maximal_independent_set(df).collect()}
    assert got[7] == 1  # isolated-by-loop vertex wins round 1
    assert set(got) == {7} | ({1} if 1 in got else {2})
    empty = spark.createDataFrame([], "src long, dst long, weight double")
    assert maximal_independent_set(empty).count() == 0
    with pytest.raises(ValueError, match="max_rounds"):
        maximal_independent_set(df, max_rounds=0)


# ---------------------------------------------------------------------------
# condensation (SCC DAG)
# ---------------------------------------------------------------------------

from sparkgatha.graph.scc import condensation  # noqa: E402


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_condensation_matches_networkx(spark, seed):
    """Edge set equals networkx.condensation after mapping nx's dense
    SCC numbers to min-member labels — and the result is a DAG."""
    es = _digraph_triples(60, 150, seed)
    df = spark.createDataFrame([(a, b, 1.0) for a, b in es],
                               "src long, dst long, weight double")
    got = {(r["src_scc"], r["dst_scc"]) for r in condensation(df).collect()}
    g = nx.DiGraph(es)
    c = nx.condensation(g)
    lab = {i: min(members) for i, members in c.nodes(data="members")}
    want = {(lab[a], lab[b]) for a, b in c.edges()}
    assert got == want
    assert nx.is_directed_acyclic_graph(nx.DiGraph(got))


def test_condensation_single_cycle_collapses_to_point(spark):
    """A pure cycle is one SCC: the condensation has no edges."""
    es = [(i, (i + 1) % 6) for i in range(6)]
    df = spark.createDataFrame([(a, b, 1.0) for a, b in es],
                               "src long, dst long, weight double")
    assert condensation(df).count() == 0


# ---------------------------------------------------------------------------
# Luby-MIS greedy coloring
# ---------------------------------------------------------------------------

from sparkgatha.graph.mis import luby_coloring  # noqa: E402


def _coloring_replay(pairs, seed=0):
    """Pure-Python replay of luby_coloring's pinned rule: per color c,
    the mis_oracle of the remaining edged subgraph (seed + c) plus any
    remaining edge-free vertices."""
    verts = {x for e in pairs for x in e[:2]}
    edges = {(u, v) for u, v, *_ in [e for e in pairs] if u != v}
    colors = {}
    c = 0
    while verts:
        c += 1
        sub = [(u, v) for u, v in edges if u in verts and v in verts]
        cls = set(mis_oracle(sub, seed=seed + c))
        edged = {x for e in sub for x in e}
        cls |= verts - edged  # isolated remainder joins this class
        for v in cls:
            colors[v] = c
        verts -= cls
    return colors


def test_luby_coloring_matches_python_replay(spark, triples):
    edges = to_spark_edges(spark, triples, symmetric=False)
    got = {r["vertex"]: r["color"]
           for r in luby_coloring(edges, seed=5).collect()}
    assert got == _coloring_replay([(a, b) for a, b, _ in triples], seed=5)


def test_luby_coloring_is_proper_and_total(spark, triples):
    g = nx.Graph()
    g.add_edges_from((a, b) for a, b, _ in triples)
    edges = to_spark_edges(spark, triples, symmetric=False)
    got = {r["vertex"]: r["color"]
           for r in luby_coloring(edges, seed=1).collect()}
    assert set(got) == set(g.nodes)  # every vertex colored exactly once
    for u, v in g.edges():
        assert got[u] != got[v], (u, v)  # proper
    # each class is independent AND (by MIS maximality) class 1 is
    # maximal: every other vertex has a class-1 neighbor
    c1 = {v for v, c in got.items() if c == 1}
    for v in set(g.nodes) - c1:
        assert any(n in c1 for n in g[v]), v


def test_luby_coloring_prefix_and_bad_args(spark, triples):
    edges = to_spark_edges(spark, triples, symmetric=False)
    full = {r["vertex"]: r["color"]
            for r in luby_coloring(edges, seed=5).collect()}
    two = {r["vertex"]: r["color"]
           for r in luby_coloring(edges, seed=5, max_colors=2).collect()}
    assert two == {v: c for v, c in full.items() if c <= 2}
    with pytest.raises(ValueError, match="max_colors"):
        luby_coloring(edges, max_colors=0)


# ---------------------------------------------------------------------------
# Katz centrality
# ---------------------------------------------------------------------------

from graph_helpers import katz_oracle, undirected_both  # noqa: E402

from sparkgatha.graph.power import katz_centrality, katz_l2  # noqa: E402


def test_katz_fixed_rounds_match_oracle(spark, triples):
    """Strict semantic check: after exactly k rounds the engine equals
    the pure-Python affine iterate (zero start, un-normalized) to fp
    precision."""
    edges = to_spark_edges(spark, triples, symmetric=True)
    res = katz_centrality(edges, alpha=0.05, beta=1.0, max_iter=8, tol=0.0)
    want = katz_oracle(undirected_both(triples), alpha=0.05, beta=1.0,
                       max_iter=8)
    got = {r["vertex"]: r["score"] for r in res.scores.collect()}
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12, v
    assert res.iterations == 8


def test_katz_converged_matches_networkx(spark, triples):
    """Converged L2-rescaled vector equals networkx.katz_centrality
    (normalized=True) on the weighted undirected graph."""
    edges = to_spark_edges(spark, triples, symmetric=True)
    res = katz_centrality(edges, alpha=0.05, beta=1.0, max_iter=500,
                          tol=1e-13)
    assert res.iterations < 500  # converged, not exhausted
    got = {r["vertex"]: r["score"] for r in katz_l2(res).collect()}
    want = nx.katz_centrality(
        nx_graph(triples), alpha=0.05, beta=1.0, max_iter=5000, tol=1e-12,
        normalized=True, weight="weight",
    )
    for v in want:
        assert abs(got[v] - want[v]) < 1e-7, v


def test_katz_in_degree_zero_holds_beta_floor(spark):
    """A source-only vertex accumulates no walk mass: its score is
    exactly beta every round (the resurrection-join contract)."""
    es = [(1, 2, 1.0), (2, 3, 1.0)]
    edges = spark.createDataFrame(es, "src long, dst long, weight double")
    res = katz_centrality(edges, alpha=0.1, beta=2.5, max_iter=6, tol=0.0)
    got = {r["vertex"]: r["score"] for r in res.scores.collect()}
    assert got[1] == 2.5
    assert got[2] == 2.5 + 0.1 * 2.5
    want = katz_oracle(es, alpha=0.1, beta=2.5, max_iter=6)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-15, v


def test_katz_simple_graph_collapses_duplicates(spark):
    """weighted=False must collapse parallel rows to ONE unit entry."""
    base = [(1, 2, 5.0), (2, 3, 0.5)]
    once = to_spark_edges(spark, base, symmetric=True)
    twice = once.unionByName(once)
    a = {r["vertex"]: r["score"]
         for r in katz_centrality(
             once, alpha=0.1, max_iter=6, tol=0.0,
             weighted=False).scores.collect()}
    b = {r["vertex"]: r["score"]
         for r in katz_centrality(
             twice, alpha=0.1, max_iter=6, tol=0.0,
             weighted=False).scores.collect()}
    assert a == b
    want = katz_oracle(undirected_both(base), alpha=0.1, max_iter=6,
                       weighted=False)
    for v in want:
        assert abs(a[v] - want[v]) < 1e-12, v


def test_katz_divergent_alpha_raises(spark, triples):
    """tol-driven mode must RAISE on a diverging series (alpha beyond
    the spectral bound), never return the blowing-up vector."""
    edges = to_spark_edges(spark, triples, symmetric=True)
    with pytest.raises(RuntimeError, match="katz_centrality did not reach"):
        katz_centrality(edges, alpha=2.0, beta=1.0, max_iter=15, tol=1e-8)


def test_katz_rejects_bad_args(spark):
    edges = spark.createDataFrame([(1, 2, 1.0)],
                                  "src long, dst long, weight double")
    with pytest.raises(ValueError, match="max_iter"):
        katz_centrality(edges, max_iter=0)
    with pytest.raises(ValueError, match="alpha"):
        katz_centrality(edges, alpha=0.0)


# ---------------------------------------------------------------------------
# closeness centrality
# ---------------------------------------------------------------------------

from sparkgatha.graph.neighborhood import closeness_centrality  # noqa: E402


@pytest.mark.parametrize("wf", [True, False])
def test_closeness_matches_networkx(spark, wf):
    """Full-diameter bounded run equals
    networkx.closeness_centrality(G.reverse()) — the OUT direction, both
    Wasserman-Faust modes."""
    es = _digraph_triples(50, 120, 5)
    df = spark.createDataFrame([(a, b, 1.0) for a, b in es],
                               "src long, dst long, weight double")
    got = {r["vertex"]: r["closeness"]
           for r in closeness_centrality(df, hops=60,
                                         wf_improved=wf).collect()}
    want = nx.closeness_centrality(nx.DiGraph(es).reverse(), wf_improved=wf)
    assert set(got) == set(want)
    for v in want:
        assert math.isclose(got[v], want[v], rel_tol=1e-12, abs_tol=1e-12), v


def test_closeness_rejects_bad_hops(spark):
    df = spark.createDataFrame([(1, 2, 1.0)],
                               "src long, dst long, weight double")
    with pytest.raises(ValueError, match="hops"):
        closeness_centrality(df, 0)


# ---------------------------------------------------------------------------
# transitivity / reciprocity
# ---------------------------------------------------------------------------

from sparkgatha.graph.stats import reciprocity, transitivity  # noqa: E402


def test_transitivity_matches_networkx(spark, triples):
    g = nx.Graph()
    g.add_edges_from((a, b) for a, b, _ in triples)
    edges = to_spark_edges(spark, triples, symmetric=True)
    got = transitivity(edges).collect()[0]["transitivity"]
    assert math.isclose(got, nx.transitivity(g), rel_tol=1e-12)


def test_transitivity_triangle_free_is_zero(spark):
    """Star graph: many wedges, zero triangles → 0.0 (the NetworkX
    convention), not NULL."""
    es = [(0, i, 1.0) for i in range(1, 8)]
    edges = to_spark_edges(spark, es, symmetric=True)
    assert transitivity(edges).collect()[0]["transitivity"] == 0.0


def test_reciprocity_matches_networkx(spark):
    """Mutual-pair fraction incl. the self-loop rule: loops stay in the
    denominator but never count as reciprocated."""
    es = [(1, 2), (2, 1), (1, 3), (3, 4), (4, 3), (5, 5)]
    df = spark.createDataFrame([(a, b, 1.0) for a, b in es],
                               "src long, dst long, weight double")
    got = reciprocity(df).collect()[0]["reciprocity"]
    want = nx.overall_reciprocity(nx.DiGraph(es))
    assert math.isclose(got, want, rel_tol=1e-12)
    assert got == 4 / 6


def test_reciprocity_empty_is_null(spark):
    df = spark.createDataFrame([], "src long, dst long, weight double")
    assert reciprocity(df).collect()[0]["reciprocity"] is None


# ---------------------------------------------------------------------------
# maximal matching / vertex cover
# ---------------------------------------------------------------------------

from graph_helpers import matching_oracle  # noqa: E402

from sparkgatha.graph.matching import maximal_matching, vertex_cover  # noqa: E402


def test_matching_matches_python_oracle_to_the_round(spark, triples):
    edges = to_spark_edges(spark, triples, symmetric=False)
    got = {(r["u"], r["v"]): r["round"]
           for r in maximal_matching(edges, seed=3).collect()}
    want = matching_oracle([(a, b) for a, b, _ in triples], seed=3)
    assert got == want


def test_matching_fixed_rounds_is_prefix_of_fixpoint(spark, triples):
    edges = to_spark_edges(spark, triples, symmetric=False)
    full = {(r["u"], r["v"]): r["round"]
            for r in maximal_matching(edges, seed=3).collect()}
    two = {(r["u"], r["v"]): r["round"]
           for r in maximal_matching(edges, seed=3, max_rounds=2).collect()}
    assert two == {e: r for e, r in full.items() if r <= 2}
    with pytest.raises(ValueError, match="max_rounds"):
        maximal_matching(edges, max_rounds=0)


def test_matching_is_valid_and_maximal(spark, triples):
    """Endpoint-disjoint (valid) and every input edge touches a matched
    endpoint (maximal)."""
    edges = to_spark_edges(spark, triples, symmetric=False)
    m = [(r["u"], r["v"]) for r in maximal_matching(edges, seed=7).collect()]
    eps = [x for e in m for x in e]
    assert len(eps) == len(set(eps))  # valid: no endpoint reused
    cover = set(eps)
    for a, b, _ in triples:
        if a != b:
            assert a in cover or b in cover, (a, b)  # maximal


def test_matching_partitioning_invariant(spark, triples):
    base = to_spark_edges(spark, triples, symmetric=False)
    a = {(r["u"], r["v"]): r["round"]
         for r in maximal_matching(base, seed=1).collect()}
    b = {(r["u"], r["v"]): r["round"]
         for r in maximal_matching(base.repartition(7), seed=1).collect()}
    assert a == b


def test_matching_loops_and_empty(spark):
    """Self-loops can never match; an edge-free input gives an empty
    matching with the right schema."""
    loops = spark.createDataFrame([(1, 1, 1.0), (1, 2, 1.0)],
                                  "src long, dst long, weight double")
    m = [(r["u"], r["v"]) for r in maximal_matching(loops).collect()]
    assert m == [(1, 2)]
    empty = spark.createDataFrame([], "src long, dst long, weight double")
    out = maximal_matching(empty)
    assert out.count() == 0
    assert set(out.columns) == {"u", "v", "round"}


def test_vertex_cover_covers_and_is_2x_matching(spark, triples):
    """The cover is exactly the matched endpoints (|C| = 2|M|) and hits
    every edge — the textbook 2-approximation certificate."""
    edges = to_spark_edges(spark, triples, symmetric=False)
    m = maximal_matching(edges, seed=0).collect()
    cover = {r["vertex"] for r in vertex_cover(edges, seed=0).collect()}
    assert len(cover) == 2 * len(m)
    for a, b, _ in triples:
        if a != b:
            assert a in cover or b in cover, (a, b)


# ---------------------------------------------------------------------------
# densest subgraph (BKV threshold peel)
# ---------------------------------------------------------------------------

from itertools import combinations  # noqa: E402

from graph_helpers import densest_oracle  # noqa: E402

from sparkgatha.graph.densest import densest_subgraph  # noqa: E402


def test_densest_matches_python_oracle(spark, triples):
    """Fixpoint run equals the pure-Python BKV replay vertex-for-vertex
    (degrees included), plus the bookkeeping scalars."""
    edges = to_spark_edges(spark, triples, symmetric=False)
    res = densest_subgraph(edges, epsilon=0.1)
    want, wrho, wround, wrounds = densest_oracle(
        [(a, b) for a, b, _ in triples], epsilon=0.1
    )
    got = {r["vertex"]: r["deg"] for r in res.vertices.collect()}
    assert got == want
    assert math.isclose(res.density, wrho, rel_tol=1e-12)
    assert (res.best_round, res.rounds) == (wround, wrounds)


def test_densest_fixed_rounds_match_oracle(spark, triples):
    edges = to_spark_edges(spark, triples, symmetric=False)
    res = densest_subgraph(edges, epsilon=0.1, max_rounds=2)
    want, wrho, wround, _ = densest_oracle(
        [(a, b) for a, b, _ in triples], epsilon=0.1, max_rounds=2
    )
    got = {r["vertex"]: r["deg"] for r in res.vertices.collect()}
    assert got == want and res.best_round == wround


def test_densest_approximation_bound_vs_bruteforce(spark):
    """On a small graph the returned density is within 2(1+ε) of the
    EXACT densest subgraph (brute force over all vertex subsets) — the
    BKV guarantee, checked end-to-end.  The planted 5-clique plus a
    sparse fringe makes the optimum non-trivial."""
    es = [(a, b, 1.0) for a, b in combinations(range(5), 2)]
    es += [(0, 5, 1.0), (5, 6, 1.0), (6, 7, 1.0), (3, 8, 1.0), (8, 9, 1.0)]
    nodes = sorted({x for e in es for x in e[:2]})
    pairs = {(a, b) for a, b, _ in es}
    best_exact = 0.0
    for k in range(1, len(nodes) + 1):
        for sub in combinations(nodes, k):
            s = set(sub)
            m = sum(1 for a, b in pairs if a in s and b in s)
            best_exact = max(best_exact, m / len(s))
    eps = 0.1
    res = densest_subgraph(to_spark_edges(spark, es, symmetric=False),
                           epsilon=eps)
    assert res.density >= best_exact / (2 * (1 + eps)) - 1e-12
    # and the reported density is the actual density of the returned set
    rows = res.vertices.collect()
    s = {r["vertex"] for r in rows}
    m = sum(1 for a, b in pairs if a in s and b in s)
    assert math.isclose(res.density, m / len(s), rel_tol=1e-12)
    for r in rows:
        assert r["deg"] == sum(1 for a, b in pairs
                               if (a == r["vertex"] and b in s)
                               or (b == r["vertex"] and a in s))


def test_densest_clique_is_kept_whole(spark):
    """An isolated clique beside a long path: the clique IS the densest
    subgraph and the peel must return exactly it."""
    es = [(a, b, 1.0) for a, b in combinations(range(100, 106), 2)]
    es += [(i, i + 1, 1.0) for i in range(20)]
    res = densest_subgraph(to_spark_edges(spark, es, symmetric=False),
                           epsilon=0.5)
    got = {r["vertex"] for r in res.vertices.collect()}
    assert got == set(range(100, 106))
    assert math.isclose(res.density, 15 / 6, rel_tol=1e-12)


def test_densest_empty_and_bad_args(spark):
    empty = spark.createDataFrame([], "src long, dst long, weight double")
    res = densest_subgraph(empty)
    assert res.vertices.count() == 0 and res.density == 0.0
    one = spark.createDataFrame([(1, 2, 1.0)],
                                "src long, dst long, weight double")
    with pytest.raises(ValueError, match="epsilon"):
        densest_subgraph(one, epsilon=0.0)
    with pytest.raises(ValueError, match="max_rounds"):
        densest_subgraph(one, max_rounds=-1)


# ---------------------------------------------------------------------------
# G35 rich-club coefficient
# ---------------------------------------------------------------------------


def test_rich_club_matches_networkx(spark, triples):
    from sparkgatha.graph.stats import rich_club

    g = nx.Graph()
    g.add_edges_from((a, b) for a, b, _ in triples)
    got = {r.k: r.phi for r in rich_club(
        to_spark_edges(spark, triples, symmetric=True)).collect()}
    want = nx.rich_club_coefficient(g, normalized=False)
    assert set(got) == set(want)
    for k in want:
        assert math.isclose(got[k], want[k], rel_tol=1e-12, abs_tol=1e-12)


def test_rich_club_star_and_clique(spark):
    """A star has no club (phi(0) counts every edge, phi(1) has only the
    hub above degree 1 → no k=1 row); a clique is all-club (phi ≡ 1)."""
    from sparkgatha.graph.stats import rich_club

    star = [(0, i, 1.0) for i in range(1, 6)]
    got = {r.k: r.phi for r in rich_club(
        to_spark_edges(spark, star, symmetric=True)).collect()}
    assert set(got) == {0}  # N_1 = 1 (just the hub) -> dropped
    clique = [(a, b, 1.0) for a in range(5) for b in range(a + 1, 5)]
    got_c = {r.k: r.phi for r in rich_club(
        to_spark_edges(spark, clique, symmetric=True)).collect()}
    assert set(got_c) == {0, 1, 2, 3} and all(v == 1.0 for v in got_c.values())


# ---------------------------------------------------------------------------
# G36 bipartite 2-coloring / odd-cycle detection
# ---------------------------------------------------------------------------


def test_bipartite_matches_networkx_parity(spark, triples):
    """Colors equal the parity of nx shortest-path distance from each
    component's min-id root; conflict-emptiness equals nx.is_bipartite."""
    from sparkgatha.graph.bipartite import bipartite_color

    g = nx.Graph()
    g.add_edges_from((a, b) for a, b, _ in triples)
    r = bipartite_color(to_spark_edges(spark, triples, symmetric=True))
    got = {row.vertex: (row.component, row.dist, row.color)
           for row in r.colors.collect()}
    assert set(got) == set(g.nodes)
    for comp_nodes in nx.connected_components(g):
        root = min(comp_nodes)
        dist = nx.single_source_shortest_path_length(g, root)
        for v in comp_nodes:
            assert got[v] == (root, dist[v], dist[v] % 2), v
    assert (r.conflicts.count() == 0) == nx.is_bipartite(g)


def test_bipartite_odd_cycle_and_even_cycle(spark):
    from sparkgatha.graph.bipartite import bipartite_color

    odd = [(i, (i + 1) % 5, 1.0) for i in range(5)]
    r = bipartite_color(to_spark_edges(spark, odd, symmetric=True))
    w = r.conflicts.collect()
    assert len(w) == 1 and {w[0].u, w[0].v} == {2, 3}  # farthest from root 0
    even = [(i, (i + 1) % 6, 1.0) for i in range(6)]
    r2 = bipartite_color(to_spark_edges(spark, even, symmetric=True))
    assert r2.conflicts.count() == 0
    # two components, each colored from its own root
    both = even + [(10 + i, 10 + (i + 1) % 3, 1.0) for i in range(3)]
    r3 = bipartite_color(to_spark_edges(spark, both, symmetric=True))
    assert r3.conflicts.count() == 1
    comps = {row.component for row in r3.colors.collect()}
    assert comps == {0, 10}


def test_bipartite_max_iter_rail(spark):
    from sparkgatha.graph.bipartite import bipartite_color

    path = [(i, i + 1, 1.0) for i in range(9)]  # diameter 9 from root 0
    with pytest.raises(RuntimeError, match="max_iter"):
        bipartite_color(to_spark_edges(spark, path, symmetric=True),
                        max_iter=3)
    ok = bipartite_color(to_spark_edges(spark, path, symmetric=True),
                         max_iter=12)
    assert ok.conflicts.count() == 0


def test_cum_over_k_gap_chunking(spark):
    """The gap-ranged chunked explode covers [0, max) exactly once and
    matches the brute-force cumulative even when a gap spans many
    chunks (the hub-degree case the chunk bound exists for)."""
    from sparkgatha.graph.stats import _cum_over_k

    hist = spark.createDataFrame(
        [(1, 10), (3, 5), (19, 2)], ["d", "n"]
    )
    got = {r.k: r.total for r in _cum_over_k(hist, "d", "n", chunk=4).collect()}
    want = {k: sum(n for d, n in [(1, 10), (3, 5), (19, 2)] if d > k)
            for k in range(19)}
    assert got == want


# ---------------------------------------------------------------------------
# Condensation layering (G23c) and hop-plot / effective diameter (G22b)
# ---------------------------------------------------------------------------

from sparkgatha.graph.scc import condensation_layers  # noqa: E402
from sparkgatha.graph.neighborhood import (  # noqa: E402
    effective_diameter,
    hop_plot,
)


def _nx_condensation_layers(es):
    """min-member SCC label -> longest-path layer, via networkx."""
    g = nx.DiGraph(es)
    g.add_nodes_from({v for e in es for v in e})
    c = nx.condensation(g)
    lab = {i: min(m) for i, m in c.nodes(data="members")}
    layer = {i: 0 for i in c.nodes()}
    for u in nx.topological_sort(c):
        for v in c.successors(u):
            layer[v] = max(layer[v], layer[u] + 1)
    return {lab[i]: h for i, h in layer.items()}


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_condensation_layers_matches_networkx(spark, seed):
    es = _digraph_triples(60, 150, seed)
    df = spark.createDataFrame([(a, b, 1.0) for a, b in es],
                               "src long, dst long, weight double")
    got = {r["scc_id"]: r["layer"]
           for r in condensation_layers(df).collect()}
    assert got == _nx_condensation_layers(es)


def test_condensation_layers_chain_of_cycles(spark):
    """cycle{1,2} -> 3 -> cycle{4,5}: layers 0/1/2."""
    es = [(1, 2), (2, 1), (2, 3), (3, 4), (4, 5), (5, 4)]
    df = spark.createDataFrame([(a, b, 1.0) for a, b in es],
                               "src long, dst long, weight double")
    got = {r["scc_id"]: r["layer"]
           for r in condensation_layers(df).collect()}
    assert got == {1: 0, 3: 1, 4: 2}


def test_hop_plot_path_graph_exact(spark):
    """Directed path 0->1->2->3: 3 pairs at hop 1, 2 at hop 2, 1 at
    hop 3; fractions cumulate over the 6 connected ordered pairs."""
    es = [(0, 1), (1, 2), (2, 3)]
    df = spark.createDataFrame([(a, b, 1.0) for a, b in es],
                               "src long, dst long, weight double")
    rows = {r["hop"]: r for r in hop_plot(df, hops=5).collect()}
    assert {(h, rows[h]["pairs"], rows[h]["cum_pairs"]) for h in rows} == {
        (1, 3, 3), (2, 2, 5), (3, 1, 6),
    }
    assert abs(rows[3]["frac"] - 1.0) < 1e-12
    assert abs(rows[1]["frac"] - 0.5) < 1e-12
    # q=0.9 lands between hop 2 (5/6) and hop 3 (6/6): 2 + (0.9-5/6)*6
    d = effective_diameter(df, hops=5, q=0.9)
    assert abs(d - (2 + (0.9 - 5 / 6) / (1 / 6))) < 1e-9
    with pytest.raises(ValueError):
        effective_diameter(df, hops=5, q=0.0)


@pytest.mark.parametrize("seed", [3, 4])
def test_hop_plot_matches_networkx(spark, seed):
    es = _digraph_triples(40, 80, seed)
    df = spark.createDataFrame([(a, b, 1.0) for a, b in es],
                               "src long, dst long, weight double")
    g = nx.DiGraph(es)
    want = {}
    for v in g:
        for u, d in nx.single_source_shortest_path_length(
            g, v, cutoff=6
        ).items():
            if d > 0:
                want[d] = want.get(d, 0) + 1
    got = {r["hop"]: r["pairs"] for r in hop_plot(df, hops=6).collect()}
    assert got == want


def test_powerlaw_alpha_matches_pure_python_mle(spark):
    """alpha/sigma equal the hand-computed Clauset MLE over the degree
    list to fp precision; the empty tail yields the NULL convention;
    dmin validates."""
    import math

    import pytest

    from sparkgatha.graph.stats import powerlaw_alpha

    # star(0; 1..5) plus a 5-6-7 path: degrees 5,2,2,1,1,1,1,1,1
    edges = [(0, i) for i in range(1, 6)] + [(5, 6), (6, 7)]
    e = spark.createDataFrame(edges, ["src", "dst"])

    row = powerlaw_alpha(e, dmin=2).collect()[0]
    degs = {}
    for u, v in edges:
        degs[u] = degs.get(u, 0) + 1
        degs[v] = degs.get(v, 0) + 1
    tail = [d for d in degs.values() if d >= 2]
    s = sum(math.log(d / 1.5) for d in tail)
    alpha = 1.0 + len(tail) / s
    assert row.dmin == 2 and row.n_tail == len(tail)
    assert abs(row.alpha - alpha) < 1e-12
    assert abs(row.sigma - (alpha - 1.0) / math.sqrt(len(tail))) < 1e-12

    # every vertex below dmin: one row, NULL alpha/sigma
    empty = powerlaw_alpha(e, dmin=10).collect()[0]
    assert empty.n_tail == 0 and empty.alpha is None and empty.sigma is None

    with pytest.raises(ValueError):
        powerlaw_alpha(e, dmin=0)


def test_biased_walks_match_pure_python_replay(spark):
    """node2vec-biased walks equal a pure-Python replay of the exact
    rule (first-order step 1, exponential-race steps ≥ 2) on a graph
    where all three weight classes fire; every hop follows an edge;
    guards validate."""
    import hashlib
    import math

    import pytest

    from sparkgatha.graph.walks import biased_walks

    # two triangles joined by a bridge: returns, triangle moves, and
    # explore moves all occur
    und = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5), (3, 5)]
    pairs = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(
        [(str(a), str(b)) for a, b in pairs], ["src", "dst"]
    )
    p_, q_, seed, length = 2.0, 0.5, 7, 4

    def md5int(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    adj = {}
    for a, b in pairs:
        adj.setdefault(str(a), set()).add(str(b))
    nbrs = {v: sorted(ns) for v, ns in adj.items()}

    expect = {}
    for v in nbrs:
        wid = f"{v}#0"
        seq = [v]
        cur = nbrs[v][md5int(f"{wid}:1:{seed}") % len(nbrs[v])]
        seq.append(cur)
        prev = v
        for t in range(2, length + 1):
            best = None
            for n in nbrs[cur]:
                if n == prev:
                    w = 1.0 / p_
                elif n in adj[prev]:
                    w = 1.0
                else:
                    w = 1.0 / q_
                u = (md5int(f"{wid}:{t}:{seed}:{n}") + 1) / float(1 << 60)
                k = (-math.log(u)) / w
                if best is None or (k, n) < best:
                    best = (k, n)
            prev, cur = cur, best[1]
            seq.append(cur)
        expect[wid] = seq

    got = {}
    for r in biased_walks(edges, length=length, p=p_, q=q_, seed=seed).collect():
        got.setdefault(r.walk_id, {})[r.step] = r.vertex
    assert set(got) == set(expect)
    for wid, seq in expect.items():
        assert [got[wid][t] for t in range(length + 1)] == seq, wid
        for t in range(1, length + 1):
            assert seq[t] in adj[seq[t - 1]], (wid, t)

    for bad in (dict(p=0.0), dict(q=-1.0), dict(length=0)):
        with pytest.raises(ValueError):
            kw = dict(length=2, p=1.0, q=1.0)
            kw.update(bad)
            biased_walks(edges, **kw)


def test_biased_walks_p_bias_changes_return_rate(spark):
    """A tiny p (return-loving) produces more immediate backtracks than
    a huge p on the same graph and seed — the bias is live, not
    decorative."""
    from sparkgatha.graph.walks import biased_walks

    und = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5), (3, 5), (1, 4)]
    pairs = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(
        [(str(a), str(b)) for a, b in pairs], ["src", "dst"]
    )

    def returns(p):
        rows = biased_walks(edges, length=6, p=p, q=1.0, seed=0).collect()
        w = {}
        for r in rows:
            w.setdefault(r.walk_id, {})[r.step] = r.vertex
        return sum(
            1
            for seq in w.values()
            for t in range(2, 7)
            if t in seq and seq[t] == seq[t - 2]
        )

    assert returns(0.0625) > returns(16.0)


def test_biased_walks_max_neighbors_capped_replay(spark):
    """Under max_neighbors both candidate generation AND the
    prev-adjacency test see the same capped sorted list (the documented
    deterministic approximation) — the pure-Python replay with capped
    lists matches exactly."""
    import hashlib
    import math

    from sparkgatha.graph.walks import biased_walks

    # vertex "0" has 6 neighbors; cap at 3 so the test array truncates
    und = [("0", c) for c in "abcdef"] + [
        ("a", "b"), ("c", "d"), ("e", "f"), ("b", "c"), ("d", "e")
    ]
    pairs = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(pairs, ["src", "dst"])
    p_, q_, seed, length, cap = 2.0, 0.5, 1, 3, 3

    def md5int(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    full = {}
    for a, b in pairs:
        full.setdefault(a, set()).add(b)
    nbrs = {v: sorted(ns)[:cap] for v, ns in full.items()}
    capped_adj = {v: set(ns) for v, ns in nbrs.items()}

    expect = {}
    for v in nbrs:
        wid = f"{v}#0"
        seq = [v]
        cur = nbrs[v][md5int(f"{wid}:1:{seed}") % len(nbrs[v])]
        seq.append(cur)
        prev = v
        for t in range(2, length + 1):
            best = None
            for n in nbrs[cur]:
                if n == prev:
                    w = 1.0 / p_
                elif n in capped_adj[prev]:
                    w = 1.0
                else:
                    w = 1.0 / q_
                u = (md5int(f"{wid}:{t}:{seed}:{n}") + 1) / float(1 << 60)
                k = (-math.log(u)) / w
                if best is None or (k, n) < best:
                    best = (k, n)
            prev, cur = cur, best[1]
            seq.append(cur)
        expect[wid] = seq

    got = {}
    rows = biased_walks(
        edges, length=length, p=p_, q=q_, seed=seed, max_neighbors=cap
    ).collect()
    for r in rows:
        got.setdefault(r.walk_id, {})[r.step] = r.vertex
    assert set(got) == set(expect)
    for wid, seq in expect.items():
        assert [got[wid][t] for t in range(length + 1)] == seq, wid


# ---------------------------------------------------------------------------
# G38 bipartite square (butterfly) counting
# ---------------------------------------------------------------------------


def _brute_squares(pairs):
    """O(P^2 S^2) brute-force 4-cycle count over bipartite (p, s) pairs."""
    es = set(pairs)
    ps = sorted({p for p, _ in pairs})
    ss = sorted({s for _, s in pairs})
    n = 0
    for i, p1 in enumerate(ps):
        for p2 in ps[i + 1:]:
            for j, s1 in enumerate(ss):
                for s2 in ss[j + 1:]:
                    if (
                        (p1, s1) in es and (p1, s2) in es
                        and (p2, s1) in es and (p2, s2) in es
                    ):
                        n += 1
    return n


def test_square_count_matches_brute_force_and_pivot_sides_agree(spark):
    from sparkgatha.graph.triangles import bipartite_square_count

    rng = __import__("numpy").random.default_rng(5)
    pairs = sorted({
        (int(rng.integers(0, 8)), 100 + int(rng.integers(0, 6)))
        for _ in range(30)
    })
    e = spark.createDataFrame(pairs, "src long, dst long")
    a = bipartite_square_count(e, pivot="src").collect()[0]
    b = bipartite_square_count(e, pivot="dst").collect()[0]
    assert a["n_squares"] == b["n_squares"] == _brute_squares(pairs)


def test_square_count_complete_bipartite_closed_form(spark):
    """K_{m,n} has C(m,2)*C(n,2) squares; duplicate edge rows must not
    change the count (the operator distincts its input)."""
    from sparkgatha.graph.triangles import bipartite_square_count

    m, n = 3, 4
    pairs = [(p, 100 + s) for p in range(m) for s in range(n)]
    e = spark.createDataFrame(pairs + pairs, "src long, dst long")
    row = bipartite_square_count(e).collect()[0]
    assert row["n_squares"] == 3 * 6  # C(3,2)*C(4,2)
    import pytest

    with pytest.raises(ValueError):
        bipartite_square_count(e, pivot="mid")


# ---------------------------------------------------------------------------
# G39 Louvain modularity-gain local move
# ---------------------------------------------------------------------------


def test_louvain_move_matches_pure_python_replay(spark):
    """Per-vertex (move_to, gain) equals a direct Python replay of the
    pinned rule g = w_uv - k_u*k_v/2m, round 8, ties (gain desc, nbr
    asc), move iff g > 0."""
    from sparkgatha.graph.louvain import louvain_move_round

    triples = random_graph(n=40, m=120, seed=3)
    e = spark.createDataFrame(
        [(f"v{a:02d}", f"v{b:02d}", w) for a, b, w in triples],
        "src string, dst string, weight double",
    )
    got = {
        r.vertex: (r.move_to, r.gain)
        for r in louvain_move_round(e).collect()
    }

    adj = {}
    k = {}
    m2 = 0.0
    for a, b, w in triples:
        for u, v in ((f"v{a:02d}", f"v{b:02d}"), (f"v{b:02d}", f"v{a:02d}")):
            adj.setdefault(u, []).append((v, w))
            k[u] = k.get(u, 0.0) + w
            m2 += w
    # Spark's round() is HALF_UP (away from zero), NOT Python banker's
    # round — mirror it exactly or the replay flakes at midpoints
    from sparkgatha.similarity import _round_away

    want = {}
    for u, nbrs in adj.items():
        best = min(
            ((-_round_away(w - k[u] * k[v] / m2, 8), v) for v, w in nbrs)
        )
        g = -best[0]
        want[u] = (best[1], g) if g > 0 else (u, 0.0)
    assert got == want


def test_louvain_move_prefers_strong_cluster(spark):
    """Two triangles of heavy edges joined by one light bridge: every
    vertex's best move stays inside its own triangle — the modularity
    penalty k_u*k_v/2m rejects the bridge."""
    from sparkgatha.graph.louvain import louvain_move_round

    rows = []
    for base in ("a", "b"):
        for x, y in (("1", "2"), ("1", "3"), ("2", "3")):
            rows.append((base + x, base + y, 10.0))
    rows.append(("a1", "b1", 1.0))  # weak bridge
    e = spark.createDataFrame(rows, "src string, dst string, weight double")
    moved = {r.vertex: r.move_to for r in louvain_move_round(e).collect()}
    for v, tgt in moved.items():
        assert tgt[0] == v[0], (v, tgt)  # stays in its own clique


def test_louvain_move_merges_duplicates_ignores_self_loops_and_guards(spark):
    """Duplicate (u,v) rows merge into one total w_uv (same answer as
    the pre-summed list), self-loops drop, and the empty-input guard
    raises."""
    import pytest

    from sparkgatha.graph.louvain import louvain_move_round

    rows = [("a", "b", 2.0), ("a", "b", 3.0), ("b", "c", 1.0), ("c", "c", 9.0)]
    dup = spark.createDataFrame(rows, "src string, dst string, weight double")
    merged = spark.createDataFrame(
        [("a", "b", 5.0), ("b", "c", 1.0)],
        "src string, dst string, weight double",
    )
    got = sorted(map(tuple, louvain_move_round(dup).collect()))
    want = sorted(map(tuple, louvain_move_round(merged).collect()))
    assert got == want
    with pytest.raises(ValueError):
        louvain_move_round(dup.filter("src = 'zzz'")).collect()


def test_louvain_multilevel_finds_cliques_and_terminates(spark):
    """Full multi-level Louvain: two 6-cliques + weak bridge resolve to
    exactly the two cliques; a mutual-swap pair (path graph a—b, where
    the synchronous round proposes a→b AND b→a) merges instead of
    oscillating (CC-of-move-graph contraction)."""
    from sparkgatha.graph.louvain import louvain

    c1 = [(f"a{i}", f"a{j}", 1.0) for i in range(6) for j in range(i + 1, 6)]
    c2 = [(f"b{i}", f"b{j}", 1.0) for i in range(6) for j in range(i + 1, 6)]
    rows = c1 + c2 + [("a0", "b0", 0.1)]
    e = spark.createDataFrame(rows, "src string, dst string, weight double")
    got = {r["vertex"]: r["community"] for r in louvain(e, max_levels=4).collect()}
    assert len(got) == 12
    ca = {got[f"a{i}"] for i in range(6)}
    cb = {got[f"b{i}"] for i in range(6)}
    assert len(ca) == 1 and len(cb) == 1 and ca != cb

    pair = spark.createDataFrame(
        [("x", "y", 1.0)], "src string, dst string, weight double"
    )
    got2 = {r["vertex"]: r["community"] for r in louvain(pair, max_levels=3).collect()}
    assert got2 == {"x": "x", "y": "x"}


def test_louvain_multilevel_improves_modularity(spark):
    """Modularity of the multi-level partition beats the single move
    round's raw targets on a seeded graph, and every original vertex is
    mapped (valid partition — modularity() raises otherwise)."""
    from pyspark.sql import functions as F

    from sparkgatha.graph.louvain import louvain, louvain_move_round
    from sparkgatha.graph.stats import modularity

    triples = random_graph(n=60, m=150, seed=9, weighted=False)
    rows = [(f"v{a}", f"v{b}", 1.0) for a, b, _ in triples]
    e = spark.createDataFrame(rows, "src string, dst string, weight double")
    comm = louvain(e, max_levels=4).select(
        "vertex", F.col("community").alias("label")
    )
    q_multi = modularity(e, comm).collect()[0]["modularity"]
    single = louvain_move_round(e).select(
        "vertex", F.col("move_to").alias("label")
    )
    # the raw one-round targets are not even a consistent partition in
    # general; compare against the trivial singleton partition instead
    verts = comm.select("vertex").distinct()
    singleton = verts.select("vertex", F.col("vertex").alias("label"))
    q_singleton = modularity(e, singleton).collect()[0]["modularity"]
    assert q_multi > q_singleton
    assert q_multi > 0.2
    assert single.count() == verts.count()


# ---------------------------------------------------------------------------
# DOULION sparsified triangle estimate (graph/triangles.py)
# ---------------------------------------------------------------------------

from sparkgatha.graph.triangles import (  # noqa: E402
    global_triangle_count,
    triangle_estimate_doulion,
)


def test_doulion_p1_reproduces_exact_count(spark, triples):
    """keep_hex >= 256 keeps every edge: the estimator degenerates to
    the exact degree-oriented count — the invariant that pins the
    sampled pipeline to the exact one."""
    edges = to_spark_edges(spark, triples, symmetric=True)
    exact = global_triangle_count(edges)
    row = triangle_estimate_doulion(edges, keep_hex=256).collect()[0]
    assert row["sampled_edges"] == len(triples)
    assert row["sampled_triangles"] == exact
    assert row["est_triangles"] == pytest.approx(float(exact))


def test_doulion_coin_is_deterministic_and_thins(spark, triples):
    """The md5 coin is state-free: two runs agree bit-for-bit, the
    p=0.25 sample is a strict thinning, and the estimate is exactly
    sampled/p^3 (64x)."""
    edges = to_spark_edges(spark, triples, symmetric=True)
    r1 = triangle_estimate_doulion(edges, keep_hex=64).collect()[0]
    r2 = triangle_estimate_doulion(edges, keep_hex=64).collect()[0]
    assert tuple(r1) == tuple(r2)
    assert 0 < r1["sampled_edges"] < len(triples)
    assert r1["est_triangles"] == pytest.approx(
        r1["sampled_triangles"] * 64.0
    )


def test_doulion_estimate_tracks_exact_on_clique_union(spark):
    """Estimator quality on a triangle-rich graph (40 disjoint K8s,
    exact T = 40*C(8,3) = 2240): the deterministic p=0.25 sample must
    land within 2x of truth — loose (DOULION is a variance trade), but
    pins that the scale-up arithmetic points at the right magnitude."""
    rows = []
    for c in range(40):
        base = c * 8
        for i in range(8):
            for j in range(i + 1, 8):
                rows.append((base + i, base + j, 1.0))
    edges = to_spark_edges(spark, rows, symmetric=True)
    exact = 40 * 56  # 40 cliques x C(8,3)
    est = triangle_estimate_doulion(edges, keep_hex=64).collect()[0][
        "est_triangles"
    ]
    assert exact / 2 <= est <= exact * 2


def test_doulion_rejects_bad_keep_hex(spark, triples):
    edges = to_spark_edges(spark, triples, symmetric=True)
    with pytest.raises(ValueError, match="keep_hex"):
        triangle_estimate_doulion(edges, keep_hex=0)


# ---------------------------------------------------------------------------
# Monte-Carlo personalized PageRank (graph/walks.py:ppr_monte_carlo)
# ---------------------------------------------------------------------------

import numpy as np  # noqa: E402

from sparkgatha.graph.walks import ppr_monte_carlo  # noqa: E402


def test_ppr_mc_mass_conservation_and_determinism(spark, triples):
    """Every seed's terminal mass is EXACTLY walks_per_vertex (walks
    stop, sink-terminate, or truncate — none vanish), every estimate is
    count/R, and two runs agree bit-for-bit (the coins are md5, not
    RNG state)."""
    edges = to_spark_edges(spark, triples, symmetric=True)
    r1 = ppr_monte_carlo(
        edges, alpha=0.5, walks_per_vertex=4, max_len=5
    ).collect()
    per_seed = {}
    for row in r1:
        per_seed[row["seed_vertex"]] = (
            per_seed.get(row["seed_vertex"], 0) + row["n_walks"]
        )
        assert row["est"] == row["n_walks"] / 4.0
    n_vertices = len({v for a, b, _ in triples for v in (a, b)})
    assert len(per_seed) == n_vertices
    assert all(m == 4 for m in per_seed.values()), per_seed
    r2 = ppr_monte_carlo(
        edges, alpha=0.5, walks_per_vertex=4, max_len=5
    ).collect()
    key = lambda r: (r["seed_vertex"], r["vertex"])  # noqa: E731
    assert sorted(map(tuple, r1), key=str) == sorted(map(tuple, r2), key=str)


def test_ppr_mc_sink_walks_terminate_in_place(spark):
    """On the DIRECTED path a->b->c every walk either stops en route or
    sink-terminates at c — terminal mass per seed is exactly R and no
    terminal lies outside the reachable set."""
    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0)], "src long, dst long, weight double"
    )
    rows = ppr_monte_carlo(
        edges, alpha=0.5, walks_per_vertex=8, max_len=12
    ).collect()
    reach = {1: {1, 2, 3}, 2: {2, 3}, 3: {3}}
    mass = {}
    for r in rows:
        assert r["vertex"] in reach[r["seed_vertex"]], r
        mass[r["seed_vertex"]] = mass.get(r["seed_vertex"], 0) + r["n_walks"]
    # vertex 3 has no out-edges: _adjacency_table drops it, so only the
    # two vertices with out-edges seed walks (random_walks' contract)
    assert mass == {1: 8, 2: 8}


def test_ppr_mc_tracks_exact_ppr(spark):
    """Estimator quality vs the EXACT truncated PPR series computed in
    numpy on a seeded 24-vertex graph: with R=1024 and L=20 (residual
    mass 0.5^20 ~ 1e-6) the mean total-variation distance across seeds
    must be small and no seed's TV may exceed a loose per-seed bound —
    pins that the terminal-frequency arithmetic targets the right
    distribution, not just that it is deterministic."""
    triples = random_graph(n=24, m=60, seed=11, weighted=False)
    edges = to_spark_edges(spark, triples, symmetric=True)

    # exact: ppr_s = (1-a) * sum_{k=0..L-1} a^k (P^k)[s], row-stochastic
    # P over the same distinct symmetric adjacency, plus the
    # implementation's truncation convention: a walk of max_len=L stops
    # after L steps, so the residual mass a^L stays on the L-step
    # positions (ADVICE r5 — the earlier reference modeled one extra
    # hop; the ~a^21 discrepancy was far below tolerance, but the
    # convention now matches the docstring's "affected mass is
    # alpha**max_len")
    verts = sorted({v for a, b, _ in triples for v in (a, b)})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    P = np.zeros((n, n))
    for a, b, _ in triples:
        P[idx[a], idx[b]] = 1.0
        P[idx[b], idx[a]] = 1.0
    P /= P.sum(axis=1, keepdims=True)
    alpha, L = 0.5, 20
    exact = np.zeros((n, n))
    walk = np.eye(n)
    for k in range(L):
        exact += (1 - alpha) * alpha**k * walk
        walk = walk @ P
    exact += alpha**L * walk  # truncated walks end in place after L steps

    got = ppr_monte_carlo(
        edges, alpha=alpha, walks_per_vertex=1024, max_len=L
    ).collect()
    est = np.zeros((n, n))
    for r in got:
        est[idx[r["seed_vertex"]], idx[r["vertex"]]] = r["est"]
    tv = 0.5 * np.abs(est - exact).sum(axis=1)
    assert tv.mean() < 0.10, tv.mean()
    assert tv.max() < 0.25, tv.max()


def test_ppr_mc_rejects_bad_params(spark, triples):
    edges = to_spark_edges(spark, triples, symmetric=True)
    with pytest.raises(ValueError, match="alpha"):
        ppr_monte_carlo(edges, alpha=1.0)
    with pytest.raises(ValueError, match="walks_per_vertex"):
        ppr_monte_carlo(edges, walks_per_vertex=0)
    with pytest.raises(ValueError, match="max_len"):
        ppr_monte_carlo(edges, max_len=0)


# ---------------------------------------------------------------------------
# Weight-proportional first-order walks (graph/walks.py:weighted_walks)
# ---------------------------------------------------------------------------

from sparkgatha.graph.walks import weighted_walks  # noqa: E402


def test_weighted_walks_sample_proportional_to_weight(spark):
    """On the weighted star 0-{1,2,3,4} with weights 1,2,4,8 the
    empirical step-1 pick frequencies of 2048 walks from the center
    must track weight/15 — pins that the exponential race actually
    samples ∝ w, not just that it is deterministic (stderr at R=2048
    is ~0.011; the ±0.05 band is ~4.5 sigma)."""
    rows = [(0, n, float(2 ** (n - 1))) for n in (1, 2, 3, 4)]
    edges = to_spark_edges(spark, rows, symmetric=True)
    got = (
        weighted_walks(edges, length=1, walks_per_vertex=2048)
        .filter("step = 1")
        .collect()
    )
    picks = [r["vertex"] for r in got if r["walk_id"].startswith("0#")]
    assert len(picks) == 2048
    for n in (1, 2, 3, 4):
        expect = 2 ** (n - 1) / 15.0
        freq = picks.count(n) / 2048.0
        assert abs(freq - expect) < 0.05, (n, freq, expect)


def test_weighted_walks_follow_edges_and_are_deterministic(spark, triples):
    """Every consecutive (step t-1, step t) pair is an edge of the
    input, and two runs agree bit-for-bit."""
    edges = to_spark_edges(spark, triples, symmetric=True)
    eset = {(a, b) for a, b, _ in triples} | {(b, a) for a, b, _ in triples}
    r1 = weighted_walks(edges, length=3, walks_per_vertex=1).collect()
    byw = {}
    for r in r1:
        byw.setdefault(r["walk_id"], {})[r["step"]] = r["vertex"]
    for wid, steps in byw.items():
        assert steps[0] == int(wid.split("#")[0])
        for t in range(1, max(steps) + 1):
            assert (steps[t - 1], steps[t]) in eset, (wid, t)
    r2 = weighted_walks(edges, length=3, walks_per_vertex=1).collect()
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))


def test_weighted_walks_rejects_bad_params(spark, triples):
    edges = to_spark_edges(spark, triples, symmetric=True)
    with pytest.raises(ValueError, match="length"):
        weighted_walks(edges, length=0)
    with pytest.raises(ValueError, match="walks_per_vertex"):
        weighted_walks(edges, length=2, walks_per_vertex=0)


def test_weighted_walks_rejects_nan_weight(spark):
    """NaN <= 0 is false in Spark, so the guard must test isnan too."""
    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, 1.0), (2, 3, float("nan"))],
        "src long, dst long, weight double",
    )
    with pytest.raises(ValueError, match="NaN"):
        weighted_walks(edges, length=1)
