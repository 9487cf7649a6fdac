"""L2 — NetworkX-golden tests for the graph suite (SURVEY.md §5.2).

Bars from BASELINE.json: PageRank allclose 1e-6; components / labels /
triangle counts exact.
"""

import numpy as np
import networkx as nx
import pytest

from graph_helpers import (
    lpa_oracle,
    nx_graph,
    pagerank_oracle,
    powerlaw_graph,
    random_graph,
    to_spark_edges,
    undirected_both,
)

from sparkgatha.graph import (
    connected_components,
    label_propagation,
    pagerank,
    shortest_paths,
    triangle_counts,
)
from sparkgatha.graph.triangles import global_triangle_count


@pytest.fixture(scope="module")
def triples():
    return random_graph(n=120, m=400, seed=42)


def test_pagerank_iterate_equivalence(spark, triples):
    """Strict semantic check: after exactly k supersteps the engine's
    iterate equals the oracle's k-th iterate to fp precision (1e-12) —
    implies the allclose-1e-6 bar at convergence for any k."""
    edges = to_spark_edges(spark, triples, symmetric=True)
    res = pagerank(edges, alpha=0.85, tol=0.0, max_iter=25)
    got = {r["vertex"]: r["rank"] for r in res.ranks.collect()}
    want = pagerank_oracle(
        undirected_both(triples), alpha=0.85, tol=0.0, max_iter=25
    )
    assert set(got) == set(want)
    g = np.array([got[k] for k in sorted(got)])
    w = np.array([want[k] for k in sorted(want)])
    assert np.allclose(g, w, atol=1e-12)
    assert abs(g.sum() - 1.0) < 1e-9  # L3 invariant: ranks sum to 1


def test_pagerank_converged_allclose_1e6(spark):
    """BASELINE.json bar verbatim: converged scores allclose 1e-6 vs the
    reference oracle run to 1e-12."""
    triples = random_graph(n=60, m=150, seed=3)
    edges = to_spark_edges(spark, triples, symmetric=True)
    res = pagerank(edges, alpha=0.85, tol=1e-9, max_iter=150)
    assert res.converged
    got = {r["vertex"]: r["rank"] for r in res.ranks.collect()}
    want = pagerank_oracle(undirected_both(triples), alpha=0.85, tol=1e-12)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-6
    # delta curve is monotone-ish decreasing: last delta far below first
    assert res.deltas[-1] < res.deltas[0] * 1e-3


def test_pagerank_dangling_mass(spark):
    # directed chain with a dangling sink: 0→1→2, 3 isolated via edge 3→0
    rows = [(0, 1, 1.0), (1, 2, 1.0), (3, 0, 1.0)]
    edges = spark.createDataFrame(rows, "src long, dst long, weight double")
    res = pagerank(edges, alpha=0.85, tol=0.0, max_iter=30)
    got = {r["vertex"]: r["rank"] for r in res.ranks.collect()}
    want = pagerank_oracle(rows, alpha=0.85, tol=0.0, max_iter=30)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12


def test_connected_components_exact(spark):
    # three components, ids chosen so min-id labels are nontrivial
    triples = [
        (5, 9, 1.0), (9, 17, 1.0), (17, 3, 1.0),     # comp min 3
        (100, 200, 1.0), (200, 150, 1.0),            # comp min 100
        (7, 8, 1.0),                                 # comp min 7
    ]
    edges = to_spark_edges(spark, triples, symmetric=True)
    got = {
        r["vertex"]: r["component"]
        for r in connected_components(edges).collect()
    }
    g = nx_graph(triples)
    for comp in nx.connected_components(g):
        m = min(comp)
        for v in comp:
            assert got[v] == m
    assert len(got) == g.number_of_nodes()


def test_connected_components_random(spark, triples):
    edges = to_spark_edges(spark, triples, symmetric=True)
    got = {
        r["vertex"]: r["component"]
        for r in connected_components(edges).collect()
    }
    for comp in nx.connected_components(nx_graph(triples)):
        m = min(comp)
        for v in comp:
            assert got[v] == m


def test_cc_idempotent(spark, triples):
    # L3 invariant: running CC on the star output changes nothing
    edges = to_spark_edges(spark, triples, symmetric=True)
    labels1 = connected_components(edges)
    star = labels1.selectExpr(
        "vertex as src", "component as dst", "1.0 as weight"
    ).filter("src != dst")
    labels2 = connected_components(star)
    diff = (
        labels1.join(labels2, "vertex")
        .filter(labels1.component != labels2.component)
        .count()
    )
    assert diff == 0


def test_triangles_match_networkx(spark, triples):
    edges = to_spark_edges(spark, triples, symmetric=True)
    got = {
        r["vertex"]: r["n_triangles"] for r in triangle_counts(edges).collect()
    }
    want = nx.triangles(nx_graph(triples))
    assert got == want
    total = global_triangle_count(edges)
    assert total == sum(want.values()) // 3


def test_lpa_matches_pinned_oracle(spark):
    # two dense cliques + one bridge: stable communities under sync LPA
    clique1 = [(a, b, 1.0) for a in range(0, 6) for b in range(a + 1, 6)]
    clique2 = [(a, b, 1.0) for a in range(10, 16) for b in range(a + 1, 16)]
    triples = clique1 + clique2 + [(5, 10, 0.1)]
    edges = to_spark_edges(spark, triples, symmetric=True)
    got = {r["vertex"]: r["label"] for r in label_propagation(edges, 20).collect()}
    want = lpa_oracle(triples, 20)
    assert got == want


def test_shortest_paths_match_networkx(spark, triples):
    edges = to_spark_edges(spark, triples, symmetric=True)
    got = {
        r["vertex"]: r["distance"]
        for r in shortest_paths(edges, source=0).collect()
    }
    want = nx.single_source_dijkstra_path_length(
        nx_graph(triples), 0, weight="weight"
    )
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9


def test_personalized_pagerank_iterate_equivalence(spark, triples):
    """Seed-biased teleport (topic-query shape): after exactly k
    supersteps the engine's iterate equals the personalized oracle's
    k-th iterate at 1e-12 — covers the fused-block path too."""
    seeds = {0: 3.0, 7: 1.0}
    edges = to_spark_edges(spark, triples, symmetric=True)
    pers = spark.createDataFrame(
        list(seeds.items()), "vertex long, weight double"
    )
    for fuse in (1, 5):
        res = pagerank(
            edges, alpha=0.85, tol=0.0, max_iter=15,
            personalization=pers, check_every=fuse,
        )
        got = {r["vertex"]: r["rank"] for r in res.ranks.collect()}
        want = pagerank_oracle(
            undirected_both(triples), alpha=0.85, tol=0.0, max_iter=15,
            personalization=seeds,
        )
        assert set(got) == set(want)
        g = np.array([got[k] for k in sorted(got)])
        w = np.array([want[k] for k in sorted(want)])
        assert np.allclose(g, w, atol=1e-12), (fuse, np.abs(g - w).max())
        assert abs(g.sum() - 1.0) < 1e-9
    # seed vertices rank above their uniform-teleport selves
    uni = pagerank(edges, alpha=0.85, tol=0.0, max_iter=15)
    u = {r["vertex"]: r["rank"] for r in uni.ranks.collect()}
    assert got[0] > u[0] and got[7] > u[7]


def test_personalization_restricted_to_graph_vertices(spark, triples):
    """Seeds absent from the graph must not leak teleport mass: ranks
    still sum to 1 and equal the oracle run with only the present seed;
    an all-absent seed set raises."""
    edges = to_spark_edges(spark, triples, symmetric=True)
    pers = spark.createDataFrame(
        [(0, 1.0), (999_999, 5.0)], "vertex long, weight double"
    )
    res = pagerank(edges, alpha=0.85, tol=0.0, max_iter=10,
                   personalization=pers)
    got = {r["vertex"]: r["rank"] for r in res.ranks.collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    want = pagerank_oracle(
        undirected_both(triples), alpha=0.85, tol=0.0, max_iter=10,
        personalization={0: 1.0},
    )
    g = np.array([got[k] for k in sorted(got)])
    w = np.array([want[k] for k in sorted(want)])
    assert np.allclose(g, w, atol=1e-12)
    absent = spark.createDataFrame(
        [(999_999, 1.0)], "vertex long, weight double"
    )
    with pytest.raises(ValueError):
        pagerank(edges, max_iter=2, personalization=absent)


def test_pair_distance_bidirectional_matches_dijkstra(spark, triples):
    """Meet-in-the-middle pair search equals NetworkX Dijkstra for
    several pairs (incl. a==b) and returns None for unreachable pairs."""
    from sparkgatha.graph.paths import pair_distance

    edges = to_spark_edges(spark, triples, symmetric=True)
    g = nx_graph(triples)
    want_all = nx.single_source_dijkstra_path_length(g, 0, weight="weight")
    for target in [0, 1, 7, 55, 119]:
        got = pair_distance(edges, 0, target)
        if target in want_all:
            assert got is not None and abs(got - want_all[target]) < 1e-9, (
                target, got, want_all.get(target)
            )
        else:
            assert got is None
    # unreachable: an isolated 2-vertex island
    iso = to_spark_edges(
        spark, triples + [(900, 901, 1.0)], symmetric=True
    )
    assert pair_distance(iso, 0, 901) is None


def test_pagerank_powerlaw_hub(spark):
    # skew-shaped graph: results still match (L7 correctness side)
    triples = powerlaw_graph(n=200, m=800, seed=7)
    edges = to_spark_edges(spark, triples, symmetric=True)
    res = pagerank(edges, alpha=0.85, tol=0.0, max_iter=25)
    got = {r["vertex"]: r["rank"] for r in res.ranks.collect()}
    want = pagerank_oracle(
        undirected_both(triples), alpha=0.85, tol=0.0, max_iter=25
    )
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12


def test_lpa_shuffle_strategy_identical(spark, monkeypatch):
    """LPA 'shuffle' (beyond-broadcast regime) is result-identical to
    'broadcast' on the same graph — exact labels, both vs the golden."""
    from sparkgatha.graph import skew
    from sparkgatha.graph.lpa import label_propagation

    triples = random_graph(n=120, m=420, seed=31)
    edges = to_spark_edges(spark, triples, symmetric=True)
    a = label_propagation(edges, max_iter=12, num_partitions=4,
                          strategy="broadcast")
    b = label_propagation(edges, max_iter=12, num_partitions=4,
                          strategy="shuffle")
    # a threshold of 1 forces EVERY src down the salted hot branch
    monkeypatch.setattr(skew, "hot_threshold", lambda *_: 1)
    c = label_propagation(edges, max_iter=12, num_partitions=4,
                          strategy="shuffle")
    la = {r["vertex"]: r["label"] for r in a.collect()}
    lb = {r["vertex"]: r["label"] for r in b.collect()}
    lc = {r["vertex"]: r["label"] for r in c.collect()}
    assert la == lb
    assert la == lc


def test_lpa_fused_blocks_identical(spark):
    """check_every>1 fuses supersteps into one job but must be
    label-identical to per-step execution — in both strategies, and at a
    block size that does not divide max_iter (tail block)."""
    from sparkgatha.graph.lpa import label_propagation

    triples = random_graph(n=120, m=420, seed=47)
    edges = to_spark_edges(spark, triples, symmetric=True)
    base = {
        r["vertex"]: r["label"]
        for r in label_propagation(
            edges, max_iter=7, num_partitions=4, strategy="broadcast"
        ).collect()
    }
    for strategy in ("broadcast", "shuffle"):
        fused = {
            r["vertex"]: r["label"]
            for r in label_propagation(
                edges, max_iter=7, num_partitions=4, strategy=strategy,
                check_every=3,
            ).collect()
        }
        assert fused == base, strategy


def test_simrank_matches_pure_python(spark):
    """SimRank (2 rounds, C=0.8) vs an independent pure-Python replay of
    the pinned rule — whole graph induced (top >= n), so the top-k cut
    is not exercised here (the replica test covers it on real terms)."""
    from sparkgatha.graph.simrank import simrank

    triples = random_graph(n=40, m=90, seed=11, weighted=False)
    edges = to_spark_edges(spark, triples, symmetric=True)
    got = {
        (r["a"], r["b"]): r["score"]
        for r in simrank(edges, c=0.8, iters=2, top=40).collect()
    }

    import math

    nbrs = {}
    for a, b, _ in triples:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    # exact scaled-long state, mirroring the engine: sums of longs are
    # order-independent, and the one double expression per update is
    # computed from identical integers (HALF_UP via floor(x + 0.5) —
    # Python's round() is half-even, the engines' is half-up)
    s8 = {(v, v): 10**8 for v in nbrs}
    for _ in range(2):
        nxt = {(v, v): 10**8 for v in nbrs}
        for a in nbrs:
            for b in nbrs:
                if a == b:
                    continue
                m8 = sum(
                    s8.get((u, v), 0) for u in nbrs[a] for v in nbrs[b]
                )
                val = math.floor(
                    0.8 * m8 / (len(nbrs[a]) * len(nbrs[b])) + 0.5
                )
                if val > 0:
                    nxt[(a, b)] = val
        s8 = nxt
    want = {
        (a, b): v / 1e8 for (a, b), v in s8.items() if a < b and v > 0
    }
    assert got == want


def test_simrank_top_guard():
    from sparkgatha.graph.simrank import simrank

    with pytest.raises(ValueError, match="guard"):
        simrank(None, top=5000)


def test_coarsen_conserves_weight_and_self_loops(spark):
    """coarsen_by_labels: total weight in == out, and a community's
    internal weight lands on its self-loop row."""
    from sparkgatha.graph.louvain import coarsen_by_labels

    edges = spark.createDataFrame(
        [("a", "b", 3.0), ("b", "c", 1.0), ("c", "d", 2.0), ("d", "e", 5.0)],
        "src string, dst string, weight double",
    )
    labels = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("c", "x"), ("d", "y"), ("e", "y")],
        "vertex string, label string",
    )
    got = {
        (r["c_src"], r["c_dst"]): r["weight"]
        for r in coarsen_by_labels(edges, labels).collect()
    }
    assert got == {("x", "x"): 4.0, ("x", "y"): 2.0, ("y", "y"): 5.0}

