"""Shared golden-test helpers: seeded graphs + pure-Python oracles."""

from __future__ import annotations

import numpy as np


def random_graph(n=120, m=400, seed=42, weighted=True):
    """Seeded undirected edge list [(u, v, w)], no self-loops, deduped."""
    rng = np.random.default_rng(seed)
    seen = {}
    while len(seen) < m:
        u = int(rng.integers(0, n))
        v = int(rng.integers(0, n))
        if u == v:
            continue
        a, b = min(u, v), max(u, v)
        if (a, b) not in seen:
            seen[(a, b)] = float(rng.uniform(0.1, 2.0)) if weighted else 1.0
    return [(a, b, w) for (a, b), w in sorted(seen.items())]


def powerlaw_graph(n=500, m=3000, seed=7, hub_frac=0.3):
    """Power-law-ish graph with one designated hub ≈ hub_frac of edges."""
    rng = np.random.default_rng(seed)
    probs = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** 1.1
    probs /= probs.sum()
    seen = {}
    # the hub can have at most n-1 distinct neighbors; cap below that so
    # the distinct-pair rejection loop always terminates
    n_hub = min(int(m * hub_frac), int(0.8 * (n - 1)))
    while len(seen) < m:
        if len(seen) < n_hub:
            u = 0  # designated hub
            v = int(rng.choice(n, p=probs))
        else:
            u = int(rng.choice(n, p=probs))
            v = int(rng.choice(n, p=probs))
        if u == v:
            continue
        a, b = min(u, v), max(u, v)
        if (a, b) not in seen:
            seen[(a, b)] = float(rng.uniform(0.1, 2.0))
    return [(a, b, w) for (a, b), w in sorted(seen.items())]


def to_spark_edges(spark, triples, symmetric=True):
    """Directed Spark edge DF from undirected triples."""
    rows = [(int(a), int(b), float(w)) for a, b, w in triples]
    if symmetric:
        rows = rows + [(b, a, w) for a, b, w in rows]
    return spark.createDataFrame(rows, "src long, dst long, weight double")


def nx_graph(triples):
    import networkx as nx

    g = nx.Graph()
    for a, b, w in triples:
        g.add_edge(a, b, weight=w)
    return g


def assert_no_edge_exchange(plan: str) -> bool:
    """True iff the physical plan reads the persisted edge layout with NO
    shuffle Exchange above it: the plan must contain an
    InMemoryTableScan, and the plan text ABOVE the InMemoryRelation
    subtree must contain no ``Exchange hashpartitioning`` (the one-time
    layout Exchange lives INSIDE the InMemoryRelation and is expected;
    BroadcastExchange for the small state side is allowed)."""
    if "InMemoryTableScan" not in plan:
        return False
    above_cache = plan.split("InMemoryRelation", 1)[0]
    return "Exchange hashpartitioning" not in above_cache


def pagerank_oracle(directed_edges, alpha=0.85, tol=1e-12, max_iter=500,
                    personalization=None):
    """Pure-Python PageRank power iteration — the exact algorithm of
    networkx.pagerank (scipy is absent in this sandbox): row-stochastic
    by weighted out-degree, uniform (or personalized) teleport, dangling
    mass spread by the same distribution, stop when L1 delta < N * tol.

    ``directed_edges``: iterable of (u, v, w) — pass both orientations
    for undirected graphs.  ``personalization``: {vertex: weight} dict,
    normalized here; absent vertices get 0 (NetworkX semantics).
    """
    from collections import defaultdict

    adj = defaultdict(list)
    nodes = set()
    for u, v, w in directed_edges:
        adj[u].append((v, float(w)))
        nodes.add(u)
        nodes.add(v)
    n = len(nodes)
    outw = {u: sum(w for _, w in nbrs) for u, nbrs in adj.items()}
    dangling = [v for v in nodes if outw.get(v, 0.0) == 0.0]
    if personalization is None:
        p = {v: 1.0 / n for v in nodes}
    else:
        s = sum(personalization.values())
        p = {v: personalization.get(v, 0.0) / s for v in nodes}
    x = {v: 1.0 / n for v in nodes}
    for _ in range(max_iter):
        xlast = x
        x = {v: 0.0 for v in nodes}
        danglesum = alpha * sum(xlast[v] for v in dangling)
        for u, nbrs in adj.items():
            for v, w in nbrs:
                x[v] += alpha * xlast[u] * w / outw[u]
        for v in nodes:
            x[v] += danglesum * p[v] + (1.0 - alpha) * p[v]
        if sum(abs(x[v] - xlast[v]) for v in nodes) < n * tol:
            break
    return x


def undirected_both(triples):
    return [(a, b, w) for a, b, w in triples] + [
        (b, a, w) for a, b, w in triples
    ]


def lpa_oracle(triples, max_iter=20):
    """Pure-Python synchronous min-label LPA — the pinned golden rule
    (SURVEY.md §7.4.1): adopt the neighbor label with max total incident
    weight, ties to smallest label; stop on zero changes."""
    from collections import defaultdict

    adj = defaultdict(list)
    for a, b, w in triples:
        adj[a].append((b, w))
        adj[b].append((a, w))
    labels = {v: v for v in adj}
    for _ in range(max_iter):
        new = {}
        for v in adj:
            votes = defaultdict(float)
            for u, w in adj[v]:
                votes[labels[u]] += w
            best = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            new[v] = best
        if new == labels:
            break
        labels = new
    return labels


def eigenvector_oracle(directed_edges, max_iter=50, tol=0.0, weighted=True):
    """Pure-Python (A + I)·x power iteration with L1 normalization per
    round — the engine's exact semantics (graph/power.py).
    ``directed_edges``: (u, v) or (u, v, w) rows; pass both orientations
    for undirected graphs.  Returns ({v: score}, iterations)."""
    from collections import defaultdict

    adj = defaultdict(float)
    nodes = set()
    for e in directed_edges:
        u, v = e[0], e[1]
        # self-loops stay: their weight lands on the diagonal of A
        # (networkx semantics), and a loop-only vertex still gets a row
        w = float(e[2]) if weighted and len(e) > 2 else 1.0
        if weighted and len(e) > 2:
            adj[(u, v)] += w  # parallel edges weight-sum
        else:
            adj[(u, v)] = 1.0  # simple graph: duplicates collapse
        nodes.add(u)
        nodes.add(v)
    if not nodes:
        return {}, 0
    x = {v: 1.0 / len(nodes) for v in nodes}
    it = 0
    while it < max_iter:
        it += 1
        xlast = x
        x = dict(xlast)  # the +I term
        for (u, v), w in adj.items():
            x[v] += xlast[u] * w
        s = sum(x.values())
        x = {v: r / s for v, r in x.items()}
        delta = sum(abs(x[v] - xlast[v]) for v in nodes)
        if tol > 0.0 and delta <= tol:
            break
    return x, it


def katz_oracle(directed_edges, alpha=0.1, beta=1.0, max_iter=10,
                weighted=True):
    """Pure-Python Katz iterate x ← alpha·Aᵀx + beta from the ZERO
    vector, UN-normalized — the engine's exact fixed-round semantics
    (graph/power.py).  ``directed_edges``: (u, v) or (u, v, w) rows; pass
    both orientations for undirected graphs.  Returns {v: score} after
    exactly ``max_iter`` rounds."""
    from collections import defaultdict

    adj = defaultdict(float)
    nodes = set()
    for e in directed_edges:
        u, v = e[0], e[1]
        if weighted and len(e) > 2:
            adj[(u, v)] += float(e[2])
        else:
            adj[(u, v)] = 1.0
        nodes.add(u)
        nodes.add(v)
    if not nodes:
        return {}
    x = {v: 0.0 for v in nodes}
    for _ in range(max_iter):
        g = {v: 0.0 for v in nodes}
        for (u, v), w in adj.items():
            g[v] += x[u] * w
        x = {v: alpha * g[v] + beta for v in nodes}
    return x


def densest_oracle(pairs, epsilon=0.1, max_rounds=None):
    """Pure-Python BKV threshold peel — the engine's exact semantics
    (graph/densest.py): per round delete vertices with degree ≤
    2(1+ε)·ρ, remember the densest intermediate (earliest round wins
    ties).  Returns ({vertex: deg_in_best}, best_density, best_round,
    rounds_run)."""
    factor = 2.0 * (1.0 + epsilon)
    edges = {
        (min(e[0], e[1]), max(e[0], e[1])) for e in pairs if e[0] != e[1]
    }

    def degs(es):
        d = {}
        for u, v in es:
            d[u] = d.get(u, 0) + 1
            d[v] = d.get(v, 0) + 1
        return d

    deg = degs(edges)
    if not edges:
        return {}, 0.0, 0, 0
    best, best_rho, best_round = deg, len(edges) / len(deg), 0
    rnd = 0
    while edges and (max_rounds is None or rnd < max_rounds):
        rnd += 1
        rho = len(edges) / len(deg)
        keep = {v for v, d in deg.items() if d > factor * rho}
        edges = {(u, v) for u, v in edges if u in keep and v in keep}
        if not edges:
            break
        deg = degs(edges)
        if len(edges) / len(deg) > best_rho:
            best, best_rho, best_round = deg, len(edges) / len(deg), rnd
    return best, best_rho, best_round, rnd


def matching_oracle(pairs, seed=0, max_rounds=None):
    """Pure-Python deterministic greedy maximal matching — the engine's
    exact pinned rule (graph/matching.py): priority_r(u, v) =
    (md5int(f"{u}:{v}:{r}:{seed}"), u, v) over canonical u < v edges; an
    edge wins iff it holds the minimum tuple at BOTH endpoints; matched
    endpoints deactivate.  Returns {(u, v): round_matched}."""
    import hashlib

    def pri(u, v, r):
        h = hashlib.md5(f"{u}:{v}:{r}:{seed}".encode()).hexdigest()[:15]
        return (int(h, 16), u, v)

    edges = {
        (min(e[0], e[1]), max(e[0], e[1])) for e in pairs if e[0] != e[1]
    }
    matched = {}
    r = 0
    while edges:
        r += 1
        best = {}
        for (u, v) in edges:
            t = pri(u, v, r)
            for x in (u, v):
                if x not in best or t < best[x]:
                    best[x] = t
        winners = {
            (u, v) for (u, v) in edges
            if best[u] == pri(u, v, r) == best[v]
        }
        for e in winners:
            matched[e] = r
        gone = {x for e in winners for x in e}
        edges = {
            (u, v) for (u, v) in edges if u not in gone and v not in gone
        }
        if max_rounds is not None and r >= max_rounds:
            break
    return matched


def mis_oracle(pairs, seed=0, max_rounds=None):
    """Pure-Python deterministic-Luby MIS — the engine's exact pinned
    rule (graph/mis.py): priority_r(v) = (md5int(f"{v}:{r}:{seed}"),
    v); strict-minimum-among-active-neighbors wins; winners + neighbors
    deactivate.  ``pairs``: (u, v) edges, loops ignored for adjacency.
    Returns {vertex: round_joined}."""
    import hashlib
    from collections import defaultdict

    def pri(v, r):
        h = hashlib.md5(f"{v}:{r}:{seed}".encode()).hexdigest()[:15]
        return (int(h, 16), v)

    adj = defaultdict(set)
    active = set()
    for e in pairs:
        u, v = e[0], e[1]
        active.add(u)
        active.add(v)
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    mis = {}
    r = 0
    while active:
        r += 1
        winners = {
            v
            for v in active
            if all(
                pri(v, r) < pri(n, r) for n in adj[v] if n in active
            )
        }
        for v in winners:
            mis[v] = r
        removed = set(winners)
        for v in winners:
            removed |= adj[v] & active
        active -= removed
        if max_rounds is not None and r >= max_rounds:
            break
    return mis


def hits_oracle(directed_edges, max_iter=30, tol=0.0):
    """Pure-Python HITS with L1 (sum-to-one) normalization after each
    half-step — the engine's exact semantics (graph/power.py; scipy is
    absent so networkx.hits is unusable here).  ``directed_edges``:
    iterable of (u, v) or (u, v, w) — weights ignored (classic
    unweighted HITS).  Returns ({v: hub}, {v: auth}, iterations)."""
    edges = {(e[0], e[1]) for e in directed_edges if e[0] != e[1]}
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    if not nodes:
        return {}, {}, 0
    hub = {v: 1.0 / len(nodes) for v in nodes}
    auth = {v: 0.0 for v in nodes}
    it = 0
    while it < max_iter:
        it += 1
        new_auth = {v: 0.0 for v in nodes}
        for u, v in edges:
            new_auth[v] += hub[u]
        s = sum(new_auth.values())
        new_auth = {v: x / s for v, x in new_auth.items()}
        new_hub = {v: 0.0 for v in nodes}
        for u, v in edges:
            new_hub[u] += new_auth[v]
        s = sum(new_hub.values())
        new_hub = {v: x / s for v, x in new_hub.items()}
        delta = sum(abs(new_hub[v] - hub[v]) for v in nodes) + sum(
            abs(new_auth[v] - auth[v]) for v in nodes
        )
        hub, auth = new_hub, new_auth
        if tol > 0.0 and delta <= tol:
            break
    return hub, auth, it
