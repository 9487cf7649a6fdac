"""L7 — skew handling: hot-vertex mirroring changes the physical layout,
never the result (SURVEY.md §5.2 L7)."""

import ast
import pathlib

from pyspark.sql import functions as F

from graph_helpers import pagerank_oracle, powerlaw_graph, to_spark_edges, undirected_both

from sparkgatha.graph import skew
from sparkgatha.graph.pagerank import pagerank, prepare_pagerank
from sparkgatha.synthetic import powerlaw_edges


def test_pagerank_hot_mirroring_exact(spark, monkeypatch):
    """Force the hot path (threshold=1 → every vertex mirrored) and the
    cold-only path (huge threshold): identical results, both matching
    the oracle."""
    triples = powerlaw_graph(n=150, m=600, seed=13)
    edges = to_spark_edges(spark, triples, symmetric=True)
    want = pagerank_oracle(undirected_both(triples), tol=0.0, max_iter=15)

    for strategy, threshold in (
        ("broadcast", 1),      # everything mirrored
        ("broadcast", 10**9),  # nothing mirrored
        ("shuffle", 1),        # everything salted
        ("shuffle", 10**9),    # nothing salted
        ("shuffle", None),     # the default rule
    ):
        with monkeypatch.context() as m:
            if threshold is not None:
                m.setattr(skew, "hot_threshold", lambda *_, t=threshold: t)
            r = pagerank(edges, tol=0.0, max_iter=15, strategy=strategy)
            got = {x["vertex"]: x["rank"] for x in r.ranks.collect()}
        for k in want:
            assert abs(got[k] - want[k]) < 1e-12, (strategy, threshold)


def test_no_straggler_partition_after_mirroring(spark):
    """The G10 layout bounds the max partition: with the hub salted, no
    partition holds more than 4x the median row count."""
    e = powerlaw_edges(spark, 400_000, n_vertices=20_000, num_partitions=16)
    prep = prepare_pagerank(e, 16, "broadcast")
    cold, hot = prep.cold, prep.hot
    assert hot is not None  # hub detected
    sizes = [
        r["n"]
        for r in cold.unionByName(hot)
        .groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    sizes.sort()
    median = sizes[len(sizes) // 2]
    assert sizes[-1] <= 4 * median, sizes
    prep.unpersist()


def test_no_straggler_partition_shuffle_strategy(spark):
    """Shuffle-mode layout: the 30%-of-edges hub SRC is salted across
    partitions — no partition holds more than 4x the median row count
    (without salting the hub partition holds ~30% of all rows ≈ 5x an
    even 16-way split)."""
    e = powerlaw_edges(spark, 400_000, n_vertices=20_000, num_partitions=16)
    prep = prepare_pagerank(e, 16, "shuffle")
    cold, hot, hot_srcs = prep.cold, prep.hot, prep.hot_srcs
    assert hot is not None and hot_srcs is not None  # hub src detected
    assert hot_srcs.count() >= 1
    sizes = [
        r["n"]
        for r in cold.select("src").unionByName(hot.select("src"))
        .groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    sizes.sort()
    median = sizes[len(sizes) // 2]
    assert sizes[-1] <= 4 * median, sizes
    prep.unpersist()


def test_split_leaves_the_caller_input_storage_alone(spark, monkeypatch):
    """The split neither persists nor releases the frame it is given:
    an uncached input stays uncached and a cached one stays cached."""
    monkeypatch.setattr(skew, "hot_threshold", lambda *_: 1)
    rows = [(0, d, 1.0) for d in range(1, 6)] + [(1, 2, 2.0), (3, 4, 0.5)]
    for cache in (False, True):
        pre = spark.createDataFrame(rows, "src long, dst long, weight double")
        if cache:
            pre = pre.persist()
        before = pre.storageLevel
        hot = skew.hot_keys(pre, "src", 2, len(rows))
        layout = skew.salted_layout(pre, "src", 2, hot)
        assert hot is not None and layout.hot is not None
        assert layout.n_edges == len(rows)
        assert pre.storageLevel == before, cache
        layout.cold.unpersist()
        layout.hot.unpersist()
        pre.unpersist()


# the G10 policy's three pieces, each written in graph/skew.py only
_G10_NAMES = {"HOT_MIRROR_CAP", "hot_threshold"}
_SALT_ARGS = ["src", "dst", "weight"]


def test_only_skew_states_the_threshold_cap_and_salt():
    """Source scan, no Spark: no module but graph/skew.py references
    HOT_MIRROR_CAP or the threshold rule, or builds the row salt
    xxhash64(src, dst, weight)."""
    package = pathlib.Path(skew.__file__).resolve().parent.parent
    found = []
    for path in sorted(package.rglob("*.py")):
        if path.resolve() == pathlib.Path(skew.__file__).resolve():
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            name = (
                getattr(node, "id", None) if isinstance(node, ast.Name)
                else getattr(node, "attr", None) if isinstance(node, ast.Attribute)
                else getattr(node, "name", None) if isinstance(node, ast.alias)
                else getattr(node, "arg", None)
                if isinstance(node, (ast.arg, ast.keyword))
                else None
            )
            if name in _G10_NAMES:
                found.append(f"{path.relative_to(package)}:{node.lineno} {name}")
            if isinstance(node, ast.Call) and getattr(
                node.func, "attr", getattr(node.func, "id", None)
            ) == "xxhash64" and [
                getattr(a, "value", None) for a in node.args
            ] == _SALT_ARGS:
                found.append(f"{path.relative_to(package)}:{node.lineno} salt")
    assert not found
