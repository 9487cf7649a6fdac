"""The exact-fixpoint round driver (graph/rounds.py) and the helpers
it builds on (util.scoped_shuffle_partitions / util.no_aqe, and
util.materialize, which the loops count their state with).

Every test here reads and sets session confs or local properties only;
none launches a Spark job, except the PageRank/LPA labels, the CC
golden, the Louvain labels, the empty-input and absent-source cases and
the materialize cases at the bottom."""

import ast
import pathlib
import re
import threading
import time

import networkx as nx
import pytest

from pyspark.sql import functions as F

from graph_helpers import nx_graph, random_graph, to_spark_edges

from sparkgatha.graph import betweenness, connected_components
from sparkgatha.graph.bipartite import bipartite_color
from sparkgatha.graph.neighborhood import harmonic_centrality
from sparkgatha.graph.paths import shortest_paths
from sparkgatha.graph.power import (
    eigenvector_centrality,
    hits,
    katz_centrality,
)
from sparkgatha.graph.rounds import fixpoint_rounds
from sparkgatha.graph.scc import (
    condensation_layers,
    strongly_connected_components,
)
from sparkgatha.util import materialize, no_aqe, scoped_shuffle_partitions

_PARTITIONS = "spark.sql.shuffle.partitions"
_AQE = "spark.sql.adaptive.enabled"
_DESCRIPTION = "spark.job.description"


def _never_converges(spark, max_rounds, cap=5):
    """Run the driver with a step that never breaks; return the round
    numbers and ``last`` flags it handed out."""
    seen = []
    for r in fixpoint_rounds(spark, "never_converges", max_rounds, cap=cap):
        seen.append((r.n, r.last))
    return seen


def test_fixpoint_mode_raises_naming_the_operator(spark):
    seen = []
    with pytest.raises(RuntimeError, match="never_converges.*5 rounds"):
        for r in fixpoint_rounds(spark, "never_converges", cap=5):
            seen.append(r.n)
    assert seen == [1, 2, 3, 4, 5]


def test_fixed_rounds_stop_silently_after_exactly_n(spark):
    assert _never_converges(spark, 3) == [(1, False), (2, False), (3, True)]
    # an explicit bound is the caller's, not limited by the cap
    assert len(_never_converges(spark, 7, cap=5)) == 7
    assert _never_converges(spark, 0) == []


def test_start_continues_numbering(spark):
    got = [r.n for r in fixpoint_rounds(spark, "resumed", 6, start=4)]
    assert got == [5, 6]


def test_round_width_is_read_at_loop_start_and_restored(spark):
    before = spark.conf.get(_PARTITIONS)
    with scoped_shuffle_partitions(spark, 3):
        for r in fixpoint_rounds(spark, "outer", 1):
            assert r.session_width == 3
            with r.width(10**9):
                assert spark.conf.get(_PARTITIONS) == "3"  # capped
            with r.width(5):
                assert spark.conf.get(_PARTITIONS) == "1"
            assert spark.conf.get(_PARTITIONS) == "3"
    assert spark.conf.get(_PARTITIONS) == before


def test_rounds_label_jobs_and_restore_the_caller(spark):
    sc = spark.sparkContext
    sc.setJobDescription("caller")
    try:
        for outer in fixpoint_rounds(spark, "outer", 2):
            assert sc.getLocalProperty(_DESCRIPTION) == f"outer:{outer.n}"
            for inner in fixpoint_rounds(spark, "inner", 3):
                assert sc.getLocalProperty(_DESCRIPTION) == f"inner:{inner.n}"
                if inner.n == 2:
                    break
            assert sc.getLocalProperty(_DESCRIPTION) == f"outer:{outer.n}"
        assert sc.getLocalProperty(_DESCRIPTION) == "caller"
        with pytest.raises(RuntimeError):
            for _ in fixpoint_rounds(spark, "never_converges", cap=2):
                pass
        assert sc.getLocalProperty(_DESCRIPTION) == "caller"
    finally:
        sc.setJobDescription(None)


def test_conf_scopes_from_two_threads_restore_the_originals(spark):
    """B tries to enter its scopes while A holds its own, and leaves
    only after A has left.  Interleaved, B would save A's values and
    restore them last, leaving the session at A's values for good."""
    original = (spark.conf.get(_PARTITIONS), spark.conf.get(_AQE))
    a_inside, b_started, a_done = (threading.Event() for _ in range(3))
    errors = []

    def a():
        try:
            with scoped_shuffle_partitions(spark, 3), no_aqe(spark):
                # re-entrant in one thread, as MST→CC nests
                with scoped_shuffle_partitions(spark, 4):
                    pass
                a_inside.set()
                b_started.wait(10)
                time.sleep(0.3)  # time for B to enter if nothing stops it
                assert spark.conf.get(_PARTITIONS) == "3"
        except Exception as exc:  # reported by the main thread
            errors.append(exc)
        finally:
            a_done.set()

    def b():
        a_inside.wait(10)
        b_started.set()
        with scoped_shuffle_partitions(spark, 5), no_aqe(spark):
            a_done.wait(10)

    threads = [threading.Thread(target=a), threading.Thread(target=b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(30)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert (spark.conf.get(_PARTITIONS), spark.conf.get(_AQE)) == original


# the modules whose loops run on the driver
_MIGRATED = (
    "cc", "kcore", "truss", "mis", "matching", "densest", "mst",
    "scc", "betweenness", "neighborhood", "paths", "bipartite", "power",
    "pagerank", "lpa",
)
_BANNED = {"scoped_shuffle_partitions", "adaptive_shuffle_partitions"}
_CAP_NAME = re.compile(r"CAP|RAIL|ROUND", re.IGNORECASE)
_PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "sparkgatha"


def _width_uses(path):
    """(line, name) of every reference to a width scope in ``path``."""
    uses = []
    for node in ast.walk(ast.parse(path.read_text())):
        name = (
            getattr(node, "id", None) if isinstance(node, ast.Name)
            else getattr(node, "attr", None) if isinstance(node, ast.Attribute)
            else getattr(node, "name", None) if isinstance(node, ast.alias)
            else None
        )
        if name in _BANNED:
            uses.append((node.lineno, name))
    return uses


@pytest.mark.parametrize("module", _MIGRATED)
def test_migrated_modules_keep_no_width_or_cap_of_their_own(module):
    """Source scan, no Spark: width and caps belong to graph/rounds.py."""
    path = _PACKAGE / "graph" / f"{module}.py"
    assert not _width_uses(path)
    tree = ast.parse(path.read_text())
    for node in tree.body:
        if isinstance(node, (ast.Assign, ast.AnnAssign)) and isinstance(
            node.value, ast.Constant
        ) and isinstance(node.value.value, int):
            targets = node.targets if isinstance(node, ast.Assign) else [
                node.target
            ]
            for t in targets:
                assert not _CAP_NAME.search(getattr(t, "id", "")), (
                    f"{module}.py:{node.lineno} defines a round cap {t.id}"
                )


def test_only_the_round_driver_scopes_shuffle_width():
    """Source scan, no Spark: outside util.py, which defines the width
    scopes, only graph/rounds.py may use them."""
    owners = {_PACKAGE / "util.py", _PACKAGE / "graph" / "rounds.py"}
    found = {
        str(path.relative_to(_PACKAGE)): uses
        for path in sorted(_PACKAGE.rglob("*.py"))
        if path not in owners and (uses := _width_uses(path))
    }
    assert not found


_DURABLE_CALLS = {"CheckpointManager", "latest_complete", "record"}


def test_only_the_round_driver_checkpoints_resumes_and_records():
    """Source scan, no Spark: the durable-round policy (checkpoint
    manager, resume point, sink row) lives in graph/rounds.py only."""
    found = []
    for path in sorted(_PACKAGE.rglob("*.py")):
        if path == _PACKAGE / "graph" / "rounds.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(
                f, "id", None
            )
            if name in _DURABLE_CALLS:
                found.append(f"{path.relative_to(_PACKAGE)}:{node.lineno}")
    assert not found


def test_fixed_rounds_fuse_blocks_on_the_checkpoint_cadence(spark):
    got = [
        (r.n, r.steps, r.last)
        for r in fixpoint_rounds(
            spark, "fused", 9, start=1, check_every=4, checkpoint_every=3
        )
    ]
    assert got == [(3, 2, False), (6, 3, False), (9, 3, True)]
    assert [r.n for r in fixpoint_rounds(spark, "fused", 5, check_every=2)] == [
        2, 4, 5
    ]


def _job_labels(spark, group: str, action) -> list:
    """The descriptions of the Spark jobs ``action()`` launched, found
    by job group in the status store (None for an unlabelled job)."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    labels = []
    for job in sc.statusTracker().getJobIdsForGroup(group):
        d = jsc.statusStore().job(job).description()
        labels.append(d.get() if d.isDefined() else None)
    return labels


def test_pagerank_and_lpa_jobs_carry_their_superstep_labels(spark):
    """A fused block's jobs carry the number of its last superstep, and
    the entry build's jobs ``<operator>:prepare``."""
    from sparkgatha.graph.lpa import label_propagation
    from sparkgatha.graph.pagerank import pagerank

    path = [(i, i + 1, 1.0) for i in range(12)]
    edges = to_spark_edges(spark, path, symmetric=True)
    pr = _job_labels(
        spark, "pagerank-labels",
        lambda: pagerank(edges, tol=0.0, max_iter=5, check_every=2),
    )
    assert set(pr) == {
        "pagerank:prepare", "pagerank:2", "pagerank:4", "pagerank:5"
    }
    lpa = _job_labels(
        spark, "lpa-labels",
        lambda: label_propagation(
            edges, max_iter=5, num_partitions=4, check_every=2
        ),
    )
    assert set(lpa) == {
        f"label_propagation:{n}" for n in ("prepare", 2, 4, 5)
    }


@pytest.mark.parametrize("strategy", ["broadcast", "shuffle"])
def test_prepare_jobs_carry_the_prepare_label(spark, strategy):
    """Every job of a PageRank layout build, the ones its pool threads
    start included, is labelled ``pagerank:prepare``; the caller's
    description is back afterwards."""
    from sparkgatha.graph.pagerank import prepare_pagerank

    edges = to_spark_edges(spark, [(0, d, 1.0) for d in range(1, 9)])
    sc = spark.sparkContext
    sc.setJobDescription("caller")
    try:
        labels = _job_labels(
            spark, f"prepare-{strategy}",
            lambda: prepare_pagerank(edges, 2, strategy).unpersist(),
        )
        assert sc.getLocalProperty(_DESCRIPTION) == "caller"
    finally:
        sc.setJobDescription(None)
    # vertex table, edge count, hot detection and the layout count at
    # least; the first two run on pool threads
    assert len(labels) >= 4
    assert set(labels) == {"pagerank:prepare"}


def test_cc_fixpoint_mode_matches_networkx(spark):
    triples = random_graph(n=40, m=45, seed=7)
    edges = to_spark_edges(spark, triples, symmetric=True)
    got = {
        r["vertex"]: r["component"]
        for r in connected_components(edges, max_iter=None).collect()
    }
    g = nx_graph(triples)
    assert len(got) == g.number_of_nodes()
    for comp in nx.connected_components(g):
        for v in comp:
            assert got[v] == min(comp)


def test_louvain_levels_keep_their_label_around_the_nested_cc(
    spark, monkeypatch
):
    """Each Louvain level's jobs carry ``louvain:<level>``, also after
    the connected-components loop the level runs has ended."""
    from sparkgatha.graph import louvain as lv

    sc = spark.sparkContext
    caller = sc.getLocalProperty(_DESCRIPTION)
    seen = []
    level = lv.louvain_level

    def labelled_level(cur):
        before = sc.getLocalProperty(_DESCRIPTION)
        out = level(cur)
        seen.append((before, sc.getLocalProperty(_DESCRIPTION)))
        return out

    monkeypatch.setattr(lv, "louvain_level", labelled_level)
    clique = [(i, j, 1.0) for i in range(4) for j in range(i + 1, 4)]
    edges = spark.createDataFrame(
        clique + [(a + 4, b + 4, w) for a, b, w in clique] + [(0, 4, 0.1)],
        "src long, dst long, weight double",
    )
    lv.louvain(edges, max_levels=3).collect()
    assert len(seen) >= 2  # a level that ran CC, then the final probe
    for n, labels in enumerate(seen, 1):
        assert labels == (f"louvain:{n}", f"louvain:{n}")
    assert sc.getLocalProperty(_DESCRIPTION) == caller


def _zero_rounds(result):
    assert result.iterations == 0
    return [result.scores]


_ON_EMPTY = {
    "strongly_connected_components": lambda e: [
        strongly_connected_components(e)
    ],
    "condensation_layers": lambda e: [condensation_layers(e)],
    "betweenness": lambda e: [betweenness(e)],
    "bipartite_color": lambda e: list(vars(bipartite_color(e)).values()),
    "shortest_paths": lambda e: [shortest_paths(e, 0)],
    "harmonic_centrality": lambda e: [harmonic_centrality(e, 2)],
    "hits": lambda e: _zero_rounds(hits(e)),
    "katz_centrality": lambda e: _zero_rounds(katz_centrality(e)),
    "eigenvector_centrality": lambda e: _zero_rounds(
        eigenvector_centrality(e)
    ),
}


@pytest.mark.parametrize("op", sorted(_ON_EMPTY))
def test_migrated_operators_on_empty_edges(spark, op):
    """The zero-round and first-round-break paths: an empty edge frame
    gives an empty result."""
    edges = spark.createDataFrame([], "src long, dst long, weight double")
    got = [tuple(r) for df in _ON_EMPTY[op](edges) for r in df.collect()]
    assert got == []


def test_shortest_paths_from_a_source_outside_the_graph(spark):
    """A source that no edge touches is no vertex: no distances, no
    ego network.  A source that is only a destination is a vertex."""
    from sparkgatha.graph.paths import ego_hops

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 2.0)], "src long, dst long, weight double"
    )
    assert shortest_paths(edges, 7).collect() == []
    assert ego_hops(edges, 7, hops=2).collect() == []
    assert [tuple(r) for r in shortest_paths(edges, 3).collect()] == [
        (3, 0.0)
    ]


def _jobs_of(spark, group: str, action) -> int:
    """Spark jobs launched by ``action()``, counted by a job group (the
    status store keeps only the latest jobs of a long session)."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("reset_stats", [False, True])
@pytest.mark.parametrize("rows", [0, 37])
def test_materialize_counts_on_the_checkpoint_job(spark, rows, reset_stats):
    """The observed count equals ``.count()``, costs no job beyond the
    checkpoint's own, and the checkpointed frame carries no observation
    (reading it again observes nothing)."""
    # a distinct: an exchange, as in the loops' frames
    df = spark.range(2 * rows).select((F.col("id") % 37).alias("k")).distinct()
    tag = f"materialize-{rows}-{reset_stats}"
    checkpoint_jobs = _jobs_of(
        spark, f"{tag}-plain", lambda: df.localCheckpoint(eager=True)
    )
    got = []
    jobs = _jobs_of(
        spark, tag, lambda: got.extend(materialize(df, reset_stats=reset_stats))
    )
    out, n = got
    assert jobs == checkpoint_jobs
    assert n == rows == out.count() == df.count()
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "CollectMetrics" not in plan
