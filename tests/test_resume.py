"""L5 — checkpoint/resume: PageRank interrupted after iteration k and
resumed must produce the SAME final state (bitwise on the fingerprint)
as the uninterrupted run (SURVEY.md §5.2 L5)."""

from graph_helpers import random_graph, to_spark_edges

from sparkgatha.graph.metrics import state_fingerprint
from sparkgatha.graph.pagerank import pagerank


def test_resume_equals_uninterrupted(spark, tmp_path):
    triples = random_graph(n=80, m=240, seed=11)
    edges = to_spark_edges(spark, triples, symmetric=True)

    full_dir = str(tmp_path / "full")
    r_full = pagerank(
        edges, tol=0.0, max_iter=8, checkpoint_dir=full_dir, checkpoint_every=2
    )

    # interrupted: stop after 4 iterations, durable every 2
    part_dir = str(tmp_path / "part")
    pagerank(
        edges, tol=0.0, max_iter=4, checkpoint_dir=part_dir, checkpoint_every=2
    )
    # resume and continue to 8
    r_res = pagerank(
        edges,
        tol=0.0,
        max_iter=8,
        checkpoint_dir=part_dir,
        checkpoint_every=2,
        resume=True,
    )

    fp_full = state_fingerprint(r_full.ranks)
    fp_res = state_fingerprint(r_res.ranks)
    assert fp_full == fp_res
    assert r_res.iterations == 8


def test_personalized_resume_equals_uninterrupted(spark, tmp_path):
    """The personalized teleport column must survive the durable
    checkpoint boundary: resume re-joins p after ckpt.load, so the
    resumed run is bitwise-identical to the uninterrupted one."""
    triples = random_graph(n=80, m=240, seed=11)
    edges = to_spark_edges(spark, triples, symmetric=True)
    pers = spark.createDataFrame(
        [(0, 2.0), (5, 1.0)], "vertex long, weight double"
    )

    full_dir = str(tmp_path / "pfull")
    r_full = pagerank(
        edges, tol=0.0, max_iter=8, checkpoint_dir=full_dir,
        checkpoint_every=2, personalization=pers,
    )
    part_dir = str(tmp_path / "ppart")
    pagerank(
        edges, tol=0.0, max_iter=4, checkpoint_dir=part_dir,
        checkpoint_every=2, personalization=pers,
    )
    r_res = pagerank(
        edges, tol=0.0, max_iter=8, checkpoint_dir=part_dir,
        checkpoint_every=2, resume=True, personalization=pers,
    )
    assert state_fingerprint(r_full.ranks) == state_fingerprint(r_res.ranks)
    assert r_res.iterations == 8


def test_manifest_and_metrics_written(spark, tmp_path):
    import json
    import os

    triples = random_graph(n=40, m=100, seed=5)
    edges = to_spark_edges(spark, triples, symmetric=True)
    d = str(tmp_path / "ck")
    r = pagerank(
        edges, tol=0.0, max_iter=3, checkpoint_dir=d, checkpoint_every=1,
    )
    assert r.iterations == 3
    for it in (1, 2, 3):
        m = json.load(open(os.path.join(d, f"it={it}", "_MANIFEST.json")))
        assert m["iteration"] == it
        assert "delta_l1" in m["metrics"]
        # every durable save records per-partition lineage, and the
        # rows fold into the sha of the state it saved
        assert len(m["partitions"]) >= 1
        saved = spark.read.parquet(os.path.join(d, f"it={it}"))
        assert m["lineage_sha"] == state_fingerprint(saved)
        assert sum(p["rows"] for p in m["partitions"]) == saved.count()
    # metrics sink wrote one row per superstep
    lines = open(os.path.join(d, "_metrics.jsonl")).read().strip().splitlines()
    assert len(lines) == 3


def test_lpa_resume_equals_uninterrupted(spark, tmp_path):
    """G12 now covers LPA: interrupt after 2 supersteps, resume, final
    labels fingerprint-identical to the uninterrupted run."""
    from sparkgatha.graph.lpa import label_propagation

    triples = random_graph(n=80, m=240, seed=12)
    edges = to_spark_edges(spark, triples, symmetric=True)
    full = label_propagation(
        edges, max_iter=6, num_partitions=4,
        checkpoint_dir=str(tmp_path / "lf"),
    )
    part_dir = str(tmp_path / "lp")
    label_propagation(edges, max_iter=2, num_partitions=4, checkpoint_dir=part_dir)
    res = label_propagation(
        edges, max_iter=6, num_partitions=4, checkpoint_dir=part_dir, resume=True
    )
    assert state_fingerprint(full) == state_fingerprint(res)


def test_lpa_fused_durable_resume_equals_uninterrupted(spark, tmp_path):
    """Fused blocks (``check_every=3``) clamp to the checkpoint cadence
    (``checkpoint_every=2``) before and after a resume.  On a path,
    labels drift one vertex per superstep, so no run converges early."""
    import os

    from sparkgatha.graph.lpa import label_propagation

    path = [(i, i + 1, 1.0) for i in range(30)]
    edges = to_spark_edges(spark, path, symmetric=True)
    kw = dict(num_partitions=4, check_every=3, checkpoint_every=2)
    full = label_propagation(
        edges, max_iter=7, checkpoint_dir=str(tmp_path / "ff"), **kw
    )
    part_dir = str(tmp_path / "fp")
    label_propagation(edges, max_iter=3, checkpoint_dir=part_dir, **kw)
    res = label_propagation(
        edges, max_iter=7, checkpoint_dir=part_dir, resume=True, **kw
    )
    assert state_fingerprint(full) == state_fingerprint(res)
    # blocks 1-2 | 3 (the interrupted run's last) | 4 | 5-6 | 7
    saved = sorted(
        int(d.split("=")[1]) for d in os.listdir(part_dir)
        if d.startswith("it=")
    )
    assert saved == [2, 3, 4, 6, 7]


def test_cc_resume_equals_uninterrupted(spark, tmp_path):
    """G12 now covers CC: the link-set state resumes exactly."""
    from sparkgatha.graph.cc import connected_components

    triples = random_graph(n=120, m=200, seed=13)
    edges = to_spark_edges(spark, triples, symmetric=True)
    full = connected_components(edges, checkpoint_dir=str(tmp_path / "cf"))
    part_dir = str(tmp_path / "cp")
    connected_components(edges, max_iter=1, checkpoint_dir=part_dir)
    res = connected_components(edges, checkpoint_dir=part_dir, resume=True)
    assert state_fingerprint(full) == state_fingerprint(res)


def test_warm_start_same_fixpoint_fewer_supersteps(spark):
    """ST6 warm start: init_ranks from a converged run reaches the same
    fixpoint (init-independence) in one confirming superstep."""
    from pyspark.sql import functions as F

    triples = random_graph(n=80, m=240, seed=14)
    edges = to_spark_edges(spark, triples, symmetric=True)
    cold = pagerank(edges, tol=1e-9, max_iter=200)
    assert cold.converged
    warm = pagerank(edges, tol=1e-9, max_iter=200, init_ranks=cold.ranks)
    assert warm.converged and warm.iterations <= 2 < cold.iterations
    j = cold.ranks.alias("c").join(warm.ranks.alias("w"), "vertex")
    mx = j.agg(
        F.max(F.abs(F.col("c.rank") - F.col("w.rank")))
    ).collect()[0][0]
    assert mx < 1e-8


def test_lineage_sha_stable_across_partitionings(spark):
    triples = random_graph(n=50, m=150, seed=9)
    e4 = to_spark_edges(spark, triples, symmetric=True).repartition(4)
    e16 = to_spark_edges(spark, triples, symmetric=True).repartition(16)
    r4 = pagerank(e4, tol=0.0, max_iter=5, num_partitions=4)
    r16 = pagerank(e16, tol=0.0, max_iter=5, num_partitions=16)
    # partitioning-insensitive fingerprint: same logical state, same sha
    assert state_fingerprint(r4.ranks) == state_fingerprint(r16.ranks)


def test_fused_blocks_bit_identical_and_converge(spark, tmp_path):
    """check_every=k fuses k supersteps into one job with bit-identical
    numerics; convergence overshoots by < k supersteps; durable
    checkpoints force block boundaries so resume still works."""
    from pyspark.sql import functions as F

    triples = random_graph(n=120, m=480, seed=21)
    edges = to_spark_edges(spark, triples, symmetric=True)
    a = pagerank(edges, tol=0.0, max_iter=12)
    b = pagerank(edges, tol=0.0, max_iter=12, check_every=5)  # non-divisor
    assert a.iterations == b.iterations == 12
    j = a.ranks.alias("a").join(b.ranks.alias("b"), "vertex")
    mx = j.agg(F.max(F.abs(F.col("a.rank") - F.col("b.rank")))).collect()[0][0]
    assert mx == 0.0

    c = pagerank(edges, tol=1e-9, max_iter=200)
    d = pagerank(edges, tol=1e-9, max_iter=200, check_every=8)
    assert d.converged and d.iterations < c.iterations + 8

    # fused + durable checkpoints: boundaries forced at checkpoint_every
    e = pagerank(
        edges, tol=0.0, max_iter=6, check_every=4, checkpoint_every=2,
        checkpoint_dir=str(tmp_path / "fc"),
    )
    f = pagerank(edges, tol=0.0, max_iter=6)
    assert state_fingerprint(e.ranks) == state_fingerprint(f.ranks)
