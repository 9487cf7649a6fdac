"""The workloads: set-up, one closed-loop pass, and output checks.

One client runs one operation at a time (a closed loop, no rates).  Each
workload makes its inputs, runs one warm-up pass whose results are
checked and then discarded, and then runs measured passes until the time
budget is spent (at least one).  Every operation is timed from outside,
around calls to sparkgatha's public functions, and every output is
checked after its timer stops; an exception or a wrong output counts as
a failed operation.

Why these workloads:

* ``graph_b`` — the north-star path: broadcast PageRank supersteps, CC,
  LPA and triangles on a seeded power-law graph with a 30% hub.  At
  this host's size the supersteps are driver-bound (few jobs, little
  shuffle); the skew shows in prepare.  One small co-occurrence
  extraction with a durable PageRank checkpoint rides along, so the
  ``extract`` and ``graph.checkpoint`` layers are measured on a workload
  of BENCHMARK.json.  Bypasses ``similarity``.
* ``query_mix`` — registry queries on fixture-shaped tables: many small
  jobs, where Catalyst analysis and driver round trips dominate.
  Bypasses big-graph supersteps.
* ``codegraph`` — source-file-like documents → co-occurrence extraction
  (the Arrow ``mapInPandas`` pair expansion) → symmetrize → node ids →
  converged PageRank with durable checkpoints → top-20 terms: the
  ``entry()`` shape at scale.  A small graph with many supersteps, so
  per-superstep fixed cost and checkpoint writes dominate.  Not in
  BENCHMARK.json: a third workload does not fit its time budget.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from decimal import Decimal

from pyspark.sql import functions as F

from perfbench import inputs
from perfbench.trace import Tracer, p50

#: input B size; with it a graph_b run takes 60-75 s on 4 CPUs
GRAPH_B_EDGES = 200_000
#: documents of graph_b's extraction op: ~5.9e4 distinct edges
GRAPH_B_DOCS = 1_000
#: codegraph corpus: ~1.1e5 distinct edges
CODE_DOCS = 2_500
CODE_MODULES = 50
CODE_PER_MODULE = 60
CODE_SHARED = 400
#: entry()'s tolerance; the corpus converges in about 16 supersteps
CODE_TOL = 1e-8
#: supersteps between durable PageRank checkpoints in codegraph
CODE_CHECKPOINT_EVERY = 5

#: query_mix runs on one fixed set of tables, as the registry runs on its
#: fixture; the seed sets the order of the keys in each pass.  Some keys
#: round float sums in their output (q_join_smj: revenue to 2 places), so
#: on some tables a sum lands on a rounding boundary and the two engines
#: round it differently; all keys match the oracle on these tables.
QUERY_TABLE_SEED = 1

#: query_mix keys -> (layer the call enters, end-to-end group).
#: ``q_g5_connected_components`` is left out to fit the run budget: its
#: layer, ``graph.cc``, is measured on graph_b.
QUERY_KEYS = {
    "q_k_core": ("graph.kcore", "fixpoint"),
    "q_k_truss": ("graph.truss", "fixpoint"),
    "q_mis": ("graph.mis", "fixpoint"),
    "q_pq_topk": ("similarity", "ann"),
    "q_dedup_minhash": ("dedup", "dedup"),
    "q_groupby_agg": ("relational", "relational"),
    "q_join_smj": ("relational", "relational"),
    "q_window_rank": ("relational", "relational"),
}


@dataclass
class Run:
    """What one benchmark run shares between set-up, passes and checks."""

    spark: object
    seed: int
    seconds: float
    work_dir: str
    partitions: int
    tracer: Tracer = field(default_factory=Tracer)
    samples: dict = field(default_factory=dict)  # op -> measured values
    counts: dict = field(default_factory=dict)   # per-layer counts
    attempted: int = 0
    failed: int = 0
    passes: int = 0
    setup_parts: dict = field(default_factory=dict)

    def op(self, name: str, layer: str, fn, check=None):
        """Run one operation inside a span; time it, then check its
        output outside the timed window.  Returns the output, or None if
        the operation raised."""
        self.attempted += 1
        try:
            with self.tracer.span(name, layer) as sp:
                t0 = time.perf_counter()
                out = fn(sp)
                wall = time.perf_counter() - t0
        except Exception:  # a failed operation is counted, the loop goes on
            traceback.print_exc()
            self.failed += 1
            return None
        if check is not None:
            try:
                with self.tracer.span(f"check.{name}", "check"):
                    problem = check(out)
            except Exception:
                traceback.print_exc()
                problem = "check raised"
            if problem:
                print(f"perfbench: {name}: {problem}", file=sys.stderr)
                self.failed += 1
        if self.tracer.phase == "measure":
            self.samples.setdefault(name, []).append(wall)
        return out

    def sample(self, name: str, value: float) -> None:
        if self.tracer.phase == "measure":
            self.samples.setdefault(name, []).append(value)

    def count(self, name: str, value: float) -> None:
        if self.tracer.phase == "measure":
            self.counts.setdefault(name, []).append(value)

    def med(self, name: str) -> float:
        return statistics.median(self.samples[name])

    def loop(self, one_pass) -> None:
        """Warm-up pass, then measured passes until ``seconds`` is spent."""
        self.tracer.phase = "warmup"
        t0 = time.perf_counter()
        one_pass(0)
        self.setup_parts["warmup_s"] = time.perf_counter() - t0
        self.tracer.phase = "measure"
        t0 = time.perf_counter()
        while self.passes == 0 or time.perf_counter() - t0 < self.seconds:
            self.passes += 1
            one_pass(self.passes)
        self.tracer.phase = "done"

    def setup_inputs(self, make):
        """Build one input once and add how long that took to
        ``inputs_s``."""
        t0 = time.perf_counter()
        out = make()
        self.setup_parts["inputs_s"] = (self.setup_parts.get("inputs_s", 0.0)
                                        + time.perf_counter() - t0)
        return out


def _superstep_spans(run: Run, call_span, sink, layer: str) -> list:
    """Child spans of a pagerank/cc/lpa call, one per round, from the
    rows of the ``MetricsSink`` passed to it.  Round i spans from the
    sink row of round i-1 (or from the first round's own start) to its
    own row, so it covers everything the loop did for that round."""
    out, prev = [], None
    for r in sink.rows:
        end = r["ts"]
        start = prev if prev is not None else end - r["wall_ms"] / 1000.0
        out.append(run.tracer.add_span(layer, layer, start, end, call_span))
        prev = end
    return out


def _ranks_sum_problem(ranks) -> str | None:
    s = ranks.agg(F.sum("rank")).collect()[0][0]
    if s is None or abs(s - 1.0) > 1e-9:
        return f"ranks sum to {s}, not 1"
    return None


def _code_inputs(run: Run, name: str, n_docs: int):
    """Make the seeded code corpus of ``n_docs`` documents, write it to
    parquet, and replay its extraction in NumPy.  Returns the corpus,
    the parquet path and the reference (src, dst, weight) arrays."""
    path = os.path.join(run.work_dir, f"{name}_docs.parquet")

    def make():
        corpus = inputs.code_corpus(run.seed, n_docs, CODE_MODULES,
                                    CODE_PER_MODULE, CODE_SHARED)
        corpus.docs.to_parquet(path, index=False)
        return corpus

    corpus = run.setup_inputs(make)
    return corpus, path, inputs.cooccurrence_reference(corpus)


def _edges_problem(edges, corpus, ref_w) -> str | None:
    n, w = edges.agg(F.count("*"), F.sum("weight")).collect()[0]
    if n != len(ref_w) or w != corpus.n_pairs:
        return f"{n} edges of total weight {w}; expected {len(ref_w)} and {corpus.n_pairs}"
    return None


def _trace_checkpoint_writes(run: Run) -> None:
    """Open a ``graph.checkpoint`` span around every durable checkpoint
    write PageRank makes (``CheckpointManager.save``) in this process."""
    from sparkgatha.graph.checkpoint import CheckpointManager

    save = CheckpointManager.save

    def traced_save(self, *args, **kwargs):
        with run.tracer.span("graph.checkpoint"):
            return save(self, *args, **kwargs)

    CheckpointManager.save = traced_save


def _pair_yield(run: Run, docs_path: str, corpus, n_edges: int) -> None:
    """extract.pair_yield: distinct edges / the pairs the extractor
    expands, counted from the engine's own ``tokenize`` output after the
    measured passes; a count that differs from the corpus's is a failed
    operation."""
    from sparkgatha.extract import tokenize

    with run.tracer.span("extract.tokenize", "check"):
        k = F.size("terms")
        expanded = (tokenize(run.spark.read.parquet(docs_path), "text")
                    .agg(F.sum(k * (k - 1) / 2)).collect()[0][0])
    run.attempted += 1
    if int(expanded) != corpus.n_pairs:
        print(f"perfbench: tokenize gave {expanded} pairs, expected {corpus.n_pairs}",
              file=sys.stderr)
        run.failed += 1
    run.setup_parts["pair_yield"] = n_edges / expanded


# ---------------------------------------------------------------------------
# graph_b
# ---------------------------------------------------------------------------

def graph_b(run: Run) -> dict:
    from sparkgatha.extract import extract_cooccurrence_edges, node_ids, symmetrize
    from sparkgatha.graph.cc import connected_components
    from sparkgatha.graph.lpa import label_propagation
    from sparkgatha.graph.metrics import MetricsSink
    from sparkgatha.graph.pagerank import pagerank, prepare_pagerank
    from sparkgatha.graph.triangles import triangle_counts
    from sparkgatha.synthetic import powerlaw_edges

    spark, P = run.spark, run.partitions

    def make():
        with run.tracer.span("synthetic.powerlaw_edges"):
            edges = powerlaw_edges(
                spark, GRAPH_B_EDGES, seed=run.seed, num_partitions=P
            ).localCheckpoint(eager=True)
        return edges

    edges = run.setup_inputs(make)
    with run.tracer.span("synthetic.count", "check"):
        n_edges, n_vertices = (
            edges.select(F.explode(F.array("src", "dst")).alias("v"))
            .agg(F.count("*") / 2, F.countDistinct("v")).collect()[0]
        )
        n_edges = int(n_edges)
    corpus, docs_path, (_, _, ref_w) = _code_inputs(run, "graph_b", GRAPH_B_DOCS)
    _trace_checkpoint_writes(run)

    def pagerank_op(steps: int):
        prep = run.op(
            "prepare", "graph.pagerank.prepare",
            lambda sp: prepare_pagerank(edges, num_partitions=P, strategy="broadcast"),
        )
        if prep is None:
            return
        with run.tracer.span("count.hot_edges", "check"):
            hot = prep.hot.count() if prep.hot is not None else 0
        run.count("hot_edge_share", hot / prep.n_edges)
        sink = MetricsSink(None, "pagerank")

        def call(sp):
            res = pagerank(prepared=prep, tol=0.0, max_iter=steps, metrics_sink=sink)
            _superstep_spans(run, sp, sink, "graph.pagerank.superstep")
            return res

        res = run.op("pagerank", "graph.pagerank", call,
                        lambda r: _ranks_sum_problem(r.ranks))
        if res is not None:
            run.sample("edges_per_s", n_edges * res.iterations / sum(res.superstep_wall_s))
            run.count("iterations", res.iterations)
        prep.unpersist()

    def cc_check(labels):
        # one label per vertex first: the joins below drop an edge whose
        # endpoint has no label
        n_l, n_d = labels.count(), labels.select("vertex").distinct().count()
        if not (n_l == n_d == n_vertices):
            return f"{n_l} labels for {n_d} distinct of {n_vertices} vertices"
        bad_edges = (
            edges.join(labels.select(F.col("vertex").alias("src"), F.col("component").alias("cs")), "src")
            .join(labels.select(F.col("vertex").alias("dst"), F.col("component").alias("cd")), "dst")
            .filter(F.col("cs") != F.col("cd")).limit(1).count()
        )
        bad_labels = (
            labels.groupBy("component").agg(F.min("vertex").alias("m"))
            .filter(F.col("m") != F.col("component")).limit(1).count()
        )
        if bad_edges or bad_labels:
            return "an edge spans two components, or a label is not its component's minimum"
        return None

    def lpa_check(labels):
        n_l, n_d = labels.count(), labels.select("vertex").distinct().count()
        if not (n_l == n_d == n_vertices):
            return f"{n_l} labels for {n_d} distinct of {n_vertices} vertices"
        return None

    def tri_check(tri):
        total = tri.agg(F.sum("n_triangles")).collect()[0][0]
        return None if total % 3 == 0 else f"triangle corner sum {total} is not a multiple of 3"

    def rounds_op(name, layer, fn, check):
        sink = MetricsSink(None, name)

        def call(sp):
            out = fn(sink).localCheckpoint(eager=True)
            _superstep_spans(run, sp, sink, f"{layer}.round")
            return out

        run.op(name, layer, call, check)
        run.count(f"{name}_rounds", len(sink.rows))

    def extract_ckpt_op(i):
        """Documents → co-occurrence edges → one PageRank superstep that
        ends in a durable checkpoint."""
        ckpt = os.path.join(run.work_dir, f"graph_b_ckpt_{i}")

        def call(sp):
            docs = spark.read.parquet(docs_path)
            with run.tracer.span("extract", "extract.cooccurrence") as ex:
                cooc = extract_cooccurrence_edges(docs, text_col="text").localCheckpoint(eager=True)
            run.sample("extract_docs_per_s", GRAPH_B_DOCS / ex.wall_s)
            _, id_edges = node_ids(symmetrize(cooc))
            with run.tracer.span("graph.pagerank.ckpt"):
                res = pagerank(id_edges, tol=0.0, max_iter=1, num_partitions=P,
                               checkpoint_dir=ckpt)
            return cooc, res

        def check(out):
            cooc, res = out
            return _edges_problem(cooc, corpus, ref_w) or _ranks_sum_problem(res.ranks)

        run.op("extract_ckpt", "extract_ckpt", call, check)
        run.count("checkpoint_bytes", _du(ckpt))
        shutil.rmtree(ckpt, ignore_errors=True)

    def one_pass(i):
        # the warm-up pass runs every plan once; it needs no more rounds
        warm = i == 0
        pagerank_op(2 if warm else 10)
        rounds_op("cc", "graph.cc",
                  lambda sink: connected_components(edges, metrics_sink=sink), cc_check)
        rounds_op("lpa", "graph.lpa",
                  lambda sink: label_propagation(edges, max_iter=1 if warm else 3,
                                                 num_partitions=P, metrics_sink=sink),
                  lpa_check)
        run.op("triangles", "graph.triangles",
               lambda sp: triangle_counts(edges).localCheckpoint(eager=True), tri_check)
        extract_ckpt_op(i)

    run.loop(one_pass)
    _pair_yield(run, docs_path, corpus, len(ref_w))
    return {
        "ops": ("prepare", "pagerank", "cc", "lpa", "triangles", "extract_ckpt"),
        "named": {
            "pagerank_edges_per_s": ("edges/s", "higher", run.samples["edges_per_s"]),
            "prepare_s": ("s", "lower", run.samples["prepare"]),
            "cc_s": ("s", "lower", run.samples["cc"]),
            "lpa_s": ("s", "lower", run.samples["lpa"]),
            "triangles_s": ("s", "lower", run.samples["triangles"]),
            "extract_docs_per_s": ("docs/s", "higher", run.samples["extract_docs_per_s"]),
        },
        "input": {"n_edges": n_edges, "n_vertices": n_vertices, "hub_frac": 0.3,
                  "n_docs": GRAPH_B_DOCS, "doc_edges": len(ref_w),
                  "expanded_pairs": corpus.n_pairs},
    }


# ---------------------------------------------------------------------------
# codegraph
# ---------------------------------------------------------------------------

def codegraph(run: Run) -> dict:
    """Source-file-like documents → co-occurrence extraction (the Arrow
    ``mapInPandas`` pair expansion) → symmetrize → node ids → converged
    PageRank with durable checkpoints → top-20 terms, checked against a
    NumPy replay of the extraction and of PageRank."""
    from sparkgatha.extract import extract_cooccurrence_edges, node_ids, symmetrize
    from sparkgatha.graph.metrics import MetricsSink
    from sparkgatha.graph.pagerank import pagerank

    spark = run.spark
    corpus, docs_path, (src, dst, ref_w) = _code_inputs(run, "codegraph", CODE_DOCS)
    _trace_checkpoint_writes(run)
    ref_rank = {corpus.vocab[i]: r for i, r in
                inputs.pagerank_reference(src, dst, ref_w).items()}
    ref_top20 = sorted(ref_rank.values(), reverse=True)[19]

    def check(out, converged: bool) -> str | None:
        edges, rows, res = out
        problem = _edges_problem(edges, corpus, ref_w) or _ranks_sum_problem(res.ranks)
        if problem or not converged:
            return problem
        if not res.converged:
            return f"pagerank did not converge in {res.iterations} supersteps"
        if len(rows) != 20:
            return f"{len(rows)} top rows"
        for key, rank in rows:
            if abs(rank - ref_rank[key]) > 1e-5:
                return f"rank of {key!r} is {rank}, reference {ref_rank[key]}"
            if ref_rank[key] < ref_top20 - 2e-5:
                return f"{key!r} is not among the reference top 20"
        return None

    def one_pass(i):
        ckpt = os.path.join(run.work_dir, f"pagerank_ckpt_{i}")

        def pipeline(sp):
            docs = spark.read.parquet(docs_path)
            with run.tracer.span("extract", "extract.cooccurrence") as ex:
                edges = extract_cooccurrence_edges(docs, text_col="text").localCheckpoint(eager=True)
            run.sample("extract_docs_per_s", CODE_DOCS / ex.wall_s)
            with run.tracer.span("extract.node_ids"):
                nodes, id_edges = node_ids(symmetrize(edges))
            sink = MetricsSink(None, "codegraph")
            with run.tracer.span("graph.pagerank.ckpt") as prs:
                # the warm-up pass stops at the first durable checkpoint
                res = pagerank(id_edges, alpha=0.85, tol=CODE_TOL,
                               max_iter=CODE_CHECKPOINT_EVERY if i == 0 else 60,
                               checkpoint_dir=ckpt, checkpoint_every=CODE_CHECKPOINT_EVERY,
                               metrics_sink=sink)
            steps = _superstep_spans(run, prs, sink, "graph.pagerank.ckpt.superstep")
            if steps:
                run.tracer.add_span("graph.pagerank.ckpt.prepare", "graph.pagerank.ckpt.prepare",
                                    prs.start, steps[0].start, prs)
            run.count("ckpt_iterations", res.iterations)
            with run.tracer.span("bench.top20"):
                rows = (
                    res.ranks.join(nodes, res.ranks.vertex == nodes.id)
                    .select("key", "rank")
                    .orderBy(F.col("rank").desc(), F.col("key"))
                    .limit(20).collect()
                )
            return edges, [(r["key"], r["rank"]) for r in rows], res

        run.op("codegraph", "codegraph", pipeline, lambda out: check(out, converged=i > 0))
        run.count("checkpoint_bytes", _du(ckpt))
        shutil.rmtree(ckpt, ignore_errors=True)

    run.loop(one_pass)
    _pair_yield(run, docs_path, corpus, len(ref_w))
    return {
        "ops": ("codegraph",),
        "named": {
            "pipeline_s": ("s", "lower", run.samples["codegraph"]),
            "extract_docs_per_s": ("docs/s", "higher", run.samples["extract_docs_per_s"]),
        },
        "input": {"n_docs": CODE_DOCS, "vocabulary": len(corpus.vocab),
                  "n_edges": len(ref_w), "expanded_pairs": corpus.n_pairs},
    }


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

def _norm_cell(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v


def fingerprint(rows, cols) -> tuple[int, str]:
    """Row count and an order-insensitive hash of a result, with columns
    taken in name order and doubles rounded to 9 places (the rounding of
    the repository's oracle comparison)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(repr(tuple(_norm_cell(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for line in norm:
        h.update(line.encode())
    return len(norm), h.hexdigest()


def query_mix(run: Run) -> dict:
    import duckdb

    import __spark_entry__ as entrymod

    spark = run.spark
    tdir = os.path.join(run.work_dir, "tables")
    run.setup_inputs(lambda: inputs.write_tables(inputs.query_tables(QUERY_TABLE_SEED), tdir))
    reg, oracle_sql = entrymod.queries(), entrymod.oracle_sql()
    con = duckdb.connect()
    try:
        for t in inputs.QUERY_ROWS:
            path = os.path.join(tdir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        expected = {}
        for key in QUERY_KEYS:
            d = con.sql(oracle_sql[key])
            expected[key] = fingerprint(d.fetchall(), list(d.columns))
    finally:
        con.close()

    def query(key: str) -> None:
        def check(rows):
            got = fingerprint(rows, list(rows[0].__fields__) if rows else [])
            if got[0] != expected[key][0] or (rows and got != expected[key]):
                return f"{got[0]} rows / hash {got[1][:12]}; oracle {expected[key]}"
            return None

        # collect() forces every column of every row, as a noop write
        # would, and hands the check the rows without a second run
        run.op(key, QUERY_KEYS[key][0],
               lambda sp: reg[key](spark, tdir).collect(), check)

    order = list(QUERY_KEYS)
    rng = random.Random(run.seed)

    def one_pass(_):
        rng.shuffle(order)
        for key in order:
            query(key)

    run.loop(one_pass)
    named = {}
    for group in ("fixpoint", "ann", "dedup", "relational"):
        keys = [k for k, (_, g) in QUERY_KEYS.items() if g == group]
        per_pass = [sum(v) for v in zip(*(run.samples[k] for k in keys))]
        named[f"{group}_queries_s"] = ("s", "lower", per_pass)
    return {
        "ops": tuple(QUERY_KEYS),
        "named": named,
        "input": {"tables": dict(inputs.QUERY_ROWS), "keys": list(QUERY_KEYS)},
    }


WORKLOADS = {"graph_b": graph_b, "query_mix": query_mix, "codegraph": codegraph}


def layer_report(run: Run) -> dict:
    """The per-layer figures of a traced run, by metric name: every
    layer's span metrics per measured pass, then the counts taken at the
    layer boundaries."""
    t = run.tracer
    out = {}
    for layer in sorted({s.layer for s in t.spans if s.phase == "measure"} - {"check"}):
        for m, v in t.layer_per_pass(layer, run.passes).items():
            out[f"{layer}.{m}"] = v
    steps = t.measured("graph.pagerank.superstep")
    if steps:
        per_step = [t.span_metrics(s) for s in steps]
        out["graph.pagerank.superstep_s_p50"] = p50([s.wall_s for s in steps])
        out["graph.pagerank.superstep_s_max"] = max(s.wall_s for s in steps)
        out["graph.pagerank.jobs_per_superstep"] = p50([m["jobs"] for m in per_step])
        out["graph.pagerank.shuffle_write_mb_per_superstep"] = p50(
            [m["shuffle_write_mb"] for m in per_step])
    names = {"iterations": "graph.pagerank.iterations",
             "ckpt_iterations": "graph.pagerank.ckpt.iterations",
             "hot_edge_share": "graph.skew.hot_edge_share",
             "cc_rounds": "graph.cc.rounds", "lpa_rounds": "graph.lpa.rounds",
             "checkpoint_bytes": "graph.checkpoint.bytes_written"}
    for key, values in run.counts.items():
        out[names[key]] = p50(values)
    if "pair_yield" in run.setup_parts:
        out["extract.pair_yield"] = run.setup_parts["pair_yield"]
    out["trace.unattributed_jobs"] = t.unattributed_jobs + t.unattributed_stages
    return out
