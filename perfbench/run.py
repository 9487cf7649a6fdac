"""sparkgatha benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload graph_b --seed 1 --seconds 10 --trace 0

Runs from any working directory: the repository root is the parent of
this file's directory.  Spark runs on ``local[<usable CPUs>]``.  All
files the run writes (inputs, Spark scratch, checkpoints) live under
``<root>/.perfbench/`` and are deleted at exit, except the trace file of
a traced run.

Output on stdout:
  * a ``detail`` line: every named metric of the workload with unit,
    median, quartiles, sample count, samples and regression bound; the
    wall of every operation; the set-up breakdown; the input sizes;
  * last, one line ``{"correct", "attempted", "failed", "metrics"}``.
    With ``--trace 0`` the metrics are the end-to-end metrics of
    BENCHMARK.json; with ``--trace 1`` they are the per-layer metrics,
    read from the Spark status store after the run, and the full span
    table is written to ``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: bound by which each named metric may worsen (share of the parent's
#: median) before it counts as a regression.  Run-to-run spreads of these
#: metrics were 5-19% over ten seeds on the 4-CPU baseline host
#: (BASELINE.md), so they take the largest bound BENCHMARK.json allows.
NAMED_BOUND = 0.25


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _start_spark(work: str, cpus: int):
    from sparkgatha.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    return get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "4g",
            # no hsperfdata files in /tmp: the run writes only in its tree
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a single query pass launches hundreds of jobs; the status
            # store must keep all of them for the traced run's attribution
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _jvm_peak_rss_mb(spark) -> float:
    proc = spark.sparkContext._gateway.proc
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the driver JVM")


def _summary(values, unit, better) -> dict:
    q = statistics.quantiles(values, n=4) if len(values) > 1 else [values[0]] * 3
    return {"unit": unit, "better": better, "median": statistics.median(values),
            "q1": q[0], "q3": q[2], "n": len(values), "values": values}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sparkgatha", "__init__.py")):
        print(f"perfbench: no sparkgatha package under {ROOT}", file=sys.stderr)
        return 2
    # workers import sparkgatha too, so the root must be on their path
    # before the JVM (which starts them) exists
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    from perfbench.workloads import WORKLOADS, Run, layer_report

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    cpus = _cpus()
    try:
        t0 = time.perf_counter()
        spark = _start_spark(work, cpus)
        session_s = time.perf_counter() - t0
        try:
            run = Run(spark, args.seed, args.seconds, work, cpus)
            res = WORKLOADS[args.workload](run)
            pass_s = sum(run.med(op) for op in res["ops"])
            peak_rss_mb = (_jvm_peak_rss_mb(spark)
                           + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0)
            if args.trace:
                t1 = time.perf_counter()
                run.tracer.attribute(spark)
                attribute_s = time.perf_counter() - t1
        finally:
            _stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    setup = dict(run.setup_parts, session_s=session_s)
    setup_s = session_s + setup["inputs_s"] + setup["warmup_s"]
    named = {
        "setup_s": _summary([setup_s], "s", "lower"),
        "error_rate": {"unit": "failed/attempted", "value": run.failed / run.attempted,
                       "failed": run.failed, "attempted": run.attempted},
        "peak_rss_mb": _summary([peak_rss_mb], "MB", "lower"),
        "pass_s": _summary([pass_s], "s", "lower"),
    }
    for name, (unit, better, values) in res["named"].items():
        named[name] = _summary(values, unit, better)
    bounds = dict.fromkeys(res["named"], NAMED_BOUND)
    bounds |= {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for name, m in named.items():
        if name in bounds:
            m["bound"] = bounds[name]
    print(json.dumps({
        "detail": args.workload, "seed": args.seed, "cpus": cpus,
        "passes": run.passes, "metrics": named, "setup": setup, "input": res["input"],
        "ops_s": {op: _summary(run.samples[op], "s", "lower") for op in res["ops"]},
    }))

    correct = run.failed == 0
    if args.trace:
        values = layer_report(run)
        values["trace.attribute_s"] = attribute_s
        values["trace.pass_s"] = pass_s
        values["memory.peak_rss_mb"] = peak_rss_mb
        correct = correct and values["trace.unattributed_jobs"] == 0
        listed = spec["per_layer"]
        os.makedirs(base, exist_ok=True)
        with open(os.path.join(base, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "layers": values,
                       "spans": run.tracer.dump()}, f)
    else:
        values = {"setup_s": setup_s, "pass_s": pass_s}
        listed = spec["end_to_end"]
    # a layer the workload never enters reads 0
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in listed}
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
