"""Spans around layer calls, and their Spark jobs from the status store.

A span is opened by the benchmark around one call into a sparkgatha
module (``with tracer.span("graph.cc", layer="graph.cc"):``).  Spans are
kept in memory; nothing is read from Spark while the workload runs.
After the run, :meth:`Tracer.attribute` reads every job and stage from
the application status store and gives each to the innermost span whose
time window holds its submission time.  Jobs are attributed by time, not
by job group: the thread pools inside ``prepare_pagerank`` and ``cc``
start jobs that carry no job group or description.
"""

from __future__ import annotations

import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Added to every span window when matching job submission times, which
# the status store records in whole milliseconds.
_SLACK_MS = 2.0

#: Metrics every span gets from the status store (units in BENCHMARK.json).
SPAN_METRICS = ("wall_s", "jobs", "tasks", "job_s", "driver_gap_s", "exec_run_s",
                "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


@dataclass
class Span:
    name: str
    layer: str
    phase: str
    start: float  # epoch seconds, the clock Spark stamps jobs with
    end: float = 0.0
    parent: int | None = None
    jobs: list = field(default_factory=list)    # (submit_ms, end_ms, tasks)
    stages: list = field(default_factory=list)  # stage metric dicts

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  ``phase`` labels spans as ``setup``,
    ``warmup``, ``measure`` or ``done``; per-layer figures use the
    ``measure`` spans only."""

    def __init__(self):
        self.spans: list[Span] = []
        self.phase = "setup"
        self._stack: list[int] = []
        self.unattributed_jobs = 0
        self.unattributed_stages = 0

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        s = Span(name, layer or name, self.phase, time.time(),
                 parent=self._stack[-1] if self._stack else None)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def add_span(self, name: str, layer: str, start: float, end: float,
                 parent: Span) -> Span:
        """Record a span whose window the benchmark learns after the fact,
        e.g. one superstep, from the rows of a ``MetricsSink``."""
        s = Span(name, layer, parent.phase, start, end,
                 parent=self.spans.index(parent))
        self.spans.append(s)
        return s

    # -- status store ----------------------------------------------------

    def attribute(self, spark) -> None:
        """Give every job and every submitted stage of the application to
        the innermost span that was open when it was submitted.  Jobs and
        stages submitted outside all spans are counted as unattributed."""
        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            sub = j.submissionTime()
            if sub.isEmpty():
                continue
            t0 = float(sub.get().getTime())
            comp = j.completionTime()
            t1 = float(comp.get().getTime()) if comp.isDefined() else t0
            s = self._innermost(t0)
            if s is None:
                self.unattributed_jobs += 1
                print(f"perfbench: job {j.jobId()} submitted at {t0 / 1000.0:.3f} "
                      "is in no span", file=sys.stderr)
            else:
                s.jobs.append((t0, t1, j.numCompletedTasks()))
        stages = store.stageList(
            None, False, False, getattr(store, "stageList$default$4")(), None
        )
        for i in range(stages.size()):
            st = stages.apply(i)
            sub = st.submissionTime()
            if sub.isEmpty():  # skipped: its output was reused, no work ran
                continue
            s = self._innermost(float(sub.get().getTime()))
            if s is None:
                self.unattributed_stages += 1
                continue
            s.stages.append({
                "exec_run_s": st.executorRunTime() / 1000.0,
                "gc_s": st.jvmGcTime() / 1000.0,
                "shuffle_read_mb": st.shuffleReadBytes() / 1e6,
                "shuffle_write_mb": st.shuffleWriteBytes() / 1e6,
                "spill_mb": (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6,
            })

    def _innermost(self, t_ms: float) -> Span | None:
        best = None
        for s in self.spans:
            if s.start * 1000.0 - _SLACK_MS <= t_ms <= s.end * 1000.0 + _SLACK_MS:
                if best is None or s.start >= best.start:
                    best = s
        return best

    # -- figures ---------------------------------------------------------

    def _subtree(self, root: int) -> list[Span]:
        out, todo = [], [root]
        while todo:
            k = todo.pop()
            out.append(self.spans[k])
            todo.extend(i for i, s in enumerate(self.spans) if s.parent == k)
        return out

    def span_metrics(self, s: Span) -> dict:
        """The SPAN_METRICS of one span, including its child spans."""
        tree = self._subtree(self.spans.index(s))
        jobs = [j for t in tree for j in t.jobs]
        stages = [x for t in tree for x in t.stages]
        out = {k: sum(x[k] for x in stages) for k in
               ("exec_run_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")}
        out["wall_s"] = s.wall_s
        out["jobs"] = len(jobs)
        out["tasks"] = sum(j[2] for j in jobs)
        out["job_s"] = _union_s(
            (max(a, s.start * 1000.0), min(b, s.end * 1000.0)) for a, b, _ in jobs
        )
        out["driver_gap_s"] = out["wall_s"] - out["job_s"]
        return out

    def measured(self, layer: str) -> list[Span]:
        return [s for s in self.spans if s.phase == "measure" and s.layer == layer]

    def layer_per_pass(self, layer: str, passes: int) -> dict:
        """Each SPAN_METRICS summed over the layer's measured spans and
        divided by the number of measured passes; zeros for a layer the
        workload never entered.  Spans nested in a span of the same layer
        are not counted twice."""
        spans = self.measured(layer)
        ids = {id(s) for s in spans}
        top = [s for s in spans
               if s.parent is None or id(self.spans[s.parent]) not in ids]
        tot = dict.fromkeys(SPAN_METRICS, 0.0)
        for s in top:
            for k, v in self.span_metrics(s).items():
                tot[k] += v
        return {k: v / max(passes, 1) for k, v in tot.items()}

    def dump(self) -> list[dict]:
        return [
            {
                "name": s.name, "layer": s.layer, "phase": s.phase,
                "start": s.start, "end": s.end, "parent": s.parent,
                **self.span_metrics(s),
            }
            for s in self.spans
        ]


def _union_s(intervals) -> float:
    """Length in seconds of the union of (start_ms, end_ms) intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1000.0


def p50(xs) -> float:
    return statistics.median(xs) if xs else 0.0
