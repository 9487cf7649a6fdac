"""One round driver for the iterative graph loops.

Connected components, the k-core and k-truss peels, Luby MIS and
coloring, maximal matching, the densest-subgraph peel and Borůvka MSF
all run the same loop: size the round → run the operator's step →
materialize → count → test convergence.  The operator keeps its step,
its state and its convergence test; this module owns the rest::

    for r in fixpoint_rounds(spark, "k_core", max_iter):
        with r.width(n_edges):
            ...               # the step, ending in the round's counts
        if converged:
            break

Round and cap policy (the one statement of it — operator docstrings
point here):

* ``max_rounds=None`` runs to the fixpoint.  A loop that is still
  going after ``cap`` rounds raises a ``RuntimeError`` naming the
  operator instead of returning a non-fixpoint answer.  The shared cap,
  :data:`ROUND_CAP`, is far beyond any round count a synchronous scheme
  reaches on a graph it suits.  Operators with a proven bound pass it
  as ``cap`` (Borůvka: components halve per round, 64; MIS coloring:
  256 classes) — there the cap detects a broken step, not a big graph.
* An integer ``max_rounds`` runs at most that many rounds and stops
  silently: the fixed-round oracle mode, round for round with an
  unrolled SQL replay.  ``Round.last`` marks its final round, so an
  operator can skip work that only a next round would read.  ``0`` runs
  no rounds.
* ``start`` continues the numbering after a resumed checkpoint; both
  bounds count absolute round numbers.
* ``check_every=k`` fuses up to ``k`` supersteps into one round (a
  block): the operator chains ``Round.steps`` supersteps lazily and
  runs one action at the block's end.  A block never runs past
  ``max_rounds`` and, when ``checkpoint_every`` is given, ends on every
  multiple of it.  ``Round.n`` is the block's LAST superstep, so
  numbering, bounds and labels stay in supersteps.

Durable rounds (:class:`DurableRounds` — PageRank, label propagation
and CC): one policy for checkpoints, resume and metrics.

* ``checkpoint_dir=None`` keeps nothing: :meth:`DurableRounds.commit`
  passes the state through, and the operator's lazy ``localCheckpoint``
  truncates lineage.
* With a ``checkpoint_dir``, a round commits durably when its number is
  a multiple of ``checkpoint_every``, when it converged, or when it is
  the last round of a fixed-round run.  A durable commit computes the
  state's lineage — the order- and partitioning-insensitive sha and one
  row per partition — in ONE fingerprint job (or takes the lineage the
  operator already computed), then writes the state and its manifest
  (``CheckpointManager.save``: lineage, per-partition rows, the round's
  delta and active count) and continues from the re-read parquet.
* ``resume=True`` loads the largest complete checkpoint, and the
  rounds continue from its number; the operator starts from
  ``DurableRounds.resumed`` instead of its initial state.
* Every round — durable or not — appends one ``MetricsSink`` row:
  round number, delta, active count, rows, wall (from the round's
  start to its commit, before any checkpoint write) and lineage sha
  (empty when nothing was fingerprinted).  The sink is the operator's
  ``metrics_sink`` or a new one under ``checkpoint_dir``; checkpoints
  and rows are tagged with the operator name.

Width: the driver reads ``spark.sql.shuffle.partitions`` when a loop
starts — not at import, because loops nest (MST runs CC inside its own
round, coloring runs MIS) and an inner loop is capped at the outer
round's width — and :meth:`Round.width` scopes a round's exchanges to
``adaptive_shuffle_partitions(rows, width)``.  Only for exact-arithmetic
steps: the float-sum loops (PageRank, LPA, HITS, Katz, eigenvector,
Louvain) never use it, because partitioning changes the bits of a
double sum.  The power-iteration loops (graph/power.py: HITS, Katz,
eigenvector) use the driver for their job labels and for the tol→cap
mapping: ``tol > 0`` runs ``fixpoint_rounds(spark, op, None,
cap=max_iter)``, so a loop still above ``tol`` after ``max_iter``
rounds raises; ``tol=0.0`` runs exactly ``max_iter`` fixed rounds.
Louvain's level loop uses it for labels only.

Job labels: every Spark job a round launches carries the description
``<operator>:<round>`` (a fused block: its last superstep); the
caller's description is restored when the loop ends by ``break``,
exhaustion or an exception.  An operator labels the jobs of its entry
build ``<operator>:prepare`` with :func:`job_description`, the same
set-and-restore; jobs started through ``util.concurrently`` keep the
label of the thread that started them.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from sparkgatha.graph.checkpoint import CheckpointManager
from sparkgatha.graph.metrics import Lineage, MetricsSink, lineage
from sparkgatha.util import (
    adaptive_shuffle_partitions,
    scoped_shuffle_partitions,
)

#: the fixpoint-mode cap shared by every operator without a proven bound
ROUND_CAP = 1_000_000

_WIDTH_KEY = "spark.sql.shuffle.partitions"
_DESCRIPTION_KEY = "spark.job.description"


@dataclass(frozen=True)
class Round:
    n: int  # 1-based round number (a fused block: its last superstep)
    last: bool  # the final round of a fixed-round run
    spark: SparkSession
    session_width: int  # shuffle partitions when the loop started
    steps: int = 1  # supersteps fused into this round
    t0: float = field(default_factory=time.monotonic)

    def width(self, rows: int):
        """Scope this round's exchanges to ``rows`` rows of state."""
        return scoped_shuffle_partitions(
            self.spark, adaptive_shuffle_partitions(rows, self.session_width)
        )


def width(spark: SparkSession, rows: int):
    """:meth:`Round.width` for a one-off step outside a loop (an
    operator's entry build or its final pass)."""
    return scoped_shuffle_partitions(
        spark,
        adaptive_shuffle_partitions(rows, int(spark.conf.get(_WIDTH_KEY))),
    )


@contextmanager
def job_description(spark: SparkSession, label: str):
    """Label the Spark jobs this thread launches inside the block
    ``label``; restore the caller's description when the block ends."""
    sc = spark.sparkContext
    caller = sc.getLocalProperty(_DESCRIPTION_KEY)
    sc.setJobDescription(label)
    try:
        yield
    finally:
        sc.setJobDescription(caller)


def fixpoint_rounds(
    spark: SparkSession,
    op: str,
    max_rounds: int | None = None,
    *,
    cap: int = ROUND_CAP,
    start: int = 0,
    check_every: int = 1,
    checkpoint_every: int | None = None,
) -> Iterator[Round]:
    """Yield rounds after ``start`` under the module's round, cap and
    block policy; the caller breaks when it converges."""
    session_width = int(spark.conf.get(_WIDTH_KEY))
    bound = cap if max_rounds is None else max_rounds
    n = start
    while n < bound:
        steps = min(max(check_every, 1), bound - n)
        if checkpoint_every is not None:
            steps = min(steps, checkpoint_every - n % checkpoint_every)
        n += steps
        with job_description(spark, f"{op}:{n}"):
            yield Round(n, n == max_rounds, spark, session_width, steps)
    if max_rounds is None:
        raise RuntimeError(
            f"{op} did not reach its fixpoint within {cap} rounds"
        )


class DurableRounds:
    """The durable-round policy of the module docstring for one
    operator run: resume point, block cadence, commit and sink row."""

    def __init__(
        self,
        spark: SparkSession,
        op: str,
        checkpoint_dir: str | None = None,
        checkpoint_every: int = 1,
        resume: bool = False,
        metrics_sink: MetricsSink | None = None,
    ):
        self.spark, self.op = spark, op
        self.checkpoint_every = checkpoint_every
        self._durable = checkpoint_dir is not None
        self._ckpt = CheckpointManager(checkpoint_dir, op)
        self._sink = metrics_sink or MetricsSink(checkpoint_dir, op)
        self.walls: list[float] = []  # seconds per committed round
        self.start = 0
        self.resumed: DataFrame | None = None
        last = self._ckpt.latest_complete() if resume else None
        if last is not None:
            self.resumed = self._ckpt.load(spark, last)
            self.start = last

    def rounds(
        self, max_rounds: int | None, *, check_every: int = 1
    ) -> Iterator[Round]:
        """:func:`fixpoint_rounds` from the resumed round, with blocks
        ending on the checkpoint cadence."""
        return fixpoint_rounds(
            self.spark, self.op, max_rounds, start=self.start,
            check_every=check_every,
            checkpoint_every=self.checkpoint_every if self._durable else None,
        )

    def commit(
        self,
        r: Round,
        state: DataFrame,
        *,
        done: bool,
        delta: float,
        active: int,
        rows: int,
        known: Lineage | None = None,
    ) -> DataFrame:
        """End round ``r``: save ``state`` when the round is durable
        (its lineage from ``known`` or from one fingerprint job) and
        return the re-read frame, else return ``state``; then record
        the round's sink row."""
        wall = time.monotonic() - r.t0
        sha = known.sha if known is not None else ""
        if self._durable and (
            r.n % self.checkpoint_every == 0 or done or r.last
        ):
            lin = known if known is not None else lineage(state)
            sha = lin.sha
            state = self._ckpt.save(
                r.n, state, sha,
                metrics={"delta_l1": delta, "active": active},
                partitions=lin.partitions,
            )
        self.walls.append(wall)
        self._sink.record(r.n, delta, active, rows, wall * 1000.0, sha)
        return state
