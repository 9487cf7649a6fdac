"""One round driver for the exact-arithmetic fixpoint loops.

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
* ``start`` continues the numbering after a resumed checkpoint (CC);
  both bounds count absolute round numbers.

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
``<operator>:<round>``; the caller's description is restored when the
loop ends by ``break``, exhaustion or an exception.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import SparkSession

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
    n: int  # 1-based round number
    last: bool  # the final round of a fixed-round run
    spark: SparkSession
    session_width: int  # shuffle partitions when the loop started

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


def fixpoint_rounds(
    spark: SparkSession,
    op: str,
    max_rounds: int | None = None,
    *,
    cap: int = ROUND_CAP,
    start: int = 0,
) -> Iterator[Round]:
    """Yield rounds ``start + 1, start + 2, ...`` under the module's
    round and cap policy; the caller breaks when it converges."""
    session_width = int(spark.conf.get(_WIDTH_KEY))
    bound = cap if max_rounds is None else max_rounds
    sc = spark.sparkContext
    caller = sc.getLocalProperty(_DESCRIPTION_KEY)
    try:
        for n in range(start + 1, bound + 1):
            sc.setJobDescription(f"{op}:{n}")
            yield Round(n, n == max_rounds, spark, session_width)
    finally:
        sc.setJobDescription(caller)
    if max_rounds is None:
        raise RuntimeError(
            f"{op} did not reach its fixpoint within {cap} rounds"
        )
