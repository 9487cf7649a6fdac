"""Shared engine utilities."""

from __future__ import annotations

import os
import threading

from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.util import inheritable_thread_target


def ws_tokens(text_col="text"):
    """The engine's one whitespace tokenizer (lower → trim → split →
    drop empties) — the Spark mirror of ``textan._TOKS``, the DuckDB
    macro every oracle uses.  Lives here (the leaf module) so textan /
    dedup / pipeline / relational all share ONE definition; any
    tokenization change must land here and in ``_TOKS`` together or
    Spark/DuckDB parity breaks."""
    return F.filter(
        F.split(F.lower(F.trim(text_col)), r"\s+"), lambda t: t != ""
    )


def md5_long(col):
    """First 15 hex chars of md5 as a non-negative 60-bit bigint — the
    engine-wide cross-engine hash convention (DuckDB equivalent:
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``).  Lives here so the
    dedup signatures and the walk-step hash can never drift apart."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")

#: default input bound for operators whose cost is quadratic in input
#: rows (standalone all-pairs verification ops) — override per call or
#: via SPARKGATHA_ALL_PAIRS_MAX_ROWS
DEFAULT_ALL_PAIRS_MAX_ROWS = 100_000


def guard_input_rows(
    df: DataFrame, op: str, max_rows: int | None = None
) -> DataFrame:
    """Refuse to run a documented oracle-scale O(n^2) operator on an
    input too large for it — the J10-style guard, shared by the
    standalone all-pairs dedup ops so a 100 TB caller can't launch a
    quadratic job by accident (the composed pipelines never call these;
    they use the bucketed/banded paths).

    The check is ``limit(max_rows + 1).count()`` — it short-circuits
    after max_rows+1 rows instead of counting a 100 TB table.  Bound
    resolution: explicit ``max_rows`` > ``SPARKGATHA_ALL_PAIRS_MAX_ROWS``
    env var > DEFAULT_ALL_PAIRS_MAX_ROWS.
    """
    if max_rows is None:
        raw = os.environ.get("SPARKGATHA_ALL_PAIRS_MAX_ROWS")
        try:
            max_rows = (
                int(raw) if raw not in (None, "") else DEFAULT_ALL_PAIRS_MAX_ROWS
            )
        except ValueError as exc:
            raise ValueError(
                f"SPARKGATHA_ALL_PAIRS_MAX_ROWS={raw!r} is not an integer"
            ) from exc
    if df.limit(max_rows + 1).count() > max_rows:
        raise ValueError(
            f"{op}: input exceeds {max_rows} rows — this operator is "
            "quadratic in input size and exists for oracle-scale "
            "verification only; use the bucketed scale path (LSH/simhash/"
            "IVF) or raise the bound explicitly "
            "(SPARKGATHA_ALL_PAIRS_MAX_ROWS) if you accept the cost"
        )
    return df


def checkpoint_reset_stats(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint that also RESETS the plan-size statistics.

    ``Dataset.localCheckpoint`` copies the optimized plan's estimated
    ``sizeInBytes`` (an unbounded BigInt) into the checkpointed
    ``LogicalRDD``'s computedStats.  In an iterative operator whose
    per-round plan references the previous round's checkpoint through
    MANY joins (Luby MIS, maximal matching, Borůvka MSF, SCC; k-truss
    did this when every round re-ran the wedge join, reading the edge
    set ~12 times), the size-only estimator multiplies that inherited
    estimate per join, so the stored BigInt COMPOUNDS exponentially
    across rounds — measured on that k-truss: ×3 in bit length per
    round, a ~600-digit estimate by round 4, Toom-Cook BigInteger
    multiplies dominating planning by round 10, and a driver heap OOM
    inside SizeInBytesOnlyStatsPlanVisitor by round 12 — on a 200-edge
    graph.
    (One-join-per-round loops like PageRank/CC only ADD ~63 bits per
    round, which is why they never trip this.)

    The reset: checkpoint eagerly, then rebuild the DataFrame from the
    checkpointed dataset's JVM ``Dataset.rdd()`` via the public
    ``createDataFrame(RDD[Row], schema)`` — a fresh leaf with default
    stats.  ``Dataset.rdd()`` deserializes to external Row objects
    JVM-side (safely COPYING rows — wrapping ``queryExecution.toRdd``
    directly corrupts data through UnsafeRow reuse), and nothing
    crosses into Python, so this is a JVM plumbing seam, not a use of
    the banned PySpark RDD API (SURVEY.md B:15 note).
    """
    jdf = df.localCheckpoint(eager=True)._jdf
    jdf2 = df.sparkSession._jsparkSession.createDataFrame(
        jdf.rdd(), jdf.schema()
    )
    return DataFrame(jdf2, df.sparkSession)


def materialize(
    df: DataFrame, reset_stats: bool = False
) -> tuple[DataFrame, int]:
    """Eager localCheckpoint of ``df`` and its row count, from ONE job.

    The count rides on the checkpoint's own job as an observed metric
    (``DataFrame.observe``) instead of a second ``.count()`` job over
    the checkpointed blocks.  The checkpointed frame is a fresh leaf,
    so reading it later observes nothing.  ``reset_stats`` checkpoints
    through :func:`checkpoint_reset_stats` (multi-reference round
    plans).  Not for a frame that ends in ``limit``: under the observed
    metric it is no longer a top-level limit and plans as an extra
    job."""
    obs = Observation()
    observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    if reset_stats:
        out = checkpoint_reset_stats(observed)
    else:
        out = observed.localCheckpoint(eager=True)
    return out, obs.get["rows"]


def concurrently(spark: SparkSession, *actions):
    """Run the zero-argument ``actions`` (each launching Spark jobs) at
    the same time and return their results in order.  Each pool thread
    carries the caller's local properties, so its jobs keep the caller's
    job description and group."""
    with ThreadPoolExecutor(max_workers=len(actions)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(a)) for a in actions
        ]
        return [f.result() for f in futures]


#: target rows per exchange partition for EXACT-arithmetic iterative
#: loops (adaptive_shuffle_partitions).  ~128k rows of 2-3 longs is a
#: few MB — per-task fixed cost (~100-200 ms measured in this sandbox)
#: dominates below that, so smaller partitions only add latency.
ADAPTIVE_ROWS_PER_PARTITION = 131_072


def adaptive_shuffle_partitions(n_rows: int, default: int) -> int:
    """Scale-adaptive exchange sizing (optimization guide §2.2):
    partitions derived from the CURRENT data size, bounded above by the
    session's configured default (the cluster-scale setting) — never a
    constant tuned to either local mode or the cluster.

    Intended for iterative operators whose working set starts small or
    shrinks geometrically (CC star rounds, Borůvka contraction, Luby
    frontiers, peel loops): at fixture scale a 32-way exchange of a few
    thousand rows pays 32x the per-task fixed cost for no parallelism
    gain (measured 4x wall on a 300k-edge CC), while at cluster scale
    ``min(default, ...)`` leaves the exchange at the session setting.

    ONLY for exact-arithmetic (integer / md5 / min-max) loops: float
    SUM aggregation order depends on the partitioning, so adaptive
    repartitioning would perturb low bits of double-summing operators
    (PageRank/HITS/LPA keep their pinned layouts).
    """
    if n_rows <= 0:
        return 1
    return max(1, min(default, -(-n_rows // ADAPTIVE_ROWS_PER_PARTITION)))


#: held for the whole of every conf scope below.  The scoped confs are
#: shared by the whole session, so two threads whose save/set/restore
#: interleave would leave the session at the wrong value for good.
#: Re-entrant because scopes nest in one thread (MST runs CC inside its
#: round, coloring runs MIS, dedup runs CC); a thread-pool worker must
#: not enter a scope while its submitter holds one.
_CONF_SCOPE_LOCK = threading.RLock()


@contextmanager
def _scoped_conf(spark: SparkSession, key: str, value: str, *default: str):
    with _CONF_SCOPE_LOCK:
        prev = spark.conf.get(key, *default)
        spark.conf.set(key, value)
        try:
            yield
        finally:
            spark.conf.set(key, prev)


def scoped_shuffle_partitions(spark: SparkSession, n: int):
    """Scope ``spark.sql.shuffle.partitions`` for one iterative round.

    The conf is read at physical-planning (action) time, so the round's
    lazy frames must be EXECUTED inside the scope for it to apply."""
    return _scoped_conf(spark, "spark.sql.shuffle.partitions", str(n))


def no_aqe(spark: SparkSession):
    """Disable adaptive query execution for the duration of an iterative
    superstep loop.

    Measured on this engine (see BENCH notes): with AQE on, each
    superstep's fixed, tiny-stats plan is re-planned stage-by-stage into
    serial mini-jobs — 14-30s/superstep vs 0.9s with AQE off at 32
    shuffle partitions.  AQE's wins (skew splits, coalescing) apply to
    one-shot scans with unknown stats, not to a pinned join+agg loop
    whose partitioning we control explicitly (SURVEY.md §4.3.3), so the
    engine scopes AQE off inside G4–G6/G9 loops and leaves it on for the
    relational surface.
    """
    return _scoped_conf(spark, "spark.sql.adaptive.enabled", "false", "true")
