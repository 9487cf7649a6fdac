"""SparkSession factory.

Reference analog: AGATHA attaches a dask.distributed.Client and registers
per-worker preloaded state (agatha/construct/dask_process_global.py — see
SURVEY.md §3.1).  Here the equivalent "cluster attach" is a SparkSession
with the engine's standard configuration: Arrow enabled for every pandas
UDF boundary, AQE on for runtime re-planning (skew-join splits, partition
coalescing), and shuffle partitions sized to the adjacency layout so
co-partitioning survives across supersteps (SURVEY.md §4.3).

Spark's whole-stage codegen cache is sized to the engine's class
working set (:data:`CODEGEN_CACHE_ENTRIES`).  The engine runs many
small, repeated queries (supersteps, peel rounds, registry keys), which
at fixture scale are bound by the driver, and a generated class that
the cache evicted is compiled again by Janino on its next use.  Spark's
default of 100 entries is below what one pass of either benchmark
workload uses, so at 100 every warm pass recompiled the classes of the
pass before it: 327 for ``perfbench`` graph_b and 332 for query_mix
(seed 1, 4 CPUs).  The class count follows the operator surface, not
the data size, so the constant holds at any scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Default number of shuffle partitions == default adjacency partitions.
#: Must stay in sync so the superstep join reuses the edge-side exchange.
DEFAULT_PARTITIONS = 32

#: ``spark.sql.codegen.cache.maxEntries`` (a static conf: it must be set
#: before the session starts).  Distinct classes compiled by one cold
#: pass, measured on sf0.01 / perfbench at 4 CPUs: 313 for query_mix's 8
#: keys, 289 for graph_b's operators, 2,769 for all 146 registry keys.
#: At 1,024 entries a second pass over all keys still recompiled 3,086
#: classes (the cyclic working set evicts itself); with room for all
#: (4,096, or unbounded) it compiled 94 / 108, the plans whose literals
#: change per call.  A cached class costs ~8.7 KB of source text on
#: the heap; metaspace holds the loaded classes at any cache size.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "sparkgatha",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    in the sandbox; on a real cluster it is supplied by spark-submit and
    must be left None.
    """
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        # float64 everywhere; never silently upcast to decimal
        "spark.sql.legacy.allowNegativeScaleOfDecimal": "true",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
