"""The session factory's codegen cache (session.CODEGEN_CACHE_ENTRIES).

A warm call of an operator must compile no Java class: every class it
needs was compiled by the call before and is still in Spark's codegen
cache.  With Spark's default of 100 entries, a sequence of operators
whose classes add up to more than that evicts its own classes, and
every repeat recompiles them."""

from graph_helpers import random_graph, to_spark_edges

from sparkgatha.graph import connected_components
from sparkgatha.graph.mis import maximal_independent_set
from sparkgatha.graph.truss import k_truss
from sparkgatha.session import CODEGEN_CACHE_ENTRIES

_CACHE = "spark.sql.codegen.cache.maxEntries"


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_session_carries_the_codegen_cache_size(spark):
    assert spark.conf.get(_CACHE) == str(CODEGEN_CACHE_ENTRIES)


def test_repeated_operator_sequence_compiles_nothing(spark):
    edges = to_spark_edges(spark, random_graph(30, 70, seed=5))

    def sequence():
        k_truss(edges, 3).collect()
        maximal_independent_set(edges, seed=1).collect()
        connected_components(edges).collect()

    sequence()
    before = _compiles(spark)
    sequence()
    assert _compiles(spark) - before == 0
