"""The JVM-wide cache of compiled generated classes (session module
docstring, "Codegen cache").

Spark compiles each distinct generated class once through Janino and keeps it
in one LRU cache per JVM.  At Spark's default of 100 entries a workload that
compiles more distinct classes than that between two runs of a query evicts
the query's classes and compiles them again.  ``get_session`` sizes the cache
to the largest repeating set the package serves.
"""

from __future__ import annotations


def _compiles(spark) -> int:
    """Janino compilations in this JVM so far (one histogram update each)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _run(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def test_rerun_reuses_compiled_classes_past_spark_default(spark):
    """A query run again after ~300 other classes were compiled (three times
    Spark's default cache size) reuses its compiled classes."""
    def marker():
        _run(spark.range(3).selectExpr("id * 7919 + 104729 AS marker"))

    marker()
    before = _compiles(spark)
    # integer literals are inlined into the generated code, so every query
    # here compiles its own classes (two per query)
    for i in range(150):
        _run(spark.range(1).selectExpr(f"id * {i + 2} + {i + 2} AS x"))
    between = _compiles(spark)
    assert between - before >= 150  # the filler really compiled new classes
    marker()
    assert _compiles(spark) == between
