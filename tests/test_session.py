"""Session defaults that only ``get_spark`` can apply."""

from __future__ import annotations


def test_codegen_cache_holds_a_working_set_above_sparks_default(spark):
    """A warm replay of more distinct generated classes than Spark's
    100-entry LRU default compiles nothing: the engine's cache holds
    the whole cycle instead of evicting each class before it recurs."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def replay():
        # the literal is written into the generated source, so each i
        # gives new classes (two per query: the stage and its projection)
        for i in range(1, 66):
            spark.range(0, 2, 1, 1).selectExpr(f"id * {i} + 1 AS v").collect()

    cold = compiles.getCount()
    replay()
    warm = compiles.getCount()
    assert warm - cold > 100
    replay()
    assert compiles.getCount() == warm
