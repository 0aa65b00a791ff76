"""Session construction: settings ``get_spark`` gives every engine session."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_codegen_cache_keeps_a_cycle_of_more_than_100_classes(spark):
    """A cycle of 150 distinct plans, run twice, compiles its generated
    classes once. Integer literals are inlined into the generated code, so
    each plan compiles its own class; Spark's default cache of 100 entries
    would evict every class before the cycle comes back to it."""
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def cycle() -> int:
        before = compiled.getCount()
        for i in range(150):
            spark.range(0, 3, 1, 1).select(F.col("id") + F.lit(7_000_000 + i)).collect()
        return compiled.getCount() - before

    assert cycle() > 100
    assert cycle() == 0
