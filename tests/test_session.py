"""Session defaults that the workloads depend on for speed, checked
through the running JVM."""

from __future__ import annotations

from pyspark.sql import functions as F


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM (codegen cache misses)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_curation_sized_working_set(spark):
    """A working set of more than 100 generated classes, which a single
    curation job has, is compiled once: a repeated plan is served from
    the codegen cache instead of cycling an LRU smaller than the set."""
    def run_all():
        # an inlined literal makes each plan's generated source distinct
        for i in range(150):
            spark.range(8).select((F.col("id") * i).alias("x")).collect()

    run_all()
    first_pass_done = _compiles(spark)
    run_all()
    assert _compiles(spark) - first_pass_done == 0
