"""The session keeps every generated class a job compiles: a query run
again in the same session compiles no class (``session`` module docstring).
"""

from __future__ import annotations

from taxahfe_spark.session import CODEGEN_CACHE_ENTRIES


def compiled_classes(spark) -> int:
    """Classes Janino has compiled in this JVM so far (one count per cache
    miss)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_session_carries_the_codegen_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_second_pass_over_150_queries_compiles_no_class(spark):
    """150 queries whose generated code differs (the literals are inlined)
    overflow Spark's default 100-entry cache, whose 4 LRU segments then
    evict each class before its query runs again."""
    queries = [
        spark.range(4).selectExpr(f"id * {k} + {k} AS v") for k in range(9001, 9151)
    ]
    start = compiled_classes(spark)
    for q in queries:
        q.collect()
    first = compiled_classes(spark)
    assert first - start >= len(queries)
    for q in queries:
        q.collect()
    assert compiled_classes(spark) == first
