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


def test_fork_pool_is_one_at_a_time_and_one_item_stays_home(spark):
    """A second ``ForkPool`` while one is open raises; a single item runs
    in the driver (no child is forked); the children see the work's
    closure, and closing frees the slot."""
    import os

    import pytest

    from taxahfe_spark.session import ForkPool

    offset = 10
    with ForkPool(lambda item: (item + offset, os.getpid())) as pool:
        assert pool.workers == spark.sparkContext.defaultParallelism
        with pytest.raises(RuntimeError, match="already open"):
            ForkPool(abs)
        assert pool.map([1]) == [(11, os.getpid())]
        assert pool._pool is None
        out = pool.map(list(range(8)))
        assert [v for v, _ in out] == list(range(10, 18))
        assert os.getpid() not in {pid for _, pid in out}
    with ForkPool(abs) as pool:
        assert pool.map([-3]) == [3]
