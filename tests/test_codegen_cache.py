"""Generated code is compiled once per session, not once per query run.

Spark keeps Janino-compiled classes in a JVM-wide LRU cache. At Spark's
default of 100 entries one pass of the 15 non-pair bench queries (~300
classes) evicted its own classes, so every repeat recompiled almost all
of them. ``session.get_spark`` sizes the cache to the measured working
set; these tests pin that.
"""

from __future__ import annotations

# A repeat pass may still compile a few classes. AQE re-plans each time
# a query stage finishes, and which stages have finished by then depends
# on timing: q5_local_supplier_volume's supplier join sometimes keeps
# the shuffle its fact side already wrote and sometimes folds into the
# scan stage as a broadcast join. The two plans cut into different
# whole-stage-codegen stages, whose source is new to the cache until
# every variant has run once; that cost 4-13 compiles per early pass
# even with the cache sized to the working set. A thrashing cache
# recompiles ~300 per pass, so the bound still separates the two.
REPEAT_PASS_MAX_COMPILES = 25


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_session_codegen_cache_cap(spark):
    from testlog_etl_spark.session import CODEGEN_CACHE_ENTRIES

    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) == CODEGEN_CACHE_ENTRIES


def test_repeat_bench_pass_reuses_compiled_code(spark, sf_dir):
    from perfbench.queries import PAIR_QUERIES
    from testlog_etl_spark.suite import bench_cases

    cases = {n: c for n, c in bench_cases().items() if n not in PAIR_QUERIES}

    def one_pass() -> dict[str, int]:
        per_query = {}
        for name, case in cases.items():
            before = _compiles(spark)
            case.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
            per_query[name] = _compiles(spark) - before
        return per_query

    # no bound on the first pass: earlier tests may have warmed the cache
    one_pass()
    second = one_pass()
    assert sum(second.values()) <= REPEAT_PASS_MAX_COMPILES, {n: d for n, d in second.items() if d}
