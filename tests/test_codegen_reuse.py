"""A plan shape the session has compiled before costs no Janino compile.

Catalyst compiles the Java source it generates for each plan into a class
and caches the class under its source text. Spark's default cache keeps
100 classes, fewer than one engine process uses, so the engine's session
sizes it (session.CODEGEN_CACHE_ENTRIES). The count of compiles is Spark's
own CodegenMetrics counter. With the cache back at 100 the re-run below
compiles all 13 of q1's classes again.

The size is a static conf: it applies only if get_spark creates the
SparkContext. This test runs in the suite's shared session, so it fails
when anything builds that session before get_spark does.
"""
from __future__ import annotations

from drill_calcite_spark.catalog import table_path
from drill_calcite_spark.queries import all_queries
from drill_calcite_spark.session import CODEGEN_CACHE_ENTRIES

from .conftest import SF_DIR

LOOKUPS = 80  # two classes each: more than Spark's default cache holds


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_registry_query_compiles_nothing_when_run_again(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") \
        == str(CODEGEN_CACHE_ENTRIES)
    q1 = all_queries()["q1_pricing_summary"]
    first = q1(spark, SF_DIR).collect()
    spark.read.parquet(table_path(SF_DIR, "orders")) \
        .createOrReplaceTempView("codegen_orders")
    before = _compiles(spark)
    for k in range(LOOKUPS):  # each literal is inlined: a new class
        spark.sql("SELECT o_totalprice FROM codegen_orders "
                  f"WHERE o_orderkey = {7 * k + 1}").collect()
    assert _compiles(spark) - before > 100, "lookups compiled no new class"
    before = _compiles(spark)
    again = q1(spark, SF_DIR).collect()
    assert _compiles(spark) - before == 0
    assert again == first
