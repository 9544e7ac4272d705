"""Generated-class cache guard: a query repeated in one session must
reuse the classes its first run compiled. At Spark's default cache of
100 entries the repeat of q_dedup_keep_best or q_etl_flow re-compiled
25-44 classes; ``session.get_spark`` sizes the cache for the session,
so a repeat compiles nothing. The count is read from Spark's
``CodegenMetrics`` compile timer."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()
#: compiles a repeat may still need (measured: 0 on every repeat of
#: both queries). A nonzero count means a plan that differs from run
#: to run, such as a join whose strategy AQE picks from the order its
#: stages finish (2-4 classes on a repeat)
REPEAT_RESIDUAL = 0


def _compiles(spark, name: str, sf_dir: str) -> int:
    timer = (spark.sparkContext._jvm.org.apache.spark.metrics.source
             .CodegenMetrics.METRIC_COMPILATION_TIME())
    before = timer.getCount()
    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    return timer.getCount() - before


def test_session_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "8192"
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


@pytest.mark.parametrize("name", ["q_dedup_keep_best", "q_etl_flow"])
def test_repeat_reuses_generated_classes(name, spark, sf_dir):
    _compiles(spark, name, sf_dir)
    assert _compiles(spark, name, sf_dir) <= REPEAT_RESIDUAL
