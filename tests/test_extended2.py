"""Unit tests for the second extended batch: unpivot plan shape,
merge/upsert, systematic sampling, rolling hash."""

from __future__ import annotations

from pyspark.sql import functions as F

from fifa_data_pipeline_spark.operators import relational as R
from fifa_data_pipeline_spark.operators import text as X


def test_unpivot_single_expand_no_shuffle(spark, sf_dir):
    from fifa_data_pipeline_spark.plans.extended2 import q_unpivot

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = q_unpivot(spark, sf_dir)
    assert {r.metric for r in out.select("metric").distinct().collect()} == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    }
    assert out.count() == 4 * li.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan and "Exchange" not in plan


def test_merge_upsert_update_insert_passthrough(spark):
    base = spark.createDataFrame([(1, "old"), (2, "keep")], ["k", "v"])
    updates = spark.createDataFrame([(1, "new"), (3, "ins")], ["k", "v"])
    out = R.merge_upsert(base, updates, "k")
    got = {r.k: r.v for r in out.collect()}
    assert got == {1: "new", 2: "keep", 3: "ins"}


def test_merge_upsert_null_column_semantics(spark):
    # a NULL in an update column falls back to base (COALESCE
    # semantics — documents the SCD-1 trade-off vs "overwrite with
    # NULL"; Delta MERGE would overwrite)
    base = spark.createDataFrame([(1, "old")], ["k", "v"])
    updates = spark.createDataFrame([(1, None)], "k INT, v STRING")
    out = R.merge_upsert(base, updates, "k")
    assert out.collect()[0].v == "old"


def test_systematic_sample_deterministic_and_pushed_down(spark):
    df = spark.range(0, 1000).withColumn("sub", (F.col("id") % 3).cast("long"))
    a = R.systematic_sample(df, ["id", "sub"], 10, 1)
    b = R.systematic_sample(df, ["id", "sub"], 10, 1)
    ra, rb = a.collect(), b.collect()
    assert ra == rb and 0 < len(ra) < 1000
    # partition of the keyspace: all (modulus, keep) classes cover
    # every row exactly once
    total = sum(
        R.systematic_sample(df, ["id", "sub"], 10, i).count() for i in range(10)
    )
    assert total == 1000


def test_rolling_hash_known_value_and_empty(spark):
    df = spark.createDataFrame([(1, "abc"), (2, "")], ["doc_id", "text"])
    got = {r.doc_id: r.rfp for r in X.rolling_hash(df, "text").collect()}
    # ((7*31+97)*31+98)*31+99 mod 1e9+7 = 304891 ; empty text folds
    # the single '' element (ascii=0) once: 7*31+0
    assert got[1] == 304891
    assert got[2] == 7 * 31
