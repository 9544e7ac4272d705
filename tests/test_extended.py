"""Unit tests for extended operators — as-of join edges, semi/anti
partition, rollup markers, range-join plan shape."""

from __future__ import annotations

import datetime as dt

from fifa_data_pipeline_spark.operators import relational as R


def _t(minutes: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(minutes=minutes)


def test_as_of_join_basic_inclusive_and_missing(spark):
    left = spark.createDataFrame(
        [(1, _t(10), "p1"), (1, _t(0), "p0"), (2, _t(5), "p2")],
        ["user_id", "ts", "name"],
    )
    right = spark.createDataFrame(
        [(1, _t(10), 100), (1, _t(3), 101), (2, _t(6), 102)],
        ["user_id", "ts", "quote_id"],
    )
    out = R.as_of_join(left, right, "user_id", "ts", "ts", ["quote_id"])
    got = {r.name: r.prior_quote_id for r in out.collect()}
    # t=10 matches the equal-timestamp quote (inclusive); t=0 has no
    # prior quote -> NULL; user 2 at t=5 precedes its only quote -> NULL
    assert got == {"p1": 100, "p0": None, "p2": None}


def test_as_of_join_no_cross_key_leakage(spark):
    left = spark.createDataFrame([(1, _t(10), "a")], ["user_id", "ts", "name"])
    right = spark.createDataFrame([(2, _t(5), 7)], ["user_id", "ts", "quote_id"])
    out = R.as_of_join(left, right, "user_id", "ts", "ts", ["quote_id"]).collect()
    assert out[0].prior_quote_id is None


def test_semi_anti_partition(spark, sf_dir):
    from fifa_data_pipeline_spark.plans.extended import q_join_anti, q_join_semi

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    semi = q_join_semi(spark, sf_dir)
    anti = q_join_anti(spark, sf_dir)
    assert semi.count() + anti.count() == customer.count()


def test_rollup_has_grand_total(spark, sf_dir):
    from fifa_data_pipeline_spark.plans.extended import q_rollup

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = q_rollup(spark, sf_dir).collect()
    total = [r for r in out if r.g_flag == 1 and r.g_status == 1]
    assert len(total) == 1 and total[0].n_rows == li.count()


def test_range_join_is_broadcast_nested_loop(spark, sf_dir):
    from fifa_data_pipeline_spark.plans.extended import q_range_join

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    j = q_range_join(spark, sf_dir)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    # the bands partition the price space: every order lands in one
    assert sum(r.n_orders for r in j.collect()) == orders.count()
