"""Unit tests for the round-4 analytics operators (extended10):
PIT-join tiling, Welch closed form, discrete
percentile membership."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from fifa_data_pipeline_spark.operators.relational import point_in_time_join


def test_point_in_time_join_picks_containing_interval(spark):
    dims = spark.createDataFrame(
        [
            (1, 0, 10, "v1"),
            (1, 10, 20, "v2"),
            (1, 20, None, "v3"),
            (2, 5, None, "w1"),
        ],
        "key int, valid_from int, valid_to int, tag string",
    )
    facts = spark.createDataFrame(
        [(1, 0), (1, 9), (1, 10), (1, 25), (2, 7)], "key int, ts int"
    )
    out = {
        (r["key"], r["ts"], r["tag"])
        for r in point_in_time_join(facts, dims, "key", "ts").collect()
    }
    assert out == {
        (1, 0, "v1"),
        (1, 9, "v1"),
        (1, 10, "v2"),
        (1, 25, "v3"),
        (2, 7, "w1"),
    }
    # tiled intervals → exactly one match per fact
    assert len(out) == facts.count()


def test_point_in_time_join_drops_pre_history_facts(spark):
    dims = spark.createDataFrame(
        [(1, 10, None, "v1")], "key int, valid_from int, valid_to int, tag string"
    )
    facts = spark.createDataFrame([(1, 3)], "key int, ts int")
    assert point_in_time_join(facts, dims, "key", "ts").count() == 0


def test_ab_welch_matches_closed_form(spark, sf_dir):
    from fifa_data_pipeline_spark.plans.extended10 import q_ab_welch

    row = (
        q_ab_welch(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .collect()[0]
    )
    # recompute Welch from the component aggregates
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    v = F.expr(
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), "
        "16, 10) AS BIGINT) % 2"
    )
    pdf = (
        ev.filter(F.col("event_type") == "click")
        .select(v.alias("v"), "value")
        .toPandas()
    )
    a, b = pdf[pdf.v == 0].value, pdf[pdf.v == 1].value
    se2 = a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b)
    t = (b.mean() - a.mean()) / math.sqrt(se2)
    assert abs(row["t_stat"] - round(t, 4)) <= 1e-4
    assert row["n_a"] == len(a) and row["n_b"] == len(b)


def test_percentile_disc_values_are_real_rows(spark, sf_dir):
    from fifa_data_pipeline_spark.plans.extended10 import q_percentile_disc

    out = q_percentile_disc(spark, sf_dir).collect()
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    prices = {
        (r["o_orderpriority"], r["o_totalprice"])
        for r in orders.select("o_orderpriority", "o_totalprice").collect()
    }
    assert len(out) == 4 * orders.select("o_orderpriority").distinct().count()
    for r in out:
        # discrete quantiles return actual order values, never interpolations
        assert (r["o_orderpriority"], r["value"]) in prices
    # monotone in p per group
    by_grp: dict = {}
    for r in out:
        by_grp.setdefault(r["o_orderpriority"], []).append((r["p"], r["value"]))
    for vals in by_grp.values():
        vals.sort()
        assert [v for _, v in vals] == sorted(v for _, v in vals)
