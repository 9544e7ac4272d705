"""Plan-asserted scale-posture tests: optimizations that only matter
(or only trigger) when both join sides are large — verified here by
forcing large-scale conditions onto the local data and reading the
optimized plan, the same way the bucketing/pushdown tests do."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


@pytest.fixture
def sf_dir():
    return "/root/testdata/sf0.001"


def test_runtime_bloom_filter_injected_when_broadcast_impossible(spark, sf_dir):
    """When the filtered build side of a shuffle join is too big to
    broadcast (the normal state at 100 TB), Spark injects a runtime
    bloom filter: the build side's join keys populate a bloom filter
    that pre-filters the probe side's scan, cutting shuffle volume by
    the build side's selectivity. Locally the dims always broadcast
    (so the rule correctly stays out of the way); forcing
    broadcast off and the app-side threshold down reproduces the
    at-scale plan so we can pin the behavior."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        od = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            "o_totalprice > 400000"
        )
        j = li.join(od, li.l_orderkey == od.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
        # row-count parity with the un-filtered join
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)
        plain = li.join(od, li.l_orderkey == od.o_orderkey)
        for k, v in confs.items():
            spark.conf.set(k, v)
        assert j.count() == plain.count()
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_bloom_filter_not_injected_when_dim_broadcasts(spark, sf_dir):
    """With defaults, the tiny dim broadcasts and the bloom-filter
    rule correctly declines (a broadcast hash join already prunes the
    probe side with the exact key set)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        "o_totalprice > 400000"
    )
    j = li.join(od, li.l_orderkey == od.o_orderkey)
    plan = j._jdf.queryExecution().optimizedPlan().toString()
    assert "might_contain" not in plan


def test_dynamic_partition_pruning_from_dim_filter(spark, sf_dir, tmp_path):
    """Join-driven partition pruning: the fact is partitioned on the
    join key and carries NO static filter — the dim side's filter
    must reach the fact scan as a runtime `dynamicpruning` subquery.
    At 100 TB this is the difference between scanning one date's
    partitions and scanning the table."""
    from fifa_data_pipeline_spark.sources.io import read_table

    path = str(tmp_path / "li_part")
    (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag")
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(path)
    )
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("R", "returned")], ["flag", "label"]
    ).filter(F.col("label") == "returned")
    joined = fact.join(
        dim, fact.l_returnflag == dim.flag
    ).groupBy("label").agg(F.sum("l_quantity").alias("q"))
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan
    assert joined.collect()[0]["label"] == "returned"


def test_cbo_stats_reorder_joins_filtered_dim_first(spark, sf_dir):
    """With ANALYZE'd stats + CBO join reorder, the written join
    order (customer ⋈ orders, THEN the 1-row nation filter) is
    rewritten to join the selective dim first — the reorder that
    keeps a 100 TB intermediate from ever materializing."""
    from fifa_data_pipeline_spark.sources.io import read_table

    for t in ["customer", "orders", "nation"]:
        read_table(spark, sf_dir, t).write.mode("overwrite").saveAsTable(
            f"cbo_{t}"
        )
        spark.sql(f"ANALYZE TABLE cbo_{t} COMPUTE STATISTICS")
    try:
        confs = {
            "spark.sql.cbo.enabled": "true",
            "spark.sql.cbo.joinReorder.enabled": "true",
        }
        old = {k: spark.conf.get(k) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            df = spark.sql(
                """
                SELECT n_name, COUNT(*) AS n
                FROM cbo_customer
                JOIN cbo_orders ON o_custkey = c_custkey
                JOIN cbo_nation ON c_nationkey = n_nationkey
                WHERE n_name = 'NATION_3'
                GROUP BY n_name
                """
            )
            txt = df._jdf.queryExecution().optimizedPlan().toString()
            # left-deep reordered tree prints the first-joined (dim)
            # relation before the demoted big side
            assert txt.index("cbo_nation") < txt.index("cbo_orders")
            assert df.collect()[0]["n"] > 0
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)
    finally:
        for t in ["customer", "orders", "nation"]:
            spark.sql(f"DROP TABLE IF EXISTS cbo_{t}")


def test_extra_conf_segment_without_equals_names_the_knob(monkeypatch):
    from fifa_data_pipeline_spark.session import get_spark

    monkeypatch.setenv(
        "SPARK_GRAFT_EXTRA_CONF", "spark.sql.shuffle.partitions=4;oops"
    )
    with pytest.raises(ValueError, match="SPARK_GRAFT_EXTRA_CONF.*'oops'"):
        get_spark("bad-conf")


def test_nested_struct_column_pruning_reaches_scan(spark, sf_dir, tmp_path):
    """Nested-schema pruning: selecting one leaf of a struct column
    must narrow the parquet ReadSchema to that leaf — at 100 TB with
    wide metadata structs, reading `meta.width` must not drag the
    whole struct (or the payload sibling) off disk."""
    from fifa_data_pipeline_spark.operators.multimodal import (
        attach_payload,
    )
    from fifa_data_pipeline_spark.sources.io import read_table

    path = str(tmp_path / "media")
    attach_payload(read_table(spark, sf_dir, "documents")).write.mode(
        "overwrite"
    ).parquet(path)
    df = spark.read.parquet(path).select(
        "doc_id", F.col("meta.width").alias("w")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m, plan
    schema = m.group(1)
    assert "width" in schema
    # siblings pruned: neither the binary payload nor other struct
    # leaves reach the scan
    assert "payload" not in schema and "media_format" not in schema


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join handling actually fires on a skewed key: the
    final adaptive plan's shuffle read marks the split partition
    (``skew``). Instructive detail baked into the fixture: the pad
    column must be INCOMPRESSIBLE (md5, not a constant) — skew
    detection measures compressed shuffle bytes, so a compressible
    hot key can hide below the threshold while still dominating
    task runtime."""
    import io
    from contextlib import redirect_stdout

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "256KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128KB",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 400000).select(
            F.when(F.col("id") % 4 == 0, 7)
            .otherwise(F.col("id") % 5000)
            .alias("k"),
            F.md5(F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(0, 5000).select(
            F.col("id").alias("k"), F.rand(2).alias("w")
        )
        j = left.join(right, "k").select(
            F.sum(F.length("pad")).alias("s")
        )
        j.collect()
        buf = io.StringIO()
        with redirect_stdout(buf):
            j.explain("formatted")
        assert "skew" in buf.getvalue().lower()
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_aqe_splits_skewed_join_partitions(spark):
    """The skew posture the suite relies on (salting is the manual
    fallback — q_join_salted): AQE must detect a hot key at runtime
    and split its partition (skew=true in the finalized SMJ). Thresholds
    are lowered session-locally so a test-sized hot key trips the
    same machinery a 100 TB skew does, and restored after."""
    import pyspark.sql.functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64KB",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB"
        )
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2"
        )
        # force a shuffle join so the skew handler (not broadcast)
        # is what AQE exercises
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"
        )
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(0))
            .otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("p" * 64), F.col("id").cast("string")).alias(
                "pad"
            ),
        )
        right = spark.range(0, 50_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(0))
            .otherwise(F.col("id")).alias("k"),
            F.col("id").alias("rv"),
        )
        # aggregate over pad so column pruning can't strip the bytes
        # that make the hot partition big enough to classify as skew
        j = left.join(right, "k").select(F.sum(F.length("pad")))
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
        assert "skewed" in plan  # AQEShuffleRead ... skewed
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
