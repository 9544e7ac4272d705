"""Source/sink tests (SURVEY.md §2.1): typed CSV scan, CTAS-style
partitioned+clustered write, plain parquet sink, view registration."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from fifa_data_pipeline_spark.sources import io

NATION_DDL = "n_nationkey int, n_name string, n_regionkey int"


def test_read_table_and_register_views(spark, sf_dir):
    io.register_views(spark, sf_dir, ["nation", "region"])
    out = spark.sql(
        "SELECT r_name, COUNT(*) AS n FROM nation "
        "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name"
    )
    assert out.count() == 5


def test_csv_typed_roundtrip(spark, sf_dir, tmp_path):
    nation = io.read_table(spark, sf_dir, "nation")
    csv_path = str(tmp_path / "nation_csv")
    nation.write.option("header", True).mode("overwrite").csv(csv_path)
    back = io.read_csv_typed(spark, csv_path, NATION_DDL)
    assert {f.name for f in back.schema.fields} == set(nation.columns)
    assert isinstance(back.schema["n_nationkey"].dataType, T.IntegerType)
    assert back.count() == 25


def test_csv_typed_pins_declared_types(spark, sf_dir, tmp_path):
    # the declared schema wins over what the values look like: a key
    # column declared bigint stays bigint, a numeric one read as string
    nation = io.read_table(spark, sf_dir, "nation")
    csv_path = str(tmp_path / "nation_csv2")
    nation.write.option("header", True).mode("overwrite").csv(csv_path)
    df = io.read_csv_typed(
        spark, csv_path, "n_nationkey bigint, n_name string, n_regionkey string"
    )
    assert isinstance(df.schema["n_nationkey"].dataType, T.LongType)
    assert isinstance(df.schema["n_regionkey"].dataType, T.StringType)
    assert df.count() == 25


def test_write_clustered_partition_pruning(spark, sf_dir, tmp_path):
    orders = io.read_table(spark, sf_dir, "orders").withColumn(
        "o_status", F.col("o_orderstatus")
    )
    path = str(tmp_path / "orders_part")
    io.write_clustered(
        orders, path, partition_by=["o_status"], cluster_by=["o_custkey"]
    )
    back = spark.read.parquet(path)
    assert back.count() == orders.count()
    # Partition pruning: a filter on the partition column must show up
    # as PartitionFilters in the scan, not a post-scan Filter.
    pruned = back.filter(F.col("o_status") == "F")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "o_status" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]


def test_write_table_roundtrip(spark, sf_dir, tmp_path):
    nation = io.read_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_out")
    io.write_table(nation, path)
    assert spark.read.parquet(path).count() == 25


def test_csv_export_roundtrip(spark, sf_dir, tmp_path):
    nation = io.read_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_csv")
    io.write_csv(nation, path)
    back = io.read_csv_typed(spark, path, NATION_DDL)
    assert back.count() == 25
    assert {r.n_name for r in back.collect()} == {r.n_name for r in nation.collect()}


def test_analyze_table_collects_cbo_stats(spark, sf_dir, tmp_path):
    # warehouse op: persisted table + ANALYZE TABLE feeds the
    # cost-based optimizer (join reordering, broadcast decisions)
    from fifa_data_pipeline_spark.sources.io import read_table

    read_table(spark, sf_dir, "nation").write.mode("overwrite").saveAsTable(
        "t_nation_stats"
    )
    try:
        spark.sql(
            "ANALYZE TABLE t_nation_stats COMPUTE STATISTICS "
            "FOR COLUMNS n_nationkey, n_name"
        )
        detail = spark.sql(
            "DESCRIBE TABLE EXTENDED t_nation_stats"
        ).collect()
        stats = {r["col_name"]: r["data_type"] for r in detail}
        assert "Statistics" in stats  # table-level rowCount/sizeInBytes
        col = spark.sql(
            "DESCRIBE EXTENDED t_nation_stats n_nationkey"
        ).collect()
        info = {r["info_name"]: r["info_value"] for r in col}
        assert info.get("distinct_count") not in (None, "NULL")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_nation_stats")


def test_cached_table_plans_in_memory_scan(spark, sf_dir):
    from fifa_data_pipeline_spark.sources.io import read_table

    df = io.read_table(spark, sf_dir, "region").cache()
    try:
        df.count()  # materialize
        plan = (
            df.filter("r_regionkey >= 0")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "InMemoryTableScan" in plan
    finally:
        df.unpersist()


def test_range_partitioned_export_is_globally_sorted(spark, sf_dir, tmp_path):
    # ordered export: repartitionByRange + sortWithinPartitions gives
    # a globally-sorted file sequence (merge-friendly consumers read
    # disjoint, ordered key ranges per file)
    import pyspark.sql.functions as F

    from fifa_data_pipeline_spark.sources.io import read_table

    out = str(tmp_path / "sorted_export")
    orders = read_table(spark, sf_dir, "orders")
    (
        orders.repartitionByRange(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(out)
    )
    import glob as _glob

    ranges = []
    for f in sorted(_glob.glob(f"{out}/part-*.parquet")):
        df = spark.read.parquet(f)
        r = df.agg(
            F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
        ).collect()[0]
        if r["lo"] is not None:
            ranges.append((r["lo"], r["hi"]))
    ranges.sort()
    assert len(ranges) >= 2
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint, ordered ranges across files


def test_to_arrow_zero_copy_export(spark, sf_dir):
    """Spark 4 df.toArrow(): the Arrow interchange surface — results
    leave the JVM as one Arrow table, the zero-serialization path to
    pandas/polars/duckdb consumers."""
    import pyarrow as pa

    df = io.read_table(spark, sf_dir, "region")
    t = df.toArrow()
    assert isinstance(t, pa.Table)
    assert t.num_rows == df.count()
    assert set(t.column_names) == set(df.columns)


def test_merge_schema_evolution(spark, tmp_path):
    """Schema evolution on plain parquet: files written before a
    column existed read back as NULL under mergeSchema=true — the
    additive-evolution contract a long-lived table relies on."""
    path = str(tmp_path / "evolving")
    v1 = spark.range(3).select(F.col("id"), F.lit("a").alias("x"))
    v1.write.mode("overwrite").parquet(path)
    v2 = spark.range(3, 6).select(
        F.col("id"), F.lit("b").alias("x"), F.lit(1.5).alias("y")
    )
    v2.write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "x", "y"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[0].y is None and rows[4].y == 1.5


def test_footer_probes_detect_in_place_rewrite(spark, tmp_path):
    """r11 (ADVICE): the footer probe caches are keyed by a stat()
    fingerprint, so rewriting a dataset at the SAME path (bench
    rebuild loops) must re-probe instead of serving stale bounds to
    the bucketed machinery or stale byte sizes to the size-adaptive
    switch. Covers both file and directory layouts."""
    import os
    import time

    d = str(tmp_path / "t.parquet")
    df1 = spark.range(10).select(F.col("id").alias("k"))
    df1.coalesce(1).write.parquet(d)
    assert io.footer_minmax_int(d, "k") == (0, 9)
    b1 = io.footer_uncompressed_bytes(d)
    assert b1 > 0
    # rewrite in place with different bounds and more bytes; nudge
    # mtime in case the filesystem's resolution is coarse.
    df2 = spark.range(1000).select((F.col("id") + 100).alias("k"))
    df2.coalesce(1).write.mode("overwrite").parquet(d)
    for f in os.listdir(d):
        os.utime(os.path.join(d, f), ns=(time.time_ns(), time.time_ns()))
    assert io.footer_minmax_int(d, "k") == (100, 1099)
    assert io.footer_uncompressed_bytes(d) > b1
    # the explicit reset hook for rebuild tooling stays callable.
    io.clear_footer_caches()
    assert io.footer_minmax_int(d, "k") == (100, 1099)


def _bounds_with_jobs(spark, df, path, col, group):
    """``io.minmax_bounds`` under a fresh job group, with the Spark
    job ids that group launched."""
    sc = spark.sparkContext
    before = set(sc.statusTracker().getJobIdsForGroup(group))
    sc.setJobGroup(group, group)
    try:
        got = io.minmax_bounds(df, path, col)
    finally:
        sc._jsc.clearJobGroup()
    return got, set(sc.statusTracker().getJobIdsForGroup(group)) - before


def test_minmax_bounds_uses_footer_stats_without_a_job(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "with_stats.parquet")
    pq.write_table(pa.table({"k": [5, -3, 12, 7]}), path)
    got, jobs = _bounds_with_jobs(
        spark, spark.read.parquet(path), path, "k", "minmax-footer"
    )
    assert got == (-3, 12)
    assert jobs == set()


def test_minmax_bounds_probes_when_footer_has_no_stats(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "no_stats.parquet")
    pq.write_table(
        pa.table({"k": [5, -3, 12, 7]}), path, write_statistics=False
    )
    assert io.footer_minmax_int(path, "k") is None
    got, jobs = _bounds_with_jobs(
        spark, spark.read.parquet(path), path, "k", "minmax-probe"
    )
    assert got == (-3, 12)
    assert jobs  # the aggregate ran
