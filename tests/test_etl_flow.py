"""End-to-end ETL flow: the reference's full pipeline lifecycle
(land CSV → external scan → typed materialize → flagship → sink)
must produce EXACTLY the flagship result computed straight off the
source parquet, and re-running must be idempotent."""

from __future__ import annotations

from pyspark.sql import functions as F

from fifa_data_pipeline_spark.plans.etl_flow import etl_flow
from fifa_data_pipeline_spark.plans.flagship import flagship

SF = "/root/testdata/sf0.001"


def _key(r):
    return tuple(r[k] for k in sorted(r.asDict()))


def test_etl_flow_end_to_end_matches_direct_flagship(spark, tmp_path):
    landing = str(tmp_path / "landing")
    warehouse = str(tmp_path / "warehouse")
    result = str(tmp_path / "result")

    got = etl_flow(spark, SF, landing, warehouse, result)
    want = flagship(spark, SF)
    assert sorted(map(_key, got.collect())) == sorted(map(_key, want.collect()))

    # Materialized tables are hive-partitioned (CTAS PARTITION BY) and
    # the partition column survives the CSV->typed roundtrip.
    orders = spark.read.parquet(f"{warehouse}/orders")
    assert orders.filter(F.col("o_orderstatus").isNull()).count() == 0

    # Idempotent re-run (CREATE OR REPLACE): same result, no dup rows.
    again = etl_flow(spark, SF, landing, warehouse, result)
    assert sorted(map(_key, again.collect())) == sorted(map(_key, want.collect()))
