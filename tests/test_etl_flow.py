"""End-to-end ETL flow: the reference's full pipeline lifecycle
(land CSV → external scan → typed materialize → flagship → sink)
must produce EXACTLY the flagship result computed straight off the
source parquet, and re-running must be idempotent. A landed CSV that
does not match the CTAS schema must fail the materialize."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from fifa_data_pipeline_spark.plans.etl_flow import etl_flow, land_csvs, materialize
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


def _land_with_nation(spark, tmp_path, nation_csv: str) -> str:
    """A landing zone of the four source tables whose nation CSV is
    replaced by ``nation_csv``."""
    landing = tmp_path / "landing"
    land_csvs(spark, SF, str(landing))
    shutil.rmtree(landing / "nation")
    (landing / "nation").mkdir()
    (landing / "nation" / "part-00000.csv").write_text(nation_csv)
    return str(landing)


def test_materialize_raises_on_malformed_number(spark, tmp_path):
    landing = _land_with_nation(
        spark, tmp_path,
        "n_nationkey,n_name,n_regionkey\n0,ALGERIA,0\nseven,BRAZIL,1\n",
    )
    # the error names the value that did not parse
    with pytest.raises(Exception, match="seven"):
        materialize(spark, landing, str(tmp_path / "warehouse"))


def test_materialize_raises_on_reordered_header(spark, tmp_path):
    # the scan reads columns by position with the CTAS types, so a
    # header that is not the CTAS column list is an error, not a
    # silent remap
    landing = _land_with_nation(
        spark, tmp_path,
        "n_name,n_nationkey,n_regionkey\nALGERIA,0,0\nBRAZIL,1,1\n",
    )
    with pytest.raises(
        Exception, match="CSV header does not conform to the schema"
    ) as err:
        materialize(spark, landing, str(tmp_path / "warehouse"))
    assert "Header: n_name, n_nationkey, n_regionkey" in str(err.value)
