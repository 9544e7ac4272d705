"""The reference's end-to-end pipeline as ONE orchestrated function
(reference ``prefect/flows/etl_kaggle_to_big_query.py:207-225``,
``etl_general_fifa_flow``), Spark-first:

| reference stage | here |
|---|---|
| Kaggle download + GCS upload (S1/S2, ``:21-62``) | `land_csvs` exports the source tables to a CSV landing zone (the engine ingests landed files; the HTTP fetch itself is out-of-engine by design, SURVEY §2.1) |
| external tables, inferred schema (S3/S4, ``:65-78,114-127``) | `read_csv_typed` with the CTAS column types pinned + temp views |
| CTAS materialize: typed + filtered + partitioned + clustered (S5/S6, ``:81-111,130-163``) | quality filter + `write_clustered` |
| Dataproc Spark job: the analytics query (``fifa_spark.py``) | `flagship_from` over the MATERIALIZED tables |
| BigQuery sink (S8, ``fifa_spark.py:102-104``) | `write_table` parquet |

Every stage is CREATE-OR-REPLACE idempotent (mode="overwrite"),
matching the reference's re-runnable monthly batch; unlike the
reference (which logs and ignores the Dataproc return code,
``:204``), failures propagate.

Scale: the landing/external stages are per-row streams (no shuffle);
the scan pins the CTAS types, so each landed file is read once, with
no inference pass. Materialization shuffles once per table on the
partition column (`write_clustered`); the flagship's plan is unchanged
from `plans/flagship.py` (3 exchanges). The CSV hop exists for
reference parity — a production pipeline at 100 TB lands parquet and
skips straight to materialize.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fifa_data_pipeline_spark.operators.util import scratch_dir
from fifa_data_pipeline_spark.plans.flagship import flagship_from
from fifa_data_pipeline_spark.sources.io import (
    read_csv_typed,
    read_table,
    write_clustered,
    write_csv,
    write_table,
)

#: (table, column types in file order, quality filter, partition col,
#: cluster cols) — the analogue of the reference's two CTAS statements
#: (16/19-column cast lists + WHERE, ``etl_kaggle_to_big_query.py:86-163``).
_MATERIALIZE = {
    "orders": (
        {
            "o_orderkey": "bigint",
            "o_custkey": "bigint",
            "o_orderstatus": "string",
            "o_totalprice": "double",
            "o_orderdate": "timestamp",
            "o_orderpriority": "string",
        },
        "o_orderkey IS NOT NULL",
        "o_orderstatus",
        ["o_custkey", "o_orderdate"],
    ),
    "lineitem": (
        {
            "l_orderkey": "bigint",
            "l_partkey": "bigint",
            "l_suppkey": "bigint",
            "l_linenumber": "int",
            "l_quantity": "double",
            "l_extendedprice": "double",
            "l_discount": "double",
            "l_tax": "double",
            "l_returnflag": "string",
            "l_linestatus": "string",
            "l_shipdate": "timestamp",
        },
        "l_orderkey IS NOT NULL",
        "l_returnflag",
        ["l_orderkey", "l_partkey"],
    ),
    "customer": (
        {
            "c_custkey": "bigint",
            "c_name": "string",
            "c_nationkey": "int",
            "c_acctbal": "double",
            "c_mktsegment": "string",
        },
        "c_custkey IS NOT NULL",
        "c_mktsegment",
        ["c_custkey"],
    ),
    "nation": (
        {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
        "n_nationkey IS NOT NULL",
        "n_regionkey",
        ["n_nationkey"],
    ),
}


def land_csvs(spark: SparkSession, sf_dir: str, landing_dir: str) -> None:
    """S1/S2 analogue: export the four source tables as CSV into the
    landing zone (the reference lands Kaggle CSVs in GCS ``raw/``)."""
    for name in _MATERIALIZE:
        write_csv(read_table(spark, sf_dir, name), os.path.join(landing_dir, name))


def materialize(spark: SparkSession, landing_dir: str, warehouse_dir: str) -> None:
    """S3-S6: external scan of each landed CSV with the CTAS types,
    then the filtered/partitioned/clustered CREATE-OR-REPLACE
    materialization."""
    for name, (types, quality, part_col, cluster_cols) in _MATERIALIZE.items():
        schema = ", ".join(f"{c} {t}" for c, t in types.items())
        ext = read_csv_typed(spark, os.path.join(landing_dir, name), schema)
        ext.createOrReplaceTempView(f"ext_{name}")  # S3/S4 register
        write_clustered(
            ext.filter(F.expr(quality)),
            os.path.join(warehouse_dir, name),
            partition_by=[part_col],
            cluster_by=cluster_cols,
        )


def etl_flow(
    spark: SparkSession, sf_dir: str, landing_dir: str, warehouse_dir: str,
    result_path: str,
) -> DataFrame:
    """The whole pipeline, strictly ordered like the reference flow;
    returns the flagship result DataFrame (also written to
    ``result_path``). Re-running overwrites every artifact —
    idempotent batch semantics."""
    land_csvs(spark, sf_dir, landing_dir)
    materialize(spark, landing_dir, warehouse_dir)
    tables = {
        name: spark.read.parquet(os.path.join(warehouse_dir, name))
        for name in _MATERIALIZE
    }
    result = flagship_from(
        tables["orders"], tables["lineitem"], tables["customer"], tables["nation"]
    )
    write_table(result, result_path)
    return spark.read.parquet(result_path)


# ---------------------------------------------------------------------------
# Registry surface (VERDICT r3 #7): the lifecycle twin as a driver-
# checked query. The flow's CSV-landing → typed materialize →
# flagship chain must reproduce the flagship result EXACTLY — the
# CSV hop is value-roundtrip-safe (Spark writes doubles at shortest
# roundtrip precision; timestamps re-cast from ISO strings) and the
# quality filters are no-ops on key-complete testdata, so the
# flagship's own DuckDB oracle is the oracle for the whole flow.
# ---------------------------------------------------------------------------


def q_etl_flow(spark: SparkSession, sf_dir: str):
    """Run the full reference-shaped ETL flow (land → materialize →
    flagship → sink) into a temp workspace and return the sunk
    result."""
    base = scratch_dir("spark_graft_etl_")
    return etl_flow(
        spark,
        sf_dir,
        os.path.join(base, "landing"),
        os.path.join(base, "warehouse"),
        os.path.join(base, "result"),
    )


from fifa_data_pipeline_spark.plans.flagship import FLAGSHIP_ORACLE  # noqa: E402

QUERIES = {"q_etl_flow": q_etl_flow}
ORACLES = {"q_etl_flow": FLAGSHIP_ORACLE}
