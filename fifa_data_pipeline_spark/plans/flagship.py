"""The flagship query: the reference's ``team_view`` pipeline shape
transposed onto the driver testdata (SURVEY.md §7.2).

Reference lifecycle (``prefect/spark/fifa_spark.py:34-104``): two
scans → latest-per-group (A1 + J1/J2) → fact-fact join (J3) →
canonical-name dim join (J4) → 4-key multi-aggregate with CONCAT and
int-cast AVG (A3 + P6 + P7) → table sink. Our transposition:

  orders      ≈ teams/players snapshots (latest o_orderdate per
                o_custkey ≈ latest fifa_update per fifa_version)
  lineitem    ≈ the wide fact joined against the latest snapshot
  customer    ≈ the deduped-name dimension (A2: MAX(name) per key)
  nation      ≈ the nationality dimension feeding CONCAT

All five reference statements fuse into ONE logical plan here exactly
as the temp-view chain does in the reference (SURVEY.md §3.3) — no
intermediate materialization.

Known-divergence note (SURVEY.md §2.4): the reference's
``best_potential_player`` aggregates the same column twice
(``MAX(overall)``); we implement the evident intent — two MAX
aggregates over *different* columns (``l_extendedprice``,
``l_discount``).

Scale notes: the latest-per-group agg+join co-partitions on
``o_custkey``; lineitem⋈orders shuffles on the order key (AQE may
demote to broadcast at small SF); ``nation`` (25 rows — like the
reference's versions dim) is explicitly broadcast; the customer
canonical-name dim is left to AQE since at 100 TB a customer dim is
not broadcastable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fifa_data_pipeline_spark.functions.scalar import avg_int, concat_label
from fifa_data_pipeline_spark.operators.relational import latest_per_group_join
from fifa_data_pipeline_spark.sources.io import read_table


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (order priority, customer, nation, segment): spend, best
    line, truncated averages over each customer's LATEST order date.
    """
    return flagship_from(
        read_table(spark, sf_dir, "orders"),
        read_table(spark, sf_dir, "lineitem"),
        read_table(spark, sf_dir, "customer"),
        read_table(spark, sf_dir, "nation"),
    )


def flagship_from(
    orders: DataFrame,
    lineitem: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """The flagship over caller-supplied tables — the form the
    end-to-end ETL flow (``plans/etl_flow.py``) runs against its own
    materialized warehouse instead of the raw testdata scans."""
    # A1 + J1: keep all orders on each customer's latest order date
    # (ties keep all rows, matching the reference's agg+join idiom).
    latest_orders = latest_per_group_join(orders, "o_custkey", "o_orderdate")

    # A2 analogue: canonical customer attributes per key via MAX.
    cust_dim = (
        customer.groupBy("c_custkey")
        .agg(
            F.max("c_name").alias("cust_name"),
            F.max("c_nationkey").alias("c_nationkey"),
            F.max("c_mktsegment").alias("c_mktsegment"),
        )
    )

    # J4 first, J3 second — deliberately the reverse of the reference's
    # statement order: latest_orders is already hash-partitioned on
    # o_custkey by the latest-per-group aggregate, so joining cust_dim
    # (also custkey-keyed) here reuses that partitioning with no new
    # exchange on the orders side. Joining lineitem FIRST (the
    # reference order) would force the widest intermediate — every
    # lineitem row — through an extra custkey shuffle. Inner joins
    # commute, so results are identical; only bytes-moved changes.
    orders_cust = latest_orders.join(
        cust_dim, latest_orders["o_custkey"] == cust_dim["c_custkey"]
    )
    # nation is tiny → broadcast hint (like the reference's versions
    # dim); customer dim left to AQE.
    nation_dim = nation.select("n_nationkey", "n_name")
    orders_cust = orders_cust.join(
        F.broadcast(nation_dim),
        orders_cust["c_nationkey"] == nation_dim["n_nationkey"],
    )
    # J3: the single unavoidable big shuffle — lineitem by orderkey.
    joined = lineitem.join(
        orders_cust, lineitem["l_orderkey"] == orders_cust["o_orderkey"]
    )

    # A3 + P6 + P7: 4-key multi-aggregate with concat label and
    # truncating int-cast averages. Double SUM/AVG outputs are rounded
    # so the order-insensitive oracle hash is stable (FIXTURES.md).
    return (
        joined.withColumn(
            "nation_segment", concat_label("n_name", "c_mktsegment")
        )
        .groupBy(
            "o_orderpriority", "cust_name", "n_name", "c_mktsegment",
            "nation_segment",
        )
        .agg(
            F.round(F.sum("l_extendedprice"), 6).alias("total_value"),
            F.round(F.sum("l_quantity"), 6).alias("total_qty"),
            F.max("l_extendedprice").alias("best_price"),
            F.max("l_discount").alias("best_discount"),
            avg_int("l_quantity").alias("avg_qty_int"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_order_value"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def flagship_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship expressed exactly the way the reference expresses
    it (``prefect/spark/fifa_spark.py:34-99``): chained ``spark.sql``
    statements over temp views, each re-registered for the next.
    Temp views are plan aliases, so the five statements fuse into ONE
    logical plan — identical physical plan and results to the
    DataFrame-API ``flagship`` (same oracle)."""
    for name in ("orders", "lineitem", "customer", "nation"):
        read_table(spark, sf_dir, name).createOrReplaceTempView(f"fs_{name}")

    spark.sql(
        """
        SELECT o_custkey AS lk, MAX(o_orderdate) AS latest_odate
        FROM fs_orders GROUP BY o_custkey
        """
    ).createOrReplaceTempView("fs_latest")

    spark.sql(
        """
        SELECT o.* FROM fs_orders o
        JOIN fs_latest l
          ON o.o_custkey = l.lk AND o.o_orderdate = l.latest_odate
        """
    ).createOrReplaceTempView("fs_latest_orders")

    spark.sql(
        """
        SELECT c_custkey, MAX(c_name) AS cust_name,
               MAX(c_nationkey) AS c_nationkey,
               MAX(c_mktsegment) AS c_mktsegment
        FROM fs_customer GROUP BY c_custkey
        """
    ).createOrReplaceTempView("fs_cust_dim")

    return spark.sql(
        """
        SELECT
          o.o_orderpriority,
          c.cust_name,
          n.n_name,
          c.c_mktsegment,
          CONCAT(n.n_name, ' - ', c.c_mktsegment) AS nation_segment,
          ROUND(SUM(li.l_extendedprice), 6) AS total_value,
          ROUND(SUM(li.l_quantity), 6) AS total_qty,
          MAX(li.l_extendedprice) AS best_price,
          MAX(li.l_discount) AS best_discount,
          CAST(AVG(li.l_quantity) AS INT) AS avg_qty_int,
          ROUND(AVG(o.o_totalprice), 4) AS avg_order_value,
          COUNT(*) AS n_lines
        FROM fs_lineitem li
        JOIN fs_latest_orders o ON li.l_orderkey = o.o_orderkey
        JOIN fs_cust_dim c ON o.o_custkey = c.c_custkey
        JOIN fs_nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY o.o_orderpriority, c.cust_name, n.n_name, c.c_mktsegment
        """
    )


FLAGSHIP_ORACLE = """
WITH latest AS (
  SELECT o_custkey AS lk, MAX(o_orderdate) AS latest_odate
  FROM orders GROUP BY o_custkey
), latest_orders AS (
  SELECT o.* FROM orders o
  JOIN latest l ON o.o_custkey = l.lk AND o.o_orderdate = l.latest_odate
), cust_dim AS (
  SELECT c_custkey, MAX(c_name) AS cust_name,
         MAX(c_nationkey) AS c_nationkey, MAX(c_mktsegment) AS c_mktsegment
  FROM customer GROUP BY c_custkey
)
SELECT
  o.o_orderpriority,
  c.cust_name,
  n.n_name,
  c.c_mktsegment,
  n.n_name || ' - ' || c.c_mktsegment AS nation_segment,
  ROUND(SUM(li.l_extendedprice), 6) AS total_value,
  ROUND(SUM(li.l_quantity), 6) AS total_qty,
  MAX(li.l_extendedprice) AS best_price,
  MAX(li.l_discount) AS best_discount,
  CAST(TRUNC(AVG(li.l_quantity)) AS INTEGER) AS avg_qty_int,
  ROUND(AVG(o.o_totalprice), 4) AS avg_order_value,
  CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem li
JOIN latest_orders o ON li.l_orderkey = o.o_orderkey
JOIN cust_dim c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY o.o_orderpriority, c.cust_name, n.n_name, c.c_mktsegment
"""
