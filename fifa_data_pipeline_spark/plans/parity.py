"""Reference-parity standalone queries (SURVEY.md §2.2-2.5).

One named query per operator row in the §2 inventory, each with a
DuckDB oracle. Oracle-alignment gotchas handled here (SURVEY.md §5):

- Spark double→int CAST truncates; DuckDB rounds → oracles use
  ``CAST(TRUNC(x) AS INTEGER)``.
- Spark ``SUM(int)`` widens to BIGINT; DuckDB to HUGEINT → oracles
  cast to BIGINT.
- Spark ``concat`` NULL-propagates → oracles use ``||`` (same
  semantics), never DuckDB ``concat`` (skips NULLs).
- Timestamps are compared as DATE or epoch seconds (parquet ms/ns
  precision differences).
- Double SUM/AVG outputs are rounded on both sides so the
  order-insensitive hash is stable across partial-agg orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fifa_data_pipeline_spark.functions.scalar import (
    avg_int,
    cast_columns,
    concat_label,
)
from fifa_data_pipeline_spark.operators import relational as R
from fifa_data_pipeline_spark.sources.io import read_table


# --- P1/P2: explicit projection ------------------------------------------

def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit select-list projection (P1/P2). The narrow ReadSchema
    reaches the parquet scan via Catalyst column pruning."""
    return read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )


# --- P3: inequality filter ------------------------------------------------

def q_filter_neq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``!=`` filter (P3 ≈ ``WHERE league_id != 78``); pushed down to
    the scan."""
    return read_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") != 2)


# --- P4: null-predicate filter -------------------------------------------

def q_filter_notnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS NOT NULL filter (P4 ≈ ``WHERE player_id IS NOT NULL``)."""
    df = read_table(spark, sf_dir, "orders")
    return df.filter(F.col("o_custkey").isNotNull()).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
    )


# --- P5: cast projection --------------------------------------------------

def q_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed cast projection (P5, the CTAS cast-list analogue).
    Includes a double→int cast to pin Spark's truncation semantics."""
    df = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"
    )
    return cast_columns(
        df,
        {
            "l_orderkey": "int",
            "l_linenumber": "bigint",
            "l_quantity": "int",  # truncates toward zero
            "l_shipdate": "date",
        },
    )


# --- P7: NULL-propagating concat -----------------------------------------

def q_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONCAT with literal separator (P7)."""
    return read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        concat_label("c_name", "c_mktsegment").alias("label"),
    )


# --- A1: group-by max (latest per key) -----------------------------------

def q_agg_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY 1 key + MAX (A1: latest update per version)."""
    orders = read_table(spark, sf_dir, "orders").withColumn(
        "o_orderdate_d", F.col("o_orderdate").cast("date")
    )
    return orders.groupBy("o_custkey").agg(
        F.max("o_orderdate_d").alias("latest_date")
    )


# --- A2: group-by max over a string --------------------------------------

def q_agg_maxstr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY key + MAX(string) (A2: canonical name per id)."""
    return (
        read_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.max("c_name").alias("name"))
    )


# --- A2b: DISTINCT --------------------------------------------------------

def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT over a 2-col projection (the ``SELECT DISTINCT`` at
    reference ``fifa_spark.py:74``)."""
    return (
        read_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
    )


# --- A1+J1: latest-per-group via agg + join back -------------------------

def q_join_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-per-group keeping all tied rows (A1+J1/J2) — rank-based
    single-shuffle form (see relational.latest_per_group_join)."""
    orders = read_table(spark, sf_dir, "orders")
    latest = R.latest_per_group_join(orders, "o_custkey", "o_orderdate")
    return latest.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("o_date"),
        "o_orderpriority",
    )


def q_latest_aggjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's LITERAL latest idiom — max-agg + self-join back
    (``fifa_spark.py:34-66``). Same result set as q_join_latest; both
    share one oracle, which is itself written in the agg+join shape."""
    orders = read_table(spark, sf_dir, "orders")
    latest = R.latest_per_group_agg_join(orders, "o_custkey", "o_orderdate")
    return latest.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("o_date"),
        "o_orderpriority",
    )


# --- window-form latest (idiomatic alternative, §2.3 note) ----------------

def q_latest_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number()==1 latest-per-group — exactly one row per key,
    deterministic tie-break on o_orderkey desc."""
    orders = read_table(spark, sf_dir, "orders")
    latest = R.latest_per_group_window(
        orders, "o_custkey", "o_orderdate", "o_orderkey"
    )
    return latest.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("o_date"),
    )


# --- A3+P6: multi-aggregate (TPC-H Q1 shape) ------------------------------

def q_agg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY 2 keys + SUM/MAX/AVG mix with truncating int-cast AVG
    (A3+P6)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 3).alias("sum_price"),
        F.max("l_discount").alias("max_discount"),
        F.max("l_tax").alias("max_tax"),
        avg_int("l_quantity").alias("avg_qty_int"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --- J3/J4: fact-fact + broadcast dim join --------------------------------

def q_join_fact_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi-join (J3) plus broadcast dim chain (J4):
    lineitem ⋈ orders ⋈ customer ⋈ nation, then a small aggregate so
    the result is compact."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # dims-first join order: orders⋈customer⋈nation is far narrower
    # than lineitem, so the wide fact crosses exactly one shuffle
    # (orderkey) instead of also re-shuffling on custkey. Inner joins
    # commute — identical results, fewer bytes moved.
    j = orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
    j = j.join(F.broadcast(nation), j["c_nationkey"] == nation["n_nationkey"])
    j = li.join(j, li["l_orderkey"] == j["o_orderkey"])
    return j.groupBy("n_name").agg(
        F.round(F.sum("l_extendedprice"), 3).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# --- top-k (§2.5 extension surface) ---------------------------------------

def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY ... LIMIT k (TakeOrderedAndProject — no global sort).
    Deterministic tie-break on the key column."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


QUERIES = {
    "q_project": q_project,
    "q_filter_neq": q_filter_neq,
    "q_filter_notnull": q_filter_notnull,
    "q_cast": q_cast,
    "q_concat": q_concat,
    "q_agg_max": q_agg_max,
    "q_agg_maxstr": q_agg_maxstr,
    "q_distinct": q_distinct,
    "q_join_latest": q_join_latest,
    "q_latest_aggjoin": q_latest_aggjoin,
    "q_latest_window": q_latest_window,
    "q_agg_multi": q_agg_multi,
    "q_join_fact_dim": q_join_fact_dim,
    "q_topk": q_topk,
}

ORACLES = {
    "q_project": (
        "SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer"
    ),
    "q_filter_neq": "SELECT * FROM nation WHERE n_regionkey != 2",
    "q_filter_notnull": (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority "
        "FROM orders WHERE o_custkey IS NOT NULL"
    ),
    "q_cast": (
        "SELECT CAST(l_orderkey AS INTEGER) AS l_orderkey, "
        "CAST(l_linenumber AS BIGINT) AS l_linenumber, "
        "CAST(TRUNC(l_quantity) AS INTEGER) AS l_quantity, "
        "CAST(l_shipdate AS DATE) AS l_shipdate FROM lineitem"
    ),
    "q_concat": (
        "SELECT c_custkey, c_name || ' - ' || c_mktsegment AS label "
        "FROM customer"
    ),
    "q_agg_max": (
        "SELECT o_custkey, MAX(CAST(o_orderdate AS DATE)) AS latest_date "
        "FROM orders GROUP BY o_custkey"
    ),
    "q_agg_maxstr": (
        "SELECT c_nationkey, MAX(c_name) AS name FROM customer "
        "GROUP BY c_nationkey"
    ),
    "q_distinct": "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q_join_latest": """
        WITH latest AS (
          SELECT o_custkey AS lk, MAX(o_orderdate) AS latest_odate
          FROM orders GROUP BY o_custkey
        )
        SELECT o.o_orderkey, o.o_custkey,
               CAST(o.o_orderdate AS DATE) AS o_date, o.o_orderpriority
        FROM orders o
        JOIN latest l ON o.o_custkey = l.lk AND o.o_orderdate = l.latest_odate
    """,
    "q_latest_window": """
        SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS o_date
        FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY o_custkey
            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          FROM orders
        ) WHERE rn = 1
    """,
    "q_agg_multi": """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 6) AS sum_qty,
               ROUND(SUM(l_extendedprice), 3) AS sum_price,
               MAX(l_discount) AS max_discount,
               MAX(l_tax) AS max_tax,
               CAST(TRUNC(AVG(l_quantity)) AS INTEGER) AS avg_qty_int,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
    "q_join_fact_dim": """
        SELECT n.n_name,
               ROUND(SUM(li.l_extendedprice), 3) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem li
        JOIN orders o ON li.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    """,
    "q_topk": (
        "SELECT o_orderkey, o_totalprice FROM orders "
        "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"
    ),
}

# Same result set, same oracle: the rank form and the literal
# agg+join form are value-identical (rank keeps max ties).
ORACLES["q_latest_aggjoin"] = ORACLES["q_join_latest"]
