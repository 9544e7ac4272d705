"""Second extended-surface batch: pivot/unpivot, grouping sets,
exact percentiles, deterministic sampling, subquery shapes
(EXISTS / IN / scalar — exercising Catalyst's decorrelation),
SCD-1 merge/upsert, rolling-hash fingerprint, string aggregation.
Every query here is DuckDB-oracle-checked.

These fill the remaining "explicit absences" of the reference
(SURVEY.md §2.5 — it has no subqueries, no pivot, no sampling) and
round out the training-pipeline staples (corpus sampling, snapshot
upsert, content fingerprints).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fifa_data_pipeline_spark.operators import relational as R
from fifa_data_pipeline_spark.operators import text as X
from fifa_data_pipeline_spark.sources.io import read_table


# --- pivot / unpivot ------------------------------------------------------

def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue pivoted to one column per lineitem status."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_extendedprice"), 3))
        .withColumnsRenamed({"F": "rev_F", "O": "rev_O"})
    )


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem measures wide → long (single Expand pass)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "value",
    ).withColumn("value", F.round("value", 6))


# --- grouping sets --------------------------------------------------------

def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary subtotal combinations + GROUPING() markers."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
        F.grouping("l_returnflag").cast("int").alias("g_rf"),
        F.grouping("l_linestatus").cast("int").alias("g_ls"),
    )


# --- exact percentiles ----------------------------------------------------

def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median / p90 / p99 per return flag (the
    exact twin of q_agg_approx's approx_percentile; both engines use
    linear interpolation between order statistics)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("median_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("p90_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 6).alias("p99_price"),
    )


# --- deterministic sampling ----------------------------------------------

def q_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 1-in-20 systematic sample of lineitem (corpus
    downsampling staple), then a compact aggregate for comparison."""
    li = read_table(spark, sf_dir, "lineitem")
    s = R.systematic_sample(li, ["l_orderkey", "l_linenumber"], 20, 3)
    return s.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.round(F.sum("l_extendedprice"), 3).alias("sampled_revenue"),
    )


# --- subquery shapes (Catalyst decorrelation) -----------------------------

def q_exists_subq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS — decorrelated by Catalyst into a left-semi
    join (same physical shape as q_join_semi, written declaratively)."""
    read_table(spark, sf_dir, "customer").createOrReplaceTempView("x2_customer")
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("x2_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM x2_customer c
        WHERE EXISTS (
          SELECT 1 FROM x2_orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
        )
        """
    )


def q_in_subq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery → left-semi join after decorrelation."""
    read_table(spark, sf_dir, "part").createOrReplaceTempView("x2_part")
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView("x2_lineitem")
    return spark.sql(
        """
        SELECT p_partkey, p_name FROM x2_part
        WHERE p_partkey IN (
          SELECT l_partkey FROM x2_lineitem WHERE l_discount >= 0.09
        )
        """
    )


def q_scalar_subq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (global average) as a filter
    bound — planned as a one-row broadcast, not a join."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("x2_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_above_avg,
               ROUND(SUM(o_totalprice), 3) AS sum_above_avg
        FROM x2_orders
        WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM x2_orders)
        GROUP BY o_orderpriority
        """
    )


# --- SCD-1 merge / upsert -------------------------------------------------

def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot upsert: a batch of changed orders (10% price bump on
    even keys) merged over a base missing every 7th key — updates
    overwrite, new keys insert, untouched base rows pass through."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    base = orders.filter(F.col("o_orderkey") % 7 != 0)
    updates = orders.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "o_totalprice", F.round(F.col("o_totalprice") * 1.1, 6)
    )
    merged = R.merge_upsert(base, updates, "o_orderkey")
    return merged.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 6).alias("o_totalprice"),
    )


# --- rolling-hash fingerprint / string aggregation ------------------------

def q_rolling_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprint per document."""
    docs = read_table(spark, sf_dir, "documents")
    return X.rolling_hash(docs, "text").select("doc_id", "rfp")


def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: distinct market segments per
    nation, sorted and comma-joined (collect_set → array_sort →
    array_join; LISTAGG equivalent)."""
    c = read_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(
            F.array_sort(F.collect_set("c_mktsegment")), ","
        ).alias("segments"),
        F.count(F.lit(1)).alias("n_cust"),
    )


QUERIES = {
    "q_pivot": q_pivot,
    "q_unpivot": q_unpivot,
    "q_grouping_sets": q_grouping_sets,
    "q_percentiles": q_percentiles,
    "q_sample": q_sample,
    "q_exists_subq": q_exists_subq,
    "q_in_subq": q_in_subq,
    "q_scalar_subq": q_scalar_subq,
    "q_merge_upsert": q_merge_upsert,
    "q_rolling_fp": q_rolling_fp,
    "q_string_agg": q_string_agg,
}

ORACLES = {
    "q_pivot": """
        SELECT l_returnflag,
               ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_extendedprice END), 3) AS rev_F,
               ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_extendedprice END), 3) AS rev_O
        FROM lineitem GROUP BY l_returnflag
    """,
    "q_unpivot": """
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
               ROUND(l_quantity, 6) AS value FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_extendedprice',
               ROUND(l_extendedprice, 6) FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount',
               ROUND(l_discount, 6) FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_tax',
               ROUND(l_tax, 6) FROM lineitem
    """,
    "q_grouping_sets": """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 6) AS sum_qty,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
               CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    "q_percentiles": """
        SELECT l_returnflag,
               ROUND(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 6) AS median_qty,
               ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9), 6) AS p90_price,
               ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.99), 6) AS p99_price
        FROM lineitem GROUP BY l_returnflag
    """,
    "q_sample": """
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_sampled,
               ROUND(SUM(l_extendedprice), 3) AS sampled_revenue
        FROM lineitem
        WHERE ((l_orderkey * 1) * 31 + l_linenumber * 2) % 20 = 3
        GROUP BY l_returnflag
    """,
    "q_exists_subq": """
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
        )
    """,
    "q_in_subq": """
        SELECT p_partkey, p_name FROM part
        WHERE p_partkey IN (
          SELECT l_partkey FROM lineitem WHERE l_discount >= 0.09
        )
    """,
    "q_scalar_subq": """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_above_avg,
               ROUND(SUM(o_totalprice), 3) AS sum_above_avg
        FROM orders
        WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
        GROUP BY o_orderpriority
    """,
    "q_merge_upsert": """
        WITH base AS (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
          FROM orders WHERE o_orderkey % 7 != 0
        ), updates AS (
          SELECT o_orderkey, o_custkey, o_orderstatus,
                 ROUND(o_totalprice * 1.1, 6) AS o_totalprice
          FROM orders WHERE o_orderkey % 2 = 0
        )
        SELECT COALESCE(u.o_orderkey, b.o_orderkey) AS o_orderkey,
               COALESCE(u.o_custkey, b.o_custkey) AS o_custkey,
               COALESCE(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
               ROUND(COALESCE(u.o_totalprice, b.o_totalprice), 6) AS o_totalprice
        FROM base b FULL OUTER JOIN updates u ON b.o_orderkey = u.o_orderkey
    """,
    "q_rolling_fp": """
        SELECT doc_id,
               list_reduce(
                 list_prepend(
                   CAST(7 AS BIGINT),
                   list_transform(
                     string_split(text, ''),
                     c -> CAST(CASE WHEN c = '' THEN 0 ELSE ord(c) END AS BIGINT)
                   )
                 ),
                 (acc, c) -> (acc * 31 + c) % 1000000007
               ) AS rfp
        FROM documents
    """,
    "q_string_agg": """
        SELECT c_nationkey,
               string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
               CAST(COUNT(*) AS BIGINT) AS n_cust
        FROM customer GROUP BY c_nationkey
    """,
}
