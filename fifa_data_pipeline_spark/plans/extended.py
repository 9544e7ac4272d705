"""Extended operator surface beyond reference parity (SURVEY.md §2.5
"explicit absences" + training-pipeline staples): join variants
(semi/anti/outer/full/as-of/range), set operations, rollup/cube,
scalar date/string functions, CASE bucketing, token frequencies,
TF-IDF. Every query here is DuckDB-oracle-checked."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fifa_data_pipeline_spark.operators import relational as R
from fifa_data_pipeline_spark.operators import text as X
from fifa_data_pipeline_spark.sources.io import read_table


# --- join variants --------------------------------------------------------

def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer["c_custkey"] == orders["o_custkey"], "left_semi"
    ).select("c_custkey", "c_name")


def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer["c_custkey"] == orders["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER with a count aggregate: nations keep a zero row even
    with no customers (COUNT(col) skips the nulls the outer join
    introduces)."""
    nation = read_table(spark, sf_dir, "nation")
    customer = read_table(spark, sf_dir, "customer")
    j = nation.join(
        customer, nation["n_nationkey"] == customer["c_nationkey"], "left_outer"
    )
    return j.groupBy("n_nationkey", "n_name").agg(
        F.count("c_custkey").alias("n_cust")
    )


def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER on the distinct nation keys referenced by customers
    vs suppliers, with presence flags."""
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("ck")
    ).distinct()
    s = read_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("sk")
    ).distinct()
    j = c.join(s, c["ck"] == s["sk"], "full_outer")
    return j.select(
        F.coalesce("ck", "sk").alias("nationkey"),
        F.col("ck").isNotNull().alias("has_customer"),
        F.col("sk").isNotNull().alias("has_supplier"),
    )


def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: each purchase event paired with the same user's
    most recent 'view' event at-or-before it (trades↔quotes idiom)."""
    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id"
    )
    joined = R.as_of_join(
        purchases, views, "user_id", "ts", "ts", ["event_id", "ts"]
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.col("prior_event_id"),
        F.unix_micros("prior_ts").alias("prior_ts_us"),
    )


PRICE_BANDS = [
    ("low", 0.0, 50_000.0),
    ("mid", 50_000.0, 150_000.0),
    ("high", 150_000.0, 300_000.0),
    ("top", 300_000.0, 1e12),
]


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi range join against a tiny literal band dim (broadcast
    nested-loop — the shape that survives scale, see SCALE.md)."""
    orders = read_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(PRICE_BANDS, ["band", "lo", "hi"])
    j = orders.join(
        F.broadcast(bands),
        (orders["o_totalprice"] >= bands["lo"]) & (orders["o_totalprice"] < bands["hi"]),
    )
    return j.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


# --- set operations -------------------------------------------------------

def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select("l_orderkey", "l_returnflag")
    r = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_returnflag")
    return a.unionByName(r)


def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersect(o)


def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer").select("c_custkey")
    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return customer.subtract(orders)


# --- rollup / cube --------------------------------------------------------

def _rc_aggs() -> list:
    # grouping() markers must be computed inside the agg over the
    # rollup/cube grouping sets — they are invalid downstream
    return [
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
    ]


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(*_rc_aggs())


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(*_rc_aggs())


# --- scalar functions -----------------------------------------------------

def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date + string scalar function surface (the reference uses only
    CONCAT and CAST — these are the §2.5 extensions)."""
    orders = read_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.year(d).alias("y"),
        F.month(d).alias("m"),
        F.dayofmonth(d).alias("dom"),
        F.date_add(d, 30).alias("due_date"),
        F.datediff(d, F.lit("2024-01-01").cast("date")).alias("days_since"),
        F.upper("o_orderpriority").alias("prio_upper"),
        F.substring("o_orderpriority", 1, 3).alias("prio3"),
        F.length("o_orderpriority").cast("bigint").alias("prio_len"),
        F.replace(F.col("o_orderstatus"), F.lit("O"), F.lit("OPEN")).alias("status_long"),
    )


def q_case_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 50_000, "low")
        .when(F.col("o_totalprice") < 150_000, "mid")
        .otherwise("high")
    )
    return (
        orders.withColumn("band", band)
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
    )


# --- distinct aggregation / analytic windows ------------------------------

def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) alongside plain aggregates. Catalyst plans the
    distinct-agg as a two-phase expand+aggregate; at scale the
    approximate form (approx_count_distinct, HLL) avoids the expand —
    provided as q_agg_approx's building block."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates — the at-scale form of q_agg_distinct:
    HLL++ approx_count_distinct (mergeable sketch, no expand phase)
    and approx percentiles (Greenwald-Khanna summaries). Rows-only:
    approximate values have no exact oracle; accuracy bounds vs the
    exact aggregates are asserted in tests. The exact semantics are
    hash-pinned by the twin ``q_agg_distinct`` (driver-windowed r6)
    over the same table and grouping."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5, 10_000).alias("p50_price"),
        F.percentile_approx("l_extendedprice", 0.99, 10_000).alias("p99_price"),
    )


def q_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window surface: rank/dense_rank over date ordering
    (ties share ranks), lag, and a moving-sum frame — per customer."""
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders")
    w_date = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    w_full = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_frame = w_full.rowsBetween(-2, Window.currentRow)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.rank().over(w_date).alias("rnk"),
        F.dense_rank().over(w_date).alias("drnk"),
        F.lag("o_totalprice").over(w_full).alias("prev_price"),
        F.round(F.sum("o_totalprice").over(w_frame), 2).alias("mov3"),
    )


# --- text frequencies -----------------------------------------------------

def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenization count (word pieces / digit runs /
    symbols — the GPT-2-style pre-merge split)."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        X.bpe_ish_token_count_expr("text").alias("n_bpe_tokens"),
    )


def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.top_tokens(read_table(spark, sf_dir, "documents"), n=20)


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.tfidf(read_table(spark, sf_dir, "documents"))


QUERIES = {
    "q_join_semi": q_join_semi,
    "q_join_anti": q_join_anti,
    "q_join_outer": q_join_outer,
    "q_join_full": q_join_full,
    "q_asof": q_asof,
    "q_range_join": q_range_join,
    "q_union_all": q_union_all,
    "q_intersect": q_intersect,
    "q_except": q_except,
    "q_rollup": q_rollup,
    "q_cube": q_cube,
    "q_scalar_funcs": q_scalar_funcs,
    "q_case_bucket": q_case_bucket,
    "q_agg_distinct": q_agg_distinct,
    "q_agg_approx": q_agg_approx,
    "q_window_funcs": q_window_funcs,
    "q_bpe_tokens": q_bpe_tokens,
    "q_top_tokens": q_top_tokens,
    "q_tfidf": q_tfidf,
}

_BANDS_VALUES = ", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in PRICE_BANDS)

ORACLES = {
    "q_join_semi": (
        "SELECT c_custkey, c_name FROM customer "
        "WHERE c_custkey IN (SELECT o_custkey FROM orders)"
    ),
    "q_join_anti": (
        "SELECT c_custkey, c_name FROM customer "
        "WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)"
    ),
    "q_join_outer": """
        SELECT n.n_nationkey, n.n_name, CAST(COUNT(c.c_custkey) AS BIGINT) AS n_cust
        FROM nation n LEFT JOIN customer c ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_nationkey, n.n_name
    """,
    "q_join_full": """
        SELECT COALESCE(c.ck, s.sk) AS nationkey,
               c.ck IS NOT NULL AS has_customer,
               s.sk IS NOT NULL AS has_supplier
        FROM (SELECT DISTINCT c_nationkey AS ck FROM customer) c
        FULL JOIN (SELECT DISTINCT s_nationkey AS sk FROM supplier) s
          ON c.ck = s.sk
    """,
    "q_asof": """
        SELECT a.event_id, a.user_id, epoch_us(a.ts) AS ts_us,
               b.event_id AS prior_event_id, epoch_us(b.ts) AS prior_ts_us
        FROM (SELECT * FROM events WHERE event_type = 'purchase') a
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') b
          ON a.user_id = b.user_id AND a.ts >= b.ts
    """,
    "q_range_join": f"""
        SELECT b.band, CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(SUM(o.o_totalprice), 2) AS sum_price
        FROM orders o
        JOIN (VALUES {_BANDS_VALUES}) b(band, lo, hi)
          ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
        GROUP BY b.band
    """,
    "q_union_all": """
        SELECT l_orderkey, l_returnflag FROM lineitem WHERE l_returnflag = 'A'
        UNION ALL
        SELECT l_orderkey, l_returnflag FROM lineitem WHERE l_returnflag = 'R'
    """,
    "q_intersect": """
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    "q_except": (
        "SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders"
    ),
    "q_rollup": """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
               CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               ROUND(SUM(l_quantity), 6) AS sum_qty
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    "q_cube": """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
               CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               ROUND(SUM(l_quantity), 6) AS sum_qty
        FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
    "q_scalar_funcs": """
        SELECT o_orderkey,
               CAST(year(CAST(o_orderdate AS DATE)) AS INTEGER) AS y,
               CAST(month(CAST(o_orderdate AS DATE)) AS INTEGER) AS m,
               CAST(day(CAST(o_orderdate AS DATE)) AS INTEGER) AS dom,
               CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS due_date,
               CAST(datediff('day', DATE '2024-01-01',
                             CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since,
               upper(o_orderpriority) AS prio_upper,
               substring(o_orderpriority, 1, 3) AS prio3,
               CAST(length(o_orderpriority) AS BIGINT) AS prio_len,
               replace(o_orderstatus, 'O', 'OPEN') AS status_long
        FROM orders
    """,
    "q_case_bucket": """
        SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
                    WHEN o_totalprice < 150000 THEN 'mid'
                    ELSE 'high' END AS band,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(AVG(o_totalprice), 4) AS avg_price
        FROM orders GROUP BY 1
    """,
    "q_agg_distinct": """
        SELECT l_returnflag,
               CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
               CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    """,
    "q_window_funcs": """
        SELECT o_orderkey, o_custkey,
               CAST(RANK() OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate) AS INTEGER) AS rnk,
               CAST(DENSE_RANK() OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate) AS INTEGER) AS drnk,
               LAG(o_totalprice) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey) AS prev_price,
               ROUND(SUM(o_totalprice) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS mov3
        FROM orders
    """,
    "q_bpe_tokens": r"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                    '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT)
                 AS n_bpe_tokens
        FROM documents
    """,
    "q_top_tokens": """
        SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
              FROM documents)
        GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 20
    """,
    "q_tfidf": """
        WITH toks AS (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
          FROM documents
        ), tf AS (
          SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
          FROM toks GROUP BY doc_id, token
        ), dfreq AS (
          SELECT token, COUNT(DISTINCT doc_id) AS dfc FROM toks GROUP BY token
        ), n AS (SELECT COUNT(DISTINCT doc_id) AS nn FROM documents)
        SELECT tf.doc_id, tf.token, tf.tf,
               ROUND(tf.tf * ln(nn * 1.0 / dfc), 6) AS tfidf
        FROM tf JOIN dfreq USING (token) CROSS JOIN n
    """,
}
