"""Sixth extended-surface batch: the native sentence splitter, and
iterative PageRank over a graph derived from the purchase data.

q_sentences_native's DuckDB oracle runs the identical RE2-safe split
pattern. q_pagerank is hash-checked against an unrolled DuckDB
recurrence (``extended27._pagerank_oracle_float``);
``test_extended6.py`` also pins :func:`operators.graph.pagerank`
against a power-iteration reference on a hand-built graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fifa_data_pipeline_spark.operators.graph import pagerank
from fifa_data_pipeline_spark.operators.tablefuncs import (
    split_sentences_native,
)
from fifa_data_pipeline_spark.sources.io import read_table

#: Segment boundary for the synthetic corpus: its text carries no
#: sentence punctuation, so segment on the stopword 'the' (plus the
#: standard punctuation rule) — this makes the one-to-many expansion
#: real (~3 segments/doc) instead of a degenerate 1:1 pass-through.
_SEG = r"[.!?]+\s+|\sthe\s"


def q_sentences_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment rows via the zero-shuffle native array pipeline."""
    docs = read_table(spark, sf_dir, "documents")
    return split_sentences_native(docs, pattern=_SEG)


def purchase_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed 3-layer graph from the purchase data: customer →
    part (bought) and part → supplier (supplied by). Node ids are
    prefixed strings so the layers share one key space."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust_part = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.concat(F.lit("c:"), "o_custkey").alias("src"),
            F.concat(F.lit("p:"), "l_partkey").alias("dst"),
        )
    )
    part_supp = li.select(
        F.concat(F.lit("p:"), "l_partkey").alias("src"),
        F.concat(F.lit("s:"), "l_suppkey").alias("dst"),
    )
    return cust_part.unionAll(part_supp)


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the purchase graph, 10 power iterations —
    suppliers accumulate rank through their parts' buyers. Oracle-
    checked since r9: the DuckDB twin unrolls the identical FLOAT
    recurrence (``extended27._pagerank_oracle_float``), and the 6-dp
    round absorbs the ~1e-13 SUM-order divergence between engines.
    The kernel's exact semantics are additionally hash-pinned by
    ``q_pagerank_exact`` (driver-green r5: integer pico-unit ranks,
    unrolled-CTE DuckDB twin, bit-equal)."""
    ranks = pagerank(purchase_graph(spark, sf_dir), n_iter=10)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def q_rolling_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame (value-range) window surface, complementing the
    ROWS-frame coverage in q_window_funcs: per customer, the rolling
    30-day spend (RANGE BETWEEN 30 PRECEDING on integer days — all
    same-day ties fall in the frame together, which is exactly what
    ROWS frames get wrong for time windows), plus
    first/last/nth_value over the full partition with a
    deterministic tiebroken order.

    One shuffle on the customer key; both window specs share the
    partition key so Catalyst plans a single Exchange."""
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders")
    day = F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).cast("int")
    w_range = Window.partitionBy("o_custkey").orderBy("day").rangeBetween(-30, 0)
    w_full = (
        Window.partitionBy("o_custkey")
        .orderBy("day", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.withColumn("day", day).select(
        "o_orderkey",
        "o_custkey",
        "day",
        F.round(F.sum("o_totalprice").over(w_range), 4).alias("spend_30d"),
        F.round(F.first("o_totalprice").over(w_full), 6).alias("first_price"),
        F.round(F.last("o_totalprice").over(w_full), 6).alias("last_price"),
        F.round(F.nth_value("o_totalprice", 2).over(w_full), 6).alias(
            "second_price"
        ),
    )


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts over each user's event sequence:
    (event_type → next event_type) pairs via LEAD on a deterministic
    (epoch, event_id) order, counted corpus-wide with transition
    probability per source state. The path-analysis staple
    (what follows a signup?).

    One shuffle on user_id for the LEAD, one hash aggregate on the
    (from, to) pair — payload one row per state pair."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_timestamp("ts").cast("bigint").alias("__ep"),
    )
    w = Window.partitionBy("user_id").orderBy("__ep", "event_id")
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_src = Window.partitionBy("event_type")
    return pairs.select(
        "event_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(w_src), 6).alias("p"),
    )


def q_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy part-name matching: distinct names blocked on the noun
    (last token), verified by Levenshtein ≤ 2 — 'red widget' pairs
    with 'hot widget', not with 'small widget'. See
    ``dedup.fuzzy_name_pairs`` for the blocking recipe."""
    from fifa_data_pipeline_spark.operators.dedup import fuzzy_name_pairs

    part = read_table(spark, sf_dir, "part")
    return fuzzy_name_pairs(
        part, "p_name", F.element_at(F.split("p_name", " "), -1), max_dist=2
    )


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation between two deterministic versions of
    orders (keys dropped on each side, some prices bumped): the
    added/removed/changed report from ``relational.snapshot_diff``.
    The price bump is an exact +1000.0 (no rounding) so the change
    classification is bit-identical across engines."""
    from fifa_data_pipeline_spark.operators.relational import snapshot_diff

    orders = read_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 7 != 0)
    new = orders.filter(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 11 == 0, F.col("o_totalprice") + 1000.0
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(old, new, "o_orderkey")


def q_ltv_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-LTV decile report: total spend per customer → decile
    by spend (ntile over the AGGREGATED table) → per-decile customer
    count, spend sum, and share of total. The agg → rank → re-agg
    sandwich every revenue report uses.

    The decile assignment is EXACT ntile computed partition-parallel
    (:func:`relational.parallel_ntile` — row ranks via range
    partition + per-partition offsets, bucket from NTILE's integer
    definition), replacing r4's global ``Window.orderBy`` whose
    single-task sort of #customers rows was the documented scale
    ceiling. Descending spend rides as a negated column (the rank
    machinery orders ascending)."""
    from pyspark.sql import Window

    from fifa_data_pipeline_spark.operators.relational import (
        parallel_ntile,
    )

    orders = read_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 4).alias("spend")
    )
    deciled = parallel_ntile(
        spend.withColumn("__negspend", -F.col("spend")),
        [],
        ["__negspend", "o_custkey"],
        10,
        bucket_col="decile",
    )
    w_all = Window.partitionBy()
    return (
        deciled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("spend"), 4).alias("total_spend"),
        )
        .select(
            "decile",
            "n_customers",
            "total_spend",
            F.round(
                F.col("total_spend") / F.sum("total_spend").over(w_all), 6
            ).alias("share"),
        )
    )


def q_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-pinned JSON parsing (``from_json`` into a typed struct)
    aggregated per event type — the scale-correct alternative to
    per-path ``get_json_object`` (q_json_extract): one parse per row
    regardless of how many fields downstream reads, and malformed
    documents become NULL structs instead of runtime errors."""
    ev = read_table(spark, sf_dir, "events")
    parsed = ev.withColumn("props_s", F.from_json("props", "k INT"))
    return parsed.groupBy("event_type").agg(
        F.count("props_s.k").alias("n_with_k"),
        F.round(F.avg("props_s.k"), 6).alias("avg_k"),
        F.max("props_s.k").alias("max_k"),
    )


def q_array_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-type surface at the query level: per order, build the
    sorted line-struct ARRAY (collect_list + sort_array on the unique
    line number), then compute the basket value by FOLDING the array
    (``aggregate`` higher-order function) and pick the first line's
    part via ``element_at`` — the oracle computes the same numbers
    with plain scalar SQL (SUM / arg_min), proving the array
    construction + fold semantics, not just the arithmetic.

    The money math runs in exact integer CENTS (quantities are
    integral; round(price*100) is the same double→integer everywhere):
    a double fold-left visits addends in array order while a scalar
    SUM doesn't, so float folds can land on the far side of a ROUND
    boundary. Integer folds are order-independent. And the "first"
    line is defined by the composite (l_linenumber, l_partkey) —
    l_linenumber is NOT unique within an order in this data, so any
    single-column arg_min tie-breaks arbitrarily per engine.

    One shuffle (the groupBy); the fold happens post-aggregate inside
    the same task. Arrays-of-structs per group must fit in task
    memory — same bound as any collect_list; cap pathological groups
    upstream (cf. q_basket_pairs note)."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    lines = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(F.struct("l_linenumber", "l_partkey", "qty", "cents"))
        ).alias("__lines")
    )
    return lines.select(
        "l_orderkey",
        F.size("__lines").alias("n_lines"),
        F.expr(
            "aggregate(__lines, CAST(0 AS BIGINT), "
            "(acc, x) -> acc + x.qty * x.cents)"
        ).alias("basket_cents"),
        F.expr("element_at(__lines, 1).l_partkey").alias("first_part"),
    )


QUERIES = {
    "q_sentences_native": q_sentences_native,
    "q_pagerank": q_pagerank,
    "q_rolling_range": q_rolling_range,
    "q_event_transitions": q_event_transitions,
    "q_fuzzy_names": q_fuzzy_names,
    "q_snapshot_diff": q_snapshot_diff,
    "q_ltv_deciles": q_ltv_deciles,
    "q_json_struct": q_json_struct,
    "q_array_fold": q_array_fold,
}

ORACLES = {
    "q_sentences_native": f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(list_transform(
               string_split_regex(text, '{_SEG}'),
               x -> trim(x)), x -> x <> '') AS frags
      FROM documents
    )
    SELECT doc_id,
           CAST(i AS INTEGER) AS sent_idx,
           frags[i] AS sentence
    FROM t, unnest(range(1, len(frags) + 1)) AS u(i)
""",
    "q_rolling_range": """
        WITH o AS (
          SELECT o_orderkey, o_custkey, o_totalprice,
                 CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS INTEGER) AS day
          FROM orders
        )
        SELECT o_orderkey, o_custkey, day,
               ROUND(SUM(o_totalprice) OVER (
                 PARTITION BY o_custkey ORDER BY day
                 RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 4) AS spend_30d,
               ROUND(FIRST_VALUE(o_totalprice) OVER wf, 6) AS first_price,
               ROUND(LAST_VALUE(o_totalprice) OVER wf, 6) AS last_price,
               ROUND(NTH_VALUE(o_totalprice, 2) OVER wf, 6) AS second_price
        FROM o
        WINDOW wf AS (PARTITION BY o_custkey ORDER BY day, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    "q_array_fold": """
        SELECT l_orderkey,
               CAST(COUNT(*) AS INTEGER) AS n_lines,
               CAST(SUM(CAST(l_quantity AS BIGINT)
                        * CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                 AS basket_cents,
               arg_min(l_partkey,
                       CAST(l_linenumber AS BIGINT) * 10000000 + l_partkey)
                 AS first_part
        FROM lineitem GROUP BY l_orderkey
    """,
    "q_json_struct": """
        SELECT event_type,
               CAST(COUNT(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS n_with_k,
               ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INTEGER)), 6) AS avg_k,
               CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
        FROM events GROUP BY event_type
    """,
    "q_ltv_deciles": """
        WITH spend AS (
          SELECT o_custkey, ROUND(SUM(o_totalprice), 4) AS spend
          FROM orders GROUP BY o_custkey
        ), d AS (
          SELECT o_custkey, spend,
                 ntile(10) OVER (ORDER BY spend DESC, o_custkey) AS decile
          FROM spend
        ), agg AS (
          SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
                 ROUND(SUM(spend), 4) AS total_spend
          FROM d GROUP BY decile
        )
        SELECT decile, n_customers, total_spend,
               ROUND(total_spend / SUM(total_spend) OVER (), 6) AS share
        FROM agg
    """,
    "q_snapshot_diff": """
        WITH old AS (
          SELECT * FROM orders WHERE o_orderkey % 7 <> 0
        ), new AS (
          SELECT o_orderkey, o_custkey, o_orderstatus,
                 CASE WHEN o_orderkey % 11 = 0
                      THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice,
                 o_orderdate, o_orderpriority
          FROM orders WHERE o_orderkey % 5 <> 0
        ), d AS (
          SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                 CASE WHEN o.o_orderkey IS NULL THEN 'added'
                      WHEN n.o_orderkey IS NULL THEN 'removed'
                      WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                        OR o.o_custkey IS DISTINCT FROM n.o_custkey
                        OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                        OR o.o_orderdate IS DISTINCT FROM n.o_orderdate
                        OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
                        THEN 'changed' END AS change_type
          FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
        )
        SELECT o_orderkey, change_type FROM d WHERE change_type IS NOT NULL
    """,
    "q_fuzzy_names": """
        WITH n AS (
          SELECT DISTINCT p_name,
                 string_split(p_name, ' ')[-1] AS blk
          FROM part
        )
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        FROM n a JOIN n b
          ON a.blk = b.blk AND a.p_name < b.p_name
        WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
    "q_event_transitions": """
        WITH e AS (
          SELECT user_id, event_id, event_type,
                 CAST(FLOOR(extract(epoch FROM ts)) AS BIGINT) AS ep
          FROM events
        ), seq AS (
          SELECT event_type,
                 LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ep, event_id) AS next_type
          FROM e
        ), pairs AS (
          SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
          FROM seq WHERE next_type IS NOT NULL
          GROUP BY event_type, next_type
        )
        SELECT event_type, next_type, n,
               ROUND(n / SUM(n) OVER (PARTITION BY event_type), 6) AS p
        FROM pairs
    """,
}
