"""Analytics & experimentation queries (round 4): grouped linear
regression, distribution entropy, market concentration (HHI),
point-in-time SCD-2 lookup, single-scan exact heavy hitters,
discrete percentiles, correlation matrix, A/B Welch test,
conversion latency, and event path trigrams.

The reference has none of these (SURVEY.md §2.5); they extend the
statistics / experimentation surface a production analytics engine
needs. Every query has an exact DuckDB oracle. FP outputs are
rounded (6 dp for O(1)-magnitude values, 4 dp where magnitudes reach
1e3 and cross-engine accumulation-order noise could graze the
rounding granularity); orderings that feed window functions always
carry a deterministic tie-break key shared with the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fifa_data_pipeline_spark.operators import relational as R
from fifa_data_pipeline_spark.operators import text as X
from fifa_data_pipeline_spark.operators.util import exploded
from fifa_data_pipeline_spark.sources.io import minmax_bounds, read_table

#: Engine-portable epoch seconds (matches the Spark side's
#: unix_timestamp().cast('bigint')).
_EPOCH = "CAST(FLOOR(extract(epoch FROM ts)) AS BIGINT)"

#: DuckDB twin of Spark's md5-bucket A/B assignment on user_id.
_AB_VARIANT = (
    "list_reduce(list_transform(range(1, 16), "
    "j -> CAST(strpos('0123456789abcdef', "
    "substr(md5(CAST(user_id AS VARCHAR)), j, 1)) - 1 AS BIGINT)), "
    "(a, b) -> a * 16 + b) % 2"
)


def q_grouped_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag OLS of extendedprice on quantity via the
    native regression aggregates (``regr_slope/intercept/r2``) — one
    hash aggregate, co-moments combined map-side, no second pass."""
    li = read_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.regr_count(y, x).alias("n"),
        F.round(F.regr_slope(y, x), 4).alias("slope"),
        F.round(F.regr_intercept(y, x), 4).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
    )


def q_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's language mix, computed
    WITHOUT a totals join: H = log2(N) − Σ n·log2(n) / N, so the
    whole query is two stacked hash aggregates (lang counts, then
    per-source moments) — the per-key-distribution diversity signal
    a corpus-mix dashboard needs."""
    docs = read_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    return counts.groupBy("source").agg(
        F.sum("n").alias("n_docs"),
        F.round(
            F.log2(F.sum("n")) - F.sum(F.col("n") * F.log2("n")) / F.sum("n"),
            6,
        ).alias("lang_entropy"),
    )


def q_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier revenue concentration per nation: Herfindahl index
    (Σ share² × 10000) and top-supplier share. Needs Σrev, Σrev² and
    max(rev) over supplier-level revenue — all from ONE aggregate
    over the per-supplier rollup, so no totals re-join; the dims are
    broadcast and the fact crosses a single shuffle."""
    li = read_table(spark, sf_dir, "lineitem")
    su = read_table(spark, sf_dir, "supplier")
    na = read_table(spark, sf_dir, "nation")
    rev = (
        li.join(F.broadcast(su), li["l_suppkey"] == su["s_suppkey"])
        .join(F.broadcast(na), su["s_nationkey"] == na["n_nationkey"])
        .groupBy("n_name", "s_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "rev"
            )
        )
    )
    return rev.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.round(
            F.sum(F.col("rev") * F.col("rev"))
            / (F.sum("rev") * F.sum("rev"))
            * 10000,
            6,
        ).alias("hhi"),
        F.round(F.max("rev") / F.sum("rev"), 6).alias("top_share"),
    )


def q_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup: each purchase event joined to the SCD-2
    status interval (from :func:`q_scd2`'s historization of the same
    log) valid at its timestamp — "what state was the user in when
    they bought". Because intervals tile each user's timeline, the
    PIT join is an equi-join on user_id plus a containment filter
    (see :func:`~...relational.point_in_time_join`): one shuffle,
    exactly one surviving version per fact.

    r8 adjudication (sf1, min-of-5 warm): 0.74 s vs DuckDB 0.29 s
    (2.5×, band 0.57-0.74 across sessions). The cost is building the
    SCD-2 interval table (its own windowed historization of the full
    event log) plus the one fact equi-join — both shapes already
    minimal; the ratio is the staged-execution constant on the
    interval build, not a missing pushdown. Shape stands."""
    from fifa_data_pipeline_spark.plans.extended4 import q_scd2

    ivl = q_scd2(spark, sf_dir)
    ev = read_table(spark, sf_dir, "events")
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("ep"),
    )
    joined = R.point_in_time_join(
        facts, ivl, "user_id", "ep", "valid_from", "valid_to"
    )
    return joined.select(
        "event_id", "user_id", F.col("event_type").alias("status"), "version"
    )


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters: tokens with frequency > N/51 and
    their exact counts, as a SINGLE tokenize-scan hash aggregate with
    map-side partials (the shuffle carries one row per per-partition
    distinct token) plus a 1-row total broadcast for the HAVING bar.

    r6 plan surgery (the r5 verdict's 2.8×): a Misra–Gries
    sketch-then-recount form was measured at sf1 against this brute
    form — sketch 2.98 s, sketch with vectorized value_counts merge
    2.75 s, hashed-key sketch 2.44 s, JVM heavy-bucket (CMS-style)
    candidates 2.88 s, single-scan brute 1.05 s. The tokenize +
    explode pass itself costs ~1.5 s at sf1, and EVERY sketch-verify
    scheme is two passes over it — the sketch can never beat 2×
    tokenize here, so the sketch form was deleted. Zipf's law keeps
    the per-partition-distinct shuffle rows far below the token
    count (map-side partials collapse repeats)."""
    docs = read_table(spark, sf_dir, "documents")
    ex = exploded(docs, X.tokens("text"), "token").filter(
        F.col("token").isNotNull()
    )
    counts = ex.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * 51 > F.col("__total"))
        .select("token", "cnt")
    )


def q_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete (type-1) per-priority order-value quantiles: the
    value at rank ceil(p·n), p ∈ {.25, .5, .75, .9} — real order
    values, not interpolations (the complement of the continuous
    `q_percentiles`). r8: located by COUNTING on the (priority,
    price) spine — per-value counts, bucketed partition-parallel
    prefix sums (:func:`relational.grouped_running_sums_bucketed`,
    one spine shuffle, no checkpoint pin), then one conditional-MIN
    aggregate per p (the value at row rank r in (price, orderkey)
    order is the r-th smallest price counting duplicates, so the
    orderkey tie-break of the earlier per-row ranked form is
    value-irrelevant). The rank stays the oracle's own IEEE
    ``ceil(p·n)`` — both engines evaluate the identical double
    product, so the boundary cannot drift."""
    from fifa_data_pipeline_spark.operators.relational import (
        grouped_running_sums_bucketed,
    )

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    counts = orders.groupBy("o_orderpriority", "o_totalprice").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    # footer-stats bounds (r11): zero Spark jobs on the unfiltered
    # table; machinery needs only a superset range. Agg fallback.
    bounds = minmax_bounds(orders, f"{sf_dir}/orders.parquet", "o_totalprice")
    # share_input=False + totals from ``counts``: near-unique price
    # spine — recomputing the pruned scan + hash aggregate beats
    # re-sorting the spine from shuffle files (the per-shape trade
    # documented at grouped_running_sums_bucketed, r8).
    cum = grouped_running_sums_bucketed(
        counts, ["o_orderpriority"], "o_totalprice", ["__cnt"],
        bounds=bounds, share_input=False,
    )
    tot = counts.groupBy("o_orderpriority").agg(
        F.sum("__cnt").alias("__n")
    )
    ps = (0.25, 0.5, 0.75, 0.9)
    picked = (
        cum.join(F.broadcast(tot), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            *[
                F.min(
                    F.when(
                        F.col("__cnt_rsum")
                        >= F.ceil(F.lit(p) * F.col("__n")),
                        F.col("o_totalprice"),
                    )
                ).alias(f"__v_{int(p * 100)}")
                for p in ps
            ]
        )
    )
    unpivot = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(p).alias("p"),
                    F.col(f"__v_{int(p * 100)}").alias("value"),
                )
                for p in ps
            ]
        )
    ).alias("__u")
    return picked.select("o_orderpriority", unpivot).select(
        "o_orderpriority",
        F.col("__u.p").alias("p"),
        F.col("__u.value").alias("value"),
    )


def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation of the four lineitem measures in
    ONE aggregate pass (6 corr co-moment aggregates, partials merged
    map-side), unpivoted to (col_a, col_b, corr_r) long form with a
    single ``stack`` — the feature-redundancy screen before model
    training, with zero re-scans."""
    li = read_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    pairs = [
        (a, b) for i, a in enumerate(cols) for b in cols[i + 1:]
    ]
    agg = li.agg(
        *[
            F.round(F.corr(a, b), 6).alias(f"__c{i}")
            for i, (a, b) in enumerate(pairs)
        ]
    )
    stack_args = ", ".join(
        f"'{a}', '{b}', __c{i}" for i, (a, b) in enumerate(pairs)
    )
    return agg.select(
        F.expr(
            f"stack({len(pairs)}, {stack_args}) AS (col_a, col_b, corr_r)"
        )
    )


def q_ab_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users are deterministically split
    into two variants by md5 bucket (the same content-addressed
    assignment as `hash_split` — stable across reruns and engines),
    then per event_type the Welch t-statistic and Welch–Satterthwaite
    df of the value difference are computed PURELY from one
    conditional aggregate (n/mean/var per arm via FILTER) — no
    per-user state, one shuffle at event_type cardinality."""
    ev = read_table(spark, sf_dir, "events")
    variant = F.expr(
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), "
        "16, 10) AS BIGINT) % 2"
    )
    d = ev.select("event_type", "value", variant.alias("__v"))
    a, b = F.col("__v") == 0, F.col("__v") == 1
    agg = d.groupBy("event_type").agg(
        F.count(F.when(a, 1)).alias("n_a"),
        F.count(F.when(b, 1)).alias("n_b"),
        F.avg(F.when(a, F.col("value"))).alias("__ma"),
        F.avg(F.when(b, F.col("value"))).alias("__mb"),
        F.var_samp(F.when(a, F.col("value"))).alias("__va"),
        F.var_samp(F.when(b, F.col("value"))).alias("__vb"),
    )
    se2 = F.col("__va") / F.col("n_a") + F.col("__vb") / F.col("n_b")
    df_w = (se2 * se2) / (
        (F.col("__va") / F.col("n_a")) ** 2 / (F.col("n_a") - 1)
        + (F.col("__vb") / F.col("n_b")) ** 2 / (F.col("n_b") - 1)
    )
    return agg.select(
        "event_type",
        "n_a",
        "n_b",
        F.round("__ma", 6).alias("mean_a"),
        F.round("__mb", 6).alias("mean_b"),
        F.round((F.col("__mb") - F.col("__ma")) / F.sqrt(se2), 4).alias(
            "t_stat"
        ),
        F.round(df_w, 4).alias("df_w"),
    )


def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase conversion latency per user: hours between
    the first signup and the first purchase at or after it. One
    conditional aggregate per user (min epoch per event kind via
    FILTER) — single shuffle, no self-join of the event log."""
    ev = read_table(spark, sf_dir, "events")
    ep = F.unix_timestamp("ts").cast("bigint")
    agg = (
        ev.select("user_id", "event_type", ep.alias("__ep"))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", F.col("__ep"))).alias(
                "__s"
            ),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("__ep"))
            ).alias("__p"),
        )
    )
    return (
        agg.filter(
            F.col("__s").isNotNull()
            & F.col("__p").isNotNull()
            & (F.col("__p") >= F.col("__s"))
        )
        .select(
            "user_id",
            F.round((F.col("__p") - F.col("__s")) / 3600.0, 6).alias(
                "hours_to_convert"
            ),
        )
    )


def q_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey path mining: counts of consecutive event-type
    trigrams ("view>click>purchase") across all user timelines. Two
    lags over one (user_id, ts, event_id) window sort — a single
    shuffle — then a tiny hash aggregate over ≤ |types|³ keys; the
    deterministic event_id tie-break is shared with the oracle."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "event_type",
        F.lag("event_type", 2).over(w).alias("__t1"),
        F.lag("event_type", 1).over(w).alias("__t2"),
    )
    return (
        lagged.filter(F.col("__t1").isNotNull())
        .select(
            F.concat_ws(">", "__t1", "__t2", "event_type").alias("trigram")
        )
        .groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


QUERIES = {
    "q_grouped_linreg": q_grouped_linreg,
    "q_entropy": q_entropy,
    "q_hhi": q_hhi,
    "q_pit_join": q_pit_join,
    "q_heavy_hitters": q_heavy_hitters,
    "q_percentile_disc": q_percentile_disc,
    "q_corr_matrix": q_corr_matrix,
    "q_ab_welch": q_ab_welch,
    "q_time_to_convert": q_time_to_convert,
    "q_path_trigrams": q_path_trigrams,
}

ORACLES = {
    "q_grouped_linreg": """
        SELECT l_returnflag,
               CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
               ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
               ROUND(regr_intercept(l_extendedprice, l_quantity), 4)
                 AS intercept,
               ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2
        FROM lineitem GROUP BY l_returnflag
    """,
    "q_entropy": """
        WITH c AS (
          SELECT source, lang, COUNT(*) AS n
          FROM documents GROUP BY source, lang
        )
        SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
               ROUND(log2(SUM(n)) - SUM(n * log2(n)) / SUM(n), 6)
                 AS lang_entropy
        FROM c GROUP BY source
    """,
    "q_hhi": """
        WITH rev AS (
          SELECT n_name, s_suppkey,
                 SUM(l_extendedprice * (1 - l_discount)) AS rev
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          GROUP BY n_name, s_suppkey
        )
        SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
               ROUND(SUM(rev * rev) / (SUM(rev) * SUM(rev)) * 10000, 6)
                 AS hhi,
               ROUND(MAX(rev) / SUM(rev), 6) AS top_share
        FROM rev GROUP BY n_name
    """,
    "q_pit_join": f"""
        WITH e AS (
          SELECT user_id, event_id, event_type, {_EPOCH} AS ep
          FROM events
        ), flagged AS (
          SELECT user_id, event_id, event_type, ep,
                 LAG(event_type) OVER w AS prev
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ep, event_id)
        ), changes AS (
          SELECT * FROM flagged
          WHERE prev IS NULL OR prev <> event_type
        ), ivl AS (
          SELECT user_id, event_type, ep AS valid_from,
                 LEAD(ep) OVER w AS valid_to,
                 CAST(ROW_NUMBER() OVER w AS INTEGER) AS version
          FROM changes
          WINDOW w AS (PARTITION BY user_id ORDER BY ep, event_id)
        )
        SELECT f.event_id, f.user_id, i.event_type AS status, i.version
        FROM (SELECT event_id, user_id, ep FROM e
              WHERE event_type = 'purchase') f
        JOIN ivl i
          ON f.user_id = i.user_id
         AND f.ep >= i.valid_from
         AND (i.valid_to IS NULL OR f.ep < i.valid_to)
    """,
    "q_heavy_hitters": """
        WITH t AS (
          SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
          FROM documents
        ), tot AS (SELECT COUNT(*) AS n FROM t)
        SELECT token, COUNT(*) AS cnt
        FROM t GROUP BY token
        HAVING COUNT(*) * 51 > (SELECT n FROM tot)
    """,
    "q_percentile_disc": """
        WITH r AS (
          SELECT o_orderpriority, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice, o_orderkey) AS rn,
                 COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
          FROM orders
        ), p AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9]) AS DOUBLE) AS p)
        SELECT o_orderpriority, p, o_totalprice AS value
        FROM r, p WHERE rn = CAST(ceil(p * n) AS BIGINT)
    """,
    "q_corr_matrix": """
        WITH a AS (
          SELECT corr(l_quantity, l_extendedprice) AS c0,
                 corr(l_quantity, l_discount) AS c1,
                 corr(l_quantity, l_tax) AS c2,
                 corr(l_extendedprice, l_discount) AS c3,
                 corr(l_extendedprice, l_tax) AS c4,
                 corr(l_discount, l_tax) AS c5
          FROM lineitem
        )
        SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
               ROUND(c0, 6) AS corr_r FROM a
        UNION ALL SELECT 'l_quantity', 'l_discount', ROUND(c1, 6) FROM a
        UNION ALL SELECT 'l_quantity', 'l_tax', ROUND(c2, 6) FROM a
        UNION ALL SELECT 'l_extendedprice', 'l_discount', ROUND(c3, 6) FROM a
        UNION ALL SELECT 'l_extendedprice', 'l_tax', ROUND(c4, 6) FROM a
        UNION ALL SELECT 'l_discount', 'l_tax', ROUND(c5, 6) FROM a
    """,
    "q_ab_welch": f"""
        WITH d AS (
          SELECT event_type, value, {_AB_VARIANT} AS v FROM events
        ), agg AS (
          SELECT event_type,
                 COUNT(*) FILTER (v = 0) AS n_a,
                 COUNT(*) FILTER (v = 1) AS n_b,
                 AVG(value) FILTER (v = 0) AS ma,
                 AVG(value) FILTER (v = 1) AS mb,
                 var_samp(value) FILTER (v = 0) AS va,
                 var_samp(value) FILTER (v = 1) AS vb
          FROM d GROUP BY event_type
        )
        SELECT event_type, n_a, n_b,
               ROUND(ma, 6) AS mean_a, ROUND(mb, 6) AS mean_b,
               ROUND((mb - ma) / sqrt(va / n_a + vb / n_b), 4) AS t_stat,
               ROUND(pow(va / n_a + vb / n_b, 2) /
                     (pow(va / n_a, 2) / (n_a - 1) +
                      pow(vb / n_b, 2) / (n_b - 1)), 4) AS df_w
        FROM agg
    """,
    "q_time_to_convert": f"""
        WITH agg AS (
          SELECT user_id,
                 MIN({_EPOCH}) FILTER (event_type = 'signup') AS s,
                 MIN({_EPOCH}) FILTER (event_type = 'purchase') AS p
          FROM events GROUP BY user_id
        )
        SELECT user_id, ROUND((p - s) / 3600.0, 6) AS hours_to_convert
        FROM agg
        WHERE s IS NOT NULL AND p IS NOT NULL AND p >= s
    """,
    "q_path_trigrams": """
        WITH s AS (
          SELECT event_type,
                 LAG(event_type, 2) OVER w AS t1,
                 LAG(event_type, 1) OVER w AS t2
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT t1 || '>' || t2 || '>' || event_type AS trigram,
               COUNT(*) AS cnt
        FROM s WHERE t1 IS NOT NULL GROUP BY 1
    """,
}
