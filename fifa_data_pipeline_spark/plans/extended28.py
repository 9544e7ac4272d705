"""Round-5 additions.

Reference scope note: the reference pipeline
(``prefect/spark/fifa_spark.py``) has no statistics, linkage, or
connector surface; these extend the layers the build brief makes
first-class. Three themes:

1. **Exact answers without single-task sorts** — q_exact_quantiles
   (discrete + interpolated) on the bucketed prefix-sum machinery
   (``relational.grouped_running_sums_bucketed``, footer-bounded),
   and q_grouped_topk's salted two-phase top-k: built for the r4
   rank-window findings, generalized.
2. **Experimentation & curation analytics** — Fellegi–Sunter record
   linkage (q_record_linkage), weight-of-evidence/IV (q_woe_iv),
   CUPED variance reduction (q_cuped), exact BFS hop distance over
   the dedup graph (q_bfs_hops, unrolled-recurrence twin).
3. **Connector round-trips** — the Spark-4 Python DataSource feed,
   batch (q_python_datasource) and streaming
   (q_stream_python_source), both value-hash-checked because the
   deterministic generator regenerates in DuckDB from ``range(n)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fifa_data_pipeline_spark.sources.io import minmax_bounds, read_table

QUERIES: dict = {}
ORACLES: dict = {}


def q_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-returnflag price quantiles (p25/p50/p75/p90/p99)
    located by COUNTING, not sorting — see
    :func:`fifa_data_pipeline_spark.operators.relational.exact_group_quantiles`.
    ``approx_percentile`` trades error bars for speed; this trades
    nothing: one fact hash-aggregate, then distinct-value-sized
    work, no group ever sorts in one task. The integer per-mille
    rank (``(pm·n + 999) div 1000``) is DuckDB's ``quantile_disc``
    convention with the IEEE boundary pinned out."""
    from fifa_data_pipeline_spark.operators.relational import (
        exact_group_quantiles,
    )

    li = read_table(spark, sf_dir, "lineitem")
    return exact_group_quantiles(
        li, "l_returnflag", "l_extendedprice",
        bounds=minmax_bounds(
            li, f"{sf_dir}/lineitem.parquet", "l_extendedprice"
        ),
    )


QUERIES["q_exact_quantiles"] = q_exact_quantiles

def q_grouped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 orders by total price per order priority via the
    skew-safe two-phase top-k
    (:func:`fifa_data_pipeline_spark.operators.relational.grouped_topk`)
    — value-identical to the single-window ``row_number() <= k`` form
    the oracle runs, but no priority class ever sorts all its orders
    in one task.

    r8 adjudication (sf1, min-of-5 warm): 0.75 s vs DuckDB 0.21 s
    (3.5×). The plan is one (group, salt) hash exchange of the fact
    + bounded per-sub-partition sorts + a survivors-only global
    phase — exactly the work DuckDB does in-process; the residual is
    the staged-execution constant on a 1.5M-row input, and the only
    in-SQL alternative (counting-machinery threshold + filtered
    re-rank) trades the sort for a SECOND fact pass. Shape stands;
    the salt keeps sort size bounded at any group skew."""
    from fifa_data_pipeline_spark.operators.relational import (
        grouped_topk,
    )

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    out = grouped_topk(
        orders, ["o_orderpriority"], "o_totalprice", "o_orderkey", k=5
    )
    return out.select(
        "o_orderpriority",
        "rank",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )


QUERIES["q_grouped_topk"] = q_grouped_topk

ORACLES["q_grouped_topk"] = """
    SELECT o_orderpriority, rank, o_orderkey,
           ROUND(o_totalprice, 2) AS o_totalprice
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC,
                                         o_orderkey) AS rank
      FROM orders)
    WHERE rank <= 5
"""

def _linkage_sides(spark: SparkSession, sf_dir: str):
    """Deterministic linkage fixture: side A = customers; side B =
    the same customers under field noise (name truncated for
    custkey%4==0, segment rewritten for %7==0) with shifted ids —
    the multi-source-corpus reality where the same entity arrives
    spelled differently. The blocking key (nation, acctbal/100
    bucket) survives the perturbations, so candidate pairs stay
    equi-join-able."""
    cust = read_table(spark, sf_dir, "customer")
    blk = F.concat_ws(
        "|",
        F.col("c_nationkey").cast("string"),
        F.floor(F.col("c_acctbal") / 100).cast("string"),
    )
    bal = F.round(F.col("c_acctbal"), 0).cast("bigint")
    a = cust.select(
        F.col("c_custkey").alias("rid"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        bal.alias("bal"),
        blk.alias("blk"),
    )
    b = cust.select(
        (F.col("c_custkey") + 10_000_000).alias("rid"),
        F.when(
            F.col("c_custkey") % 4 == 0,
            F.expr("substring(c_name, 1, length(c_name) - 1)"),
        ).otherwise(F.col("c_name")).alias("name"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit("PERTURBED"))
        .otherwise(F.col("c_mktsegment")).alias("segment"),
        bal.alias("bal"),
        blk.alias("blk"),
    )
    return a, b


def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage quality report —
    see :mod:`fifa_data_pipeline_spark.operators.linkage`.
    m-probabilities are fixed constants; u-probabilities are exact
    value-frequency estimates from the data. Reported at the
    decision × agreement-pattern grain, computed by
    :func:`linkage.fs_pattern_report`'s inclusion–exclusion count
    algebra — the candidate PAIRS are never materialized (r6: the
    per-pair fs_link + groupBy form ran 8.8 s at sf1 against the
    oracle's 1.4 s because Σ block² pair fan-out is quadratic in
    block size; the value-grain form is 2.5 s and O(records),
    identical output). The per-pair :func:`linkage.fs_link` remains
    the operator for workloads that need the pair-level decisions.

    r12: the report derives every u-probability from its own masked
    (block, mask, value) aggregates — the singleton masks ARE the
    per-field value-frequency tables — so the separate u-pass (and
    its size switch) is gone: the plan scans customer.parquet twice
    (once per side), down from four."""
    from fifa_data_pipeline_spark.operators.linkage import (
        fs_pattern_report,
    )

    a, b = _linkage_sides(spark, sf_dir)
    return fs_pattern_report(
        a, b, "blk",
        [("name", 0.95), ("segment", 0.9), ("bal", 0.99)],
        lower=0.0, upper=4.0,
    )


QUERIES["q_record_linkage"] = q_record_linkage

ORACLES["q_record_linkage"] = """
    WITH a AS (
      SELECT c_custkey AS rid, c_name AS name,
             c_mktsegment AS segment,
             CAST(ROUND(c_acctbal, 0) AS BIGINT) AS bal,
             CAST(c_nationkey AS VARCHAR) || '|' ||
               CAST(CAST(FLOOR(c_acctbal / 100) AS BIGINT) AS VARCHAR)
               AS blk
      FROM customer
    ), b AS (
      SELECT c_custkey + 10000000 AS rid,
             CASE WHEN c_custkey % 4 = 0
                  THEN substring(c_name, 1, length(c_name) - 1)
                  ELSE c_name END AS name,
             CASE WHEN c_custkey % 7 = 0 THEN 'PERTURBED'
                  ELSE c_mktsegment END AS segment,
             CAST(ROUND(c_acctbal, 0) AS BIGINT) AS bal,
             CAST(c_nationkey AS VARCHAR) || '|' ||
               CAST(CAST(FLOOR(c_acctbal / 100) AS BIGINT) AS VARCHAR)
               AS blk
      FROM customer
    ),
    u_name AS (
      SELECT SUM(na * nb) AS hits FROM
        (SELECT name, COUNT(*) AS na FROM a GROUP BY name) x JOIN
        (SELECT name, COUNT(*) AS nb FROM b GROUP BY name) y
        USING (name)
    ), u_segment AS (
      SELECT SUM(na * nb) AS hits FROM
        (SELECT segment, COUNT(*) AS na FROM a GROUP BY segment) x JOIN
        (SELECT segment, COUNT(*) AS nb FROM b GROUP BY segment) y
        USING (segment)
    ), u_bal AS (
      SELECT SUM(na * nb) AS hits FROM
        (SELECT bal, COUNT(*) AS na FROM a GROUP BY bal) x JOIN
        (SELECT bal, COUNT(*) AS nb FROM b GROUP BY bal) y
        USING (bal)
    ), tots AS (
      SELECT (SELECT COUNT(*) FROM a) AS ta,
             (SELECT COUNT(*) FROM b) AS tb
    ), us AS (
      -- GREATEST/LEAST clamp matches linkage._U_EPS: u=0 (no value
      -- overlap) or u=1 (constant field) must stay finite in LN.
      SELECT
        GREATEST(LEAST(
          CAST(COALESCE((SELECT hits FROM u_name), 0) AS DOUBLE)
            / (CAST(ta AS DOUBLE) * tb), 1 - 1e-12), 1e-12) AS u_name,
        GREATEST(LEAST(
          CAST(COALESCE((SELECT hits FROM u_segment), 0) AS DOUBLE)
            / (CAST(ta AS DOUBLE) * tb), 1 - 1e-12), 1e-12) AS u_segment,
        GREATEST(LEAST(
          CAST(COALESCE((SELECT hits FROM u_bal), 0) AS DOUBLE)
            / (CAST(ta AS DOUBLE) * tb), 1 - 1e-12), 1e-12) AS u_bal
      FROM tots
    ), pairs AS (
      SELECT
        (a.name IS NOT NULL AND b.name IS NOT NULL
         AND a.name = b.name) AS agree_name,
        (a.segment IS NOT NULL AND b.segment IS NOT NULL
         AND a.segment = b.segment) AS agree_segment,
        (a.bal IS NOT NULL AND b.bal IS NOT NULL
         AND a.bal = b.bal) AS agree_bal,
        (CASE WHEN a.name IS NOT NULL AND b.name IS NOT NULL
                   AND a.name = b.name
              THEN LN(0.95 / u_name)
              ELSE LN((1.0 - 0.95) / (1.0 - u_name)) END
         + CASE WHEN a.segment IS NOT NULL AND b.segment IS NOT NULL
                     AND a.segment = b.segment
                THEN LN(0.9 / u_segment)
                ELSE LN((1.0 - 0.9) / (1.0 - u_segment)) END
         + CASE WHEN a.bal IS NOT NULL AND b.bal IS NOT NULL
                     AND a.bal = b.bal
                THEN LN(0.99 / u_bal)
                ELSE LN((1.0 - 0.99) / (1.0 - u_bal)) END) AS w
      FROM a JOIN b USING (blk), us
    )
    SELECT CASE WHEN w >= 4.0 THEN 'match'
                WHEN w <= 0.0 THEN 'non_match'
                ELSE 'possible' END AS decision,
           agree_name, agree_segment, agree_bal,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(MIN(ROUND(w, 6)), 6) AS min_weight,
           ROUND(MAX(ROUND(w, 6)), 6) AS max_weight
    FROM pairs GROUP BY 1, 2, 3, 4
"""


def q_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through a CUSTOM Python DataSource (Spark 4
    ``pyspark.sql.datasource`` API): read the deterministic synthetic
    feed partition-parallel and aggregate it — the DuckDB twin
    regenerates identical rows from ``range(n)`` with the same
    integer mixing, so the connector path is value-hash-checked.
    ``sf_dir`` is unused (the source generates); row count fixed so
    the oracle is scale-independent."""
    from fifa_data_pipeline_spark.sources.pydatasource import register

    register(spark)
    feed = (
        spark.read.format("synthetic_events")
        .option("n", 20000)
        .option("n_users", 100)
        .option("partitions", 8)
        .load()
    )
    return feed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("amount_cents").alias("total_cents"),
        F.min("event_id").alias("first_id"),
    )


QUERIES["q_python_datasource"] = q_python_datasource

ORACLES["q_python_datasource"] = """
    WITH feed AS (
      SELECT i AS event_id,
             h % 100 AS user_id,
             ['click','view','purchase','signup','error'][h % 5 + 1]
               AS event_type,
             (h % 100000) - 50000 AS amount_cents
      FROM (
        SELECT range AS i,
               (range * 2654435761) % 9007199254740993 AS h
        FROM range(20000)
      )
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(amount_cents) AS BIGINT) AS total_cents,
           CAST(MIN(event_id) AS BIGINT) AS first_id
    FROM feed GROUP BY event_type
"""


def q_stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME synthetic feed consumed as a STREAM through the
    Python DataSource API's ``simpleStreamReader`` (offset = row
    index, replayable ranges), drained with availableNow and
    aggregated batch-side — the drained rows are exactly the batch
    read's rows, so the custom streaming connector shares
    ``q_python_datasource``'s value-hash oracle."""
    import time
    import uuid

    from fifa_data_pipeline_spark.sources.pydatasource import register

    register(spark)
    n_total, batch_rows = 20000, 4000
    stream = (
        spark.readStream.format("synthetic_events")
        .option("n", n_total)
        .option("n_users", 100)
        .option("batch_rows", batch_rows)
        .load()
    )
    name = f"q_stream_pyds_{uuid.uuid4().hex[:8]}"
    # availableNow drains only ONE read() window of a simple stream
    # reader (its latest offset is one batch ahead), so this drain
    # polls a continuous trigger until all n/batch_rows micro-batches
    # (5 here — real multi-batch progress, offsets committed between)
    # have landed, then stops. Deterministic: the generator is finite.
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 120
    while spark.table(name).count() < n_total:
        if time.time() > deadline:
            q.stop()
            raise TimeoutError("synthetic stream did not drain")
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    return spark.table(name).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("amount_cents").alias("total_cents"),
        F.min("event_id").alias("first_id"),
    )


QUERIES["q_stream_python_source"] = q_stream_python_source
ORACLES["q_stream_python_source"] = None  # set below (shared twin)


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ≤4-hop distances from a seed set over the UNDIRECTED
    duplicate-fingerprint document graph (the q_recursive_cte edge
    construction, both orientations) — see
    :func:`fifa_data_pipeline_spark.operators.graph.bfs_hops`.
    Seeds = doc_id % 97 == 0. Joins PageRank/TextRank/k-means in the
    fully value-hash-checked iterative family (integer recurrence,
    unrolled DuckDB twin)."""
    from fifa_data_pipeline_spark.operators.graph import bfs_hops

    docs = read_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        F.md5(
            F.concat_ws(
                " ", F.slice(F.split(F.trim("text"), r"\s+", 9), 1, 8)
            )
        ).alias("fp"),
    )
    e = (
        fp.alias("a")
        .join(fp.alias("b"), "fp")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("src"),
            F.col("b.doc_id").alias("dst"),
        )
    )
    und = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("node")
    )
    return bfs_hops(und, seeds, n_iter=4)


QUERIES["q_bfs_hops"] = q_bfs_hops


def _bfs_oracle(n_iter: int = 4) -> str:
    """Unrolled DuckDB twin of :func:`graph.bfs_hops` over the same
    fingerprint graph and seed set."""
    steps = ""
    prev = "d0"
    for i in range(1, n_iter + 1):
        steps += f"""
        , d{i} AS (
          SELECT node, MIN(hops) AS hops FROM (
            SELECT node, hops FROM {prev}
            UNION ALL
            SELECT e.dst AS node, d.hops + 1 AS hops
            FROM {prev} d JOIN und e ON d.node = e.src
          ) GROUP BY node
        )"""
        prev = f"d{i}"
    return f"""
      WITH fp AS (
        SELECT doc_id,
               md5(array_to_string(
                 (string_split_regex(trim(text), '\\s+'))[1:8], ' '))
               AS f
        FROM documents
      ), e AS (
        SELECT a.doc_id AS src, b.doc_id AS dst
        FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
      ), und AS (
        SELECT src, dst FROM e
        UNION ALL SELECT dst, src FROM e
      ), d0 AS (
        SELECT doc_id AS node, 0 AS hops FROM documents
        WHERE doc_id % 97 = 0
      ){steps}
      SELECT node, CAST(hops AS BIGINT) AS hops FROM {prev}
    """


ORACLES["q_bfs_hops"] = _bfs_oracle()


def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM'13)
    for the A/B readout beside q_ab_welch / q_bootstrap_ci: per user,
    a pre-period covariate x and an experiment metric y (split by
    event-id parity — deterministic, correlated through per-user
    activity level); θ = cov(x,y)/var(x) POOLED across arms; the
    adjusted metric y − θ·(x − x̄) keeps each arm's mean estimate
    unbiased while shrinking its variance by ρ² — the standard
    sensitivity lever for experiment platforms.

    Plan: one per-user conditional aggregate → a one-row pooled
    moment aggregate broadcast back → map-side adjust → per-arm
    aggregate. θ and x̄ are ROUNDED (6 dp) before applying so both
    engines adjust with bit-identical constants."""
    ev = read_table(spark, sf_dir, "events")
    variant = F.expr(
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), "
        "16, 10) AS BIGINT) % 2"
    )
    per_user = ev.groupBy("user_id").agg(
        F.round(
            F.coalesce(
                F.sum(F.when(F.col("event_id") % 2 == 0, F.col("value"))),
                F.lit(0.0),
            ),
            6,
        ).alias("x"),
        F.round(
            F.coalesce(
                F.sum(F.when(F.col("event_id") % 2 == 1, F.col("value"))),
                F.lit(0.0),
            ),
            6,
        ).alias("y"),
    ).withColumn("variant", variant)
    pooled = per_user.agg(
        F.round(F.covar_samp("x", "y") / F.var_samp("x"), 6).alias(
            "__theta"
        ),
        F.round(F.avg("x"), 6).alias("__xbar"),
    )
    adj = per_user.crossJoin(F.broadcast(pooled)).withColumn(
        "y_adj",
        F.col("y") - F.col("__theta") * (F.col("x") - F.col("__xbar")),
    )
    return adj.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.avg("y"), 6).alias("mean_y"),
        F.round(F.avg("y_adj"), 6).alias("mean_y_adj"),
        F.round(F.var_samp("y_adj") / F.var_samp("y"), 6).alias(
            "var_ratio"
        ),
        F.round(F.max("__theta"), 6).alias("theta"),
    )


QUERIES["q_cuped"] = q_cuped

#: DuckDB twin of Spark's conv(substring(md5(x),1,15),16,10) fold —
#: the engine-portable bucketing idiom shared with extended8/25.
_FOLD_UID = (
    "list_reduce(list_transform(range(1, 16), "
    "j -> CAST(strpos('0123456789abcdef', "
    "substr(md5(CAST(user_id AS VARCHAR)), j, 1)) - 1 "
    "AS BIGINT)), (a, b) -> a * 16 + b)"
)

ORACLES["q_cuped"] = f"""
    WITH per_user AS (
      SELECT user_id,
             ROUND(COALESCE(SUM(CASE WHEN event_id % 2 = 0
                                     THEN value END), 0.0), 6) AS x,
             ROUND(COALESCE(SUM(CASE WHEN event_id % 2 = 1
                                     THEN value END), 0.0), 6) AS y,
             {_FOLD_UID} % 2 AS variant
      FROM events GROUP BY user_id
    ), pooled AS (
      SELECT ROUND(covar_samp(x, y) / var_samp(x), 6) AS theta,
             ROUND(AVG(x), 6) AS xbar
      FROM per_user
    ), adj AS (
      SELECT variant, y, y - theta * (x - xbar) AS y_adj, theta
      FROM per_user, pooled
    )
    SELECT variant,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(AVG(y), 6) AS mean_y,
           ROUND(AVG(y_adj), 6) AS mean_y_adj,
           ROUND(var_samp(y_adj) / var_samp(y), 6) AS var_ratio,
           ROUND(MAX(theta), 6) AS theta
    FROM adj GROUP BY variant
"""


def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence + information value of order priority
    against the finished-order label — see
    :func:`fifa_data_pipeline_spark.operators.relational.woe_iv`
    (the risk-scoring companion of q_target_encode's mean encoding).
    """
    from fifa_data_pipeline_spark.operators.relational import woe_iv

    orders = read_table(spark, sf_dir, "orders")
    return woe_iv(
        orders, "o_orderpriority", F.col("o_orderstatus") == "F"
    )


QUERIES["q_woe_iv"] = q_woe_iv

ORACLES["q_woe_iv"] = """
    WITH per AS (
      SELECT o_orderpriority,
             SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
               AS b,
             SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END)
               AS g
      FROM orders GROUP BY 1
    ), tot AS (
      SELECT SUM(b) AS tb, SUM(g) AS tg, COUNT(*) AS v FROM per
    ), shares AS (
      SELECT o_orderpriority,
             CAST(b AS BIGINT) AS n_bad, CAST(g AS BIGINT) AS n_good,
             (b + 0.5) / (tb + 0.5 * v) AS bs,
             (g + 0.5) / (tg + 0.5 * v) AS gs
      FROM per, tot
    ), woed AS (
      SELECT o_orderpriority, n_bad, n_good,
             LN(bs / gs) AS woe_raw,
             (bs - gs) * LN(bs / gs) AS ivc_raw
      FROM shares
    )
    SELECT o_orderpriority, n_bad, n_good,
           ROUND(woe_raw, 6) AS woe,
           ROUND(ivc_raw, 6) AS iv_contrib,
           ROUND((SELECT SUM(ivc_raw) FROM woed), 6) AS iv_total
    FROM woed
"""


def q_exact_quantiles_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated (``percentile_cont``-style, type-7) per-returnflag
    price quantiles via the same counting machinery as
    ``q_exact_quantiles`` — integer position arithmetic, one pinned
    IEEE interpolation at the end. See
    :func:`relational.exact_group_quantiles_cont`."""
    from fifa_data_pipeline_spark.operators.relational import (
        exact_group_quantiles_cont,
    )

    li = read_table(spark, sf_dir, "lineitem")
    return exact_group_quantiles_cont(
        li, "l_returnflag", "l_extendedprice",
        bounds=minmax_bounds(
            li, f"{sf_dir}/lineitem.parquet", "l_extendedprice"
        ),
    )


QUERIES["q_exact_quantiles_cont"] = q_exact_quantiles_cont

ORACLES["q_exact_quantiles_cont"] = """
    WITH counts AS (
      SELECT l_returnflag AS g, l_extendedprice AS v, COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2
    ), cum AS (
      SELECT g, v, cnt,
             SUM(cnt) OVER (PARTITION BY g ORDER BY v) AS rsum
      FROM counts
    ), tot AS (SELECT g, SUM(cnt) AS n FROM counts GROUP BY g),
    px AS (SELECT UNNEST([250, 500, 750, 900, 990]) AS pm),
    based AS (
      SELECT c.g, c.v, c.rsum, t.n, px.pm,
             (px.pm * (t.n - 1)) // 1000 + 1 AS lo,
             (px.pm * (t.n - 1)) % 1000 AS frac
      FROM cum c JOIN tot t USING (g), px
    ), picked AS (
      SELECT g, pm,
             MIN(CASE WHEN rsum >= lo THEN v END) AS v_lo,
             MIN(CASE WHEN rsum >= lo + 1 THEN v END) AS v_hi,
             MAX(frac) AS frac,
             CAST(MAX(n) AS BIGINT) AS n_rows
      FROM based GROUP BY g, pm
    )
    SELECT g AS l_returnflag, pm AS quantile_pm,
           ROUND(v_lo + (COALESCE(v_hi, v_lo) - v_lo)
                        * (frac / 1000.0), 6) AS q_value,
           n_rows
    FROM picked
"""

ORACLES["q_exact_quantiles"] = """
    WITH counts AS (
      SELECT l_returnflag AS g, l_extendedprice AS v, COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2
    ), cum AS (
      SELECT g, v, cnt,
             SUM(cnt) OVER (PARTITION BY g ORDER BY v) AS rsum
      FROM counts
    ), tot AS (SELECT g, SUM(cnt) AS n FROM counts GROUP BY g),
    px AS (SELECT UNNEST([250, 500, 750, 900, 990]) AS pm)
    SELECT c.g AS l_returnflag, px.pm AS quantile_pm,
           MIN(c.v) AS q_value,
           CAST(MAX(t.n) AS BIGINT) AS n_rows
    FROM cum c JOIN tot t USING (g), px
    WHERE c.rsum >= GREATEST(1, (px.pm * t.n + 999) // 1000)
    GROUP BY 1, 2
"""

# The streaming drain emits exactly the batch read's rows (offset =
# row index over the same pure generator), so both connector paths
# share one twin.
ORACLES["q_stream_python_source"] = ORACLES["q_python_datasource"]
