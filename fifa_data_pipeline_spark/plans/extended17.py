"""Round-5 batch 3: survival analysis, corpus drift & balancing,
weighted quantiles, association rules, rolling correlation.

The reference pipeline has no analytics beyond its flagship joins
(SURVEY.md §2.5 absences); these extend the engine's analytic surface
with shapes a production corpus/telemetry platform runs daily. All
are pure DataFrame compositions (window + agg + broadcast joins) —
no UDFs — so every one is exact-oracle-checked against DuckDB.

- ``q_survival_km`` — Kaplan–Meier survival over customer order
  lifespans (right-censored at the study horizon).
- ``q_kl_drift`` — per-source token-distribution drift vs the whole
  corpus (add-half smoothed KL divergence), the standard monitor for
  a training-data mixture shifting under you.
- ``q_domain_cap`` — per-source quota capping (keep the K best docs
  per source), the domain-balancing step of corpus curation.
- ``q_weighted_quantile`` — token-weighted median / p90 of document
  length per language (cumulative-weight pick, no interpolation).
- ``q_assoc_rules`` — association rules (support / confidence /
  lift) over per-user event-type baskets.
- ``q_rolling_corr`` — 14-day rolling correlation between two event
  streams' daily volumes, exact in integer cents.
- ``q_pca_project`` — distributed PCA scores over the embeddings
  table (rows-only: eigenvectors aren't SQL-derivable; pinned to a
  numpy reference in tests/test_extended17.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fifa_data_pipeline_spark.operators.text import tokens, token_count_expr
from fifa_data_pipeline_spark.operators.util import exploded
from fifa_data_pipeline_spark.sources.io import minmax_bounds, read_table

#: Censoring horizon: a customer whose last order predates the study
#: end by more than this many days is an observed churn EVENT; later
#: ones are right-censored (still active at study end).
KM_HORIZON_DAYS = 90

#: Per-source document quota for q_domain_cap.
DOMAIN_CAP = 15

#: Rolling-correlation window length in (observed) days.
CORR_DAYS = 14


def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve of customer lifespans.

    Subject = customer; duration = days between first and last order;
    the event (churn) is OBSERVED when the last order predates the
    study end (global max order date) by > ``KM_HORIZON_DAYS``,
    otherwise the subject is right-censored at its duration. At each
    distinct event duration t: n_risk = subjects with duration >= t
    (censored-at-t counted at risk, the standard tie convention),
    d = observed events at t, and S(t) = Π_{t'<=t} (1 - d/n) computed
    in log space (exp·sum·ln — Spark has no product aggregate).

    Scale shape: the heavy work is ONE groupBy over orders (customer
    grain); everything after runs on |distinct durations| rows, so the
    global-ordering windows are a deliberate single-partition step on
    a provably tiny relation — same pattern as the reference's final
    report aggregations. Zero-event durations contribute ln(1)=0, so
    the cumulative sum is computed over all durations and event rows
    are filtered after.
    """
    orders = read_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_dt"),
        F.max("o_orderdate").alias("last_dt"),
    )
    end = orders.agg(F.max("o_orderdate").alias("study_end"))
    subj = per.crossJoin(F.broadcast(end)).select(
        F.datediff(F.col("last_dt"), F.col("first_dt")).alias("dur"),
        F.expr(
            f"CAST(last_dt < study_end - INTERVAL {KM_HORIZON_DAYS} DAYS AS INT)"
        ).alias("ev"),
    )
    byd = subj.groupBy("dur").agg(
        F.sum("ev").alias("d"), F.count(F.lit(1)).alias("c")
    )
    total = subj.agg(F.count(F.lit(1)).alias("n_subj"))
    w_cum = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        byd.crossJoin(F.broadcast(total))
        .withColumn("n_risk", F.col("n_subj") - F.sum("c").over(w_cum) + F.col("c"))
        .withColumn(
            "survival",
            F.round(
                F.exp(
                    F.sum(
                        F.log(
                            F.lit(1.0)
                            - F.col("d").cast("double") / F.col("n_risk")
                        )
                    ).over(w_cum)
                ),
                6,
            ),
        )
    )
    return curve.filter(F.col("d") > 0).select(
        F.col("dur").alias("duration_days"),
        F.col("d").cast("long").alias("n_events"),
        F.col("n_risk").cast("long").alias("n_risk"),
        "survival",
    )


def q_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution drift: add-half-smoothed KL
    divergence of each source's unigram distribution against the
    whole-corpus distribution, over the GLOBAL vocabulary (absent
    tokens get smoothing mass via a dense source × vocab grid).

    Scale shape: one token explode + two hash aggs produce the
    per-source and global counts; the dense grid is |sources| ×
    |vocab| — the distributions themselves, not the corpus — and the
    scalar totals ride along as broadcast one-row joins. The heavy
    relation crosses exactly one shuffle (the per-source-token agg);
    everything downstream is distribution-sized.
    """
    docs = read_table(spark, sf_dir, "documents")
    toks = exploded(docs, tokens("text"), "token", keep=["source"])
    # r12 (guide §2.4/§5): c_sv feeds FOUR consumers (n_s, c_v →
    # scalars, c_v → grid, grid's left join) and each branch
    # re-executed the whole corpus scan+tokenize+explode+shuffle —
    # the r11 plan had 4 parquet scans and zero exchange reuse
    # (column pruning makes the branches canonicalize differently).
    # Pinning the |sources|×|vocab|-sized count table turns that
    # into ONE corpus pass plus distribution-sized re-reads.
    from fifa_data_pipeline_spark.operators.util import pin

    c_sv = (
        toks.groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c_sv"))
        .transform(pin("kl_csv"))
    )
    n_s = c_sv.groupBy("source").agg(F.sum("c_sv").alias("n_s"))
    c_v = c_sv.groupBy("token").agg(F.sum("c_sv").alias("c_v"))
    scalars = c_v.agg(
        F.sum("c_v").alias("n_total"), F.count(F.lit(1)).alias("v_size")
    )
    grid = n_s.crossJoin(c_v).join(c_sv, ["source", "token"], "left")
    p = (F.coalesce(F.col("c_sv"), F.lit(0)) + 0.5) / (
        F.col("n_s") + 0.5 * F.col("v_size")
    )
    q = (F.col("c_v") + 0.5) / (F.col("n_total") + 0.5 * F.col("v_size"))
    return (
        grid.crossJoin(F.broadcast(scalars))
        .select("source", "n_s", (p * F.log(p / q)).alias("term"))
        .groupBy("source")
        .agg(
            F.round(F.sum("term"), 6).alias("kl_vs_corpus"),
            F.max("n_s").cast("long").alias("n_tokens"),
        )
    )


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota capping report: keep at most ``DOMAIN_CAP``
    documents per source (best-first by n_chars, doc_id tiebreak) —
    the domain-balancing pass that stops one crawl domain from
    dominating a training mixture. Returns kept/dropped counts, the
    retention share, and the quality floor of the kept set.

    Rewritten r5 (the per-source ranking window funneled every doc
    of a source through one sort task): the kept set is the skew-safe
    two-phase top-k (:func:`relational.grouped_topk` — no source
    ever sorts all its docs in one task), and the report folds from
    two bounded aggregates: n_kept = min(n_docs, cap) by definition,
    min_kept_chars = MIN over the ≤ cap survivors.
    """
    from fifa_data_pipeline_spark.operators.relational import (
        grouped_topk,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    totals = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    kept_min = (
        grouped_topk(docs, ["source"], "n_chars", "doc_id", DOMAIN_CAP)
        .groupBy("source")
        .agg(F.min("n_chars").alias("min_kept_chars"))
    )
    n_kept = F.least(F.col("n_docs"), F.lit(DOMAIN_CAP)).cast("long")
    return (
        totals.join(F.broadcast(kept_min), "source")
        .select(
            "source",
            "n_docs",
            n_kept.alias("n_kept"),
            (F.col("n_docs") - n_kept).cast("long").alias("n_dropped"),
            "min_kept_chars",
            F.round(n_kept / F.col("n_docs"), 4).alias("retention"),
        )
    )


def q_weighted_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted median and p90 of document length (n_chars) per
    language: order docs by length, accumulate token-count weight,
    and pick the first value whose cumulative weight reaches the
    quantile of the total — the discrete (type-1) weighted quantile,
    exact in integers (no interpolation, no FP drift).

    Weighted quantiles answer "half the TOKENS live in documents
    shorter than X" — the curation question — where the unweighted
    median answers only "half the DOCUMENTS are shorter". The
    cumulative weight comes partition-parallel
    (:func:`relational.grouped_running_sums_bucketed` — r5 shed the
    per-language window funnel, r8 the checkpoint pin + second spine
    shuffle: the bucket derives from n_chars over a footer-cheap
    bounds probe); the language total joins back as a broadcast.
    """
    from fifa_data_pipeline_spark.operators.relational import (
        grouped_running_sums_bucketed,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        "lang",
        "n_chars",
        token_count_expr("text").alias("w"),
    )
    # footer-stats bounds (r11): zero Spark jobs on the unfiltered
    # table; machinery needs only a superset range. Agg fallback.
    bounds = minmax_bounds(
        read_table(spark, sf_dir, "documents"),
        f"{sf_dir}/documents.parquet",
        "n_chars",
    )
    # Pre-aggregate to the (lang, value) SPINE before the prefix-sum
    # machinery (r6): the discrete weighted quantile selects the first
    # VALUE whose cumulative weight crosses the target, so summing
    # weights per value first is selection-identical — and the
    # machinery's range shuffle then carries |lang × distinct values|
    # rows instead of one per document (also satisfying its
    # one-row-per-(group, order) contract without a doc_id tiebreak).
    spine = docs.groupBy("lang", "n_chars").agg(F.sum("w").alias("w"))
    cum0 = grouped_running_sums_bucketed(
        spine, ["lang"], ["n_chars"], ["w"], bounds=bounds
    )
    # Language totals from the machinery output (final prefix sum =
    # group total; w >= 0): rides the reused spine exchange instead
    # of recomputing the tokenize-bearing spine aggregate a second
    # time (one-scan rule, r8).
    totals = cum0.groupBy("lang").agg(F.max("w_rsum").alias("totw"))
    cum = (
        cum0.join(F.broadcast(totals), "lang")
        .select(
            "lang", "n_chars", F.col("w_rsum").alias("cumw"), "totw"
        )
    )
    return cum.groupBy("lang").agg(
        F.min(
            F.when(F.col("cumw") >= 0.5 * F.col("totw"), F.col("n_chars"))
        ).alias("w_median_chars"),
        F.min(
            F.when(F.col("cumw") >= 0.9 * F.col("totw"), F.col("n_chars"))
        ).alias("w_p90_chars"),
        F.max("totw").cast("long").alias("total_tokens"),
    )


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules a→b over per-user event-type baskets:
    support (share of users with both), confidence (P(b|a)), lift
    (confidence / P(b)). Both rule directions are emitted — lift is
    symmetric but confidence is not.

    Scale shape: baskets are built with ONE groupBy (user →
    collect_set) and pairs expand inside the task via a double
    explode (fan-out ≤ |event types|² per user) — no user-keyed
    self-join, so the fact crosses one shuffle. The item-frequency
    table (|event types| rows) joins back as two broadcasts, and the
    user total rides along as a one-row broadcast. Same plan family
    as q_basket_pairs (extended3), which mines pair COUNTS; this
    derives the rule statistics.
    """
    events = read_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.collect_set("event_type").alias("types")
    )
    items = (
        per_user.select(F.explode("types").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_item"))
    )
    totals = per_user.agg(F.count(F.lit(1)).alias("n_users"))
    pairs = (
        per_user.select(F.explode("types").alias("a"), "types")
        .select("a", F.explode("types").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    n_a = items.select(
        F.col("event_type").alias("a"), F.col("n_item").alias("n_a")
    )
    n_b = items.select(
        F.col("event_type").alias("b"), F.col("n_item").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(n_a), "a")
        .join(F.broadcast(n_b), "b")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("a").alias("antecedent"),
            F.col("b").alias("consequent"),
            F.col("n_ab").cast("long").alias("n_both"),
            F.round(F.col("n_ab") / F.col("n_users"), 6).alias("support"),
            F.round(F.col("n_ab") / F.col("n_a"), 6).alias("confidence"),
            F.round(
                F.col("n_ab") * F.col("n_users") / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-observed-day rolling Pearson correlation between the daily
    click volume and daily error volume (sum of event values, in
    integer cents so every co-moment sum is EXACT in both engines —
    the FP-determinism lesson from q_interp_linear, COVERAGE.md).

    corr = (nΣxy − ΣxΣy) / (√(nΣxx−Σx²)·√(nΣyy−Σy²)) from windowed
    integer sums; emitted only once the frame is full (rn >= 14) and
    NULL-guarded on zero variance identically in both engines. One
    shuffle builds the daily grain; the windows then run over ~100s
    of rows (days), partitioned in production by (metric pair, year).
    """
    events = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = (
        events.filter(F.col("event_type").isin("click", "error"))
        .groupBy(
            F.to_date("ts").alias("day"), F.col("event_type")
        )
        .agg(F.sum(cents).alias("cents"))
    )
    clicks = daily.filter(F.col("event_type") == "click").select(
        "day", F.col("cents").alias("x")
    )
    errors = daily.filter(F.col("event_type") == "error").select(
        "day", F.col("cents").alias("y")
    )
    both = clicks.join(errors, "day")
    wf = Window.orderBy("day").rowsBetween(-(CORR_DAYS - 1), 0)
    wo = Window.orderBy("day")
    d = F.lit(CORR_DAYS).cast("double")
    stats = both.select(
        "day",
        F.row_number().over(wo).alias("rn"),
        F.sum("x").over(wf).cast("double").alias("sx"),
        F.sum("y").over(wf).cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(wf).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(wf).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(wf).cast("double").alias("syy"),
    )
    varx = d * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = d * F.col("syy") - F.col("sy") * F.col("sy")
    cov = d * F.col("sxy") - F.col("sx") * F.col("sy")
    return stats.filter(F.col("rn") >= CORR_DAYS).select(
        "day",
        F.when(
            (varx > 0) & (vary > 0),
            F.round(cov / (F.sqrt(varx) * F.sqrt(vary)), 6),
        ).alias("corr_14d"),
    )


def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 principal-component scores for every embedding:
    map-side Gram reduction (one O(d²) row per Arrow batch) →
    driver-side eigh → map-only literal-fold projection. Rows-only
    (the components come from an eigendecomposition, not SQL); the
    numpy-equality test pins values, and ordering by vec_id keeps
    the driver's row-count/schema check deterministic. The Gram/
    second-moment machinery underneath is hash-pinned by
    ``q_corr_matrix`` (oracled; r7 window), which computes the same
    moment sums with a DuckDB twin."""
    emb = read_table(spark, sf_dir, "embeddings")
    from fifa_data_pipeline_spark.operators.vector import pca_project

    return pca_project(emb, "embedding", "vec_id", k=2)


QUERIES = {
    "q_survival_km": q_survival_km,
    "q_pca_project": q_pca_project,
    "q_kl_drift": q_kl_drift,
    "q_domain_cap": q_domain_cap,
    "q_weighted_quantile": q_weighted_quantile,
    "q_assoc_rules": q_assoc_rules,
    "q_rolling_corr": q_rolling_corr,
}

ORACLES = {
    "q_survival_km": f"""
        WITH per AS (
          SELECT o_custkey, MIN(o_orderdate) AS f, MAX(o_orderdate) AS l
          FROM orders GROUP BY 1
        ), m AS (SELECT MAX(o_orderdate) AS study_end FROM orders),
        subj AS (
          SELECT date_diff('day', f, l) AS dur,
                 CASE WHEN l < study_end - INTERVAL {KM_HORIZON_DAYS} DAY
                      THEN 1 ELSE 0 END AS ev
          FROM per, m
        ), byd AS (
          SELECT dur, SUM(ev) AS d, COUNT(*) AS c FROM subj GROUP BY 1
        ), tot AS (SELECT COUNT(*) AS n_subj FROM subj),
        risk AS (
          SELECT dur, d,
                 n_subj - SUM(c) OVER (ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + c
                   AS n_risk
          FROM byd, tot
        ), curve AS (
          SELECT dur, d, n_risk,
                 ROUND(EXP(SUM(LN(1 - CAST(d AS DOUBLE) / n_risk))
                   OVER (ORDER BY dur
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
                   AS survival
          FROM risk
        )
        SELECT dur AS duration_days, CAST(d AS BIGINT) AS n_events,
               CAST(n_risk AS BIGINT) AS n_risk, survival
        FROM curve WHERE d > 0
    """,
    "q_kl_drift": """
        WITH toks AS (
          SELECT source,
                 unnest(string_split_regex(trim(text), '\\s+')) AS token
          FROM documents
        ), c_sv AS (
          SELECT source, token, COUNT(*) AS c_sv FROM toks GROUP BY 1, 2
        ), n_s AS (SELECT source, SUM(c_sv) AS n_s FROM c_sv GROUP BY 1),
        c_v AS (SELECT token, SUM(c_sv) AS c_v FROM c_sv GROUP BY 1),
        sc AS (SELECT SUM(c_v) AS n_total, COUNT(*) AS v_size FROM c_v),
        grid AS (
          SELECT s.source, s.n_s, v.token, v.c_v, COALESCE(x.c_sv, 0) AS c_sv
          FROM n_s s CROSS JOIN c_v v
          LEFT JOIN c_sv x ON x.source = s.source AND x.token = v.token
        )
        SELECT source,
               ROUND(SUM(
                 ((c_sv + 0.5) / (n_s + 0.5 * v_size))
                 * LN(((c_sv + 0.5) / (n_s + 0.5 * v_size))
                      / ((c_v + 0.5) / (n_total + 0.5 * v_size)))
               ), 6) AS kl_vs_corpus,
               CAST(MAX(n_s) AS BIGINT) AS n_tokens
        FROM grid, sc
        GROUP BY source
    """,
    "q_domain_cap": f"""
        WITH ranked AS (
          SELECT source, n_chars,
                 ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY n_chars DESC, doc_id) AS rn
          FROM documents
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN rn <= {DOMAIN_CAP} THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN rn > {DOMAIN_CAP} THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_dropped,
               MIN(CASE WHEN rn <= {DOMAIN_CAP} THEN n_chars END)
                 AS min_kept_chars,
               ROUND(CAST(SUM(CASE WHEN rn <= {DOMAIN_CAP} THEN 1 ELSE 0 END)
                 AS DOUBLE) / COUNT(*), 4) AS retention
        FROM ranked GROUP BY source
    """,
    "q_weighted_quantile": """
        WITH d AS (
          SELECT doc_id, lang, n_chars,
                 len(string_split_regex(trim(text), '\\s+')) AS w
          FROM documents
        ), cum AS (
          SELECT lang, n_chars,
                 SUM(w) OVER (PARTITION BY lang ORDER BY n_chars, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
                 SUM(w) OVER (PARTITION BY lang) AS totw
          FROM d
        )
        SELECT lang,
               MIN(CASE WHEN cumw >= 0.5 * totw THEN n_chars END)
                 AS w_median_chars,
               MIN(CASE WHEN cumw >= 0.9 * totw THEN n_chars END)
                 AS w_p90_chars,
               CAST(MAX(totw) AS BIGINT) AS total_tokens
        FROM cum GROUP BY lang
    """,
    "q_assoc_rules": """
        WITH baskets AS (
          SELECT DISTINCT user_id, event_type FROM events
        ), items AS (
          SELECT event_type, COUNT(*) AS n_item FROM baskets GROUP BY 1
        ), tot AS (
          SELECT COUNT(DISTINCT user_id) AS n_users FROM baskets
        ), pairs AS (
          SELECT a.event_type AS a, b.event_type AS b, COUNT(*) AS n_ab
          FROM baskets a JOIN baskets b
            ON a.user_id = b.user_id AND a.event_type <> b.event_type
          GROUP BY 1, 2
        )
        SELECT p.a AS antecedent, p.b AS consequent,
               CAST(p.n_ab AS BIGINT) AS n_both,
               ROUND(CAST(p.n_ab AS DOUBLE) / t.n_users, 6) AS support,
               ROUND(CAST(p.n_ab AS DOUBLE) / ia.n_item, 6) AS confidence,
               ROUND(CAST(p.n_ab AS DOUBLE) * t.n_users
                 / (ia.n_item * ib.n_item), 6) AS lift
        FROM pairs p
        JOIN items ia ON ia.event_type = p.a
        JOIN items ib ON ib.event_type = p.b
        CROSS JOIN tot t
    """,
    "q_rolling_corr": f"""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day, event_type,
                 SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
          FROM events WHERE event_type IN ('click', 'error')
          GROUP BY 1, 2
        ), joined AS (
          SELECT c.day, c.cents AS x, e.cents AS y
          FROM (SELECT day, cents FROM daily WHERE event_type = 'click') c
          JOIN (SELECT day, cents FROM daily WHERE event_type = 'error') e
            USING (day)
        ), stats AS (
          SELECT day,
                 ROW_NUMBER() OVER (ORDER BY day) AS rn,
                 CAST(SUM(x) OVER w AS DOUBLE) AS sx,
                 CAST(SUM(y) OVER w AS DOUBLE) AS sy,
                 CAST(SUM(x * y) OVER w AS DOUBLE) AS sxy,
                 CAST(SUM(x * x) OVER w AS DOUBLE) AS sxx,
                 CAST(SUM(y * y) OVER w AS DOUBLE) AS syy
          FROM joined
          WINDOW w AS (ORDER BY day
            ROWS BETWEEN {CORR_DAYS - 1} PRECEDING AND CURRENT ROW)
        )
        SELECT day,
               CASE WHEN {CORR_DAYS}.0 * sxx - sx * sx > 0
                     AND {CORR_DAYS}.0 * syy - sy * sy > 0
                    THEN ROUND(({CORR_DAYS}.0 * sxy - sx * sy)
                      / (SQRT({CORR_DAYS}.0 * sxx - sx * sx)
                         * SQRT({CORR_DAYS}.0 * syy - sy * sy)), 6)
               END AS corr_14d
        FROM stats WHERE rn >= {CORR_DAYS}
    """,
}
