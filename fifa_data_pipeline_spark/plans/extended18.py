"""Round-5 batch 4: model-eval and retrieval-fusion analytics.

- ``q_auc`` — exact ROC-AUC (Mann–Whitney with tie correction) per
  source for "document is English" predicted from length. Integer
  co-counts until the final division → bit-deterministic.
- ``q_theil_sen`` — robust per-series trend: Theil–Sen estimator
  (median of pairwise slopes) over daily event counts.
- ``q_late_events`` — watermark lateness audit: share of events that
  would be dropped at a given watermark delay, replayed in arrival
  order (the batch-side sizing study for every streaming watermark
  in streaming/stream_events.py).
- ``q_rrf_fusion`` — reciprocal-rank fusion of two retrieval
  rankings (BM25 and a length prior) — the standard hybrid-search
  combiner (Cormack et al., SIGIR'09).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fifa_data_pipeline_spark.operators.retrieval import bm25_topk
from fifa_data_pipeline_spark.plans.extended15 import BM25_TERMS
from fifa_data_pipeline_spark.sources.io import minmax_bounds, read_table

#: Watermark delay for the lateness audit (seconds).
LATE_DELAY_S = 1800

#: RRF constant (the near-universal default from the original paper).
RRF_K = 60

#: Depth of each input ranking fed to the fusion.
RRF_DEPTH = 50


def q_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC per source for classifying lang='en' from
    n_chars, via the rank-free tied Mann–Whitney identity:
    AUC = Σ_s np(s)·(NN(<s) + ½·nn(s)) / (P·N) over the distinct-
    score distribution. Everything is integer counts until the final
    division, so both engines land on identical doubles.

    Scale shape: ONE groupBy collapses the data to its per-(source,
    score) distribution; the window and final agg run on distribution
    rows (|sources| × |distinct scores|), not data rows.
    """
    docs = read_table(spark, sf_dir, "documents")
    pos = (F.col("lang") == "en").cast("int")
    by_score = docs.groupBy("source", F.col("n_chars").alias("s")).agg(
        F.sum(pos).alias("np"),
        F.sum(1 - pos).alias("nn"),
    )
    w_excl = Window.partitionBy("source").orderBy("s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    contrib = by_score.withColumn(
        "below", F.coalesce(F.sum("nn").over(w_excl), F.lit(0))
    )
    return contrib.groupBy("source").agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        F.round(
            F.sum(
                F.col("np") * (F.col("below") + 0.5 * F.col("nn"))
            )
            / (F.sum("np") * F.sum("nn")),
            6,
        ).alias("auc"),
    )


def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per event type over the daily count
    series: slope = median of all pairwise slopes, intercept =
    median of (y − slope·x). Immune to ~29% outlier contamination
    where OLS (q_grouped_linreg) is not.

    The pairwise expansion is O(days²) per series — fine for bounded
    per-key series (a year = 66k pairs); for unbounded series use the
    repeated-median variant or sample pairs. Slopes are exact
    rationals in double; the median is a sort-pick (interpolated
    midpoint), so no accumulation-order FP drift.
    """
    events = read_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("x"),
    ).agg(F.count(F.lit(1)).alias("y"))
    a = daily.select(
        "event_type", F.col("x").alias("x1"), F.col("y").alias("y1")
    )
    b = daily.select(
        "event_type", F.col("x").alias("x2"), F.col("y").alias("y2")
    )
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("x1") < F.col("x2"))
        .select(
            "event_type",
            (
                (F.col("y2") - F.col("y1")).cast("double")
                / (F.col("x2") - F.col("x1"))
            ).alias("m"),
        )
    )
    slope = slopes.groupBy("event_type").agg(
        F.percentile("m", F.lit(0.5)).alias("slope"),
        (F.count(F.lit(1))).cast("long").alias("n_pairs"),
    )
    resid = daily.join(slope, "event_type").select(
        "event_type",
        "n_pairs",
        "slope",
        (F.col("y") - F.col("slope") * F.col("x")).alias("r"),
    )
    return resid.groupBy("event_type").agg(
        F.round(F.max("slope"), 6).alias("slope"),
        F.round(F.percentile("r", F.lit(0.5)), 6).alias("intercept"),
        F.max("n_pairs").alias("n_pairs"),
    )


def q_late_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark lateness audit: replay each event-type stream in
    arrival order (event_id is the arrival sequence) tracking the
    running max event time; an event is LATE when it arrives more
    than ``LATE_DELAY_S`` behind that high-water mark — exactly the
    rows a streaming watermark of that delay would drop. Reports the
    late share and worst lateness per stream, the sizing data for
    choosing every ``withWatermark`` delay in the streaming layer.

    The high-water mark comes partition-parallel
    (:func:`relational.grouped_running_max_dense` — r6 shed the
    original ``Window.partitionBy(event_type)`` running max that
    funneled each type's full history through ONE task; r8 swapped
    the spark_partition_id split for the event_id range bucket,
    dropping the checkpoint materialization and one full fact
    shuffle: 1.25 s -> see BASELINE.md at sf1); integer epoch
    seconds end to end.
    """
    from fifa_data_pipeline_spark.operators.relational import (
        grouped_running_max_dense,
    )

    events = read_table(spark, sf_dir, "events")
    ep = F.unix_timestamp("ts").cast("bigint")
    marked = grouped_running_max_dense(
        events.select(
            "event_type", F.col("event_id"), ep.alias("ep")
        ),
        ["event_type"],
        "event_id",
        ["ep"],
        bounds=minmax_bounds(events, f"{sf_dir}/events.parquet", "event_id"),
    ).select(
        "event_type",
        "ep",
        F.col("ep_rmax").alias("hwm"),
    ).withColumn("late", (F.col("ep") < F.col("hwm") - LATE_DELAY_S))
    return marked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("late").cast("int")).cast("long").alias("n_late"),
        F.round(
            F.sum(F.col("late").cast("int")) / F.count(F.lit(1)), 6
        ).alias("late_share"),
        F.max(
            F.when(F.col("late"), F.col("hwm") - F.col("ep"))
        ).alias("max_lateness_s"),
    )


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse the BM25 ranking for the fixed query
    bag with a document-length prior ranking via reciprocal-rank
    fusion — score(d) = Σ_r 1/(RRF_K + rank_r(d)) over the rankings
    that contain d (top-``RRF_DEPTH`` each). RRF is the standard
    lexical+prior / lexical+vector combiner because it needs no score
    calibration, only ranks. Top-20 fused results.

    Both input rankings collapse to ≤ RRF_DEPTH rows before the
    full-outer fuse join, so the fusion cost is rank-list-sized
    regardless of corpus size; the BM25 leg's cost profile is
    q_bm25's (extended15).
    """
    docs = read_table(spark, sf_dir, "documents")
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lex = (
        bm25_topk(docs, BM25_TERMS, k=RRF_DEPTH)
        .withColumn("r1", F.row_number().over(w))
        .select("doc_id", "r1")
    )
    # Top-k FIRST (TakeOrderedAndProject — distributed, no global
    # sort), then rank only the surviving ≤ RRF_DEPTH rows: ranking
    # before filtering would put the whole corpus through a
    # single-partition WindowExec.
    wl = Window.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    prior = (
        docs.select("doc_id", "n_chars")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(RRF_DEPTH)
        .withColumn("r2", F.row_number().over(wl))
        .select("doc_id", "r2")
    )
    fused = lex.join(prior, "doc_id", "full").select(
        "doc_id",
        "r1",
        "r2",
        F.round(
            F.coalesce(1.0 / (RRF_K + F.col("r1")), F.lit(0.0))
            + F.coalesce(1.0 / (RRF_K + F.col("r2")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(20)


QUERIES = {
    "q_auc": q_auc,
    "q_theil_sen": q_theil_sen,
    "q_late_events": q_late_events,
    "q_rrf_fusion": q_rrf_fusion,
}

_BM25_CTE = f"""
        lens AS (
          SELECT doc_id,
                 len(string_split_regex(trim(text), '\\s+')) AS dl
          FROM documents
        ), stats AS (
          SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM lens
        ), tf AS (
          SELECT doc_id, token, COUNT(*) AS tf FROM (
            SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\\s+')) AS token
            FROM documents
          ) GROUP BY 1, 2
        ), qtf AS (
          SELECT * FROM tf
          WHERE token IN ({", ".join(f"'{t}'" for t in BM25_TERMS)})
        ), dft AS (
          SELECT token, COUNT(*) AS dft FROM qtf GROUP BY token
        ), scored AS (
          SELECT q.doc_id,
                 ROUND(SUM(
                   ln((stats.n_docs - dft.dft + 0.5) / (dft.dft + 0.5) + 1.0)
                   * (q.tf * 2.2)
                   / (q.tf + 1.2 * (1 - 0.75 + 0.75 * lens.dl / stats.avgdl))
                 ), 6) AS bm25
          FROM qtf q
          JOIN dft ON q.token = dft.token
          JOIN lens ON q.doc_id = lens.doc_id
          CROSS JOIN stats
          GROUP BY q.doc_id
        )
"""

ORACLES = {
    "q_auc": """
        WITH by_score AS (
          SELECT source, n_chars AS s,
                 SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS np,
                 SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS nn
          FROM documents GROUP BY 1, 2
        ), contrib AS (
          SELECT source, np, nn,
                 COALESCE(SUM(nn) OVER (PARTITION BY source ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS below
          FROM by_score
        )
        SELECT source,
               CAST(SUM(np) AS BIGINT) AS n_pos,
               CAST(SUM(nn) AS BIGINT) AS n_neg,
               ROUND(SUM(np * (below + 0.5 * nn))
                     / (SUM(np) * SUM(nn)), 6) AS auc
        FROM contrib GROUP BY source
    """,
    "q_theil_sen": """
        WITH daily AS (
          SELECT event_type,
                 date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
                 COUNT(*) AS y
          FROM events GROUP BY 1, 2
        ), slopes AS (
          SELECT a.event_type,
                 CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS m
          FROM daily a JOIN daily b
            ON a.event_type = b.event_type AND a.x < b.x
        ), sl AS (
          SELECT event_type, quantile_cont(m, 0.5) AS slope,
                 COUNT(*) AS n_pairs
          FROM slopes GROUP BY event_type
        ), resid AS (
          SELECT d.event_type, sl.n_pairs, sl.slope,
                 d.y - sl.slope * d.x AS r
          FROM daily d JOIN sl ON d.event_type = sl.event_type
        )
        SELECT event_type,
               ROUND(MAX(slope), 6) AS slope,
               ROUND(quantile_cont(r, 0.5), 6) AS intercept,
               CAST(MAX(n_pairs) AS BIGINT) AS n_pairs
        FROM resid GROUP BY event_type
    """,
    "q_late_events": f"""
        WITH marked AS (
          SELECT event_type,
                 CAST(floor(epoch(ts)) AS BIGINT) AS ep,
                 MAX(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                   PARTITION BY event_type ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hwm
          FROM events
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN ep < hwm - {LATE_DELAY_S} THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_late,
               ROUND(CAST(SUM(CASE WHEN ep < hwm - {LATE_DELAY_S}
                 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS late_share,
               MAX(CASE WHEN ep < hwm - {LATE_DELAY_S} THEN hwm - ep END)
                 AS max_lateness_s
        FROM marked GROUP BY event_type
    """,
    "q_rrf_fusion": f"""
        WITH {_BM25_CTE},
        lex AS (
          SELECT doc_id,
                 ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r1
          FROM scored
          QUALIFY r1 <= {RRF_DEPTH}
        ), prior AS (
          SELECT doc_id,
                 ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS r2
          FROM documents
          QUALIFY r2 <= {RRF_DEPTH}
        )
        SELECT COALESCE(lex.doc_id, prior.doc_id) AS doc_id, r1, r2,
               ROUND(COALESCE(1.0 / ({RRF_K} + r1), 0)
                     + COALESCE(1.0 / ({RRF_K} + r2), 0), 6) AS rrf
        FROM lex FULL OUTER JOIN prior ON lex.doc_id = prior.doc_id
        ORDER BY rrf DESC, doc_id LIMIT 20
    """,
}
