"""Spatial & feature-vectorization queries (round 4, batch 6): the
grid-bucketed spatial join (geohash-join pattern, exact integer
arithmetic end-to-end) and the hashing-trick feature vectorizer.

Coordinates and hash indices derive from the engine-portable md5
fold (the same construction as hash_split/mixture_sample), so both
queries are exact-oracle-checked with zero FP tolerance."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fifa_data_pipeline_spark.operators.util import exploded, pin
from fifa_data_pipeline_spark.operators.text import tokens
from fifa_data_pipeline_spark.sources.io import minmax_bounds, read_table

#: Seeded "regions": (region_id, center_x, center_y, radius) on the
#: 0-999 integer grid — literals shared verbatim with the oracle.
REGIONS = [
    (1, 120, 840, 150),
    (2, 500, 500, 220),
    (3, 870, 130, 90),
    (4, 300, 200, 130),
    (5, 700, 760, 180),
]

#: grid cell edge; the coarse bucketing unit for the candidate join.
CELL = 100


def _md5_coord(col: str, salt: str) -> F.Column:
    """Deterministic 0-999 coordinate: base-1000 digit of ONE shared
    md5 fold per row (salt picks the digit — 'x' → low, 'y' → next).
    One hash yields both coordinates; the md5 fold was the dominant
    per-row cost when each axis hashed separately (measured 1.02 s →
    one-fold variant at sf0.1; see SCALE.md). Engine-portable;
    mirrors the DuckDB list_reduce twin."""
    fold = (
        f"CAST(conv(substring(md5(CAST({col} AS STRING)), 1, 15), "
        "16, 10) AS BIGINT)"
    )
    div = 1 if salt == "x" else 1000
    return F.expr(f"({fold} div {div}) % 1000")


def _md5_coord_sql(col: str, salt: str) -> str:
    fold = (
        "list_reduce(list_transform(range(1, 16), "
        "j -> CAST(strpos('0123456789abcdef', "
        f"substr(md5(CAST({col} AS VARCHAR)), j, 1)) - 1 "
        "AS BIGINT)), (a, b) -> a * 16 + b)"
    )
    div = 1 if salt == "x" else 1000
    return f"(({fold}) // {div}) % 1000"


def q_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed spatial join (the geohash/S2 pattern without a
    geo library): events get deterministic integer (x, y) positions;
    each circular region EXPLODES to the coarse grid cells its
    bounding box overlaps (≤ (2r/CELL+2)² cells — a tiny broadcast
    side); points join their own cell's candidates and an exact
    squared-distance filter finishes. The join is an EQUI-join on
    the cell key — never a cross product — which is exactly how
    planet-scale point-in-polygon joins stay linear: coarse spatial
    bucketing for candidates, exact geometry only within buckets.
    All-integer arithmetic → zero FP tolerance in the oracle."""
    ev = read_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        _md5_coord("event_id", "x").alias("x"),
        _md5_coord("event_id", "y").alias("y"),
    ).withColumn(
        "cell",
        (F.col("x") - F.col("x") % CELL) * 1000 + (F.col("y") - F.col("y") % CELL),
    )
    # materialization barrier: project-collapse would otherwise
    # inline the md5 fold into the join key AND every reference in
    # the distance filter, re-hashing each row several times
    # (measured 0.97 s → 0.54 s warm at sf0.1). In production the
    # coordinates are stored data and no barrier is needed.
    pts = pts.transform(pin("ext14"))
    regions = spark.createDataFrame(
        REGIONS, "region_id int, cx int, cy int, r int"
    )
    cand_cells = (
        regions.withColumn(
            "gx",
            F.explode(
                F.sequence(
                    (F.col("cx") - F.col("r")) - (F.col("cx") - F.col("r")) % CELL,
                    F.col("cx") + F.col("r"),
                    F.lit(CELL),
                )
            ),
        )
        .withColumn(
            "gy",
            F.explode(
                F.sequence(
                    (F.col("cy") - F.col("r")) - (F.col("cy") - F.col("r")) % CELL,
                    F.col("cy") + F.col("r"),
                    F.lit(CELL),
                )
            ),
        )
        .filter((F.col("gx") >= 0) & (F.col("gy") >= 0))
        .select(
            "region_id",
            "cx",
            "cy",
            "r",
            (F.col("gx") * 1000 + F.col("gy")).alias("cell"),
        )
    )
    dx, dy = F.col("x") - F.col("cx"), F.col("y") - F.col("cy")
    return (
        pts.join(F.broadcast(cand_cells), "cell")
        .filter(dx * dx + dy * dy <= F.col("r") * F.col("r"))
        .groupBy("region_id")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick vectorizer: tokens map to a fixed 256-bucket
    feature space via the md5 fold (no vocabulary pass, no fit step
    — the property that makes feature hashing the streaming/online
    vectorizer), counts aggregated per (doc, feature). One explode +
    one hash aggregate; output width is bounded by the feature-space
    size regardless of vocabulary growth."""
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    ex = exploded(docs, tokens("text"), "token", keep=["doc_id"])
    idx = F.expr(
        "CAST(conv(substring(md5(token), 1, 15), 16, 10) AS BIGINT) % 256"
    )
    return ex.groupBy("doc_id", idx.alias("feature_idx")).agg(
        F.count(F.lit(1)).alias("cnt")
    )



def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scalar UDFs (Spark ≥4.0 ``CREATE FUNCTION … RETURN expr``):
    business expressions named once and reused across queries — and
    unlike Python UDFs, Catalyst INLINES the body into the plan
    (plan-asserted: no BatchEvalPython / PythonUDF node appears), so
    the abstraction costs nothing at any scale. The oracle computes
    the same algebra with the expressions inlined."""
    from fifa_data_pipeline_spark.sources.io import register_views

    register_views(spark, sf_dir, ["lineitem"])
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1 - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION charged(p DOUBLE, d DOUBLE, "
        "t DOUBLE) RETURNS DOUBLE RETURN p * (1 - d) * (1 + t)"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               ROUND(SUM(disc_price(l_extendedprice, l_discount)), 2)
                 AS sum_disc_price,
               ROUND(SUM(charged(l_extendedprice, l_discount, l_tax)), 2)
                 AS sum_charged
        FROM lineitem GROUP BY l_returnflag
        """
    )



def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-ES): each document draws a uniform u from
    the md5 fold (content-addressed — stable across engines, runs
    and cluster sizes) and the 100 smallest −ln(u)/weight keys win,
    weight = document length. The selection is a single
    TakeOrderedAndProject over a per-row expression — no shuffle of
    the corpus, no RNG, and the inclusion probability is exactly the
    weighted-without-replacement distribution. The doc_id tie-break
    is shared with the oracle."""
    docs = read_table(spark, sf_dir, "documents")
    u = (
        F.expr(
            "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), "
            "16, 10) AS BIGINT) % 1000000"
        )
        + 1
    ) / 1000001.0
    key = -F.log(u) / F.col("n_chars")
    return (
        docs.select("doc_id", "n_chars", key.alias("__k"))
        .orderBy("__k", "doc_id")
        .limit(100)
        .select("doc_id", "n_chars")
    )



def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding with additive smoothing: each
    event's category (event_type) becomes the mean of the OTHER
    events' values in that category, shrunk toward the global mean
    with pseudo-count m=10 — enc = (Σy − y + m·prior)/(n − 1 + m).
    The leak-free categorical encoding for training tables, computed
    from ONE category aggregate broadcast back plus a one-row global
    aggregate: no window, no per-row state, two joins of one-row/
    |categories|-row tables against the fact."""
    ev = read_table(spark, sf_dir, "events")
    per_cat = ev.groupBy("event_type").agg(
        F.sum("value").alias("__sum"), F.count(F.lit(1)).alias("__n")
    )
    prior = ev.agg(F.avg("value").alias("__prior"))
    m = 10.0
    enc = (F.col("__sum") - F.col("value") + m * F.col("__prior")) / (
        F.col("__n") - 1 + m
    )
    return (
        ev.join(F.broadcast(per_cat), "event_type")
        .crossJoin(F.broadcast(prior))
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value_r"),
            F.round(enc, 6).alias("te"),
        )
    )


def q_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across groups (the batch-effect
    correction used on expression/feature matrices): each value maps
    to its within-group rank, and every group's rank-i value is
    replaced by the ACROSS-GROUP mean of rank-i values — after it,
    every group has an identical distribution. Within-group ranks
    come partition-parallel (:func:`relational.grouped_row_ranks` —
    rewritten r5: the per-type window funneled each type through one
    sort task) plus one rank-keyed aggregate join; restricted to the
    first 3 event types to keep equal-sized groups out of scope
    (ragged ranks average over present groups)."""
    from fifa_data_pipeline_spark.operators.relational import (
        grouped_row_ranks,
    )

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view", "purchase")
    ).select("event_id", "event_type", "value")
    # value bounds from parquet footer stats when present (r11 —
    # zero Spark jobs; the UNFILTERED table's min/max is a superset
    # of the 3-type slice's range, which is all the bucketed
    # machinery needs), else the r8 aggregate probe. One fact
    # shuffle, no checkpoint pin.
    ranked = grouped_row_ranks(
        ev, ["event_type"], ["value", "event_id"], "__rk",
        bounds=minmax_bounds(ev, f"{sf_dir}/events.parquet", "value"),
    )
    ref = ranked.groupBy("__rk").agg(F.avg("value").alias("__ref"))
    return (
        ranked.join(ref, "__rk")
        .select(
            "event_id",
            "event_type",
            F.col("__rk").alias("rk"),
            F.round("__ref", 6).alias("qnorm_value"),
        )
    )



def q_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): tokens
    become graph nodes, adjacent-token co-occurrence (both
    directions) becomes edges, and PageRank scores centrality — the
    unsupervised keyword extractor, composed entirely from existing
    operators (token window lag → edge list → ``graph.pagerank``).
    Top 25 tokens by rank (6-dp round BEFORE the order/limit, token
    tie-break — so the top-25 SET is deterministic across engines).
    Oracle-checked since r9: the DuckDB twin unrolls the identical
    FLOAT recurrence at 6 iterations
    (``extended27._pagerank_oracle_float``); the 6-dp round absorbs
    SUM-order float divergence. The kernel is additionally pinned by
    its numpy power-iteration reference test and the integer-exact
    ``q_textrank_exact`` twin."""
    from pyspark.sql import Window

    from fifa_data_pipeline_spark.operators.graph import pagerank
    from fifa_data_pipeline_spark.operators.text import tokens

    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    ex = exploded(docs, tokens("text"), "token", keep=["doc_id"], pos_alias="pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    adj = (
        ex.withColumn("next", F.lead("token").over(w))
        .filter(F.col("next").isNotNull() & (F.col("token") != F.col("next")))
        .select(F.col("token").alias("src"), F.col("next").alias("dst"))
    )
    edges = adj.union(adj.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    ranks = pagerank(edges, "src", "dst", n_iter=6)
    return (
        ranks.select(F.col("node").alias("token"), F.round("rank", 6).alias("score"))
        .orderBy(F.desc("score"), "token")
        .limit(25)
    )


_REGION_VALUES = ", ".join(f"({a}, {b}, {c}, {d})" for a, b, c, d in REGIONS)

QUERIES = {
    "q_spatial_join": q_spatial_join,
    "q_feature_hash": q_feature_hash,
    "q_sql_udf": q_sql_udf,
    "q_weighted_sample": q_weighted_sample,
    "q_target_encode": q_target_encode,
    "q_quantile_norm": q_quantile_norm,
    "q_textrank": q_textrank,
}

ORACLES = {
    "q_spatial_join": f"""
        WITH pts AS (
          SELECT event_id,
                 {_md5_coord_sql('event_id', 'x')} AS x,
                 {_md5_coord_sql('event_id', 'y')} AS y
          FROM events
        ), regions(region_id, cx, cy, r) AS (VALUES {_REGION_VALUES})
        SELECT region_id, CAST(COUNT(*) AS BIGINT) AS n_points
        FROM pts JOIN regions
          ON (x - cx) * (x - cx) + (y - cy) * (y - cy) <= r * r
        GROUP BY region_id
    """,
    "q_feature_hash": """
        WITH toks AS (
          SELECT doc_id,
                 unnest(string_split_regex(trim(text), '\\s+')) AS token
          FROM documents WHERE doc_id < 100
        )
        SELECT doc_id,
               list_reduce(list_transform(range(1, 16),
                 j -> CAST(strpos('0123456789abcdef',
                      substr(md5(token), j, 1)) - 1 AS BIGINT)),
                 (a, b) -> a * 16 + b) % 256 AS feature_idx,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM toks GROUP BY 1, 2
    """,
    "q_sql_udf": """
        SELECT l_returnflag,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
                 AS sum_disc_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
                 AS sum_charged
        FROM lineitem GROUP BY l_returnflag
    """,
    "q_weighted_sample": """
        WITH d AS (
          SELECT doc_id, n_chars,
                 (list_reduce(list_transform(range(1, 16),
                    j -> CAST(strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR)), j, 1)) - 1
                         AS BIGINT)),
                    (a, b) -> a * 16 + b) % 1000000 + 1) / 1000001.0 AS u
          FROM documents
        )
        SELECT doc_id, n_chars
        FROM d ORDER BY -ln(u) / n_chars, doc_id LIMIT 100
    """,
    "q_target_encode": """
        WITH per_cat AS (
          SELECT event_type, SUM(value) AS s, COUNT(*) AS n
          FROM events GROUP BY event_type
        ), prior AS (SELECT AVG(value) AS p FROM events)
        SELECT event_id, e.event_type,
               ROUND(value, 6) AS value_r,
               ROUND((c.s - e.value + 10.0 * prior.p) / (c.n - 1 + 10.0), 6)
                 AS te
        FROM events e
        JOIN per_cat c ON e.event_type = c.event_type
        CROSS JOIN prior
    """,
    "q_quantile_norm": """
        WITH ranked AS (
          SELECT event_id, event_type, value,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY value, event_id) AS rk
          FROM events
          WHERE event_type IN ('click', 'view', 'purchase')
        ), ref AS (
          SELECT rk, AVG(value) AS ref FROM ranked GROUP BY rk
        )
        SELECT event_id, event_type, CAST(r.rk AS BIGINT) AS rk,
               ROUND(ref.ref, 6) AS qnorm_value
        FROM ranked r JOIN ref ON r.rk = ref.rk
    """,
}
