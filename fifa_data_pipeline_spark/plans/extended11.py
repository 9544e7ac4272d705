"""Audience & retrieval analytics (round 4, batch 2): rolling
distinct reach, bitmap-exact distinct rollups, sparse TF-IDF
document similarity join, last-touch attribution, tokenizer
fertility, and best-representative near-dup collapse.

All six queries carry exact DuckDB oracles; the quadratic
similarity twin restricts to doc_id < 300 like the other
deliberately-quadratic oracles (the Spark side scales via the
token-inverted-index join, the oracle is brute-force-small by
design).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fifa_data_pipeline_spark.operators import dedup as D
from fifa_data_pipeline_spark.operators import relational as R
from fifa_data_pipeline_spark.operators import text as X
from fifa_data_pipeline_spark.operators.util import materialize_once
from fifa_data_pipeline_spark.sources.io import (
    footer_uncompressed_bytes as _footer_bytes,
    read_table,
)

#: Engine-portable epoch seconds.
_EPOCH = "CAST(FLOOR(extract(epoch FROM ts)) AS BIGINT)"

_TOKS = "string_split_regex(trim(text), '\\s+')"


def q_windowed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct-user reach per active day. A windowed
    COUNT(DISTINCT) has no frame-based form in any engine without
    holding per-frame sets; the scale-right shape is: dedup to
    (day, user), EXPLODE each observation to the ≤7 target days it
    can serve (map-side, bounded fan-out), then one hash aggregate
    per target day — shuffles carry (days × users × 7) slim rows,
    never per-frame state."""
    ev = read_table(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("int")
    du = ev.select(day.alias("day"), "user_id").distinct()
    days = du.select("day").distinct()
    expanded = du.select(
        F.explode(
            F.sequence(F.col("day"), F.col("day") + F.lit(6))
        ).alias("target"),
        "user_id",
    )
    return (
        expanded.join(
            F.broadcast(days), expanded["target"] == days["day"], "inner"
        )
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("users_7d"))
    )


def q_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per event_type via bitmap aggregation:
    ids are mapped to (bucket, bit position), per-bucket bitmaps are
    OR-merged map-side (``bitmap_construct_agg``), and the final
    count sums per-bucket popcounts. The mergeable-but-exact middle
    ground between COUNT(DISTINCT) (exact, one giant shuffle of raw
    ids) and HLL (mergeable, approximate): the shuffle carries one
    32KB bitmap per (key, 32K-id bucket) however many duplicate ids
    exist."""
    ev = read_table(spark, sf_dir, "events")
    per_bucket = (
        ev.select(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("__bucket"),
            F.expr("bitmap_bit_position(user_id)").alias("__pos"),
        )
        .groupBy("event_type", "__bucket")
        .agg(F.expr("bitmap_construct_agg(__pos)").alias("__bm"))
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(__bm)")).alias("n_users")
    )


def q_doc_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity join (doc_id < 300): pairs of
    documents with cosine ≥ 0.85 over their 6-dp TF-IDF weight
    vectors. The join is an inverted-index self-join ON TOKEN — cost
    is Σ_token df², not n² documents — with per-doc norms hoisted
    into tiny broadcastable aggregates; corpus-wide tokens (df = N)
    carry zero idf weight and are pruned before the join. The DuckDB
    twin runs the same algebra brute-force-small."""
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    # the weight table feeds THREE consumers (norms + both join
    # sides); materialize_once pins the tokenize+tf+idf work once
    # instead of re-deriving it per consumer (measured 1.24s → 0.82s
    # warm at sf0.1; 'table' mode for cluster durability).
    w = materialize_once(
        X.tfidf(docs, "doc_id", "text").filter(F.col("tfidf") > 0),
        name="tfidf_w",
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("tfidf") * F.col("tfidf"))).alias("__nrm")
    )
    a = w.select(
        F.col("doc_id").alias("id_a"),
        F.col("token"),
        F.col("tfidf").alias("__wa"),
    )
    b = w.select(
        F.col("doc_id").alias("id_b"),
        F.col("token"),
        F.col("tfidf").alias("__wb"),
    )
    dots = (
        a.join(b, "token")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("__wa") * F.col("__wb")).alias("__dot"))
    )
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("__nrm").alias("__na"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("__nrm").alias("__nb"))
    cos = F.round(F.col("__dot") / (F.col("__na") * F.col("__nb")), 6)
    return (
        dots.join(F.broadcast(na), "id_a")
        .join(F.broadcast(nb), "id_b")
        .select("id_a", "id_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.85)
    )


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the most
    recent non-purchase event of the same user within 24 hours
    (canonicalized per second: ties at the same timestamp resolve to
    the lexicographically-largest channel, shared with the oracle).
    Reuses :func:`~...relational.as_of_join` — union + running-last,
    ONE shuffle on user_id, no per-purchase probe — then one tiny
    aggregate over channels."""
    ev = read_table(spark, sf_dir, "events")
    ep = F.unix_timestamp("ts").cast("bigint")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", ep.alias("ep")
    )
    touches = (
        ev.filter(F.col("event_type") != "purchase")
        .select("user_id", ep.alias("tep"), "event_type")
        .groupBy("user_id", "tep")
        .agg(F.max("event_type").alias("channel"))
    )
    joined = R.as_of_join(
        purchases, touches, "user_id", "ep", "tep", ["channel", "tep"]
    )
    return (
        joined.filter(
            F.col("prior_tep").isNotNull()
            & (F.col("ep") - F.col("prior_tep") <= 86400)
        )
        .groupBy(F.col("prior_channel").alias("channel"))
        .agg(F.count(F.lit(1)).alias("n_conversions"))
    )


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility report per language: characters per
    BPE-ish token (the compression ratio that drives context-window
    cost per language) and mean tokens per document — two sums and a
    count in one aggregate over per-row token counts.

    Perf history: the entire cost is the BPE alternation regex scan
    over the corpus, and through r9 that ran on java.util.regex
    (``regexp_count``; ~0.90 s sf1 vs ~0.47 s DuckDB/RE2 — plan-shape
    alternatives all measured no better: three single-class scans
    2.1 s, possessive quantifiers ±0, and the array/count forms share
    one physical plan). r10 closes most of the engine gap by counting
    in an Arrow/RE2 kernel (:func:`text.token_counts_arrow` —
    equality-gated A/B in ``tools/ab_tokenize.py``): 0.90→0.65 s sf1,
    8.16→3.62 s sf10, identical integer counts. The plan is otherwise
    unchanged and remains the 100× plan: one map-only projection +
    one partial-agg shuffle of 5 rows/partition."""
    docs = read_table(spark, sf_dir, "documents")
    per = X.token_counts(
        docs.select("lang", "text"),
        bpe_alias="__toks",
        chars_alias="__chars",
        input_bytes=_footer_bytes(f"{sf_dir}/documents.parquet"),
    )
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__toks").alias("total_tokens"),
        F.round(F.sum("__chars") / F.sum("__toks"), 6).alias(
            "chars_per_token"
        ),
        F.round(F.sum("__toks") / F.count(F.lit(1)), 6).alias(
            "tokens_per_doc"
        ),
    )


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup collapse keeping the BEST representative: connected
    components over the exact Jaccard pair graph (doc_id < 200, the
    q_dedup_cc construction), then per component keep the longest
    document (tie → smallest doc_id) — the quality-aware variant of
    min-id dedup (a cluster's canonical doc should be its richest,
    not its first). One window over the component key computes both
    the winner and the member count."""
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    # bounded input: all_pairs_jaccard, not the unbounded prefix join
    pairs = D.all_pairs_jaccard(
        docs, "doc_id", "text", k=3, threshold=0.5
    ).select("id_a", "id_b")
    cc = D.connected_components(pairs)
    labeled = (
        docs.select("doc_id", "n_chars")
        .join(cc, docs["doc_id"] == cc["node"], "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce("label", "doc_id").alias("component"),
        )
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    wc = Window.partitionBy("component")
    return (
        labeled.withColumn("__rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc))
        .filter(F.col("__rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("kept_doc_id"),
            F.col("n_chars").alias("kept_chars"),
            "n_members",
        )
    )


QUERIES = {
    "q_windowed_distinct": q_windowed_distinct,
    "q_bitmap_distinct": q_bitmap_distinct,
    "q_doc_similarity": q_doc_similarity,
    "q_attribution": q_attribution,
    "q_tokenizer_fertility": q_tokenizer_fertility,
    "q_dedup_keep_best": q_dedup_keep_best,
}

ORACLES = {
    "q_windowed_distinct": """
        WITH du AS (
          SELECT DISTINCT
                 CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INTEGER) AS day,
                 user_id
          FROM events
        ), days AS (SELECT DISTINCT day FROM du)
        SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS users_7d
        FROM days d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
        GROUP BY d.day
    """,
    "q_bitmap_distinct": """
        SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events GROUP BY event_type
    """,
    "q_doc_similarity": f"""
        WITH toks AS (
          SELECT doc_id, unnest({_TOKS}) AS token
          FROM documents WHERE doc_id < 300
        ), tf AS (
          SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2
        ), dfreq AS (
          SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1
        ), nd AS (
          SELECT COUNT(DISTINCT doc_id) AS n
          FROM documents WHERE doc_id < 300
        ), w AS (
          SELECT doc_id, token,
                 ROUND(tf * ln((SELECT n FROM nd) / df), 6) AS w
          FROM tf JOIN dfreq USING (token)
          WHERE df < (SELECT n FROM nd)
        ), norms AS (
          SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM w GROUP BY 1
        ), dots AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.w * b.w) AS dot
          FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               ROUND(dot / (na.nrm * nb.nrm), 6) AS cos_sim
        FROM dots
        JOIN norms na ON id_a = na.doc_id
        JOIN norms nb ON id_b = nb.doc_id
        WHERE ROUND(dot / (na.nrm * nb.nrm), 6) >= 0.85
    """,
    "q_attribution": f"""
        WITH e AS (
          SELECT event_id, user_id, event_type, {_EPOCH} AS ep FROM events
        ), purchases AS (
          SELECT event_id, user_id, ep FROM e WHERE event_type = 'purchase'
        ), touches AS (
          SELECT user_id, ep AS tep, MAX(event_type) AS channel
          FROM e WHERE event_type <> 'purchase' GROUP BY user_id, ep
        )
        SELECT t.channel, CAST(COUNT(*) AS BIGINT) AS n_conversions
        FROM purchases p
        ASOF JOIN touches t
          ON p.user_id = t.user_id AND t.tep <= p.ep
        WHERE p.ep - t.tep <= 86400
        GROUP BY t.channel
    """,
    "q_tokenizer_fertility": r"""
        WITH per AS (
          SELECT lang,
                 CAST(length(text) AS BIGINT) AS chars,
                 CAST(len(regexp_extract_all(text,
                      '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS toks
          FROM documents
        )
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(toks) AS BIGINT) AS total_tokens,
               ROUND(SUM(chars) / CAST(SUM(toks) AS DOUBLE), 6)
                 AS chars_per_token,
               ROUND(SUM(toks) / CAST(COUNT(*) AS DOUBLE), 6)
                 AS tokens_per_doc
        FROM per GROUP BY lang
    """,
    "q_dedup_keep_best": f"""
        WITH RECURSIVE t AS (
          SELECT doc_id, n_chars, {_TOKS} AS toks
          FROM documents WHERE doc_id < 200
        ), g AS (
          SELECT doc_id, list_distinct(
            [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
             for i in range(1, len(toks) - 1)]) AS s
          FROM t
        ), pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM g a, g b
          WHERE a.doc_id < b.doc_id
            AND ROUND(len(list_intersect(a.s, b.s)) /
                      len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.5
        ), edges AS (
          SELECT id_a AS s, id_b AS d FROM pairs
          UNION
          SELECT id_b, id_a FROM pairs
        ), reach(n, m) AS (
          SELECT doc_id, doc_id FROM t
          UNION
          SELECT r.n, e.d FROM reach r JOIN edges e ON e.s = r.m
        ), cc AS (
          SELECT n AS doc_id, MIN(m) AS component FROM reach GROUP BY n
        ), labeled AS (
          SELECT t.doc_id, t.n_chars, cc.component,
                 ROW_NUMBER() OVER (PARTITION BY cc.component
                                    ORDER BY t.n_chars DESC, t.doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY cc.component) AS n_members
          FROM t JOIN cc USING (doc_id)
        )
        SELECT component, doc_id AS kept_doc_id, n_chars AS kept_chars,
               CAST(n_members AS BIGINT) AS n_members
        FROM labeled WHERE rn = 1
    """,
}
