"""SQL-surface parity & corpus-economics queries (round 4, batch 4):
correlated LATERAL top-n, sequence-length bucketing with padding
waste, and the cross-source duplication matrix.

All oracle-checked; the LATERAL query runs the IDENTICAL SQL text on
both engines (modern-SQL surface parity, like the recursive CTE in
extended9)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fifa_data_pipeline_spark.operators.util import pin

from fifa_data_pipeline_spark.operators.text import STOPWORDS
from fifa_data_pipeline_spark.sources.io import read_table, register_views

#: Shared SQL text for the LATERAL query — Spark ≥3.2 and DuckDB
#: both execute it verbatim (Catalyst decorrelates the LATERAL into
#: a ranked window join; DuckDB into a dependent join).
#: DuckDB twin of the stopword-hit predicate (same list as
#: operators/text.py STOPWORDS; mirrors the q_lang_id oracle).
_STOP_PRED = " OR ".join(f"t = '{w}'" for w in STOPWORDS)

_TOKS = "string_split_regex(trim(text), '\\s+')"

_LATERAL_SQL = """
    SELECT n.n_name, t.c_name, t.c_acctbal
    FROM nation n,
    LATERAL (SELECT c_name, c_acctbal FROM customer c
             WHERE c.c_nationkey = n.n_nationkey
             ORDER BY c_acctbal DESC, c_name LIMIT 2) t
"""


def q_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (top-2 customers per nation by
    balance): the modern-SQL dependent-join surface. Catalyst
    DECORRELATES the lateral into a window/limit over one shuffle —
    verify with .explain(): no per-nation re-scan of customer, no
    nested loop — which is exactly why declarative lateral beats a
    hand-written loop at scale."""
    register_views(spark, sf_dir, ["nation", "customer"])
    return spark.sql(_LATERAL_SQL)


def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing economics: documents grouped into
    power-of-two token-length buckets (min 16), reporting per bucket
    the document count, real token mass, padded mass (bucket size ×
    docs, i.e. what a fixed-shape batch would allocate), and the
    padding waste ratio — the number that decides between bucketed
    batching and sequence packing (`q_seq_pack`). Pure per-row
    arithmetic + one tiny hash aggregate; exact powers of two are FP-
    exact in both engines so the bucket edges can't drift."""
    docs = read_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim("text"), r"\s+")).cast("bigint")
    bucket = F.greatest(
        F.lit(16).cast("bigint"),
        F.pow(F.lit(2.0), F.ceil(F.log2(n_tok))).cast("bigint"),
    )
    per = docs.select(bucket.alias("bucket"), n_tok.alias("__n"))
    return per.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__n").alias("real_tokens"),
        (F.first("bucket") * F.count(F.lit(1))).alias("padded_tokens"),
        F.round(
            1 - F.sum("__n") / (F.first("bucket") * F.count(F.lit(1))), 6
        ).alias("waste_ratio"),
    )


def q_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for each ordered source pair
    (a, b), how many of a's distinct PREFIX fingerprints (md5 of the
    first 8 tokens — the boilerplate/template-opening signature;
    whole-document hashing finds nothing here because cross-source
    copies are near-dups, not byte dups) also occur in b, and the
    share of a's corpus that overlap represents — the between-sources
    contamination census that decides dedup ORDER (dedup high-overlap
    sources against each other first). One distinct (source, fp)
    projection, one self-join keyed on the fingerprint (each fp meets
    only its own group — no quadratic blowup beyond per-fp source
    counts), one aggregate. The distinct (source, fp) frame is
    pinned (lazy localCheckpoint): the self-join's two legs and the
    per-source totals otherwise each re-run the scan + md5 +
    distinct shuffle (r7, same surgery as extended19._dup_pairs)."""
    docs = read_table(spark, sf_dir, "documents")
    prefix = F.concat_ws(
        " ", F.slice(F.split(F.trim("text"), r"\s+", 9), 1, 8)
    )
    fp = (
        docs.select("source", F.md5(prefix).alias("fp"))
        .distinct()
        .transform(pin("ext13"))
    )
    a = fp.select(F.col("source").alias("src_a"), "fp")
    b = fp.select(F.col("source").alias("src_b"), "fp")
    per_src = fp.groupBy("source").agg(F.count(F.lit(1)).alias("__n_a"))
    return (
        a.join(b, "fp")
        .filter(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .join(
            F.broadcast(per_src.withColumnRenamed("source", "src_a")),
            "src_a",
        )
        .select(
            "src_a",
            "src_b",
            "n_shared",
            F.round(F.col("n_shared") / F.col("__n_a"), 6).alias("share_of_a"),
        )
    )



def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-feed materialization: the event log is read as a
    change stream (signup→INSERT, error→DELETE, everything else→
    UPSERT, ordered per key by (epoch, event_id)); applying it means
    keeping each key's LATEST change and dropping keys whose latest
    op is a delete — the core of every lakehouse MERGE-from-CDC job.
    One window rank over the key (WindowGroupLimit prunes to local
    winners pre-shuffle), then a filter; no join against the target
    needed for a full rebuild, and the same plan bounded by a
    watermark is the incremental variant."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
    )
    feed = ev.select(
        "user_id",
        op.alias("op"),
        F.unix_timestamp("ts").cast("bigint").alias("ep"),
        "event_id",
        "value",
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ep"), F.desc("event_id")
    )
    return (
        feed.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("op") != "D"))
        .select(
            "user_id",
            F.col("op").alias("last_op"),
            F.col("ep").alias("applied_at"),
            F.round("value", 6).alias("value_r"),
        )
    )


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-metadata audit: confusion matrix of the declared
    ``lang`` column vs the stopword-heuristic ``lang_id`` guess,
    with per-declared-lang share — the mislabeled-language census a
    corpus-curation pass runs before per-language filtering. One
    per-row expression + two stacked aggregates (cell counts, then
    row totals folded in via a window-free share division)."""
    from fifa_data_pipeline_spark.operators.text import lang_id

    # NULL lang rows are dropped, as the DuckDB twin's inner join on
    # lang drops them (NULL never equals NULL).
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull()
    )
    guessed = lang_id(docs)
    cells = guessed.groupBy("lang", "lang_guess").agg(
        F.count(F.lit(1)).alias("n")
    )
    # r12 (guide §2.4): the totals side used to be a SECOND aggregate
    # over ``cells`` joined back — but ``cells`` is a plan subtree,
    # not a materialized table, so the totals branch re-executed the
    # whole corpus scan + lang_id + aggregate (2 scans, no exchange
    # reuse: the branches prune different columns and never
    # canonicalize equal). A window SUM over the |lang|×|guess|-sized
    # cells computes the identical LONG total with one cells-sized
    # exchange and ONE corpus pass. Same rows (the inner join on a
    # non-NULL lang always matched), same values.
    from pyspark.sql import Window

    w = Window.partitionBy("lang")
    return cells.select(
        "lang",
        "lang_guess",
        "n",
        F.round(F.col("n") / F.sum("n").over(w), 6).alias(
            "share_of_lang"
        ),
    )



def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer features from the event log: Recency (days since
    the user's last purchase, relative to the corpus max day),
    Frequency (purchase count) and Monetary (purchase value sum) —
    the canonical behavioral feature triple. One conditional
    aggregate per user plus a broadcast one-row global max; users
    with no purchases are excluded (no R/F/M is defined for them)."""
    ev = read_table(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("int")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", day.alias("__day"), "value"
    )
    per_user = p.groupBy("user_id").agg(
        F.max("__day").alias("__last"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("value"), 6).alias("monetary"),
    )
    global_max = p.agg(F.max("__day").alias("__gmax"))
    return per_user.crossJoin(F.broadcast(global_max)).select(
        "user_id",
        (F.col("__gmax") - F.col("__last")).alias("recency_days"),
        "frequency",
        "monetary",
    )



def q_cosine_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide cosine scoring against one seeded query vector via
    the ``mapInArrow`` kernel (zero-copy Arrow→numpy→BLAS, map-only —
    no shuffle at any scale); the oracle recomputes the identical
    algebra with DuckDB list functions over the same seeded literal.
    """
    from fifa_data_pipeline_spark.operators.vector import (
        cosine_scores_arrow,
        random_hyperplanes,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    q = random_hyperplanes(1, 64, seed=7)[0]
    return cosine_scores_arrow(emb, q, "vec_id", "embedding")


def _cosine_arrow_oracle() -> str:
    from fifa_data_pipeline_spark.operators.vector import random_hyperplanes

    q = random_hyperplanes(1, 64, seed=7)[0]
    qlit = "[" + ", ".join(repr(float(x)) for x in q) + "]"
    qq = "list_dot_product(q, q)"
    return f"""
        WITH qv AS (SELECT {qlit}::DOUBLE[] AS q),
        e AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        )
        SELECT vec_id,
               ROUND(list_dot_product(v, q) /
                     (sqrt(list_dot_product(v, v)) * sqrt({qq})), 6) AS sim
        FROM e, qv
    """




def q_media_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal byte pooling (thumbnail/downsample stand-in): every
    complete 32-byte payload window reduced to its mean via the
    one-to-many mapInPandas kernel; ASCII corpus makes the byte
    arithmetic reproducible in SQL."""
    from fifa_data_pipeline_spark.operators.multimodal import (
        attach_payload,
        pool_bytes,
    )

    docs = read_table(spark, sf_dir, "documents")
    return pool_bytes(attach_payload(docs))


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the prefix-fingerprint duplicate graph
    (edges = document pairs sharing an identical 8-token opening,
    the q_cross_source_dups construction) — the clustering-
    coefficient numerator that distinguishes clique-like template
    families from chains. Ordered-triple join (a<b<c) counts each
    triangle once; edges are fingerprint-grouped (never all-pairs),
    and at 100 TB the same two node-keyed joins run on any
    candidate-pair edge set.

    r7: shares :func:`extended19._dup_pairs` (pinned fingerprint
    frame, the two no-op DISTINCTs dropped — doc_id is the primary
    key, so both were pure shuffle tax), and the edge set is pinned
    so the three triangle legs materialize it once."""
    from fifa_data_pipeline_spark.plans.extended19 import _dup_pairs

    pairs = _dup_pairs(spark, sf_dir).transform(pin("ext13"))
    e1 = pairs.select(F.col("id_a").alias("x"), F.col("id_b").alias("y"))
    e2 = pairs.select(F.col("id_a").alias("y"), F.col("id_b").alias("z"))
    e3 = pairs.select(F.col("id_a").alias("x"), F.col("id_b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    return tri.agg(F.count(F.lit(1)).alias("n_triangles"))


QUERIES = {
    "q_lateral_topn": q_lateral_topn,
    "q_length_buckets": q_length_buckets,
    "q_cross_source_dups": q_cross_source_dups,
    "q_cdc_apply": q_cdc_apply,
    "q_lang_confusion": q_lang_confusion,
    "q_rfm": q_rfm,
    "q_cosine_arrow": q_cosine_arrow,
    "q_media_pool": q_media_pool,
    "q_triangles": q_triangles,
}

ORACLES = {
    "q_lateral_topn": _LATERAL_SQL,
    "q_length_buckets": r"""
        WITH per AS (
          SELECT GREATEST(16, CAST(pow(2, ceil(log2(
                   len(string_split_regex(trim(text), '\s+'))))
                 ) AS BIGINT)) AS bucket,
                 CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                   AS n
          FROM documents
        )
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n) AS BIGINT) AS real_tokens,
               CAST(bucket * COUNT(*) AS BIGINT) AS padded_tokens,
               ROUND(1 - SUM(n) / CAST(bucket * COUNT(*) AS DOUBLE), 6)
                 AS waste_ratio
        FROM per GROUP BY bucket
    """,
    "q_cross_source_dups": """
        WITH fp AS (
          SELECT DISTINCT source,
                 md5(array_to_string(
                   string_split_regex(trim(text), '\\s+')[1:8], ' ')) AS fp
          FROM documents
        ), per_src AS (
          SELECT source, COUNT(*) AS n_a FROM fp GROUP BY source
        )
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared,
               ROUND(COUNT(*) / CAST(MIN(p.n_a) AS DOUBLE), 6) AS share_of_a
        FROM fp a
        JOIN fp b ON a.fp = b.fp AND a.source <> b.source
        JOIN per_src p ON p.source = a.source
        GROUP BY a.source, b.source
    """,
    "q_cdc_apply": """
        WITH feed AS (
          SELECT user_id,
                 CASE event_type WHEN 'signup' THEN 'I'
                                 WHEN 'error' THEN 'D'
                                 ELSE 'U' END AS op,
                 CAST(FLOOR(extract(epoch FROM ts)) AS BIGINT) AS ep,
                 event_id, value
          FROM events
        ), ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY ep DESC, event_id DESC)
                      AS rn
          FROM feed
        )
        SELECT user_id, op AS last_op, ep AS applied_at,
               ROUND(value, 6) AS value_r
        FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
    "q_lang_confusion": f"""
        WITH g AS (
          SELECT lang,
                 CASE WHEN len(list_filter(
                        string_split_regex(trim(text), '\\s+'),
                        t -> {_STOP_PRED}))
                      / len(string_split_regex(trim(text), '\\s+')) >= 0.08
                      THEN 'en' ELSE 'unk' END AS lang_guess
          FROM documents
        ), cells AS (
          SELECT lang, lang_guess, COUNT(*) AS n FROM g GROUP BY 1, 2
        ), totals AS (
          SELECT lang, SUM(n) AS t FROM cells GROUP BY lang
        )
        SELECT c.lang, c.lang_guess, CAST(c.n AS BIGINT) AS n,
               ROUND(c.n / CAST(t.t AS DOUBLE), 6) AS share_of_lang
        FROM cells c JOIN totals t ON c.lang = t.lang
    """,
    "q_rfm": """
        WITH p AS (
          SELECT user_id,
                 CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INTEGER)
                   AS day,
                 value
          FROM events WHERE event_type = 'purchase'
        ), per_user AS (
          SELECT user_id, MAX(day) AS last_day,
                 CAST(COUNT(*) AS BIGINT) AS frequency,
                 ROUND(SUM(value), 6) AS monetary
          FROM p GROUP BY user_id
        )
        SELECT user_id,
               (SELECT MAX(day) FROM p) - last_day AS recency_days,
               frequency, monetary
        FROM per_user
    """,
    "q_cosine_arrow": _cosine_arrow_oracle(),
    "q_media_pool": """
        WITH n AS (
          SELECT doc_id, text,
                 CAST(floor(length(text) / 32) AS INTEGER) AS nb
          FROM documents
        ), bins AS (
          SELECT doc_id, text, CAST(unnest(range(0, nb)) AS INTEGER)
                   AS bin_idx
          FROM n WHERE nb > 0
        )
        SELECT doc_id, bin_idx,
               ROUND(list_aggregate(list_transform(range(1, 33),
                       j -> ascii(substr(text, bin_idx * 32 + j, 1))),
                     'sum') / 32.0, 6) AS mean_byte
        FROM bins
    """,
    "q_triangles": """
        WITH fps AS (
          SELECT DISTINCT doc_id,
                 md5(array_to_string(
                   string_split_regex(trim(text), '\\s+')[1:8], ' ')) AS fp
          FROM documents
        ), pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM pairs e1
        JOIN pairs e2 ON e1.id_b = e2.id_a
        JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    """,
}
