"""North-star queries (SURVEY.md §2.6): text analysis, dedup,
similarity search, event windowing, multimodal plumbing — each as a
``(spark, sf_dir) -> DataFrame`` with a DuckDB oracle wherever the
semantics are SQL-expressible — including the LSH family:

- xxhash64-based MinHash emits candidates that are exact-verified,
  and at oracle scale LSH recall is 1.0, so the output equals the
  brute-force all-pairs result (which IS SQL-expressible).
- Hyperplane (SRP) buckets are deterministic arithmetic over seeded
  plane constants; the oracle embeds the planes as literals and
  reproduces the buckets bit-exactly.

Still rows-only: q_knn_ivf (pyspark.ml KMeans centroids are not
reproducible in SQL; pinned against q_knn_exact by test) and
q_simhash_pairs (xxhash64 bit votes; verify stage pinned by twin
tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fifa_data_pipeline_spark.operators import (
    dedup as D,
    events as E,
    multimodal as M,
    text as X,
    vector as V,
)
from fifa_data_pipeline_spark.sources.io import read_table

_STOP_PRED = " OR ".join(f"t = '{w}'" for w in X.STOPWORDS)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return X.token_count(docs).select("doc_id", "n_tokens")


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return X.text_stats(docs).select(
        "doc_id",
        "len",
        "n_tokens",
        "avg_token_len",
        "stopword_ratio",
        "space_ratio",
        "quality_score",
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return X.lang_id(docs).select("doc_id", "lang", "lang_guess")


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return X.fingerprint(docs).select("doc_id", "fp")


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return D.exact_dedup(docs, ["text"], "doc_id").select("doc_id", "n_dups")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs 3-gram Jaccard ≥ 0.5 over a bounded id range —
    the oracle-checkable exact counterpart of the LSH pipeline."""
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    # bounded input: all_pairs_jaccard, not the unbounded prefix join
    return D.all_pairs_jaccard(docs, "doc_id", "text", k=3, threshold=0.5)


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidates verified by exact Jaccard ≥ 0.6.

    Oracle-checked against the brute-force all-pairs Jaccard: the
    verify stage makes precision exact, and at oracle scale the
    32-hash/8-band LSH has measured recall 1.0 (every true pair
    shares a band bucket), so candidates∩verified == all true pairs.
    At production scale recall is the tunable (bands × rows); the
    check pins that the split-recombine pipeline loses nothing it
    shouldn't."""
    docs = read_table(spark, sf_dir, "documents")
    cands = D.minhash_candidate_pairs(docs, "doc_id", "text")
    return D.jaccard_verify_pairs(
        docs, cands, "doc_id", "text", threshold=0.6, prune_candidates=True
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, hamming ≤ 3. Oracle-checked: the
    registered variant uses the engine-portable md5 token hash, so
    DuckDB reproduces every signature bit-for-bit, and the pigeonhole
    banding has recall 1 BY CONSTRUCTION for hamming ≤ 3 (≤3 flipped
    bits cannot touch all 4 bands) — so the banded pair set equals
    the all-pairs hamming filter at any scale. The xxhash64 variant
    stays the throughput path (see operators.dedup)."""
    docs = read_table(spark, sf_dir, "documents")
    return D.simhash_pairs(docs, "doc_id", "text", max_hamming=3, token_hash="md5")


def q_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup: surviving documents after dropping the
    larger id of each confirmed near-dup pair. Oracle-checked: the
    confirmed pair set equals the exact all-pairs Jaccard ≥ 0.6 set
    at oracle scale (see q_minhash_pairs), so the greedy drop is
    reproducible as a NOT IN over the exact pairs."""
    docs = read_table(spark, sf_dir, "documents")
    return D.near_dedup_minhash(docs, "doc_id", "text", threshold=0.6).select(
        "doc_id", "lang", "source", "n_chars"
    )


def q_dedup_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the EXACT n-gram-Jaccard pair graph
    (doc_id < 200, the q_ngram_jaccard pair set): every doc labeled
    with the smallest doc_id in its near-dup component — proper
    transitive closure (a-b-c chains collapse to a), vs the greedy
    per-pair drop. Pairs are engine-reproducible, so the star-
    contraction loop (``dedup.connected_components``) is
    oracle-checked against a DuckDB recursive CTE."""
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = D.all_pairs_jaccard(
        docs, "doc_id", "text", k=3, threshold=0.5
    ).select("id_a", "id_b")
    cc = D.connected_components(pairs)
    return docs.select("doc_id").join(
        cc, docs["doc_id"] == cc["node"], "left"
    ).select(
        "doc_id", F.coalesce("label", "doc_id").alias("component")
    )


def q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map Pandas UDF (applyInPandas): per-nation z-score of
    customer balances. Exactly reproducible in SQL window functions —
    which is the point: the Arrow/pandas path is oracle-checked
    against STDDEV_SAMP/AVG windows."""
    from fifa_data_pipeline_spark.operators.pandas_ops import grouped_zscore

    c = read_table(spark, sf_dir, "customer")
    return grouped_zscore(c, "c_nationkey", "c_custkey", "c_acctbal")


def q_knn_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k scored with per-Arrow-batch BLAS
    matrix multiply (mapInPandas) — same result as q_knn_exact at
    6-dp rounding, same oracle."""
    emb = read_table(spark, sf_dir, "embeddings")
    return V.knn_bruteforce_pandas(emb, _qset(emb), "vec_id", "embedding", k=10)


def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via SRP-LSH candidates with
    exact-cosine verification. Oracle-checked by a full DuckDB twin:
    the hyperplanes are deterministic (seed 42) and both engines fold
    the dot products in the same sequential order, so bucket ids —
    and therefore the candidate set — reproduce bit-exactly in SQL
    (verified: 500/500 identical buckets at oracle scale)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return V.embedding_near_dup_pairs(emb, "vec_id", "embedding", threshold=0.3)


def q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-cleaning pipeline (the north-star flagship):
    fingerprint-dedup → quality filter → language filter → per-source
    stats. Composes fingerprint, exact dedup, text_stats, and lang_id
    into one fused plan — the shape of a real pretraining-data
    cleaning job, fully oracle-checkable."""
    docs = read_table(spark, sf_dir, "documents")
    fp = X.fingerprint(docs)
    # canonical doc per fingerprint (exact dedup on normalized text):
    # window-min over fp — ONE shuffle and one scan, where the
    # agg+join-back form re-derives the fingerprint subtree on both
    # join inputs (value-identical; measured −25% at sf0.1)
    w = Window.partitionBy("fp")
    deduped = (
        fp.withColumn("__min_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("__min_id"))
        .drop("__min_id")
    )
    # r12 (guide §1.2): the composed text_stats→lang_id→filter form
    # re-ran the whitespace split 7× per row — PushDownPredicates
    # substitutes each derived column's full expression into every
    # filter predicate (n_tokens, quality_score, lang_guess each
    # carried their own split; quality_score alone inlines three).
    # Both the keep-predicate and the output stats now run under
    # util.let1 bindings (split once per row in the Filter, once per
    # SURVIVING row in the output Project — 7 → 2 evaluations), with
    # every expression token-for-token text_stats'/lang_id's
    # arithmetic, so the result is byte-identical (oracle-pinned):
    #   n_tokens  = size(toks) cast bigint
    #   stopword_ratio = round(stop_hits/n_tokens, 6)  [bigint/bigint]
    #   quality_score  = round(least(n_tokens,50)/50.0
    #                          * (1.0 - stopword_ratio), 6)
    #   lang_guess=='en'  ⇔  size(filter)/size(toks) >= 0.08 [int/int]
    # (null ratio → 'unk' ≠ 'en' in the old form, null predicate in
    # the new one — identical under Filter semantics).
    from fifa_data_pipeline_spark.operators.util import let1

    def _stop_hits(t):
        return F.size(F.filter(t, lambda x: x.isin(*X.STOPWORDS)))

    def _quality(nb, sb):
        sr = F.round(sb / nb, 6)
        return F.round(
            F.least(nb, F.lit(50)) / F.lit(50.0) * (F.lit(1.0) - sr), 6
        )

    def _keep(t):
        ni, si = F.size(t), _stop_hits(t)
        nb, sb = ni.cast("bigint"), si.cast("bigint")
        return (
            (nb >= 20) & (_quality(nb, sb) >= 0.3) & ((si / ni) >= 0.08)
        )

    toks = X.tokens("text")
    cleaned = deduped.filter(let1(toks, _keep)).select(
        "source",
        let1(
            toks,
            lambda t: F.struct(
                F.size(t).alias("ni"), _stop_hits(t).alias("si")
            ),
        ).alias("__s"),
    )
    n_tokens = F.col("__s.ni").cast("bigint")
    quality = _quality(n_tokens, F.col("__s.si").cast("bigint"))
    # MIN (not AVG) of the rounded scores: averaging 6dp-rounded
    # values lands exactly on .xxxxxx5 halves where engines' float
    # state diverges; MIN is a comparison, bit-exact everywhere.
    return cleaned.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tokens).alias("total_tokens"),
        F.min(quality).alias("min_quality"),
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

def _qset(emb: DataFrame) -> DataFrame:
    return emb.filter(F.col("vec_id") < 5)


def q_knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return V.knn_bruteforce(emb, _qset(emb), "vec_id", "embedding", k=10)


def q_knn_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine range search (threshold retrieval, sim >= 0.2) — the
    fixed-radius complement of q_knn_exact, zero-shuffle plan."""
    emb = read_table(spark, sf_dir, "embeddings")
    return V.range_search(emb, _qset(emb), "vec_id", "embedding", threshold=0.2)


def q_mips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact maximum-inner-product top-10 per query vector — the
    retrieval objective for dot-product-head embedding models (cosine
    normalization would discard learned magnitude). Same broadcast /
    zero-shuffle plan as q_knn_exact; oracle via DuckDB's
    list_inner_product on the identical DOUBLE[] casts."""
    emb = read_table(spark, sf_dir, "embeddings")
    return V.mips_topk(emb, _qset(emb), "vec_id", "embedding", k=10)


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact KNN JOIN with the query set kept as a DataFrame — no
    driver collect, no broadcast contract (VERDICT r3 #6). Block-
    partitioned equi-join (corpus hashed into blocks, queries
    replicated across blocks), two-level rank; bit-identical to
    q_knn_exact, so it shares its oracle verbatim."""
    emb = read_table(spark, sf_dir, "embeddings")
    return V.knn_join(emb, _qset(emb), "vec_id", "embedding", k=10)


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH approximate top-k. Oracle-checked by a DuckDB twin
    that reproduces the deterministic hyperplane buckets bit-exactly
    (same seed, same sequential fold — see q_embed_near_dup) and then
    ranks the same multi-probe candidate set."""
    emb = read_table(spark, sf_dir, "embeddings")
    return V.knn_lsh(emb, _qset(emb), "vec_id", "embedding", k=10)


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (coarse-quantizer) ANN — rows-only by design: probe-set
    membership depends on the trained KMeans cells. The exact-kNN
    semantics it approximates are hash-pinned by its exact twin
    ``q_knn_exact`` (driver-green r1-r3); recall vs that twin is
    asserted in tests."""
    emb = read_table(spark, sf_dir, "embeddings")
    return V.knn_ivf(emb, _qset(emb), "vec_id", "embedding", k=10)


# ---------------------------------------------------------------------------
# Events
# ---------------------------------------------------------------------------

def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return E.json_prop(ev).select("event_id", "k")


def q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return E.tumbling_window_agg(ev)


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return E.sessionize(ev)


def q_resample_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample with zero-filled gaps over a dense period
    spine (sequence + explode) — empty hours appear with count 0."""
    ev = read_table(spark, sf_dir, "events")
    return E.resample_fill(ev, "ts", "event_type", "1 hour")


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------

def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    mm = M.attach_payload(docs)
    return mm.select(
        "doc_id",
        F.length("payload").cast("bigint").alias("payload_len"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction over binary payloads
    (rows-only: the kernel is a Python/Arrow fake-decode). The feature
    vector is serialized to JSON for the result surface — the driver's
    canonical sort/hash requires scalar (hashable) columns."""
    docs = read_table(spark, sf_dir, "documents")
    feats = M.decode_features(M.attach_payload(docs))
    return feats.select(
        "doc_id", "payload_len", "byte_checksum", F.to_json("feat").alias("feat_json")
    )


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-to-many frame sampling via mapInPandas (rows-only)."""
    docs = read_table(spark, sf_dir, "documents")
    return M.sample_frames(M.attach_payload(docs))


QUERIES = {
    "q_token_count": q_token_count,
    "q_text_quality": q_text_quality,
    "q_lang_id": q_lang_id,
    "q_fingerprint": q_fingerprint,
    "q_dedup_exact": q_dedup_exact,
    "q_clean_corpus": q_clean_corpus,
    "q_ngram_jaccard": q_ngram_jaccard,
    "q_minhash_pairs": q_minhash_pairs,
    "q_simhash_pairs": q_simhash_pairs,
    "q_near_dedup": q_near_dedup,
    "q_dedup_cc": q_dedup_cc,
    "q_zscore": q_zscore,
    "q_knn_pandas": q_knn_pandas,
    "q_embed_near_dup": q_embed_near_dup,
    "q_knn_exact": q_knn_exact,
    "q_knn_join": q_knn_join,
    "q_mips": q_mips,
    "q_knn_range": q_knn_range,
    "q_knn_lsh": q_knn_lsh,
    "q_knn_ivf": q_knn_ivf,
    "q_json_extract": q_json_extract,
    "q_window_tumbling": q_window_tumbling,
    "q_sessionize": q_sessionize,
    "q_resample_fill": q_resample_fill,
    "q_multimodal_meta": q_multimodal_meta,
    "q_multimodal_features": q_multimodal_features,
    "q_frame_sample": q_frame_sample,
}

_TOKS = "string_split_regex(trim(text), '\\s+')"

ORACLES = {
    "q_token_count": (
        f"SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents"
    ),
    "q_text_quality": f"""
        WITH t AS (
          SELECT doc_id, text, {_TOKS} AS toks FROM documents
        ), s AS (
          SELECT doc_id,
                 CAST(length(text) AS BIGINT) AS len,
                 CAST(len(toks) AS BIGINT) AS n_tokens,
                 CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS BIGINT) AS tok_chars,
                 CAST(len(list_filter(toks, t -> {_STOP_PRED})) AS BIGINT) AS stop_hits
          FROM t
        )
        SELECT doc_id, len, n_tokens,
               ROUND(tok_chars / n_tokens, 6) AS avg_token_len,
               ROUND(stop_hits / n_tokens, 6) AS stopword_ratio,
               ROUND((len - tok_chars) / len, 6) AS space_ratio,
               ROUND(LEAST(n_tokens, 50) / 50.0 *
                     (1.0 - ROUND(stop_hits / n_tokens, 6)), 6) AS quality_score
        FROM s
    """,
    "q_lang_id": f"""
        SELECT doc_id, lang,
               CASE WHEN len(list_filter({_TOKS}, t -> {_STOP_PRED}))
                         / len({_TOKS}) >= 0.08
                    THEN 'en' ELSE 'unk' END AS lang_guess
        FROM documents
    """,
    "q_fingerprint": (
        "SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents"
    ),
    "q_dedup_exact": (
        "SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_dups "
        "FROM documents GROUP BY text"
    ),
    "q_clean_corpus": f"""
        WITH fp AS (
          SELECT *, md5(lower(trim(text))) AS fp FROM documents
        ), canonical AS (
          SELECT fp AS cfp, MIN(doc_id) AS cdoc FROM fp GROUP BY fp
        ), deduped AS (
          SELECT f.* FROM fp f
          JOIN canonical c ON f.fp = c.cfp AND f.doc_id = c.cdoc
        ), t AS (
          SELECT doc_id, source, {_TOKS} AS toks, text FROM deduped
        ), s AS (
          SELECT doc_id, source,
                 CAST(len(toks) AS BIGINT) AS n_tokens,
                 CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS BIGINT) AS tok_chars,
                 CAST(len(list_filter(toks, t -> {_STOP_PRED})) AS BIGINT) AS stop_hits
          FROM t
        ), scored AS (
          SELECT source, n_tokens,
                 ROUND(LEAST(n_tokens, 50) / 50.0 *
                       (1.0 - ROUND(stop_hits / n_tokens, 6)), 6) AS quality_score,
                 CASE WHEN stop_hits / n_tokens >= 0.08
                      THEN 'en' ELSE 'unk' END AS lang_guess
          FROM s
        )
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               MIN(quality_score) AS min_quality
        FROM scored
        WHERE n_tokens >= 20 AND quality_score >= 0.3 AND lang_guess = 'en'
        GROUP BY source
    """,
    "q_dedup_cc": f"""
        WITH RECURSIVE t AS (
          SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 200
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
        )
        SELECT n AS doc_id, MIN(m) AS component FROM reach GROUP BY n
    """,
    "q_zscore": """
        SELECT c_nationkey, c_custkey,
               ROUND((c_acctbal - AVG(c_acctbal) OVER w)
                     / STDDEV_SAMP(c_acctbal) OVER w, 6) AS z
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey)
    """,
    "q_ngram_jaccard": f"""
        WITH t AS (
          SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 200
        ), g AS (
          SELECT doc_id, list_distinct(
            [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
             for i in range(1, len(toks) - 1)]) AS s
          FROM t
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               ROUND(len(list_intersect(a.s, b.s)) /
                     len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
        FROM g a, g b
        WHERE a.doc_id < b.doc_id
          AND ROUND(len(list_intersect(a.s, b.s)) /
                    len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.5
    """,
    # q_knn_ivf: rows-only (KMeans centroids not SQL-reproducible).
    "q_mips": """
        WITH q AS (
          SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
          FROM embeddings WHERE vec_id < 5
        ), s AS (
          SELECT q.qid, e.vec_id,
                 ROUND(list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qe), 6) AS score
          FROM embeddings e, q WHERE e.vec_id <> q.qid
        ), r AS (
          SELECT qid, vec_id, score,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rank
          FROM s
        )
        SELECT qid, vec_id, score, rank FROM r WHERE rank <= 10
    """,
    "q_knn_exact": """
        WITH q AS (
          SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
          FROM embeddings WHERE vec_id < 5
        ), s AS (
          SELECT q.qid, e.vec_id,
                 ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe), 6) AS sim
          FROM embeddings e, q WHERE e.vec_id <> q.qid
        ), r AS (
          SELECT qid, vec_id, sim,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS INTEGER) AS rank
          FROM s
        )
        SELECT qid, vec_id, sim, rank FROM r WHERE rank <= 10
    """,
    "q_knn_range": """
        WITH q AS (
          SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
          FROM embeddings WHERE vec_id < 5
        )
        SELECT q.qid, e.vec_id,
               ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe), 6) AS sim
        FROM embeddings e, q
        WHERE e.vec_id <> q.qid
          AND ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe), 6) >= 0.2
    """,
    "q_json_extract": (
        "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k "
        "FROM events"
    ),
    "q_window_tumbling": """
        SELECT CAST(FLOOR(extract(epoch FROM date_trunc('hour', ts))) AS BIGINT) AS ws,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 6) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    "q_resample_fill": """
        WITH b AS (
          SELECT date_trunc('hour', MIN(ts)) AS mn,
                 date_trunc('hour', MAX(ts)) AS mx
          FROM events
        ), spine AS (
          SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h FROM b
        ), k AS (
          SELECT DISTINCT event_type FROM events
        ), c AS (
          SELECT date_trunc('hour', ts) AS h, event_type,
                 COUNT(*) AS n
          FROM events GROUP BY 1, 2
        )
        SELECT CAST(FLOOR(extract(epoch FROM s.h)) AS BIGINT) AS period_s,
               k.event_type,
               CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
        FROM spine s
        CROSS JOIN k
        LEFT JOIN c ON c.h = s.h AND c.event_type = k.event_type
    """,
    "q_sessionize": """
        WITH e AS (
          SELECT user_id, CAST(FLOOR(extract(epoch FROM ts)) AS BIGINT) AS ep,
                 ts FROM events
        ), flagged AS (
          SELECT user_id, ep,
                 CASE WHEN ep - LAG(ep) OVER w IS NULL
                        OR ep - LAG(ep) OVER w > 1800
                      THEN 1 ELSE 0 END AS is_new
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sess AS (
          SELECT user_id, ep,
                 CAST(SUM(is_new) OVER (
                   PARTITION BY user_id ORDER BY ep
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS session_idx
          FROM flagged
        )
        SELECT user_id, session_idx,
               MIN(ep) AS session_start, MAX(ep) AS session_end,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM sess GROUP BY user_id, session_idx
    """,
    "q_multimodal_meta": """
        SELECT doc_id,
               CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS payload_len,
               CAST((doc_id % 64 + 1) * 8 AS INTEGER) AS width,
               CAST((doc_id % 48 + 1) * 8 AS INTEGER) AS height
        FROM documents
    """,
}

# The Arrow/BLAS scorer rounds to the same 6 dp as the HOF scorer, so
# it shares q_knn_exact's oracle verbatim.
ORACLES["q_knn_pandas"] = ORACLES["q_knn_exact"]
# The block-partitioned KNN join uses the same scoring expression and
# 6-dp rounding as the broadcast form — oracle shared verbatim.
ORACLES["q_knn_join"] = ORACLES["q_knn_exact"]


# ---------------------------------------------------------------------------
# LSH-family oracles
# ---------------------------------------------------------------------------
# MinHash: the verify stage is exact Jaccard and LSH recall is 1.0 at
# oracle scale (measured), so the output equals exact all-pairs Jaccard,
# here a shingle-posting self-join (on sets, |A∪B| = na + nb - |A∩B|).
_SHINGLES_CTE = f"""
        WITH t AS (
          SELECT doc_id, {_TOKS} AS toks FROM documents
        ), g AS (
          SELECT doc_id, list_distinct(
            [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
             for i in range(1, len(toks) - 1)]) AS s
          FROM t
        ), post AS (
          SELECT doc_id, len(s) AS n, unnest(s) AS sh FROM g
        ), pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 ROUND(count(*) / (a.n + b.n - count(*)), 6) AS jaccard
          FROM post a JOIN post b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id, a.n, b.n HAVING jaccard >= 0.6
        )
"""

ORACLES["q_minhash_pairs"] = (
    _SHINGLES_CTE + "SELECT id_a, id_b, jaccard FROM pairs"
)

ORACLES["q_near_dedup"] = _SHINGLES_CTE + """
        SELECT doc_id, lang, source, n_chars FROM documents
        WHERE doc_id NOT IN (SELECT id_b FROM pairs)
"""


def _srp_bucket_sql(n_planes: int, dim: int = 64, seed: int = 42) -> str:
    """DuckDB twin of operators.vector.srp_bucket: the seeded planes
    are rendered as double literals and each dot product folds
    sequentially (list_reduce left fold == Spark's aggregate fold),
    so bucket ids reproduce bit-exactly."""
    from fifa_data_pipeline_spark.operators.vector import random_hyperplanes

    terms = []
    for i, plane in enumerate(random_hyperplanes(n_planes, dim, seed)):
        arr = ", ".join(repr(float(x)) for x in plane)
        d = (
            f"list_reduce(list_transform(list_zip(ve, [{arr}]), "
            f"z -> z[1] * z[2]), (acc, v) -> acc + v)"
        )
        terms.append(f"CASE WHEN {d} >= 0 THEN {1 << i} ELSE 0 END")
    return " + ".join(terms)


def _probe_list(n_planes: int) -> str:
    flips = ", ".join(f"xor(bkt, {1 << i})" for i in range(n_planes))
    return f"[bkt, {flips}]"


ORACLES["q_embed_near_dup"] = f"""
        WITH v AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
        ), b AS (
          SELECT vec_id, ve, ({_srp_bucket_sql(4)}) AS bkt FROM v
        ), probes AS (
          SELECT vec_id, ve, unnest({_probe_list(4)}) AS probe FROM b
        )
        SELECT DISTINCT a.vec_id AS id_a, p.vec_id AS id_b,
               ROUND(list_cosine_similarity(a.ve, p.ve), 6) AS sim
        FROM b a JOIN probes p ON a.bkt = p.probe AND a.vec_id < p.vec_id
        WHERE ROUND(list_cosine_similarity(a.ve, p.ve), 6) >= 0.3
"""

ORACLES["q_knn_lsh"] = f"""
        WITH v AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
        ), b AS (
          SELECT vec_id, ve, ({_srp_bucket_sql(8)}) AS bkt FROM v
        ), qp AS (
          SELECT vec_id AS qid, ve AS qe, unnest({_probe_list(8)}) AS probe
          FROM b WHERE vec_id < 5
        ), s AS (
          SELECT qp.qid, c.vec_id,
                 ROUND(list_cosine_similarity(c.ve, qp.qe), 6) AS sim
          FROM b c JOIN qp ON c.bkt = qp.probe
          WHERE c.vec_id <> qp.qid
        ), r AS (
          SELECT qid, vec_id, sim,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS INTEGER) AS rank
          FROM s
        )
        SELECT qid, vec_id, sim, rank FROM r WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# Multimodal oracles — the fake-decode kernels are deterministic byte
# arithmetic and the corpus is pure ASCII (verified), so codepoint ==
# byte and the mapInPandas plumbing twins exactly in SQL.
# ---------------------------------------------------------------------------

_BYTESUM = (
    "list_aggregate(list_transform(range(1, length({c}) + 1), "
    "j -> ord(substr({c}, j, 1))), 'sum')"
)

ORACLES["q_multimodal_features"] = f"""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS payload_len,
               CAST({_BYTESUM.format(c='text')} % 997 AS BIGINT) AS byte_checksum,
               '[' || CAST(length(text) AS VARCHAR) || '.0,'
                   || CAST(ord(substr(text, 1, 1)) AS VARCHAR) || '.0,'
                   || CAST(ord(substr(text, length(text), 1)) AS VARCHAR)
                   || '.0]' AS feat_json
        FROM documents
"""

# SimHash twin: md5-hex fold → 60-bit token hash, 60 conditional-SUM
# bit votes, sign fold, all-pairs hamming ≤ 3 (pigeonhole banding has
# recall 1 for hamming ≤ 3, so the banded Spark pair set is exactly
# the all-pairs filter).
_MD5_60 = (
    "list_reduce(list_transform(range(1, 16), "
    "j -> CAST(strpos('0123456789abcdef', substr(md5(tok), j, 1)) - 1 "
    "AS BIGINT)), (a, b) -> a * 16 + b)"
)
_SIM_VOTES = ", ".join(
    f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS c{j}"
    for j in range(60)
)
_SIM_FOLD = " + ".join(
    f"CASE WHEN c{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(60)
)

ORACLES["q_simhash_pairs"] = f"""
        WITH t AS (
          SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
        ), h AS (
          SELECT doc_id, {_MD5_60} AS h FROM t
        ), votes AS (
          SELECT doc_id, {_SIM_VOTES} FROM h GROUP BY doc_id
        ), sigs AS (
          SELECT doc_id, ({_SIM_FOLD}) AS sim FROM votes
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
        FROM sigs a, sigs b
        WHERE a.doc_id < b.doc_id
          AND bit_count(xor(a.sim, b.sim)) <= 3
"""

ORACLES["q_frame_sample"] = f"""
        WITH f AS (
          SELECT doc_id, text,
                 unnest(range(0, CAST(CEIL(length(text) / 256.0) AS BIGINT), 2))
                   AS frame_idx
          FROM documents
        ), c AS (
          SELECT doc_id, frame_idx,
                 substr(text, CAST(frame_idx * 256 + 1 AS INTEGER), 256) AS chunk
          FROM f
        )
        SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
               CAST(length(chunk) AS INTEGER) AS frame_len,
               CAST({_BYTESUM.format(c='chunk')} % 997 AS BIGINT) AS frame_checksum
        FROM c
"""
