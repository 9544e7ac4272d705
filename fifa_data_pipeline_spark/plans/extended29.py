"""Round-7 additions: training-set CURATION ANALYTICS — the
reports a data team reads before committing a corpus to a training
run. Reference scope note: the reference pipeline
(``prefect/spark/fifa_spark.py``) has no curation surface at all;
these extend the LLM-data-pipeline layer the build brief makes
first-class.

1. **Hard-negative mining** (q_hard_negatives) — for every anchor
   embedding, the k most-similar vectors with a DIFFERENT label: the
   near-miss negatives contrastive objectives (InfoNCE, triplet) are
   trained on. Exact Arrow/BLAS scoring of an anchor panel, label
   filter fused BEFORE the rank
   (:func:`operators.vector.hard_negatives_pandas`).
2. **Duplication inflation** (q_dup_inflation) — per source, the
   expected number of copies of a uniformly sampled document's
   content (Σc²/Σc over exact-dup cluster sizes c): the factor by
   which duplicates inflate effective epochs of memorization-prone
   text. Integer micro-units end-to-end.
3. **Temperature-mixture weights** (q_mixture_weights) — the α=0.5
   sampling weights w_s ∝ tokens_s^α used to up-sample tail
   sources/languages (multilingual-LM recipe), plus each source's
   natural share and the resulting boost factor. All shares are
   exact half-up integer quotients in ppm/micro units, so the report
   hashes identically in both engines.
4. **Token-budget corpus selection** (q_budget_select) — per source,
   the greedy quality-ordered prefix that spends half the token
   budget: "train on the best half", with integer-exact boundary
   semantics and the partition-parallel prefix machinery underneath.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fifa_data_pipeline_spark.operators import text as X
from fifa_data_pipeline_spark.sources.io import read_table

QUERIES: dict = {}
ORACLES: dict = {}


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 hard negatives (most-similar DIFFERENT-label vectors)
    for a fixed 40-anchor panel (``vec_id < 40`` — a bounded panel
    keeps the exact-scoring demo O(|corpus|) at every sf; mining
    negatives for EVERY row is the operator's general contract and
    scales as the block-partitioned |A|×|C| grid, which is the
    honest cost of exact mining — ANN-bucket the anchors first when
    |A| is corpus-sized). The label predicate is fused before the
    rank. Scored by the Arrow/BLAS panel form
    (:func:`operators.vector.hard_negatives_pandas` — one matmul per
    batch + exact batch-local top-k prune, so the rank shuffle sees
    O(batches·anchors·k) rows, never the |A|×|C| grid). Measured at
    sf1 (500k×40 grid, fresh-session min-of-3): a block-partitioned
    HOF fold took 1.15 s → Arrow 0.88 s, vs DuckDB 0.32 s. The
    residual is Arrow transfer of the 128 MB embedding column into
    Python (the matmul itself is ~50 ms) against DuckDB's in-process
    C++ ``list_cosine_similarity`` kernel — Spark SQL has no native
    vector-similarity function to stay JVM-side with; the HOF fold
    that does stay JVM-side loses to the BLAS batch anyway (same
    verdict as quantize_int8, the numeric fixed-width family's winner
    is the Arrow kernel)."""
    from fifa_data_pipeline_spark.operators.vector import (
        hard_negatives_pandas,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 40)
    return hard_negatives_pandas(emb, anchors, k=3)


QUERIES["q_hard_negatives"] = q_hard_negatives

ORACLES["q_hard_negatives"] = """
    WITH q AS (
      SELECT vec_id AS qid, label AS anchor_label,
             CAST(embedding AS DOUBLE[]) AS qe
      FROM embeddings WHERE vec_id < 40
    ), s AS (
      SELECT q.qid, q.anchor_label, e.vec_id, e.label AS neg_label,
             ROUND(list_cosine_similarity(
               CAST(e.embedding AS DOUBLE[]), q.qe), 6) AS sim
      FROM embeddings e, q WHERE e.label <> q.anchor_label
    ), r AS (
      SELECT qid, anchor_label, vec_id, neg_label, sim,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY qid ORDER BY sim DESC, vec_id ASC
             ) AS INTEGER) AS rank
      FROM s
    )
    SELECT qid, anchor_label, vec_id, neg_label, sim, rank
    FROM r WHERE rank <= 3
"""


def q_dup_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication-inflation report from exact-duplicate
    clusters (MD5 fingerprint of the normalized text): ``n_docs``,
    ``n_unique``, ``dup_docs``, and ``inflation_micro`` = Σc²/Σc in
    half-up micro-units — the expected number of times a uniformly
    sampled document's content appears in the corpus, i.e. the
    effective-epoch multiplier duplicates impose on memorization.

    Scale shape: one map-side-combined hash aggregate on (source,
    16-byte fingerprint) — the only fact-sized shuffle — then a
    source-sized aggregate. The Σc² algebra means the report never
    materializes clusters or pairs, so a pathological 10M-copy
    boilerplate cluster costs one row, not 10M²."""
    docs = read_table(spark, sf_dir, "documents")
    clusters = (
        X.fingerprint(docs.select("source", "text"))
        .groupBy("source", "fp")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        clusters.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_unique"),
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("__c2"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique",
            (F.col("n_docs") - F.col("n_unique")).alias("dup_docs"),
            F.expr("(2 * __c2 * 1000000 + n_docs) div (2 * n_docs)")
            .cast("bigint")
            .alias("inflation_micro"),
        )
    )


QUERIES["q_dup_inflation"] = q_dup_inflation

ORACLES["q_dup_inflation"] = """
    WITH cl AS (
      SELECT source, md5(lower(trim(text))) AS fp, COUNT(*) AS c
      FROM documents GROUP BY 1, 2
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_unique,
           CAST(SUM(c) - COUNT(*) AS BIGINT) AS dup_docs,
           CAST((2 * SUM(c * c) * 1000000 + SUM(c))
                // (2 * SUM(c)) AS BIGINT) AS inflation_micro
    FROM cl GROUP BY source
"""


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-α data-mixture planner (α = 0.5): per source, its
    exact whitespace token count, natural corpus share, the
    tokens^0.5-proportional sampling weight, and the boost factor the
    re-weighting applies (>1 = up-sampled tail source). Shares are
    half-up integer quotients (ppm), the √tokens leg is floored to
    integer micro-units first (IEEE sqrt is correctly rounded, so
    both engines floor the same double) — the whole report is
    integer-exact and hash-stable.

    Scale shape: one token-counting projection (array-free
    ``regexp_count`` — the r6 counting pass) into a source-keyed
    partial aggregate; the share normalization joins the one-row
    total back via broadcast. Nothing after the first aggregate is
    larger than the source list."""
    docs = read_table(spark, sf_dir, "documents")
    per = (
        docs.select("source", X.token_count_expr("text").alias("__t"))
        .groupBy("source")
        .agg(F.sum("__t").cast("bigint").alias("n_tokens"))
        .withColumn(
            "__s_micro",
            F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1e6).cast(
                "bigint"
            ),
        )
    )
    totals = per.agg(
        F.sum("n_tokens").cast("bigint").alias("__t_total"),
        F.sum("__s_micro").cast("bigint").alias("__s_total"),
    )
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_tokens",
            F.expr("(2 * n_tokens * 1000000 + __t_total) div (2 * __t_total)")
            .cast("bigint")
            .alias("natural_ppm"),
            F.expr(
                "(2 * __s_micro * 1000000 + __s_total) div (2 * __s_total)"
            )
            .cast("bigint")
            .alias("weight_ppm"),
        )
        .withColumn(
            # greatest(natural_ppm, 1): a source whose share rounds to
            # 0 ppm (< 0.5 ppm under extreme skew) must not divide by
            # zero — Spark's non-ANSI div returns NULL there while
            # DuckDB's // raises, so the two engines would diverge on
            # adversarial corpora. Clamping in BOTH keeps them equal
            # by construction (r8 advice).
            "boost_micro",
            F.expr(
                "(2 * weight_ppm * 1000000 + greatest(natural_ppm, 1))"
                " div (2 * greatest(natural_ppm, 1))"
            ).cast("bigint"),
        )
    )


QUERIES["q_mixture_weights"] = q_mixture_weights

ORACLES["q_mixture_weights"] = r"""
    WITH per AS (
      SELECT source,
             CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY source
    ), m AS (
      SELECT source, n_tokens,
             CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
               AS s_micro
      FROM per
    ), t AS (
      SELECT CAST(SUM(n_tokens) AS BIGINT) AS t_total,
             CAST(SUM(s_micro) AS BIGINT) AS s_total
      FROM m
    ), shares AS (
      SELECT source, n_tokens,
             CAST((2 * n_tokens * 1000000 + t_total)
                  // (2 * t_total) AS BIGINT) AS natural_ppm,
             CAST((2 * s_micro * 1000000 + s_total)
                  // (2 * s_total) AS BIGINT) AS weight_ppm
      FROM m, t
    )
    SELECT source, n_tokens, natural_ppm, weight_ppm,
           CAST((2 * weight_ppm * 1000000 + greatest(natural_ppm, 1))
                // (2 * greatest(natural_ppm, 1)) AS BIGINT) AS boost_micro
    FROM shares
"""


def q_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: per source, greedily keep the
    highest-quality documents until HALF the source's token budget is
    spent (whole docs, prefix rule: a doc is kept iff the cumulative
    token count INCLUDING it stays ≤ ⌊total/2⌋ — expressed as
    ``2·cum ≤ total`` so the boundary is integer-exact in both
    engines). The quality key is ``q_text_quality``'s oracled score
    in micro-units, ties broken by doc_id. Reports per source:
    corpus size, tokens kept, and the quality cutoff that made the
    cut — the planning numbers behind "train on the best half".

    Scale shape: the quality/token projection is scan-fused; the
    cumulative-token ordering runs through the partition-parallel
    prefix machinery (:func:`relational.grouped_running_sums_bucketed`
    — quality-score buckets + per-bucket offsets, so no source ever
    sorts its whole document set in one task; the few-value ``source`` key is
    exactly the 100 TB window-funnel trap this machinery removes);
    the final rollup is source-sized. Sources whose single best doc
    already exceeds the half budget select nothing and drop out —
    the SQL twin shares that inner-join semantics."""
    from fifa_data_pipeline_spark.operators.relational import (
        grouped_running_sums_bucketed,
    )
    from fifa_data_pipeline_spark.operators.text import token_counts
    from fifa_data_pipeline_spark.sources.io import (
        footer_uncompressed_bytes,
    )

    docs = read_table(spark, sf_dir, "documents")
    # Carry ONLY ``__negq`` (descending-quality order key) into the
    # machinery and derive q_micro back as 1e6 − __negq afterwards:
    # if q_micro rides alongside, Catalyst prunes it from the
    # machinery's totals branch but not the main branch, the two
    # window exchanges canonicalize differently, and ReuseExchange
    # cannot unify them — the corpus tokenizes once per branch
    # (measured 3× at r8). With an identical column set everywhere,
    # ALL consumers (prefix window, per-bucket totals, per-source
    # totals) share ONE exchange: one tokenize pass total.
    #
    # r10: that one tokenize pass now runs in the Arrow/RE2 kernel
    # (:func:`text.token_counts_arrow`, integer counts bit-identical
    # to ``text_stats``'s JVM expressions — ``tools/ab_tokenize.py``);
    # the quality score is rebuilt from the counts with exactly
    # ``text_stats``'s arithmetic, so __negq is unchanged.
    per = token_counts(
        docs.select("source", "doc_id", "text"),
        ws_alias="n_tokens",
        stop_alias="__stop",
        input_bytes=footer_uncompressed_bytes(
            f"{sf_dir}/documents.parquet"
        ),
    )
    quality = F.round(
        F.least(F.col("n_tokens"), F.lit(50)) / F.lit(50.0)
        * (
            F.lit(1.0)
            - F.round(F.col("__stop") / F.col("n_tokens"), 6)
        ),
        6,
    )
    ranked = per.select(
        "source",
        "doc_id",
        F.col("n_tokens"),
        (
            F.lit(1_000_000) - F.round(quality * 1e6).cast("bigint")
        ).alias("__negq"),
        F.lit(1).alias("__one"),
    )
    # Bucketed prefix machinery on the composite (__negq, doc_id)
    # order: __negq is a micro-unit in [0, 1e6] BY CONSTRUCTION, so
    # the bucket bounds are static literals — no probe job at all
    # (r8: one spine shuffle, no checkpoint pin). ``emit_totals``
    # puts the per-source grand totals (tokens_total, n_docs via the
    # constant-1 column) on every row from the machinery's
    # metadata-sized offsets branch — r8's separate
    # ``cum.groupBy(source)`` totals consumer was a third fact-level
    # sort+window pass over the reused exchange (the measured 2.57×
    # residual, r9 verdict #3); this removes it outright.
    cum = grouped_running_sums_bucketed(
        ranked, ["source"], ["__negq", "doc_id"], ["n_tokens", "__one"],
        bounds=(0, 1_000_000), emit_totals=True,
    ).withColumn("q_micro", F.lit(1_000_000) - F.col("__negq"))
    kept = cum.filter(
        2 * F.col("n_tokens_rsum") <= F.col("n_tokens_gsum")
    )
    return kept.groupBy("source").agg(
        F.max("__one_gsum").cast("bigint").alias("n_docs"),
        F.max("n_tokens_gsum").cast("bigint").alias("tokens_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_selected"),
        F.max("n_tokens_rsum").cast("bigint").alias("tokens_selected"),
        F.min("q_micro").cast("bigint").alias("cutoff_q_micro"),
    )


QUERIES["q_budget_select"] = q_budget_select

ORACLES["q_budget_select"] = r"""
    WITH t AS (
      SELECT source, doc_id, text,
             string_split_regex(trim(text), '\s+') AS toks
      FROM documents
    ), s AS (
      SELECT source, doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(ROUND(
               ROUND(LEAST(len(toks), 50) / 50.0 *
                 (1.0 - ROUND(len(list_filter(toks,
                    t -> t = 'the' OR t = 'a')) / len(toks), 6)), 6)
               * 1000000) AS BIGINT) AS q_micro
      FROM t
    ), cum AS (
      SELECT source, doc_id, n_tokens, q_micro,
             SUM(n_tokens) OVER (
               PARTITION BY source
               ORDER BY q_micro DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS n_tokens_rsum
      FROM s
    ), tot AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS tokens_total
      FROM s GROUP BY source
    )
    SELECT c.source,
           MAX(t.n_docs) AS n_docs,
           MAX(t.tokens_total) AS tokens_total,
           CAST(COUNT(*) AS BIGINT) AS n_selected,
           CAST(MAX(c.n_tokens_rsum) AS BIGINT) AS tokens_selected,
           CAST(MIN(c.q_micro) AS BIGINT) AS cutoff_q_micro
    FROM cum c JOIN tot t USING (source)
    WHERE 2 * c.n_tokens_rsum <= t.tokens_total
    GROUP BY c.source
"""
