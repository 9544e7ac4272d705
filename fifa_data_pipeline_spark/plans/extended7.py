"""Corpus-preparation queries (round 2): context-window chunking,
intra-document repetition signals, and PII scrubbing — the remaining
standard stages of a pretraining-data pipeline (chunk → score →
scrub), each a pure expression pipeline with an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fifa_data_pipeline_spark.operators import text as X
from fifa_data_pipeline_spark.sources.io import read_table

_TOKS = "string_split_regex(trim(text), '\\s+')"


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-token windows with 16-token overlap over every document —
    one row per chunk with its text and true token count."""
    docs = read_table(spark, sf_dir, "documents")
    return X.chunk_documents(docs, "doc_id", "text", chunk_tokens=64, overlap=16)


def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate 3-gram / duplicate-token ratios per document
    (Gopher-style repetition quality filters)."""
    docs = read_table(spark, sf_dir, "documents")
    return X.repetition_score(docs, "doc_id", "text", k=3)


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/phone redaction with a per-doc redaction count. The
    corpus is synthetic and PII-free, so deterministic PII spans are
    injected from the doc id first — exercising real multi-pattern
    redaction (email consumed before the phone pattern can re-match
    its digits) that the oracle reproduces span-for-span."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 (555) 010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return X.pii_scrub(docs, "doc_id", "text")


QUERIES = {
    "q_doc_chunks": q_doc_chunks,
    "q_repetition_score": q_repetition_score,
    "q_pii_scrub": q_pii_scrub,
}

_CHUNK, _STRIDE = 64, 48  # chunk_tokens=64, overlap=16

_GRAMS3 = (
    "[toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] "
    "for i in range(1, len(toks) - 1)]"
)

ORACLES = {
    "q_doc_chunks": f"""
        WITH t AS (
          SELECT doc_id, {_TOKS} AS toks FROM documents
        ), s AS (
          SELECT doc_id, toks,
                 unnest(range(0, greatest(len(toks) - 1, 0) + 1, {_STRIDE}))
                   AS start
          FROM t
        )
        SELECT doc_id,
               CAST(start // {_STRIDE} AS INTEGER) AS chunk_idx,
               array_to_string(toks[start + 1 : start + {_CHUNK}], ' ')
                 AS chunk_text,
               CAST(LEAST(len(toks) - start, {_CHUNK}) AS BIGINT) AS n_tokens
        FROM s
    """,
    "q_repetition_score": f"""
        WITH t AS (
          SELECT doc_id, {_TOKS} AS toks FROM documents
        ), g AS (
          SELECT doc_id, toks, len(toks) - 2 AS n_grams, {_GRAMS3} AS grams
          FROM t
        )
        SELECT doc_id,
               CASE WHEN n_grams >= 1
                    THEN ROUND((n_grams - len(list_distinct(grams)))
                               / n_grams, 6)
                    ELSE 0.0 END AS dup_gram_ratio,
               ROUND((len(toks) - len(list_distinct(toks)))
                     / len(toks), 6) AS dup_token_ratio
        FROM g
    """,
    "q_pii_scrub": f"""
        WITH injected AS (
          SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com or +1 (555) 010-'
                      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
          FROM documents
        ), emails AS (
          SELECT doc_id,
                 len(regexp_extract_all(text, '{X.PII_EMAIL}')) AS n_email,
                 regexp_replace(text, '{X.PII_EMAIL}', '<EMAIL>', 'g')
                   AS no_email
          FROM injected
        )
        SELECT doc_id,
               regexp_replace(no_email, '{X.PII_PHONE}', '<PHONE>', 'g')
                 AS clean_text,
               CAST(n_email
                    + len(regexp_extract_all(no_email, '{X.PII_PHONE}'))
                    AS BIGINT) AS n_redactions
        FROM emails
    """,
}
