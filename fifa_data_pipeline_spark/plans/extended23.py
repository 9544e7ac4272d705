"""Round-6: warehouse engineering + real-codec multimodal queries.

- ``q_dense_ids`` — gap-free global row ids without the 1-task
  global-window collapse (per-bucket row ranks over footer key bounds
  + broadcast per-bucket offsets); oracle = ``row_number() OVER
  (ORDER BY …)``.
- ``q_table_checksum`` — anti-entropy fingerprint (length-prefixed
  md5 fold, XOR-combined); DuckDB reproduces it bit-exactly.
- ``q_mv_rollup`` — materialized-view rollup rewrite; oracle runs
  the equivalent query on the BASE table.
- ``q_sql_inference`` — tree + logistic models compiled to pure
  Catalyst expressions (zero Python in the plan).
- ``q_wav_decode`` — stdlib WAV codec round-trip; RMS predicted in
  closed form.
- ``q_wds_decode`` — WebDataset tar-shard round-trip, sharing the
  PNG oracle (container fidelity is hash-proven).

- ``q_cogroup_asof`` — per-user as-of merge (last purchase value at
  or before each click) through COGROUPED ``applyInPandas``
  (``pd.merge_asof`` per key) — the two-sided Pandas interop shape;
  oracle is DuckDB's native ASOF LEFT JOIN.
- ``q_keyset_page`` — cursor pagination ``(k1,k2) > (c1,c2)`` with
  the row-value comparison expanded lexicographically plus a
  redundant leading-key range conjunct for scan pruning; OFFSET-free
  by design (OFFSET is O(total) per page).
- ``q_png_decode`` — encode a valid grayscale-8 PNG per document
  (stdlib zlib/struct, deterministic pixel content), then DECODE it
  back (chunk walk + CRC validation + zlib inflate + scanline
  de-filtering) and aggregate pixel stats. Unlike the fake-kernel
  multimodal demos, this is a real container+entropy codec, and the
  oracle INDEPENDENTLY recomputes the decoded statistics from the
  pixel formula ``pixel(k) = (doc_id + k) % 256`` — so a hash match
  proves the bytes really round-tripped through deflate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import datetime as _dt

from fifa_data_pipeline_spark.operators.mlsql import (
    logistic_to_column,
    tree_to_column,
)
from fifa_data_pipeline_spark.operators.mv import (
    build_events_mv,
    rollup_from_mv,
)
from fifa_data_pipeline_spark.operators.multimodal import (
    decode_png,
    decode_wav,
    encode_png,
    encode_wav,
)
from fifa_data_pipeline_spark.operators.pandas_ops import cogroup_asof_merge
from fifa_data_pipeline_spark.operators.relational import (
    assign_dense_ids,
    keyset_page,
    table_checksum,
)
from fifa_data_pipeline_spark.operators.util import scratch_dir
from fifa_data_pipeline_spark.sources.io import minmax_bounds, read_table


def q_cogroup_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every click, the value of the user's most recent purchase
    at or before it (NULL if none) — cogrouped-pandas as-of merge.
    The right side is pre-deduplicated per (user, ts) so tie order
    cannot leak nondeterminism into the merge."""
    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("v"))
    )
    return cogroup_asof_merge(
        clicks, purchases, "user_id", "ts",
        ["event_id", "user_id"], "v", alias="last_purchase",
    )


#: Keyset cursor: the page strictly after this (date, orderkey).
KEYSET_CURSOR = (_dt.datetime(1998, 1, 3), 7000)
KEYSET_N = 50


def q_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One 50-row keyset page of orders after the fixed cursor in
    (o_orderdate, o_orderkey) order — plans as a pruned scan +
    TakeOrderedAndProject (asserted in test_extended23)."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )
    return keyset_page(
        orders, ["o_orderdate", "o_orderkey"], list(KEYSET_CURSOR), KEYSET_N
    )


def q_dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-free global ids over orders in o_orderkey order via
    per-bucket row ranks plus per-bucket count offsets
    (:func:`relational.assign_dense_ids`) — equal to ``row_number()
    OVER (ORDER BY o_orderkey)`` (the oracle) but never collapsing
    the table into one task."""
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey")
    # orderkey bounds from parquet footer stats when present (r11 —
    # zero Spark jobs; superset range suffices), else the r8
    # aggregate probe -> bucketed split: one shuffle, no checkpoint
    # pin, no driver offset scan.
    return assign_dense_ids(
        orders,
        ["o_orderkey"],
        bounds=minmax_bounds(
            orders, f"{sf_dir}/orders.parquet", "o_orderkey"
        ),
    )


def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row anti-entropy fingerprint of lineitem's key columns
    (md5 fold XOR-combined + row count); the DuckDB twin reproduces
    the fold bit-exactly, which IS the operator's use case: two
    engines independently checksumming the same 100 TB table."""
    li = read_table(spark, sf_dir, "lineitem")
    return table_checksum(
        li, ["l_orderkey", "l_linenumber", "l_returnflag"]
    )


def q_mv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month × event_type aggregate answered FROM the day-grain MV
    (two-level re-aggregation with AVG derived from the stored
    sum/count pair); the oracle computes the same result directly on
    the base events table, proving the rewrite algebra."""
    ev = read_table(spark, sf_dir, "events")
    mv = build_events_mv(ev)
    monthly = rollup_from_mv(
        mv.withColumn("day", F.date_trunc("month", "day").cast("date")),
        ["day", "event_type"],
    )
    return monthly.select(
        F.col("day").alias("month"),
        "event_type",
        "cnt",
        F.round("sum_value", 4).alias("sum_value"),
        F.round("min_value", 6).alias("min_value"),
        F.round("max_value", 6).alias("max_value"),
        F.round("avg_value", 6).alias("avg_value"),
    )


#: A hand-trained toy return-risk model over lineitem features —
#: the spec shape an artifact store would hand a scoring job.
RISK_TREE = {
    "feat": "l_discount", "thr": 0.05,
    "lo": {
        "feat": "l_quantity", "thr": 25.0,
        "lo": {"leaf": 0.1}, "hi": {"leaf": 0.4},
    },
    "hi": {
        "feat": "l_extendedprice", "thr": 30000.0,
        "lo": {"leaf": 0.6}, "hi": {"leaf": 0.9},
    },
}
RISK_LOGIT = ({"l_quantity": 0.03, "l_discount": -8.0}, -0.5)


def q_sql_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch model scoring compiled to pure Catalyst expressions
    (tree → nested CASE, logistic → sigmoid of a dot product): one
    scan, one aggregate, zero Python. The oracle re-implements both
    models in SQL — matching hashes prove the compilation is exact,
    not approximate."""
    li = read_table(spark, sf_dir, "lineitem")
    w, b = RISK_LOGIT
    scored = li.select(
        tree_to_column(RISK_TREE).alias("tree_score"),
        F.round(logistic_to_column(w, b), 6).alias("logit_prob"),
    )
    return scored.groupBy("tree_score").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("logit_prob"), 6).alias("avg_prob"),
    )


def q_canon_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup accounting on CANONICALIZED text (the
    Unicode-safe fingerprint): doc count vs distinct canonical forms.
    The corpus is ASCII, so the oracle's lower + whitespace-collapse
    is provably identical to NFKC casefold + accent strip there —
    the Unicode-divergent cases are pinned separately in
    test_text_dedup on literal inputs."""
    from fifa_data_pipeline_spark.operators.text import canonicalize_text

    docs = read_table(spark, sf_dir, "documents")
    return (
        canonicalize_text(docs)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("canon").alias("n_canonical"),
        )
    )


def q_offset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OFFSET form of the keyset page (SQL ``LIMIT n OFFSET m``,
    Spark ≥3.4's ``DataFrame.offset``): provided for surface
    completeness and as the documented ANTI-pattern — the plan must
    fetch and discard ``offset`` rows on every page, so page cost
    grows linearly with page number (O(total) to walk a table) where
    :func:`~...relational.keyset_page` stays O(page). Same ordering,
    same page contents as a keyset walk."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )
    return (
        orders.orderBy("o_orderdate", "o_orderkey")
        .offset(200)
        .limit(50)
    )


def q_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG encode → decode round-trip over the documents table; the
    decoded width/height/pixel-mean must equal what the generator
    formula predicts (checked by the DuckDB oracle)."""
    docs = read_table(spark, sf_dir, "documents")
    return decode_png(encode_png(docs)).select(
        "doc_id",
        "width",
        "height",
        "n_pixels",
        F.round("mean_pixel", 6).alias("mean_pixel"),
    )


def q_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAV encode → decode round-trip (stdlib RIFF/PCM codec): the
    decoded frame count and RMS energy must equal the closed-form
    prediction from the sample formula amp * ((k % 256) - 128) —
    the audio twin of q_png_decode."""
    docs = read_table(spark, sf_dir, "documents")
    return decode_wav(encode_wav(docs)).select(
        "doc_id",
        "frame_rate",
        "n_frames",
        F.round("rms", 6).alias("rms"),
    )


def q_wds_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset round-trip, oracle-checked end-to-end: render PNGs,
    pack them into tar shards (stdlib tarfile), read the shards back
    via binaryFile + untar, DECODE the extracted members, and emit
    the same stats as q_png_decode — sharing its closed-form oracle,
    so a hash match proves the tar container preserved every byte."""
    from fifa_data_pipeline_spark.sources.webdataset import (
        read_webdataset,
        write_webdataset,
    )

    docs = read_table(spark, sf_dir, "documents")
    out = scratch_dir("spark_graft_wds_") + "/shards"
    write_webdataset(encode_png(docs), out, ["png"], samples_per_shard=128)
    back = read_webdataset(spark, out, ["png"]).select(
        F.col("key").alias("doc_id"), "png"
    )
    return decode_png(back).select(
        "doc_id",
        "width",
        "height",
        "n_pixels",
        F.round("mean_pixel", 6).alias("mean_pixel"),
    )


QUERIES = {
    "q_png_decode": q_png_decode,
    "q_wav_decode": q_wav_decode,
    "q_wds_decode": q_wds_decode,
    "q_canon_dedup": q_canon_dedup,
    "q_offset_page": q_offset_page,
    "q_dense_ids": q_dense_ids,
    "q_mv_rollup": q_mv_rollup,
    "q_sql_inference": q_sql_inference,
    "q_table_checksum": q_table_checksum,
    "q_cogroup_asof": q_cogroup_asof,
    "q_keyset_page": q_keyset_page,
}

_CHECKSUM_FOLD = (
    "list_reduce(list_transform(range(1, 16), "
    "j -> CAST(strpos('0123456789abcdef', substr(md5(c), j, 1)) - 1 "
    "AS BIGINT)), (a, b) -> a * 16 + b)"
)

#: Σ_{j=0}^{r-1} (j-128)² in closed form (see test for derivation).
_SSQ = "((r - 1) * r * (2 * r - 1) // 6 - 128 * r * (r - 1) + 16384 * r)"

ORACLES = {
    "q_offset_page": """
        SELECT o_orderkey, o_orderdate,
               ROUND(o_totalprice, 2) AS o_totalprice
        FROM orders
        ORDER BY o_orderdate, o_orderkey
        LIMIT 50 OFFSET 200
    """,
    "q_canon_dedup": r"""
        SELECT source, COUNT(*) AS n_docs,
               COUNT(DISTINCT trim(regexp_replace(lower(text),
                     '\s+', ' ', 'g'))) AS n_canonical
        FROM documents GROUP BY source
    """,
    "q_wav_decode": f"""
        WITH params AS (
          SELECT doc_id,
                 CAST((doc_id % 20 + 1) * 160 AS BIGINT) AS n,
                 CAST(doc_id % 8 + 1 AS BIGINT) AS amp
          FROM documents),
        split AS (
          SELECT *, n // 256 AS q, n % 256 AS rem FROM params),
        sums AS (
          SELECT *,
                 q * (SELECT {_SSQ} FROM (SELECT 256 AS r))
                 + (SELECT {_SSQ} FROM (SELECT split.rem AS r)) AS total
          FROM split)
        SELECT doc_id, 8000 AS frame_rate, n AS n_frames,
               ROUND(amp * sqrt(CAST(total AS DOUBLE) / n), 6) AS rms
        FROM sums
    """,
    "q_sql_inference": """
        WITH scored AS (
          SELECT CAST(CASE WHEN l_discount <= 0.05 THEN
                   CASE WHEN l_quantity <= 25.0 THEN 0.1 ELSE 0.4 END
                 ELSE
                   CASE WHEN l_extendedprice <= 30000.0 THEN 0.6
                        ELSE 0.9 END
                 END AS DOUBLE) AS tree_score,
                 ROUND(1.0 / (1.0 + EXP(-(-0.5 + 0.03 * l_quantity
                                          - 8.0 * l_discount))), 6)
                   AS logit_prob
          FROM lineitem)
        SELECT tree_score, COUNT(*) AS n,
               ROUND(AVG(logit_prob), 6) AS avg_prob
        FROM scored GROUP BY tree_score
    """,
    "q_mv_rollup": """
        SELECT CAST(date_trunc('month', CAST(ts AS DATE)) AS DATE)
                 AS month,
               event_type,
               COUNT(*) AS cnt,
               ROUND(SUM(value), 4) AS sum_value,
               ROUND(MIN(value), 6) AS min_value,
               ROUND(MAX(value), 6) AS max_value,
               ROUND(SUM(value) / COUNT(*), 6) AS avg_value
        FROM events
        GROUP BY 1, 2
    """,
    "q_dense_ids": """
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) AS BIGINT)
                 AS row_id,
               o_orderkey
        FROM orders
    """,
    "q_table_checksum": f"""
        SELECT bit_xor({_CHECKSUM_FOLD}) AS checksum,
               COUNT(*) AS n_rows
        FROM (
          SELECT list_reduce(
                   list_transform(
                     [CAST(l_orderkey AS VARCHAR),
                      CAST(l_linenumber AS VARCHAR),
                      CAST(l_returnflag AS VARCHAR)],
                     v -> CASE WHEN v IS NULL THEN '00:|'
                          ELSE '1' || CAST(length(v) AS VARCHAR)
                               || ':' || v || '|' END),
                   (a, b) -> a || b) AS c
          FROM lineitem)
    """,
    "q_cogroup_asof": """
        WITH clicks AS (
          SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click'),
        pur AS (
          SELECT user_id, ts, MAX(value) AS v FROM events
          WHERE event_type = 'purchase' GROUP BY user_id, ts)
        SELECT c.event_id, c.user_id,
               epoch_us(c.ts) AS ts_epoch, p.v AS last_purchase
        FROM clicks c
        ASOF LEFT JOIN pur p
          ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    "q_keyset_page": """
        SELECT o_orderkey, o_orderdate,
               ROUND(o_totalprice, 2) AS o_totalprice
        FROM orders
        WHERE (o_orderdate, o_orderkey)
              > (TIMESTAMP '1998-01-03', 7000)
        ORDER BY o_orderdate, o_orderkey
        LIMIT 50
    """,
    # The pixel sequence (doc_id + k) % 256 is periodic, so the
    # oracle predicts the decoded pixel SUM in closed form (full
    # 0..255 cycles + a split partial cycle) — no series expansion.
    "q_png_decode": """
        WITH dims AS (
          SELECT doc_id,
                 CAST((doc_id % 16 + 1) * 4 AS INT) AS width,
                 CAST((doc_id % 12 + 1) * 4 AS INT) AS height,
                 CAST(((doc_id % 16 + 1) * 4)
                      * ((doc_id % 12 + 1) * 4) AS BIGINT) AS n,
                 doc_id % 256 AS d
          FROM documents),
        parts AS (
          SELECT *, n // 256 AS q, n % 256 AS r FROM dims),
        sums AS (
          SELECT *, q * 32640 +
                 CASE WHEN d + r <= 256
                      THEN r * d + r * (r - 1) // 2
                      ELSE (d + 255) * (256 - d) // 2
                           + (d + r - 256) * (d + r - 257) // 2
                 END AS total
          FROM parts)
        SELECT doc_id, width, height, n AS n_pixels,
               ROUND(CAST(total AS DOUBLE) / n, 6) AS mean_pixel
        FROM sums
    """,
}

# the tar round-trip must reproduce the PNG stats bit-for-bit
ORACLES["q_wds_decode"] = ORACLES["q_png_decode"]
