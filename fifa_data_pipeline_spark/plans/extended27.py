"""Round-4 corpus-statistics close-out: Zipf/Heaps law fits, exact
nonparametric two-sample tests (KS, Mann–Whitney), and engine-exact
integer PageRank.

Reference scope note: the reference pipeline
(``prefect/spark/fifa_spark.py``) has no text/statistics surface;
this module belongs to the LLM-training-data extension the build
brief makes first-class. Zipf/Heaps fits are the standard sanity
probes on a text corpus (natural language: slope ≈ −1, β ≈ 0.4–0.6;
templated text departs sharply); KS/Mann–Whitney are the
distribution-free drift checks between corpus slices, carried in
exact integer arithmetic so the oracles cannot drift; and
q_pagerank_exact shows the repo's iterative-algorithm family is
oracle-able when the recurrence is integerized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fifa_data_pipeline_spark.operators.text import zipf_fit
from fifa_data_pipeline_spark.operators.util import materialize_once, pin
from fifa_data_pipeline_spark.sources.io import (
    footer_minmax_int as _footer_minmax_int,
    footer_uncompressed_bytes as _footer_bytes,
    minmax_bounds,
    read_table,
)


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf-law fit over the documents table — see
    :func:`fifa_data_pipeline_spark.operators.text.zipf_fit`."""
    docs = read_table(spark, sf_dir, "documents")
    return zipf_fit(
        docs, "source", "text",
        input_bytes=_footer_bytes(f"{sf_dir}/documents.parquet"),
    )


QUERIES = {
    "q_zipf_fit": q_zipf_fit,
}

#: Integer-moment OLS tail shared by the zipf/heaps oracles — the
#: DuckDB twin of ``text.ln_ols``: xm/ym are the quantized ln values,
#: the moment sums are exact BIGINTs (run-order-proof), and the
#: double arithmetic below is written token-for-token like the Spark
#: side so both engines produce the identical IEEE result.
_OLS_TAIL = """
        CASE WHEN n * sxx - sx * sx > 0 THEN
          ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                / (n * sxx - sx * sx), 4) END AS {slope},
        CASE WHEN n * sxx - sx * sx > 0 THEN
          ROUND((CAST(sy AS DOUBLE)
                 - (CAST(n * sxy - sx * sy AS DOUBLE)
                    / (n * sxx - sx * sx)) * sx)
                / n / 10000, 4) END AS {intercept},
        CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
          ROUND((CAST(n * sxy - sx * sy AS DOUBLE)
                 / (n * sxx - sx * sx))
                * (CAST(n * sxy - sx * sy AS DOUBLE)
                   / (n * syy - sy * sy)), 6) END AS r2
"""

ORACLES = {
    "q_zipf_fit": rf"""
        WITH toks AS (
          SELECT source, u.token
          FROM documents,
               UNNEST(string_split_regex(trim(text), '\s+')) AS u(token)
        ), counts AS (
          SELECT source, token, COUNT(*) AS freq
          FROM toks GROUP BY source, token
        ), ranked AS (
          SELECT source, freq,
                 ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY freq DESC, token
                 ) AS rank
          FROM counts
        ), q AS (
          SELECT source, freq,
                 CAST(ROUND(ln(rank) * 10000, 0) AS BIGINT) AS xm,
                 CAST(ROUND(ln(freq) * 10000, 0) AS BIGINT) AS ym
          FROM ranked
        ), m AS (
          SELECT source, COUNT(*) AS n, SUM(freq) AS n_tokens,
                 SUM(xm) AS sx, SUM(ym) AS sy, SUM(xm * xm) AS sxx,
                 SUM(xm * ym) AS sxy, SUM(ym * ym) AS syy
          FROM q GROUP BY source
        )
        SELECT source,
               CAST(n AS BIGINT) AS n_types,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               {_OLS_TAIL.format(slope="zipf_slope",
                                 intercept="zipf_intercept")}
        FROM m
    """,
}


def q_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Heaps'-law fit: OLS of ln(cumulative vocabulary)
    on ln(cumulative tokens) over the corpus in doc_id order — the
    companion probe to :func:`q_zipf_fit` (natural text grows
    vocabulary ~ K·N^β with β ≈ 0.4–0.6; templated text saturates,
    β → 0). One point per document.

    Plan shape: explode → (source, token) min-doc aggregate (each
    type counted once, at its first document) → per-(source, doc)
    new-type counts joined to per-doc token counts → PARTITION-
    PARALLEL cumulative sums per source ordered by doc_id
    (:func:`relational.grouped_running_sums_bucketed` over footer
    doc_id bounds, rewritten r5: the per-source window funneled every
    per-doc row of a source through one sort task) → per-source
    integer-moment OLS (``text.ln_ols`` — run-order-deterministic,
    unlike float regr_* co-moments).
    Only per-DOC rows (not tokens) cross the prefix-sum stage; at
    corpus scale, additionally coarsen the curve first (bucket
    doc_id into fixed strides and cumulate bucket subtotals) so the
    fit sees thousands of points, not billions.

    r7: the per-doc token counts come from an array-free counting
    pass, not the exploded leg — the corpus is tokenized once per
    leg, not twice in one. r10: at scale BOTH legs now come from ONE
    Arrow/RE2 scan (:func:`text.token_doc_vocab_union_arrow` — RE2
    split once per batch, per-doc counts + in-batch Acero min-doc
    vocab partials in a union-shaped frame). The two consumers group
    on different keys, so exchange reuse cannot serve them from one
    scan; the union is materialized once via
    :func:`~...operators.util.materialize_once` — the
    q_doc_similarity three-consumer precedent; lazy localCheckpoint
    on the bench box, a short-lived table under
    ``$SPARK_GRAFT_MATERIALIZE=table`` for cluster durability — and
    the pin holds the NARROW union (|docs| + batch-vocab rows), not
    the corpus. Interleaved
    result-equal A/Bs: two JVM scans → two Arrow scans 12.2→9.5 s
    sf10; → one fused scan 9.77→6.55 s sf10 and 2.04→1.47 s sf1.
    Below the size threshold the r9 JVM two-leg form runs unchanged.
    NOTE this query's wall clock is strongly session-warmup-dependent
    (first-query-in-session min-of-3 runs ~3 s; after ANY prior heavy
    scan+agg query much less — JVM/JIT infra warmup, not plan cost);
    in-suite bench numbers sit between, per RUNBOOK §5."""
    from fifa_data_pipeline_spark.operators.text import (
        ARROW_TOKENIZE_MIN_BYTES,
        token_counts,
        token_doc_vocab_union_arrow,
        token_first_id_table,
    )

    docs = read_table(spark, sf_dir, "documents")
    nbytes = _footer_bytes(f"{sf_dir}/documents.parquet")
    if nbytes >= ARROW_TOKENIZE_MIN_BYTES:
        u = materialize_once(
            token_doc_vocab_union_arrow(docs, "source", "doc_id"),
            name="heaps_union",
        )
        per_doc = u.filter(F.col("token").isNull()).select(
            "source", "doc_id", "n_toks"
        )
        first_occ = (
            u.filter(F.col("token").isNotNull())
            .groupBy("source", "token")
            .agg(F.min("id_min").alias("first_doc"))
        )
    else:
        per_doc = token_counts(
            docs.select("source", "doc_id", "text"),
            ws_alias="n_toks", input_bytes=nbytes,
        )
        first_occ = token_first_id_table(
            docs, "source", "doc_id", input_bytes=nbytes
        ).withColumnRenamed("first_id", "first_doc")
    new_types = first_occ.groupBy(
        "source", F.col("first_doc").alias("doc_id")
    ).agg(F.count(F.lit(1)).alias("v_new"))
    from fifa_data_pipeline_spark.operators.relational import (
        grouped_running_sums_bucketed,
    )

    spine = (
        per_doc.join(new_types, ["source", "doc_id"], "left")
        .withColumn("v_new", F.coalesce("v_new", F.lit(0)))
    )
    # doc_id bounds for the bucketed prefix machinery, from parquet
    # footer stats when present (r10 — zero Spark jobs; exact on the
    # raw unfiltered table), else the r8 aggregate probe.
    id_bounds = minmax_bounds(docs, f"{sf_dir}/documents.parquet", "doc_id")
    curve = (
        grouped_running_sums_bucketed(
            spine, ["source"], "doc_id", ["n_toks", "v_new"],
            bounds=id_bounds,
        )
        .withColumnRenamed("n_toks_rsum", "n_cum")
        .withColumnRenamed("v_new_rsum", "v_cum")
    )
    from fifa_data_pipeline_spark.operators.text import ln_ols

    fit = ln_ols(
        curve, ["source"], F.log("n_cum"), F.log("v_cum"),
        slope="heaps_beta", intercept="heaps_lnk",
        extra_aggs=[
            F.max("n_cum").cast("bigint").alias("n_tokens"),
            F.max("v_cum").cast("bigint").alias("n_types"),
        ],
    ).withColumnRenamed("n", "n_docs")
    return fit.select(
        "source", "n_docs", "n_tokens", "n_types",
        "heaps_beta", "heaps_lnk", "r2",
    )


QUERIES["q_heaps_fit"] = q_heaps_fit

ORACLES["q_heaps_fit"] = rf"""
    WITH toks AS (
      SELECT source, doc_id, u.token
      FROM documents,
           UNNEST(string_split_regex(trim(text), '\s+')) AS u(token)
    ), per_doc AS (
      SELECT source, doc_id, COUNT(*) AS n_toks
      FROM toks GROUP BY source, doc_id
    ), first_occ AS (
      SELECT source, token, MIN(doc_id) AS first_doc
      FROM toks GROUP BY source, token
    ), new_types AS (
      SELECT source, first_doc AS doc_id, COUNT(*) AS v_new
      FROM first_occ GROUP BY source, first_doc
    ), curve AS (
      SELECT p.source,
             SUM(p.n_toks) OVER w AS n_cum,
             SUM(COALESCE(n.v_new, 0)) OVER w AS v_cum
      FROM per_doc p LEFT JOIN new_types n USING (source, doc_id)
      WINDOW w AS (PARTITION BY p.source ORDER BY p.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), q AS (
      SELECT source, n_cum, v_cum,
             CAST(ROUND(ln(n_cum) * 10000, 0) AS BIGINT) AS xm,
             CAST(ROUND(ln(v_cum) * 10000, 0) AS BIGINT) AS ym
      FROM curve
    ), m AS (
      SELECT source, COUNT(*) AS n,
             MAX(n_cum) AS max_n, MAX(v_cum) AS max_v,
             SUM(xm) AS sx, SUM(ym) AS sy, SUM(xm * xm) AS sxx,
             SUM(xm * ym) AS sxy, SUM(ym * ym) AS syy
      FROM q GROUP BY source
    )
    SELECT source,
           CAST(n AS BIGINT) AS n_docs,
           CAST(max_n AS BIGINT) AS n_tokens,
           CAST(max_v AS BIGINT) AS n_types,
           {_OLS_TAIL.format(slope="heaps_beta", intercept="heaps_lnk")}
    FROM m
"""


def _lang_pair_counts(docs: DataFrame) -> DataFrame:
    """Per-(lang pair, n_chars value) sample counts ``(lang_a,
    lang_b, n_chars, ca, cb)`` with lang_a < lang_b — the shared
    pooled-sample input of the KS and Mann–Whitney queries. Each doc
    reaches its pairs through ONE broadcast EQUI-join against the
    exploded pair-ROLE grid (2·|pairs| rows: each pair listed once
    per side, keyed by that side's language) — not an OR-condition
    nested-loop join, and (r11) not the previous two unioned
    per-side joins either, which scanned the corpus twice. The
    per-value aggregate collapses the result to |pairs| × |distinct
    values| rows before any window."""
    langs = docs.select("lang").distinct()
    pairs = (
        langs.select(F.col("lang").alias("lang_a"))
        .crossJoin(F.broadcast(langs.select(F.col("lang").alias("lang_b"))))
        .filter(F.col("lang_a") < F.col("lang_b"))
    )
    roles = pairs.select(
        "lang_a",
        "lang_b",
        F.explode(
            F.array(
                F.struct(
                    F.col("lang_a").alias("__role_lang"),
                    F.lit(1).alias("is_a"),
                ),
                F.struct(
                    F.col("lang_b").alias("__role_lang"),
                    F.lit(0).alias("is_a"),
                ),
            )
        ).alias("__r"),
    ).select("lang_a", "lang_b", "__r.__role_lang", "__r.is_a")
    tagged = docs.join(
        F.broadcast(roles), F.col("lang") == F.col("__role_lang")
    )
    return tagged.groupBy("lang_a", "lang_b", "n_chars").agg(
        F.sum("is_a").alias("ca"),
        F.sum(1 - F.col("is_a")).alias("cb"),
    )


def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov distance between every
    pair of languages on the document-length (n_chars) distribution
    — the distribution-free drift check between corpus slices
    (complementing the binned chi-square / KL queries, which need a
    histogram choice; KS does not).

    Everything is INTEGER arithmetic: with samples of size n and m,
    D = max |i·m − j·n| / (n·m) over the pooled thresholds, so the
    result ships as the exact numerator + denominators — no float
    rounding to diverge between engines. The pooled scan evaluates
    both ECDFs after each distinct value (ties handled by grouping
    per value first).

    Plan shape: per-(pair, value) counts → partition-parallel ECDF
    prefix sums (:func:`relational.grouped_running_sums_bucketed` —
    value buckets over footer n_chars bounds + per-bucket offsets, so
    a pair NEVER sorts its whole value domain in one task) → per-pair
    max. Only DISTINCT
    values cross the prefix-sum stage, and each doc joins the
    bounded lang-pair grid (k·(k−1)/2 rows) as TWO broadcast
    equi-joins unioned (one per pair side) — hash joins, no
    nested-loop OR-condition — so at 100 TB the ranked spine is
    |pairs| × |distinct lengths|, metadata-sized, and its prefix
    sums parallelize across value buckets."""
    from fifa_data_pipeline_spark.operators.relational import (
        grouped_running_sums_bucketed,
    )

    docs = read_table(spark, sf_dir, "documents")
    counts = _lang_pair_counts(docs)
    # n_chars bounds probe (footer-cheap) -> bucketed prefix sums
    # (r8): one spine shuffle, no checkpoint pin.
    # emit_totals puts the pair totals (n_a, n_b) on every spine row
    # from the machinery's metadata-sized offsets branch — r8's
    # separate ``cum.groupBy(pair).agg(max(rsum))`` consumer was a
    # whole extra sort+window pass over the reused spine exchange
    # plus a broadcast join; both are gone (r9).
    # n_chars bounds from parquet footer stats when present (r11 —
    # zero Spark jobs; exact on the raw unfiltered table, and the
    # machinery only needs a superset range), else the r8 aggregate
    # probe.
    cum = grouped_running_sums_bucketed(
        counts, ["lang_a", "lang_b"], "n_chars", ["ca", "cb"],
        bounds=minmax_bounds(docs, f"{sf_dir}/documents.parquet", "n_chars"),
        emit_totals=True,
    )
    return (
        cum.groupBy("lang_a", "lang_b")
        .agg(
            F.max("ca_gsum").cast("bigint").alias("n_a"),
            F.max("cb_gsum").cast("bigint").alias("n_b"),
            F.max(
                F.abs(
                    F.col("ca_rsum") * F.col("cb_gsum")
                    - F.col("cb_rsum") * F.col("ca_gsum")
                )
            ).cast("bigint").alias("d_num"),
        )
        .withColumn(
            # exact half-up micro-unit quotient via integer division:
            # (2·d·10⁶ + nm) div (2·nm) — no float rounding to diverge
            "d_stat_micro",
            F.expr(
                "(2 * d_num * 1000000 + n_a * n_b) div (2 * n_a * n_b)"
            ).cast("bigint"),
        )
    )


QUERIES["q_ks_test"] = q_ks_test

ORACLES["q_ks_test"] = r"""
    WITH langs AS (SELECT DISTINCT lang FROM documents),
    pairs AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b
      FROM langs a JOIN langs b ON a.lang < b.lang
    ), tagged AS (
      SELECT p.lang_a, p.lang_b, d.lang, d.n_chars
      FROM documents d JOIN pairs p
        ON d.lang = p.lang_a OR d.lang = p.lang_b
    ), counts AS (
      SELECT lang_a, lang_b, n_chars,
             SUM(CASE WHEN lang = lang_a THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN lang = lang_b THEN 1 ELSE 0 END) AS cb
      FROM tagged GROUP BY lang_a, lang_b, n_chars
    ), ecdf AS (
      SELECT lang_a, lang_b,
             SUM(ca) OVER w AS ia, SUM(cb) OVER w AS ib
      FROM counts
      WINDOW w AS (PARTITION BY lang_a, lang_b ORDER BY n_chars
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), sized AS (
      SELECT lang_a, lang_b, ia, ib,
             MAX(ia) OVER (PARTITION BY lang_a, lang_b) AS n_a,
             MAX(ib) OVER (PARTITION BY lang_a, lang_b) AS n_b
      FROM ecdf
    )
    SELECT lang_a, lang_b,
           CAST(MAX(n_a) AS BIGINT) AS n_a,
           CAST(MAX(n_b) AS BIGINT) AS n_b,
           CAST(MAX(ABS(ia * n_b - ib * n_a)) AS BIGINT) AS d_num,
           CAST((2 * MAX(ABS(ia * n_b - ib * n_a)) * 1000000
                 + MAX(n_a) * MAX(n_b))
                // (2 * MAX(n_a) * MAX(n_b)) AS BIGINT) AS d_stat_micro
    FROM sized GROUP BY lang_a, lang_b
"""


def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney rank-sum U between every language pair on
    document length — the nonparametric location test beside
    :func:`q_ks_test`'s shape test (and q_ab_welch's parametric
    one). Tie-averaged ranks stay INTEGER by carrying 2×rank:
    a value preceded by ``less`` pooled observations with ``c`` ties
    has average rank (less + (c+1)/2), so 2·rank = 2·less + c + 1
    exactly. Ships 2·U (``u2``) plus both group sizes — all BIGINTs,
    engine-exact. Same bounded pair-grid + per-(pair, value) count +
    partition-parallel prefix-sum shape as the KS query
    (:func:`_lang_pair_counts`,
    :func:`relational.grouped_running_sums_bucketed`)."""
    from fifa_data_pipeline_spark.operators.relational import (
        grouped_running_sums_bucketed,
    )

    docs = read_table(spark, sf_dir, "documents")
    counts = _lang_pair_counts(docs).withColumn(
        "ct", F.col("ca") + F.col("cb")
    )
    ranked = (
        grouped_running_sums_bucketed(
            counts, ["lang_a", "lang_b"], "n_chars", ["ct"],
            # footer-stats bounds (r11): zero Spark jobs, agg fallback
            bounds=minmax_bounds(
                docs, f"{sf_dir}/documents.parquet", "n_chars"
            ),
        )
        .withColumn("less", F.col("ct_rsum") - F.col("ct"))
        .withColumn(
            "rank2", 2 * F.col("less") + F.col("ca") + F.col("cb") + 1
        )
    )
    return (
        ranked.groupBy("lang_a", "lang_b")
        .agg(
            F.sum("ca").cast("bigint").alias("n_a"),
            F.sum("cb").cast("bigint").alias("n_b"),
            F.sum(F.col("ca") * F.col("rank2")).alias("r2_a"),
        )
        .select(
            "lang_a", "lang_b", "n_a", "n_b",
            (F.col("r2_a") - F.col("n_a") * (F.col("n_a") + 1))
            .cast("bigint").alias("u2"),
        )
    )


QUERIES["q_mann_whitney"] = q_mann_whitney

ORACLES["q_mann_whitney"] = r"""
    WITH langs AS (SELECT DISTINCT lang FROM documents),
    pairs AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b
      FROM langs a JOIN langs b ON a.lang < b.lang
    ), tagged AS (
      SELECT p.lang_a, p.lang_b, d.lang, d.n_chars
      FROM documents d JOIN pairs p
        ON d.lang = p.lang_a OR d.lang = p.lang_b
    ), counts AS (
      SELECT lang_a, lang_b, n_chars,
             SUM(CASE WHEN lang = lang_a THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN lang = lang_b THEN 1 ELSE 0 END) AS cb
      FROM tagged GROUP BY lang_a, lang_b, n_chars
    ), ranked AS (
      SELECT lang_a, lang_b, ca, cb,
             2 * (SUM(ca + cb) OVER w - ca - cb) + ca + cb + 1 AS rank2
      FROM counts
      WINDOW w AS (PARTITION BY lang_a, lang_b ORDER BY n_chars
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT lang_a, lang_b,
           CAST(SUM(ca) AS BIGINT) AS n_a,
           CAST(SUM(cb) AS BIGINT) AS n_b,
           CAST(SUM(ca * rank2) - SUM(ca) * (SUM(ca) + 1) AS BIGINT)
             AS u2
    FROM ranked GROUP BY lang_a, lang_b
"""


def q_pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-exact PageRank over the purchase graph (customer →
    part → supplier), 3 power iterations in integer pico-units —
    the fully value-hash-checkable twin of the float q_pagerank
    (rows-only), closing the "iterative algorithms can't be
    oracled" gap: with floor-divided integer arithmetic the whole
    fixpoint prefix is a deterministic function of the edge set, and
    the DuckDB oracle unrolls the identical recurrence."""
    from fifa_data_pipeline_spark.operators.graph import pagerank_micro
    from fifa_data_pipeline_spark.plans.extended6 import purchase_graph

    return pagerank_micro(purchase_graph(spark, sf_dir), n_iter=3)


QUERIES["q_pagerank_exact"] = q_pagerank_exact


_PURCHASE_EDGES = """
        SELECT DISTINCT s, d FROM (
          SELECT 'c:' || o_custkey AS s, 'p:' || l_partkey AS d
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          UNION ALL
          SELECT 'p:' || l_partkey, 's:' || l_suppkey FROM lineitem
        )
"""


def _pagerank_oracle(
    edges_sql: str = _PURCHASE_EDGES,
    n_iter: int = 3,
    scale: int = 10**12,
    final_select: str = "SELECT node, rank_micro FROM {last}",
) -> str:
    """Unrolled integer PageRank recurrence over ``edges_sql`` (a
    SELECT producing distinct (s, d)) — the DuckDB-side twin of
    ``graph.pagerank_micro``."""
    iters = ""
    prev = "r0"
    for i in range(1, n_iter + 1):
        iters += f"""
        , in{i} AS (
          SELECT e.d AS node, SUM(r.rank_micro // g.deg) AS cin
          FROM e JOIN {prev} r ON e.s = r.node
                 JOIN deg g ON e.s = g.s
          GROUP BY e.d
        ), dang{i} AS (
          SELECT COALESCE(SUM(r.rank_micro), 0) AS dm
          FROM {prev} r LEFT JOIN deg g ON r.node = g.s
          WHERE g.s IS NULL
        ), r{i} AS (
          SELECT nd.node,
                 CAST((15 * {scale}) // (100 * nn.n)
                      + (85 * (COALESCE(i.cin, 0) + d.dm // nn.n)) // 100
                   AS BIGINT) AS rank_micro
          FROM nodes nd
          LEFT JOIN in{i} i ON nd.node = i.node
          CROSS JOIN dang{i} d CROSS JOIN nn
        )"""
        prev = f"r{i}"
    return f"""
      WITH e AS ({edges_sql}
      ), nodes AS (
        SELECT s AS node FROM e UNION SELECT d FROM e
      ), nn AS (SELECT COUNT(*) AS n FROM nodes),
      deg AS (SELECT s, COUNT(*) AS deg FROM e GROUP BY s),
      r0 AS (
        SELECT node, CAST({scale} // nn.n AS BIGINT) AS rank_micro
        FROM nodes CROSS JOIN nn
      ){iters}
      {final_select.format(last=prev)}
    """


ORACLES["q_pagerank_exact"] = _pagerank_oracle()


def _pagerank_oracle_float(
    edges_sql: str,
    n_iter: int,
    final_select: str,
) -> str:
    """Unrolled FLOAT PageRank recurrence — the DuckDB twin of
    ``graph.pagerank`` itself (damping 0.85, uniform dangling-mass
    redistribution), upgrading q_pagerank / q_textrank from
    rows-only to oracle-checked (r9 verdict #5). Every arithmetic
    step mirrors the Spark operator's IEEE-double expression order
    (including ``(1.0 - 0.85)`` evaluated as a double subtraction,
    not the literal 0.15); the only cross-engine divergence left is
    SUM accumulation order, ~1e-13 absolute — invisible at the 6-dp
    round both sides apply. Measured margin on the driver's fixed
    sf0.01 data (r11): the tightest unrounded rank sits 1.4e-10
    (q_pagerank, node p:1301) / 1.7e-7 (q_textrank) from the nearest
    6-dp rounding boundary — 10^3-10^6 x the accumulation noise, so
    the hash cannot flake there unless the arithmetic itself
    changes. If it ever does fire, the pre-agreed fallback is a 5-dp
    round or the integer-exact ``_exact`` twins. Every
    multiply-referenced CTE is
    MATERIALIZED: DuckDB otherwise INLINES each reference, and at 10
    unrolled iterations the edge subquery's parquet scans multiply
    past the process fd limit ("Too many open files")."""
    iters = ""
    prev = "r0"
    for i in range(1, n_iter + 1):
        iters += f"""
        , in{i} AS (
          SELECT e.d AS node, SUM(r.rank / g.deg) AS cin
          FROM e JOIN {prev} r ON e.s = r.node
                 JOIN deg g ON e.s = g.s
          GROUP BY e.d
        ), dang{i} AS (
          SELECT COALESCE(SUM(r.rank), 0.0) AS dm
          FROM {prev} r LEFT JOIN deg g ON r.node = g.s
          WHERE g.s IS NULL
        ), r{i} AS MATERIALIZED (
          SELECT nd.node,
                 (1.0 - 0.85) / nn.n
                   + 0.85 * (COALESCE(i.cin, 0.0) + d.dm / nn.n)
                   AS rank
          FROM nodes nd
          LEFT JOIN in{i} i ON nd.node = i.node
          CROSS JOIN dang{i} d CROSS JOIN nn
        )"""
        prev = f"r{i}"
    return f"""
      WITH e AS MATERIALIZED ({edges_sql}
      ), nodes AS MATERIALIZED (
        SELECT s AS node FROM e UNION SELECT d FROM e
      ), nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
      deg AS MATERIALIZED (SELECT s, COUNT(*) AS deg FROM e GROUP BY s),
      r0 AS MATERIALIZED (
        SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn
      ){iters}
      {final_select.format(last=prev)}
    """


ORACLES["q_pagerank"] = _pagerank_oracle_float(
    _PURCHASE_EDGES,
    n_iter=10,
    final_select="SELECT node, ROUND(rank, 6) AS rank FROM {last}",
)


def q_textrank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keywords with the engine-exact integer PageRank
    kernel: same token-adjacency graph as the float q_textrank
    (rows-only), ranks in integer pico-units, top 25 by
    (rank_micro DESC, token) — a fully value-hash-checkable keyword
    extractor. The integer tie-break makes the LIMIT set itself
    deterministic across engines."""
    from fifa_data_pipeline_spark.operators.graph import pagerank_micro
    from fifa_data_pipeline_spark.operators.text import tokens
    from fifa_data_pipeline_spark.operators.util import exploded

    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    )
    ex = exploded(
        docs, tokens("text"), "token", keep=["doc_id"], pos_alias="pos"
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    adj = (
        ex.withColumn("next", F.lead("token").over(w))
        .filter(F.col("next").isNotNull() & (F.col("token") != F.col("next")))
        .select(F.col("token").alias("src"), F.col("next").alias("dst"))
    )
    edges = adj.union(
        adj.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ranks = pagerank_micro(edges, "src", "dst", n_iter=3)
    return (
        ranks.select(F.col("node").alias("token"), "rank_micro")
        .orderBy(F.desc("rank_micro"), "token")
        .limit(25)
    )


QUERIES["q_textrank_exact"] = q_textrank_exact

_TEXTRANK_EDGES = """
        SELECT DISTINCT s, d FROM (
          WITH toks AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
            FROM documents WHERE doc_id < 200
          ), ex AS (
            SELECT doc_id, i.i AS pos, t[i.i] AS token
            FROM toks, UNNEST(range(1, len(t) + 1)) AS i(i)
          ), adj AS (
            SELECT token AS src,
                   LEAD(token) OVER (PARTITION BY doc_id ORDER BY pos)
                     AS dst
            FROM ex
          )
          SELECT src AS s, dst AS d FROM adj
          WHERE dst IS NOT NULL AND src <> dst
          UNION ALL
          SELECT dst, src FROM adj
          WHERE dst IS NOT NULL AND src <> dst
        )
"""

ORACLES["q_textrank_exact"] = _pagerank_oracle(
    edges_sql=_TEXTRANK_EDGES,
    final_select=(
        "SELECT node AS token, rank_micro FROM {last} "
        "ORDER BY rank_micro DESC, node LIMIT 25"
    ),
)

# Float TextRank twin (6 iterations, 6-dp round BEFORE the order/
# limit so the top-25 set is tie-broken identically in both engines).
ORACLES["q_textrank"] = _pagerank_oracle_float(
    _TEXTRANK_EDGES,
    n_iter=6,
    final_select=(
        "SELECT node AS token, ROUND(rank, 6) AS score FROM {last} "
        "ORDER BY score DESC, token LIMIT 25"
    ),
)


def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of quantity vs extended price per
    returnflag — completing the nonparametric trio (KS: shape, U:
    location, ρ: monotonic association) with the same exactness
    discipline: tie-averaged ranks carried as INTEGER 2·rank
    (2·RANK() + tie_count − 1), moment sums as exact DECIMAL(38,0)
    (int64 would overflow at Σ(2n)² beyond ~10⁶ rows per group;
    DuckDB's HUGEINT sums are exact the same way), and the final ρ
    from double arithmetic written token-for-token identically in
    the oracle — deterministic across runs and engines.

    Plan shape (rewritten r5 — VERDICT r4 flagged the original
    ``Window.partitionBy(l_returnflag)`` rank as a 3-task funnel):

    1. Quantity 2·ranks from per-(group, quantity) counts via the
       partition-parallel prefix-sum machinery
       (:func:`relational.grouped_tie_rank2` — value buckets over
       footer l_quantity bounds + per-bucket offsets);
       the rank table is |distinct quantities|-sized → broadcast.
    2. ONE pass over the fact: broadcast-join rx, hash-aggregate to
       the per-(group, price) spine carrying ``cnt``, ``Σrx``,
       ``Σrx²`` — the near-unique price column never JOINS a
       fact-sized rank table (the naive two-rank-table form shuffles
       the fact against ~|rows| distinct prices).
    3. Price 2·ranks via one more partition-parallel prefix sum over
       that spine, and every moment folds from spine columns:
       Σry = Σcnt·ry, Σry² = Σcnt·ry², Σrx·ry = Σry·Σrx|value.

    No group ever sorts in a single task; rank parallelism scales
    with the partition count, not the 3-value key. Heavy ties
    (integer quantities) exercise the tie-averaging path.

    r8 floor accounting (sf1, min-of-3 warm): bounds probe 0.20 s;
    quantity-rank build (fact pass 1 + bucketed prefix sum) 0.67 s;
    broadcast-join + price-spine aggregate (fact pass 2, the ~600k
    near-unique-price shuffle with exact decimal moments) 1.48 s
    cumulative; price-spine prefix sum + final fold 2.59 s total
    (2.54 s at sf0.1 — down from r7's 3.2 s warm). The structure is
    two fact passes + one near-fact-sized spine shuffle, each
    individually necessary (rx must be complete before the row-level
    rx·ry pairing; the pairing must see every row; ry needs the
    ordered price spine) — this is the pinned floor, not a plan
    defect. BIGINT moments would shave ~0.1 s but overflow at
    Σ(2n)² beyond ~10⁶ rows per group, exactly the scale this form
    exists for.

    r8 second pass: the "two fact passes" claim above was silently
    three — the prefix machinery's totals branch recomputed the
    whole spine (payload columns __srx/__srx2 de-canonicalize the
    shared exchange; SCALE.md r8 addendum). The spine now carries a
    lazy localCheckpoint pin, so it materializes once and both
    machinery branches read the block: genuinely two fact passes
    (interleaved A/B at sf0.1: 3.02 vs 3.23 s min under equal load;
    the structural win — one fewer fact scan + spine aggregate — is
    what scales)."""
    from fifa_data_pipeline_spark.operators.relational import (
        grouped_running_sums_bucketed,
        grouped_tie_rank2,
    )

    li = read_table(spark, sf_dir, "lineitem")
    g = "l_returnflag"
    # Bounds for both rank machines from parquet footer stats when
    # present (r11 — zero Spark jobs; the machinery only needs a
    # superset range and lineitem is unfiltered here), else ONE
    # aggregate probe covering both columns in a single fact pass
    # (r8 — no per-machine probes, no range-sampling jobs).
    qb = _footer_minmax_int(f"{sf_dir}/lineitem.parquet", "l_quantity")
    pb = _footer_minmax_int(
        f"{sf_dir}/lineitem.parquet", "l_extendedprice"
    )
    if qb is not None and pb is not None:
        (qlo, qhi), (plo, phi) = qb, pb
    else:
        qlo, qhi, plo, phi = li.agg(
            F.min("l_quantity"), F.max("l_quantity"),
            F.min("l_extendedprice"), F.max("l_extendedprice"),
        ).first()
    rx_t = grouped_tie_rank2(li, g, "l_quantity", "rx", bounds=(qlo, qhi))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    spine = (
        li.select(g, "l_quantity", "l_extendedprice")
        .join(F.broadcast(rx_t), [g, "l_quantity"])
        .groupBy(g, "l_extendedprice")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.sum(dec(F.col("rx"))).alias("__srx"),
            F.sum(dec(F.col("rx")) * dec(F.col("rx"))).alias("__srx2"),
        )
        # Lazy pin: the spine carries PAYLOAD columns (__srx, __srx2)
        # that the machinery's totals branch prunes away, so the two
        # branches cannot canonicalize to one exchange (the one-scan
        # rule's column-set condition, SCALE.md r8 addendum) — without
        # the pin the totals branch recomputed the WHOLE spine: a
        # second fact scan, broadcast join, and spine aggregate
        # (measured: 5 parquet scans in the plan, 3 of them the fact).
        # Materializing the spine once costs |distinct prices| rows;
        # recomputing it costs a fact pass — at any scale where this
        # operator matters the pin is the cheaper side. Bucket purity
        # is untouched (bucket = f(price)).
        .transform(pin("ext27"))
    )
    # share_input=False: the spine is PINNED, so the totals branch
    # re-reads the materialized block (a near-free columnar read +
    # hash aggregate) instead of re-sorting the near-fact-sized
    # spine from shuffle files.
    cum = grouped_running_sums_bucketed(
        spine, [g], "l_extendedprice", ["__cnt"], bounds=(plo, phi),
        share_input=False,
    )
    ranked = cum.withColumn(
        "ry",
        dec(
            2 * (F.col("__cnt_rsum") - F.col("__cnt"))
            + F.col("__cnt")
            + 1
        ),
    )
    m = ranked.groupBy(g).agg(
        F.sum(dec(F.col("__cnt"))).alias("n"),
        F.sum("__srx").alias("sx"),
        F.sum(dec(F.col("__cnt")) * F.col("ry")).alias("sy"),
        F.sum("__srx2").alias("sxx"),
        F.sum(F.col("ry") * F.col("__srx")).alias("sxy"),
        F.sum(dec(F.col("__cnt")) * F.col("ry") * F.col("ry")).alias(
            "syy"
        ),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    dx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    dy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return m.select(
        g,
        F.col("n").cast("bigint").alias("n_rows"),
        F.when(
            (dx > 0) & (dy > 0),
            F.round(num / (F.sqrt(dx) * F.sqrt(dy)), 6),
        ).alias("spearman_rho"),
    )


QUERIES["q_spearman"] = q_spearman

ORACLES["q_spearman"] = """
    WITH ranked AS (
      SELECT l_returnflag AS g,
             2 * RANK() OVER (PARTITION BY l_returnflag
                              ORDER BY l_quantity)
               + COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity)
               - 1 AS rx,
             2 * RANK() OVER (PARTITION BY l_returnflag
                              ORDER BY l_extendedprice)
               + COUNT(*) OVER (PARTITION BY l_returnflag,
                                l_extendedprice)
               - 1 AS ry
      FROM lineitem
    ), m AS (
      SELECT g, COUNT(*) AS n,
             SUM(rx) AS sx, SUM(ry) AS sy,
             SUM(rx * rx) AS sxx, SUM(rx * ry) AS sxy,
             SUM(ry * ry) AS syy
      FROM ranked GROUP BY g
    )
    SELECT g AS l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
                 AND CAST(n * syy - sy * sy AS DOUBLE) > 0 THEN
             ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                   / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                      * SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6)
           END AS spearman_rho
    FROM m
"""


def q_kmeans_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-exact integer k-means over the embeddings table (k=4,
    3 Lloyd iterations) — see ``vector.kmeans_micro``. The DuckDB
    oracle unrolls the identical integer recurrence, so clustering
    joins PageRank/TextRank in the fully value-hash-checked iterative
    family (pyspark.ml KMeans stays registered as the rows-only
    q_knn_ivf path for the float/production form)."""
    from fifa_data_pipeline_spark.operators.vector import kmeans_micro

    emb = read_table(spark, sf_dir, "embeddings")
    return kmeans_micro(emb, "vec_id", "embedding", k=4, n_iter=3)


QUERIES["q_kmeans_exact"] = q_kmeans_exact


def _kmeans_oracle(k: int = 4, n_iter: int = 3, dim: int = 64,
                   scale: int = 10**6) -> str:
    steps = ""
    prev = "c0"
    for i in range(1, n_iter + 1):
        steps += f"""
        , d{i} AS (
          SELECT e.vec_id, c.cid,
                 list_sum(list_transform(range(1, {dim + 1}),
                   j -> (e.qv[j] - c.cv[j]) * (e.qv[j] - c.cv[j])))
                   AS dist
          FROM emb e, {prev} c
        ), a{i} AS (
          SELECT vec_id, (MIN([dist, cid]))[2] AS cid
          FROM d{i} GROUP BY vec_id
        ), s{i} AS (
          SELECT a.cid, u.j AS dim, SUM(e.qv[u.j]) AS sm,
                 COUNT(*) AS n
          FROM a{i} a JOIN emb e USING (vec_id),
               UNNEST(range(1, {dim + 1})) AS u(j)
          GROUP BY 1, 2
        ), n{i} AS (
          SELECT cid,
                 list(CASE WHEN sm >= 0 THEN sm // n
                           ELSE -((-sm) // n) END ORDER BY dim) AS cv
          FROM s{i} GROUP BY cid
        ), c{i} AS (
          SELECT p.cid, COALESCE(nn.cv, p.cv) AS cv
          FROM {prev} p LEFT JOIN n{i} nn USING (cid)
        )"""
        prev = f"c{i}"
    return f"""
      WITH emb AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(ROUND(CAST(x AS DOUBLE) * {scale}, 0)
                      AS BIGINT)) AS qv
        FROM embeddings
      ), c0 AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cv
        FROM emb ORDER BY vec_id LIMIT {k}
      ){steps}
      , counts AS (
        SELECT cid, COUNT(*) AS n_vecs FROM a{n_iter} GROUP BY cid
      )
      SELECT CAST(c.cid AS BIGINT) AS cluster_id,
             CAST(COALESCE(t.n_vecs, 0) AS BIGINT) AS n_vecs,
             CAST(u.j - 1 AS BIGINT) AS dim,
             CAST(c.cv[u.j] AS BIGINT) AS centroid_q
      FROM {prev} c LEFT JOIN counts t ON c.cid = t.cid,
           UNNEST(range(1, {dim + 1})) AS u(j)
    """


ORACLES["q_kmeans_exact"] = _kmeans_oracle()
