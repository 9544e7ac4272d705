"""Text-analysis operators for training-data pipelines.

All pure Column-expression pipelines (tokenize → higher-order array
functions) — JVM-side, whole-stage-codegen'd, no Python in the hot
path. Designed over the ``documents`` table (doc_id, text, lang,
source, n_chars) but parameterized on column names.

Scale notes: every operator here is embarrassingly parallel (per-row,
no shuffle), so it scales linearly with input splits; the only
shuffles appear in downstream aggregations the caller adds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fifa_data_pipeline_spark.operators.util import exploded, pin
from fifa_data_pipeline_spark.sources.io import spread

#: Tiny English-stopword list used by the heuristic scorer/lang-id.
STOPWORDS = ("the", "a")

_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization: ``split(trim(text), '\\s+')``."""
    text = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(text), r"\s+")


def bpe_ish_token_count_expr(text: Column | str) -> Column:
    """BPE-ish token COUNT: ``regexp_count`` over the
    ``BPE_SPLIT_PATTERN`` alternation (letter runs, digit runs,
    single punctuation marks). NOTE (r7, measured at sf1):
    unlike the whitespace case, this is NOT an allocation win —
    Spark's ``regexp_count`` is RuntimeReplaceable to
    ``size(regexp_extract_all(...))`` (the physical plan is
    identical), and the cost is the Java-regex alternation scan
    itself (~1.1 s for the sf1 corpus vs ~0.5 s for DuckDB's RE2 —
    an engine-level gap, not a plan defect). Alternatives measured
    and rejected: decomposing into three single-class scans 2.1 s
    (extra passes cost more than the alternation), possessive
    quantifiers no change. Kept as the single named counting form so
    call sites stay declarative."""
    text = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(
        text, F.lit(BPE_SPLIT_PATTERN)
    ).cast("bigint")


#: Java's ``\s`` class spelled out: ``[ \t\n\x0B\f\r]``. RE2's ``\s``
#: EXCLUDES ``\x0B`` (vertical tab), so the Arrow kernels must use
#: this explicit class — not ``\s`` — to stay bit-identical to their
#: JVM expression twins on every input (r10 ADVICE). The escape means
#: the same thing in java.util.regex and RE2, so the shared BPE
#: pattern below can embed it directly.
JAVA_WS_CLASS = r"[ \t\n\x0B\f\r]"

#: The BPE-ish pre-tokenizer alternation shared by the JVM and Arrow
#: counting paths (GPT-2-style word pieces / digit runs / symbols).
#: Whitespace is the explicit Java class (see :data:`JAVA_WS_CLASS`)
#: so the same string compiles to the same language under both
#: engines.
BPE_SPLIT_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\x0B\f\r]"


def token_counts_arrow(
    df: DataFrame,
    text_col: str = "text",
    *,
    bpe_alias: str | None = None,
    ws_alias: str | None = None,
    stop_alias: str | None = None,
    chars_alias: str | None = None,
) -> DataFrame:
    """Per-row token/char counts via an Arrow/RE2 kernel
    (``mapInArrow`` + ``pyarrow.compute.count_substring_regex``) —
    the measured fast path for corpus-tokenize-bound plans. Emits
    every input column EXCEPT ``text_col`` (the corpus rides the
    Arrow IPC boundary once, outbound only) plus the requested BIGINT
    count columns, each bit-identical to its JVM expression twin:

    - ``bpe_alias``: :func:`bpe_ish_token_count_expr` (BPE-ish
      alternation matches),
    - ``ws_alias``: whitespace tokens — ``size(split(trim(text),
      '\\s+'))`` semantics exactly (empty string → 1). Computed as
      ``count('\\s+') + 1`` when only the count is needed, or as the
      split list's length when ``stop_alias`` forces the split,
    - ``stop_alias``: whole-token STOPWORDS hits — the trimmed text
      (``utf8_trim(' ')`` — ASCII space only, mirroring Spark trim)
      is RE2-split on :data:`JAVA_WS_CLASS` ``+`` (Java's ``\\s``
      spelled out; RE2's ``\\s`` drops ``\\x0B``) and exact-matched
      tokens are counted
      per row (flatten → ``is_in`` → parent-index ``bincount``; the
      list offsets ARE the row mapping, no per-row Python),
    - ``chars_alias``: ``length(text)`` (code points, = Arrow
      ``utf8_length``).

    Why this exists (r10 A/B, min-of-3 warm, equality-gated): Spark's
    ``regexp_count`` is java.util.regex — ~5-7× more cycles/byte than
    RE2 on these patterns, the floor that held the tokenize-bound
    trio over 2× vs the DuckDB baseline. The Arrow kernel pays one
    IPC pass over the projected text column and buys RE2:
    q_tokenizer_fertility 0.90→0.65 s sf1 / 8.16→3.62 s sf10;
    q_calibration_bins 1.29→1.08 s sf1 / 9.20→4.87 s sf10 (a
    widen-whitespace + pad + count ``' (the|a) '`` variant was also
    measured: correct but 7.5 s at sf10 — the split form wins because
    it scans the corpus once and the bincount is branch-free).

    100 TB posture: map-only (no shuffle, no state), Arrow-batched
    (`maxRecordsPerBatch` bounds worker memory), text never returns
    to the JVM — the narrow count columns do. Scales with input
    splits exactly like the expression form."""
    carry = [f.name for f in df.schema.fields if f.name != text_col]
    types = {
        f.name: f.dataType.simpleString() for f in df.schema.fields
    }
    out = [f"{n} {types[n]}" for n in carry]
    for a in (bpe_alias, ws_alias, stop_alias, chars_alias):
        if a:
            out.append(f"{a} bigint")
    out_schema = ", ".join(out)
    stopwords = list(STOPWORDS)

    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        stops = pa.array(stopwords, type=pa.string())
        for b in batches:
            t = b.column(text_col)
            cols = [b.column(n) for n in carry]
            names = list(carry)
            if bpe_alias:
                cols.append(
                    pc.cast(
                        pc.count_substring_regex(t, BPE_SPLIT_PATTERN),
                        pa.int64(),
                    )
                )
                names.append(bpe_alias)
            if stop_alias:
                # One RE2 split serves both counts; the flattened
                # token array maps back to rows via the list offsets.
                # trim(' ') mirrors Spark trim (ASCII space ONLY —
                # utf8_trim_whitespace strips all Unicode ws and
                # diverges from the JVM twin on tab/newline edges).
                tr = pc.utf8_trim(t, " ")
                lst = pc.split_pattern_regex(tr, JAVA_WS_CLASS + "+")
                if ws_alias:
                    cols.append(
                        pc.cast(pc.list_value_length(lst), pa.int64())
                    )
                    names.append(ws_alias)
                flat = pc.list_flatten(lst)
                par = pc.list_parent_indices(lst).to_numpy(
                    zero_copy_only=False
                )
                is_stop = pc.is_in(flat, value_set=stops).to_numpy(
                    zero_copy_only=False
                )
                stop = np.bincount(
                    par[is_stop], minlength=len(t)
                ).astype("int64")
                stop_arr = pa.array(stop, type=pa.int64())
                if t.null_count:
                    # NULL text → NULL count (the JVM twin's
                    # semantics); bincount emits 0 there.
                    stop_arr = pc.if_else(
                        pc.is_null(t), pa.scalar(None, pa.int64()),
                        stop_arr,
                    )
                cols.append(stop_arr)
                names.append(stop_alias)
            elif ws_alias:
                tr = pc.utf8_trim(t, " ")
                cols.append(
                    pc.cast(
                        pc.add(
                            pc.count_substring_regex(
                                tr, JAVA_WS_CLASS + "+"
                            ),
                            1,
                        ),
                        pa.int64(),
                    )
                )
                names.append(ws_alias)
            if chars_alias:
                cols.append(
                    pc.cast(pc.utf8_length(t), pa.int64())
                )
                names.append(chars_alias)
            yield pa.RecordBatch.from_arrays(cols, names)

    return df.mapInArrow(kernel, out_schema)


def _token_partials_arrow(
    df: DataFrame,
    group_col: str,
    text_col: str,
    id_col: str | None,
    out_alias: str,
) -> DataFrame:
    """Shared kernel for the (group, token)-grain Arrow partials:
    RE2-split each document, then Acero-hash-aggregate WITHIN the
    batch — ``count`` per (group, token) when ``id_col`` is None,
    else ``min(id_col)``. Emits batch partials; the caller finishes
    with the matching Spark aggregate, which then shuffles one row
    per (group, token) per batch instead of one per token occurrence
    — the map-side combine Spark's partial agg would do, done before
    the explode ever materializes JVM-side (and on RE2 instead of
    java.util.regex)."""
    carry = [group_col] + ([id_col] if id_col else [])
    types = {
        f.name: f.dataType.simpleString() for f in df.schema.fields
    }
    id_t = types[id_col] if id_col else None
    out_schema = f"{group_col} {types[group_col]}, token string, " + (
        f"{out_alias} {id_t}" if id_col else f"{out_alias} bigint"
    )

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            t = pc.utf8_trim(b.column(text_col), " ")
            lst = pc.split_pattern_regex(t, JAVA_WS_CLASS + "+")
            flat = pc.list_flatten(lst)
            par = pc.list_parent_indices(lst)
            cols = {
                group_col: b.column(group_col).take(par),
                "token": flat,
            }
            if id_col:
                cols[id_col] = b.column(id_col).take(par)
                agg = (
                    pa.table(cols)
                    .group_by([group_col, "token"])
                    .aggregate([(id_col, "min")])
                )
            else:
                agg = (
                    pa.table(cols)
                    .group_by([group_col, "token"])
                    .aggregate([([], "count_all")])
                )
            agg = agg.rename_columns([group_col, "token", out_alias])
            yield from agg.to_batches()

    return df.select(*carry, text_col).mapInArrow(kernel, out_schema)


#: Below this UNCOMPRESSED corpus size the JVM expression forms beat
#: the Arrow kernels: the RE2-per-byte win needs bytes to amortize
#: the fixed Python-runner/IPC cost (~0.15-0.45 s per pass, measured
#: r10 at sf0.1 = 1.5 MB where JVM wins every pairing; at sf1 =
#: 17 MB Arrow wins every pairing). Callers probe the corpus with
#: :func:`sources.io.footer_uncompressed_bytes` (metadata-only) and
#: pass it as ``input_bytes``; ``None`` means "assume scale" — the
#: 100 TB default.
ARROW_TOKENIZE_MIN_BYTES = 8 << 20


def _use_arrow(input_bytes: int | None) -> bool:
    return input_bytes is None or input_bytes >= ARROW_TOKENIZE_MIN_BYTES


def token_counts(
    df: DataFrame,
    text_col: str = "text",
    *,
    bpe_alias: str | None = None,
    ws_alias: str | None = None,
    stop_alias: str | None = None,
    chars_alias: str | None = None,
    input_bytes: int | None = None,
) -> DataFrame:
    """Size-adaptive per-row token/char counts: the Arrow/RE2 kernel
    (:func:`token_counts_arrow`) at scale — the default — or the
    bit-identical JVM column expressions below
    ``ARROW_TOKENIZE_MIN_BYTES`` (tiny inputs shouldn't pay Python
    interop). Both branches drop ``text_col`` and append the same
    BIGINT columns; equality is pinned by a unit test that runs both
    on the same frame."""
    if _use_arrow(input_bytes):
        return token_counts_arrow(
            df,
            text_col,
            bpe_alias=bpe_alias,
            ws_alias=ws_alias,
            stop_alias=stop_alias,
            chars_alias=chars_alias,
        )
    carry = [c for c in df.columns if c != text_col]
    exprs = []
    if bpe_alias:
        exprs.append(bpe_ish_token_count_expr(text_col).alias(bpe_alias))
    if stop_alias:
        # ws + stop share ONE split (codegen subexpression reuse):
        # size(split) == count('\s+')+1 on every input (pinned at
        # token_count_expr).
        toks = tokens(text_col)
        if ws_alias:
            exprs.append(F.size(toks).cast("bigint").alias(ws_alias))
        exprs.append(
            F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
            .cast("bigint")
            .alias(stop_alias)
        )
    elif ws_alias:
        exprs.append(token_count_expr(text_col).alias(ws_alias))
    if chars_alias:
        exprs.append(
            F.length(text_col).cast("bigint").alias(chars_alias)
        )
    return df.select(*carry, *exprs)


def token_first_id_table(
    df: DataFrame,
    group_col: str,
    id_col: str,
    text_col: str = "text",
    input_bytes: int | None = None,
) -> DataFrame:
    """Exact global ``(group, token) → min(id)`` first-occurrence
    table, size-adaptive: Arrow batch partials + Spark min at scale
    (:func:`token_first_id_partials_arrow`), JVM explode + min below
    the byte threshold. Output columns: group_col, token,
    ``first_id``."""
    if _use_arrow(input_bytes):
        partials = token_first_id_partials_arrow(
            df, group_col, id_col, text_col
        )
        return partials.groupBy(group_col, "token").agg(
            F.min("id_min").alias("first_id")
        )
    toks = df.select(
        group_col, id_col, F.explode(tokens(text_col)).alias("token")
    )
    return toks.groupBy(group_col, "token").agg(
        F.min(id_col).alias("first_id")
    )


def token_freq_table(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    input_bytes: int | None = None,
) -> DataFrame:
    """Exact global ``(group, token) → freq`` table, size-adaptive
    like :func:`token_first_id_table`. Output columns: group_col,
    token, ``freq``."""
    if _use_arrow(input_bytes):
        partials = token_count_partials_arrow(df, group_col, text_col)
        return partials.groupBy(group_col, "token").agg(
            F.sum("cnt").alias("freq")
        )
    toks = df.select(
        F.col(group_col), F.explode(tokens(text_col)).alias("token")
    )
    return toks.groupBy(group_col, "token").agg(
        F.count(F.lit(1)).alias("freq")
    )


def token_doc_vocab_union_arrow(
    df: DataFrame,
    group_col: str,
    id_col: str,
    text_col: str = "text",
) -> DataFrame:
    """ONE corpus scan serving BOTH tokenize consumers of a
    vocabulary-growth analysis (r10, built for q_heaps_fit): each
    Arrow batch is RE2-split once and emits a union-shaped frame —
    per-document rows ``(group, id, n_toks, token=NULL,
    id_min=NULL)`` plus batch-vocabulary partial rows ``(group,
    id=NULL, n_toks=NULL, token, id_min)`` (in-batch Acero
    ``min(id)`` combine, so vocab rows are batch-vocab-sized, never
    token-occurrence-sized).

    The two consumers split on ``token IS NULL``. Because they group
    on DIFFERENT keys, exchange reuse cannot serve them from one
    scan — the CALLER must materialize the union once
    (:func:`~...operators.util.materialize_once`, the
    q_doc_similarity three-consumer precedent) or the kernel runs
    twice and the fusion is lost. Measured vs the two-scan form
    (interleaved, result-equal): q_heaps_fit 2.04→1.47 s sf1,
    9.77→6.55 s sf10.

    100 TB posture: map-only kernel, union output ≈ |docs| +
    Σ batch-vocab (both ≪ token occurrences); the pin materializes
    that narrow union, not the corpus. On a cluster run with
    ``$SPARK_GRAFT_MATERIALIZE=table`` so the pin survives executor
    loss (localCheckpoint blocks are executor-local)."""
    types = {
        f.name: f.dataType.simpleString() for f in df.schema.fields
    }
    id_t = types[id_col]
    out_schema = (
        f"{group_col} {types[group_col]}, {id_col} {id_t}, "
        f"n_toks long, token string, id_min {id_t}"
    )

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            t = pc.utf8_trim(b.column(text_col), " ")
            lst = pc.split_pattern_regex(t, JAVA_WS_CLASS + "+")
            n = len(t)
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(group_col),
                    b.column(id_col),
                    pc.cast(pc.list_value_length(lst), pa.int64()),
                    pa.nulls(n, pa.string()),
                    pa.nulls(n, b.column(id_col).type),
                ],
                [group_col, id_col, "n_toks", "token", "id_min"],
            )
            flat = pc.list_flatten(lst)
            par = pc.list_parent_indices(lst)
            vocab = (
                pa.table(
                    {
                        group_col: b.column(group_col).take(par),
                        "token": flat,
                        "id_min": b.column(id_col).take(par),
                    }
                )
                .group_by([group_col, "token"])
                .aggregate([("id_min", "min")])
                .rename_columns([group_col, "token", "id_min"])
            )
            m = vocab.num_rows
            yield from pa.table(
                {
                    group_col: vocab.column(group_col),
                    id_col: pa.nulls(m, b.column(id_col).type),
                    "n_toks": pa.nulls(m, pa.int64()),
                    "token": vocab.column("token"),
                    "id_min": vocab.column("id_min"),
                }
            ).to_batches()

    return df.select(group_col, id_col, text_col).mapInArrow(
        kernel, out_schema
    )


def token_first_id_partials_arrow(
    df: DataFrame,
    group_col: str,
    id_col: str,
    text_col: str = "text",
    out_alias: str = "id_min",
) -> DataFrame:
    """Per-batch ``(group, token) → min(id)`` partials (see
    :func:`_token_partials_arrow`); finish with
    ``groupBy(group, token).agg(min(out_alias))`` for the exact
    global first-occurrence table. r10 A/B on q_heaps_fit (min-of-3
    warm, interleaved, result-equal): 1.87→1.73 s sf1,
    12.2→9.5 s sf10 vs the JVM split+explode leg."""
    return _token_partials_arrow(df, group_col, text_col, id_col, out_alias)


def token_count_partials_arrow(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    out_alias: str = "cnt",
) -> DataFrame:
    """Per-batch ``(group, token) → count`` partials (see
    :func:`_token_partials_arrow`); finish with
    ``groupBy(group, token).agg(sum(out_alias))`` for exact global
    token frequencies."""
    return _token_partials_arrow(df, group_col, text_col, None, out_alias)


def token_count_expr(text: Column | str) -> Column:
    """Whitespace token COUNT without building the token array:
    ``regexp_count(trim(text), '\\s+') + 1`` == ``size(split(...))``
    for every input (empty string → 1-element [''], NULL → NULL) —
    verified mismatch-free against the split form on the full sf1
    corpus. The regex scans without allocating tokens (r6: ~10% off
    a counting pass); use :func:`tokens` only when the tokens
    themselves are consumed."""
    text = F.col(text) if isinstance(text, str) else text
    return (F.regexp_count(F.trim(text), F.lit(r"\s+")) + 1).cast(
        "bigint"
    )


def token_count(df: DataFrame, text_col: str = "text", alias: str = "n_tokens") -> DataFrame:
    """Whitespace token count per document (BIGINT to align with the
    DuckDB oracle's ``len(list)``)."""
    return df.withColumn(alias, token_count_expr(text_col))


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring statistics per document: length, token count,
    average token length, stopword ratio, whitespace ratio, and a
    composite quality score. All deterministic closed-form
    expressions so a SQL oracle can reproduce them exactly."""
    toks = tokens(text_col)
    df = df.withColumn("__toks", toks)
    n_tokens = F.size("__toks").cast("bigint")
    tok_chars = F.aggregate(
        "__toks", F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
    )
    stop_hits = F.size(
        F.filter("__toks", lambda t: t.isin(*STOPWORDS))
    ).cast("bigint")
    length = F.length(text_col).cast("bigint")
    out = (
        df.withColumn("len", length)
        .withColumn("n_tokens", n_tokens)
        .withColumn(
            "avg_token_len", F.round(tok_chars / F.col("n_tokens"), 6)
        )
        .withColumn(
            "stopword_ratio", F.round(stop_hits / F.col("n_tokens"), 6)
        )
        .withColumn(
            "space_ratio",
            F.round((F.col("len") - tok_chars) / F.col("len"), 6),
        )
        .withColumn(
            "quality_score",
            F.round(
                F.least(F.col("n_tokens"), F.lit(50)) / F.lit(50.0)
                * (F.lit(1.0) - F.col("stopword_ratio")),
                6,
            ),
        )
        .drop("__toks")
    )
    return out


def lang_id(df: DataFrame, text_col: str = "text", alias: str = "lang_guess") -> DataFrame:
    """Heuristic language ID: stopword-hit-ratio n-gram heuristic —
    classify as 'en' when the English-stopword token ratio clears a
    threshold. (A real pipeline plugs a model here; the engine
    surface — per-row scoring, no shuffle — is identical.)

    The ratio runs under a :func:`~fifa_data_pipeline_spark.operators.
    util.let1` binding (r12): the numerator and denominator otherwise
    each inline their own copy of the split, doubling the tokenize
    cost per evaluation site (and grouping keys built on ``alias``
    get substituted into aggregates, multiplying sites)."""
    from fifa_data_pipeline_spark.operators.util import let1

    toks = tokens(text_col)
    ratio = let1(
        toks,
        lambda t: F.size(F.filter(t, lambda x: x.isin(*STOPWORDS)))
        / F.size(t),
    )
    return df.withColumn(
        alias, F.when(ratio >= 0.08, F.lit("en")).otherwise(F.lit("unk"))
    )


def fingerprint(df: DataFrame, text_col: str = "text", alias: str = "fp") -> DataFrame:
    """Document fingerprint: MD5 over the case/whitespace-normalized
    text. Stable across engines (both Spark and DuckDB ship standard
    MD5 → lowercase hex), so it doubles as a distributed exact-dedup
    key whose comparison cost is O(16 bytes) regardless of doc size."""
    return df.withColumn(
        alias, F.md5(F.lower(F.trim(F.col(text_col))))
    )


def top_tokens(
    df: DataFrame, text_col: str = "text", n: int = 20
) -> DataFrame:
    """Corpus-wide token frequencies, top n (count desc, token asc).
    Explode → hash aggregate (map-side partial counts) → top-k merge;
    the shuffle carries one row per distinct token per task."""
    ex = exploded(df, tokens(text_col), "token")
    counts = ex.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.orderBy(F.desc("cnt"), F.asc("token")).limit(n)


def tfidf(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Raw-count TF-IDF per (doc, token): tf × ln(N / df_token).

    Three aggregates over one exploded token table (tf per doc-term,
    document frequency per term, corpus size), joined back — all
    hash aggregates with map-side partials; the df-per-term side is
    one row per distinct token, broadcastable at any corpus size for
    a bounded vocabulary."""
    ex = exploded(df, tokens(text_col), "token", keep=[id_col])
    tf = ex.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = ex.groupBy("token").agg(
        F.countDistinct(id_col).alias("__df")
    )
    n_docs = df.select(F.countDistinct(id_col).alias("__n"))
    return (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "token",
            "tf",
            F.round(F.col("tf") * F.log(F.col("__n") / F.col("__df")), 6).alias(
                "tfidf"
            ),
        )
    )


def position_ngrams(arr: Column | str, w: int) -> Column:
    """Positional word w-grams of a token-array column, in order
    (index i = the gram starting at token i+1): built by iterated
    ``zip_with`` over ``w`` shifted slices, so the source array is
    referenced O(w) times total.

    Construction: a LET BINDING via ``transform(array(arr), t -> …)``
    — the outer single-element transform evaluates ``arr`` exactly
    once and binds it to the lambda variable ``t``; the inner
    per-position ``slice(t, i, w)`` then reads the materialized
    array. Writing ``slice(arr, i, w)`` directly instead re-evaluates
    the producing expression (e.g. the upstream ``split``) once per
    position, because higher-order-function lambdas run interpreted —
    no whole-stage codegen, no common-subexpression elimination —
    which is O(tokens²) characters per document. Measured on the
    5 000-doc sf0.1 corpus (w=2): 4.9 s → 0.5 s for the explode.
    (An iterated ``zip_with`` concat chain also fixes the re-split
    but copies each gram's characters O(w) times — measured slower
    at w=8 than this form.)"""
    arr = F.col(arr) if isinstance(arr, str) else arr
    return F.element_at(
        F.transform(
            F.array(arr),
            lambda t: F.when(
                F.size(t) >= w,
                F.transform(
                    F.sequence(F.lit(1), F.size(t) - w + 1),
                    lambda i: F.concat_ws(" ", F.slice(t, i, w)),
                ),
            ).otherwise(F.expr("array()").cast("array<string>")),
        ),
        1,
    )


def position_gram_hashes(arr: Column | str, w: int) -> Column:
    """64-bit hashes of the positional w-grams of a token-array
    column — never building the gram string at all (no ``concat_ws``
    char copies, no 32-char md5 hex). Each token is hashed to a long
    ONCE (``xxhash64`` over the token array), then every w-gram hash
    combines its w consecutive token-hashes with one fixed-width
    ``xxhash64(long, …, long)`` — the r6 slice form re-hashed each
    token's characters w times and allocated a w-element slice array
    per position (r7 A/B at sf1: gram build 0.58 s → 0.35 s, full
    decontaminate 0.76 s → 0.54 s, identical join results). Use when
    only gram IDENTITY matters (joins, distinct-counts);
    :func:`position_ngrams` when the gram text is part of the
    output. Same let-binding discipline (the token-hash array
    evaluates once, not per position)."""
    arr = F.col(arr) if isinstance(arr, str) else arr
    return F.element_at(
        F.transform(
            F.array(F.transform(arr, lambda t: F.xxhash64(t))),
            lambda hs: F.when(
                F.size(hs) >= w,
                F.transform(
                    F.sequence(F.lit(1), F.size(hs) - w + 1),
                    lambda i: F.xxhash64(
                        *[F.element_at(hs, i + F.lit(j)) for j in range(w)]
                    ),
                ),
            ).otherwise(F.expr("array()").cast("array<bigint>")),
        ),
        1,
    )


def shingles(text_col: str, k: int = 3) -> Column:
    """Distinct word k-gram shingles of a text column — the unit set
    for Jaccard similarity and MinHash. Documents shorter than k
    tokens contribute their full text as a single shingle.

    Built on :func:`position_ngrams` (let-bound, O(tokens·k)): the
    previous ``slice(toks, …)``-inside-lambda form re-split the text
    once per position — measured 2.7 s → 0.4 s for the sf0.1 shingle
    explode, identical shingle values."""
    toks = tokens(text_col)
    return F.array_distinct(
        F.when(F.size(toks) >= k, position_ngrams(toks, k)).otherwise(
            F.array(F.trim(F.col(text_col)))
        )
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap —
    the context-window chunking step of a training/RAG pipeline.
    Returns one row per (doc, chunk): (id, chunk_idx, chunk_text,
    n_tokens). The final window is the remainder (≥1 token); stride =
    ``chunk_tokens - overlap``.

    Pure explode-over-expression: window starts come from
    ``sequence()``, each chunk is ``slice`` + ``concat_ws`` — no
    Python, no shuffle; scales linearly with input splits. Chunk
    fan-out is ~n_tokens/stride per doc, so output row count is
    corpus-token-bound, not doc-bound."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    df = df.withColumn("__toks", tokens(text_col))
    n = F.size("__toks")
    # one start per stride covering every token at least once
    starts = F.sequence(
        F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride)
    )
    return (
        exploded(
            df, starts, "__start",
            keep=[id_col, "__toks"], pos_alias="chunk_idx",
        )
        .select(
            id_col,
            "chunk_idx",
            F.concat_ws(
                " ", F.slice("__toks", F.col("__start") + 1, chunk_tokens)
            ).alias("chunk_text"),
            F.least(
                F.size("__toks") - F.col("__start"), F.lit(chunk_tokens)
            ).cast("bigint").alias("n_tokens"),
        )
    )


def repetition_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Intra-document repetition signals (Gopher/RefinedWeb-style
    quality filters): the fraction of duplicate word k-grams and of
    duplicate tokens within each document. High ratios flag boiler-
    plate/spam for removal before training. Per-row expressions only
    — no shuffle; 6-dp rounding keeps the SQL oracle hash-stable."""
    toks = tokens(text_col)
    df = df.withColumn("__toks", toks)
    n = F.size("__toks")
    n_grams = n - k + 1
    grams = position_ngrams(F.col("__toks"), k)  # let-bound: no re-split
    dup_gram = F.when(
        n_grams >= 1,
        F.round(
            (n_grams - F.size(F.array_distinct(grams))) / n_grams, 6
        ),
    ).otherwise(F.lit(0.0))
    dup_tok = F.round(
        (n - F.size(F.array_distinct("__toks"))) / n, 6
    )
    return df.select(
        F.col(id_col),
        dup_gram.alias("dup_gram_ratio"),
        dup_tok.alias("dup_token_ratio"),
    )


#: PII patterns shared by the Spark expression and the DuckDB oracle
#: (kept to syntax both regex engines — Java util.regex and RE2 —
#: read identically).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?[0-9][0-9() .-]{7,}[0-9]"


def pii_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Redact email addresses and phone-number-shaped spans, counting
    redactions per document — the compliance scrub every corpus
    pipeline runs before training. Emails are replaced first (their
    digits would otherwise be re-matched by the phone pattern).
    Pure per-row regexp expressions; at 100 TB this is a map-only
    stage that rides whatever partitioning the scan provides."""
    n_email = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(PII_EMAIL), F.lit(0))
    )
    no_email = F.regexp_replace(F.col(text_col), PII_EMAIL, "<EMAIL>")
    n_phone = F.size(F.regexp_extract_all(no_email, F.lit(PII_PHONE), F.lit(0)))
    clean = F.regexp_replace(no_email, PII_PHONE, "<PHONE>")
    return df.select(
        F.col(id_col),
        clean.alias("clean_text"),
        (n_email + n_phone).cast("bigint").alias("n_redactions"),
    )


def rolling_hash(
    df: DataFrame, text_col: str = "text", alias: str = "rfp",
    base: int = 31, mod: int = 1_000_000_007, init: int = 7,
) -> DataFrame:
    """Polynomial rolling-hash document fingerprint (Rabin–Karp
    style): fold character code points left-to-right with
    ``acc*base + code (mod m)``. Pure per-row expression inside
    whole-stage codegen — no shuffle, no Python. Unlike the MD5
    ``fingerprint``, the rolling form is the building block for
    content-defined chunking (same construction, windowed).

    Engine-portable: DuckDB computes the identical value with
    list_reduce over ord() codes, so the query is oracle-checkable."""
    fp = F.expr(
        f"aggregate(transform(split({text_col}, ''), "
        f"c -> CAST(ascii(c) AS BIGINT)), CAST({init} AS BIGINT), "
        f"(acc, c) -> (acc * {base} + c) % {mod})"
    )
    return df.withColumn(alias, fp)


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark-contamination detection: flag corpus documents that
    share any word ``n``-gram with a held-out benchmark/eval set (the
    standard pre-training decontamination step, n≈8-13 in published
    pipelines). Returns one row per contaminated document:
    (id, n_hits = distinct overlapping grams, n_grams = distinct
    grams in the doc, contamination = n_hits/n_grams).

    Scale shape: the benchmark side collapses to its DISTINCT gram-
    hash set — eval suites are tiny relative to a 100 TB corpus — and
    is broadcast, so the corpus side is one scan + one map-side hash
    join + one groupBy(id) shuffle of only the HIT rows. Grams are
    represented ONLY as :func:`position_gram_hashes` 64-bit hashes
    (r7 token-hash-once: each token xxhash64-ed once, w-gram =
    fixed-width xxhash64 over the w token-hashes; previously
    concat_ws gram strings md5-folded to 32-char hex): the gram
    text never materializes, and the join key
    is an 8-byte long. Gram identity via hash is exact up to xxhash64
    collisions (~2⁻⁶⁴ per pair), which cannot flip the ≥1-hit
    contamination verdict in practice.

    Plan hygiene (measured 12× at sf0.1): tokens are projected to a
    named column BEFORE the gram transform (higher-order lambdas get
    no CSE — an inline split re-evaluates per gram), and the explode
    goes through :func:`operators.util.exploded` so the optimizer's
    inferred generate-filter cannot clone the gram builder."""
    def grams_of(df: DataFrame) -> DataFrame:
        toked = df.select(
            F.col(id_col), tokens(text_col).alias("__toks")
        )
        return toked.select(
            F.col(id_col),
            F.array_distinct(
                position_gram_hashes(F.col("__toks"), n)
            ).alias("__grams"),
        )

    # spread the corpus side: its gram build + md5 feeds a BROADCAST
    # join (no downstream shuffle to parallelize it), so a single-
    # split local file would run the whole hash stage on one core —
    # measured −40% at sf0.1; no-op at production split counts. The
    # benchmark side stays as-is (tiny, collapses to a broadcast set).
    from fifa_data_pipeline_spark.sources.io import spread

    cg = grams_of(spread(corpus))
    corpus_grams = exploded(
        cg,
        "__grams",
        "__gh",
        keep=[id_col, F.size("__grams").cast("bigint").alias("n_grams")],
    ).select(id_col, "n_grams", "__gh")
    bench_grams = (
        exploded(grams_of(benchmark), "__grams", "__gh")
        .select("__gh")
        .distinct()
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "__gh")
        .groupBy(id_col, "n_grams")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            id_col,
            "n_hits",
            "n_grams",
            F.round(F.col("n_hits") / F.col("n_grams"), 6).alias(
                "contamination"
            ),
        )
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | list[str] = "source",
    capacity: int = 2048,
) -> DataFrame:
    """Sequence packing: assign documents to fixed-capacity training
    sequences by deterministic greedy fill — within each group, docs
    are taken in ``id_col`` order and a doc starts a new sequence
    whenever the running token total would place its first token past
    a capacity boundary (``seq_id = (cumsum - n_tokens) div
    capacity``, the contiguous-fill formulation that is pure window
    algebra — no iterative bin-packing state). Returns one row per
    packed sequence: (group, seq_id, n_docs, seq_tokens).

    Scale shape: ONE shuffle (partition by group, sort by id) shared
    by the cumulative sum and the final per-sequence aggregate; the
    groupBy keys are a prefix extension of the window partition so
    AQE keeps them in the same exchange. Groups are independent, so
    at 100 TB packing parallelizes across (group) — use a
    date/shard column as the group for unbounded corpora."""
    groups = [group_col] if isinstance(group_col, str) else list(group_col)
    n_tok = token_count_expr(text_col)
    w = (
        Window.partitionBy(*groups)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = df.select(
        *[F.col(g) for g in groups], F.col(id_col), n_tok.alias("__n")
    ).withColumn("__cum", F.sum("__n").over(w))
    return (
        packed.withColumn(
            "seq_id",
            ((F.col("__cum") - F.col("__n")) / capacity).cast("bigint"),
        )
        .groupBy(*groups, "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n").alias("seq_tokens"),
        )
    )


def vocab_coverage(
    df: DataFrame, text_col: str = "text", top_n: int = 100
) -> DataFrame:
    """Vocabulary coverage report: the ``top_n`` most frequent tokens
    with rank and cumulative corpus share (the Zipf head — what a
    tokenizer's vocabulary would cover). Returns (token, n, rank,
    cum_share).

    Scale shape: token counts are a map-side-combined groupBy; the
    corpus total is derived from those counts (an all-to-one agg of
    the already-aggregated vocabulary, not a second corpus scan) and
    broadcast back; the global order is TakeOrdered over ``top_n``
    rows, so nothing but the vocabulary itself is ever globally
    sorted."""
    counts = (
        exploded(df, tokens(text_col), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("__total"))
    top = (
        counts.crossJoin(F.broadcast(total))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(top_n)
    )
    w = (
        Window.orderBy(F.desc("n"), F.asc("token"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return top.select(
        "token",
        "n",
        F.row_number().over(Window.orderBy(F.desc("n"), F.asc("token"))).alias("rank"),
        F.round(F.sum("n").over(w) / F.col("__total"), 6).alias("cum_share"),
    )


def unigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus's
    own unigram language model — the cheap stand-in for the
    perplexity-based quality filter every pretraining pipeline runs
    (CCNet/Gopher-style: drop documents whose tokens are improbable
    under a reference LM). Higher = more surprising / lower quality
    under the corpus distribution.

    score(doc) = −(1/|doc|) · Σ_t ln( count(t) / total_tokens )

    Plan shape: one exploded token aggregate builds the LM (one row
    per distinct token — broadcastable for a bounded vocabulary),
    then the exploded corpus joins the LM broadcast-side and reduces
    per document. Two map-side-combined aggregates plus one
    broadcast join; the corpus shuffles only on ``id_col``.

    The LM is pinned (r12, guide §2.4): its two consumers (the
    corpus-total rollup and the broadcast join build) otherwise each
    re-execute the full corpus scan+tokenize+explode+aggregate — the
    r11 plan scanned the corpus 3×. Pinning the vocabulary-sized
    count table makes it one LM build + one probe scan (3 → 2)."""
    from fifa_data_pipeline_spark.operators.util import pin

    ex = exploded(df, tokens(text_col), "token", keep=[id_col])
    lm = (
        ex.groupBy("token")
        .agg(F.count(F.lit(1)).alias("__tc"))
        .transform(pin("unigram_lm"))
    )
    total = lm.agg(F.sum("__tc").alias("__total"))
    return (
        ex.join(F.broadcast(lm), "token")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                -F.avg(F.log(F.col("__tc") / F.col("__total"))), 6
            ).alias("nll"),
        )
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 10,
    min_pair_count: int = 2,
) -> DataFrame:
    """Distributed BPE vocabulary training (Sennrich et al. 2016):
    learn ``num_merges`` byte-pair merges from the corpus, returning
    the merge table (step, a, b, merged, pair_count) — the tokenizer-
    training counterpart of the engine's other iterative algorithms
    (PageRank, connected components).

    Shape per iteration: adjacent-symbol pairs are exploded from the
    (distinct word, count) table weighted by word frequency, one hash
    aggregate picks the global argmax pair (a one-row driver
    round-trip — the merge decision is inherently global and tiny),
    and the merge is applied as a pure per-row ``aggregate`` fold
    (left-to-right, non-overlapping, exactly the reference BPE
    replacement). ``localCheckpoint`` per round truncates lineage as
    in :func:`~fifa_data_pipeline_spark.operators.graph.pagerank`.

    The heavy reduction — corpus → (word, count) — happens ONCE up
    front and is corpus-size-bound; every iteration after that runs
    on the distinct-word table (vocabulary-bound, millions of rows at
    web scale, never the corpus). Ties break lexicographically so the
    learned vocabulary is deterministic on any cluster shape."""
    spark = df.sparkSession
    words = (
        exploded(spread(df), tokens(text_col), "__w")
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .select("__w", "__cnt", F.split("__w", "").alias("__syms"))
        .transform(pin("text", eager=True))
    )
    pair_structs = F.expr(
        "CASE WHEN size(__syms) >= 2 THEN "
        "transform(sequence(0, size(__syms) - 2), "
        "i -> struct(__syms[i] AS a, __syms[i + 1] AS b)) "
        "ELSE array() END"
    )
    merges: list[tuple] = []
    cur = words
    for step in range(num_merges):
        top = (
            exploded(cur.select("__cnt", pair_structs.alias("__ps")),
                     F.col("__ps"), "__p", keep=["__cnt"])
            .groupBy("__p.a", "__p.b")
            .agg(F.sum("__cnt").alias("n"))
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top or top[0].n < min_pair_count:
            break
        a, b, n = top[0].a, top[0].b, top[0].n
        merged = a + b
        fold = F.aggregate(
            "__syms",
            F.array().cast("array<string>"),
            lambda acc, x: (
                F.when(F.size(acc) == 0, F.concat(acc, F.array(x)))
                .when(
                    (F.element_at(acc, -1) == F.lit(a)) & (x == F.lit(b)),
                    F.concat(
                        F.slice(acc, F.lit(1), F.size(acc) - 1),
                        F.array(F.lit(merged)),
                    ),
                )
                .otherwise(F.concat(acc, F.array(x)))
            ),
        )
        cur = cur.withColumn("__syms", fold).transform(pin("text", eager=True))
        merges.append((step, a, b, merged, n))
    return spark.createDataFrame(
        merges, "step int, a string, b string, merged string, pair_count long"
    )


def canonicalize_text(
    df: DataFrame, text_col: str = "text", alias: str = "canon"
) -> DataFrame:
    """Unicode canonicalization for dedup keys: NFKC normalize →
    casefold → strip combining marks (accent folding via NFD) →
    collapse whitespace runs → trim. 'Café  au lait' and
    'cafe au lait' canonicalize identically, which is the point —
    exact-dedup fingerprints (``fingerprint``/``incremental_dedup``)
    over raw bytes silently miss visually-identical duplicates that
    differ only in normalization form, case mapping, or exotic
    spaces (the normal state of web-scraped corpora).

    Python is unavoidable here (Spark has no builtin Unicode
    normalizer), so the kernel is an Arrow-batched ``mapInPandas``
    over stdlib ``unicodedata`` — vectorized at the batch level,
    never row-at-a-time UDF. Cross-engine agreement with DuckDB's
    ``nfc_normalize``/``strip_accents``/``lower`` is pinned on real
    Unicode inputs in test_text_dedup."""
    import unicodedata

    from collections.abc import Iterator as _Iter

    import pandas as pd

    in_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )

    def canon_one(t: str | None) -> str | None:
        if t is None:
            return None
        t = unicodedata.normalize("NFKC", t).casefold()
        t = "".join(
            c
            for c in unicodedata.normalize("NFD", t)
            if not unicodedata.combining(c)
        )
        return " ".join(t.split())

    def run(batches: _Iter[pd.DataFrame]):
        for pdf in batches:
            out = pdf.copy()
            out[alias] = [canon_one(t) for t in pdf[text_col]]
            yield out

    return df.mapInPandas(run, f"{in_fields}, {alias} string")


#: the 8 "required words" of the Gopher quality filter (Rae et al.
#: 2021, "Scaling Language Models: ... Gopher", Appendix A1.1)
GOPHER_REQUIRED = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher-style document-quality rules (after Rae et al. 2021,
    Appendix A1.1 — the filter set MassiveWeb/MassiveText shipped
    with, reused by RedPajama/Dolma-style pipelines), each as a
    boolean column plus the conjunction ``passes_gopher``:

    - ``r_word_count``: word count in [min_words, max_words]
    - ``r_mean_word_len``: mean word length in [3, 10]
    - ``r_symbol_ratio``: symbol-to-word ratio (# or …/...) < 0.1
    - ``r_bullet_lines``: < 90% of lines start with a bullet
    - ``r_ellipsis_lines``: < 30% of lines end with an ellipsis
    - ``r_alpha_words``: > 80% of words contain a letter
    - ``r_required_words``: ≥ 2 distinct of the 8 required English
      function words present

    TOKEN-LEVEL APPROXIMATION of the paper (deliberate, ADVICE r4):
    ``r_symbol_ratio`` counts TOKENS containing a symbol — a token
    ``##…##`` counts once, where Rae et al.'s symbol-to-word ratio
    counts occurrences — and ``r_mean_word_len`` includes punctuation
    characters in token length. Both shift thresholds on
    symbol-dense documents; the paired SQL oracle reproduces the
    same token-level definitions, so the approximation is pinned,
    not accidental. Swap ``n_symbols`` for a per-token
    ``regexp_count`` sum to match the paper exactly.

    Everything is a closed-form per-row expression (split + filter +
    size) — no shuffle, no UDF; at 100 TB this is a map-only stage
    fused into the scan, and the SQL twin reproduces each rule
    exactly (IEEE-double ratios, same tokenizations).

    Expression economics (r12, guide §1.2 "per-task work" / RUNBOOK
    §3 HOF note): the rules are higher-order functions, which run
    interpreted with NO common-subexpression elimination — the r11
    form re-ran the whitespace SPLIT once per token rule (5×) and
    the newline split once per line rule (3×+), measured as ~2/3 of
    the query's sf1 wall time. Both splits are now BOUND once with
    the ``transform(array(x), t -> struct(...))[0]`` idiom (the HOF
    *input argument* evaluates once) and every rule count comes out
    of that one struct; the struct column lands in its OWN projection
    so the rule expressions reference cheap field extracts
    (CollapseProject does not duplicate non-cheap expressions, which
    keeps the struct single-evaluation — verified in the plan dump).
    Each rule's predicate/arithmetic is token-for-token the r11
    expression, so results are byte-identical (oracle-pinned)."""
    toks = tokens(text_col)
    lines = F.split(F.col(text_col), "\n")
    tstats = F.transform(
        F.array(toks),
        lambda t: F.struct(
            F.size(t).alias("nw"),
            F.aggregate(
                t,
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + F.length(x),
            ).alias("chars"),
            F.size(
                F.filter(
                    t,
                    lambda x: x.contains("#")
                    | x.contains("...")
                    | x.contains("…"),
                )
            ).alias("symbols"),
            F.size(F.filter(t, lambda x: x.rlike("[a-zA-Z]"))).alias(
                "alpha"
            ),
            F.size(
                F.array_intersect(
                    F.array_distinct(F.transform(t, F.lower)),
                    F.array(*[F.lit(w) for w in GOPHER_REQUIRED]),
                )
            ).alias("required"),
        ),
    )[0]
    lstats = F.transform(
        F.array(lines),
        lambda ls: F.struct(
            F.size(ls).alias("nl"),
            F.size(
                F.filter(
                    ls,
                    lambda l: F.trim(l).startswith("-")
                    | F.trim(l).startswith("*")
                    | F.trim(l).startswith("•"),
                )
            ).alias("bullets"),
            F.size(
                F.filter(
                    ls,
                    lambda l: F.trim(l).endswith("...")
                    | F.trim(l).endswith("…"),
                )
            ).alias("ellipsis"),
        ),
    )[0]
    st = df.select("*", tstats.alias("__ts"), lstats.alias("__ls"))
    nw = F.col("__ts.nw")
    tok_chars = F.col("__ts.chars")
    n_symbols = F.col("__ts.symbols")
    n_alpha = F.col("__ts.alpha")
    n_required = F.col("__ts.required")
    nl = F.col("__ls.nl")
    n_bullets = F.col("__ls.bullets")
    n_ellipsis_end = F.col("__ls.ellipsis")
    out = (
        st.withColumn("__nw", nw)
        .withColumn(
            "r_word_count",
            (F.col("__nw") >= min_words) & (F.col("__nw") <= max_words),
        )
        .withColumn(
            "r_mean_word_len",
            (tok_chars / F.col("__nw") >= 3) & (tok_chars / F.col("__nw") <= 10),
        )
        .withColumn("r_symbol_ratio", n_symbols / F.col("__nw") < 0.1)
        .withColumn("r_bullet_lines", n_bullets / nl < 0.9)
        .withColumn("r_ellipsis_lines", n_ellipsis_end / nl < 0.3)
        .withColumn("r_alpha_words", n_alpha / F.col("__nw") > 0.8)
        .withColumn("r_required_words", n_required >= 2)
    )
    rules = [
        "r_word_count", "r_mean_word_len", "r_symbol_ratio",
        "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words",
        "r_required_words",
    ]
    acc = F.col(rules[0])
    for r in rules[1:]:
        acc = acc & F.col(r)
    return out.withColumn("passes_gopher", acc).drop(
        "__nw", "__ts", "__ls"
    )


def dsir_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_col: str = "__is_target",
    n_buckets: int = 256,
    smoothing: float = 0.5,
) -> DataFrame:
    """DSIR importance scores (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): represent each doc
    as hashed word-bigram counts over ``n_buckets`` buckets, fit
    per-bucket unigram probabilities for the TARGET subset (rows with
    ``target_col`` true) and the RAW corpus (all rows) with additive
    smoothing, and score every doc by its log-likelihood ratio
    Σ count_b · ln(p_target(b) / p_raw(b)) — the weight importance
    resampling then samples by (high score = looks like the target
    distribution).

    Engine-portability: bucket = the 60-bit md5 fold mod n_buckets
    (bit-identical in SQL); each bucket's log-ratio is rounded to
    integer MICRO-units first, and the per-doc score is a BIGINT sum
    of count × micro-units — integer addition is order-free, so the
    score is reproducible across engines, partitionings and reruns
    (a raw double Σ would depend on partial-sum order). ``score`` is
    the micro-unit total divided back out, rounded to 6 dp.

    Plan shape: one bigram explode + two tiny bucket aggregates
    (n_buckets rows, broadcast back) + one per-doc sum — the fact
    table shuffles once on (doc, bucket); at 100 TB the bucket
    distributions are a metadata-sized side input, exactly the
    streaming-friendly structure the paper exploits."""
    # Bigram pairs via NATIVE arrays_zip over a shifted slice (r6):
    # the gram string concat and its md5 fold then run at ROW level
    # inside whole-stage codegen instead of inside an interpreted
    # per-position lambda (same rewrite as q_pmi_bigrams — the r5
    # position_ngrams form was the 2.1× residual). The md5-fold
    # bucket is part of the oracle contract, so only WHERE the
    # string is built moves, not what is hashed.
    toked = df.select(
        F.col(id_col),
        F.col(target_col).alias("__t"),
        tokens(text_col).alias("__toks"),
    )
    base = (
        toked.select(
            F.col(id_col),
            "__t",
            F.explode(
                F.expr(
                    "arrays_zip(__toks,"
                    " slice(__toks, 2, greatest(size(__toks) - 1, 0)))"
                )
            ).alias("__p"),
        )
        .filter(F.col("__p.1").isNotNull())
        .select(
            F.col(id_col),
            "__t",
            F.concat_ws(" ", F.col("__p.__toks"), F.col("__p.1")).alias(
                "__g"
            ),
        )
        .withColumn(
            "__b",
            F.pmod(
                F.conv(F.substring(F.md5("__g"), 1, 15), 16, 10).cast(
                    "bigint"
                ),
                F.lit(n_buckets),
            ),
        )
    )
    # ONE pass over the md5 explode: per-(doc, bucket) counts carry
    # the doc's target flag, and the per-bucket distributions are a
    # rollup of that table — without this the explode pipeline is
    # re-evaluated for every downstream consumer (measured 7× wall
    # at the 10× scale-up before the restructure). The checkpoints
    # are narrow: ≤ docs × n_buckets and n_buckets rows.
    doc_counts = (
        base.groupBy(id_col, "__t", "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
        .transform(pin("text"))
    )
    bucket = (
        doc_counts.groupBy("__b")
        .agg(
            F.sum("__c").alias("__raw"),
            F.sum(F.when(F.col("__t"), F.col("__c")).otherwise(0)).alias(
                "__tgt"
            ),
        )
        .transform(pin("text"))
    )
    totals = bucket.agg(
        F.sum("__raw").alias("__nraw"), F.sum("__tgt").alias("__ntgt")
    )
    weights = bucket.crossJoin(F.broadcast(totals)).select(
        "__b",
        F.round(
            (
                F.log(
                    (F.col("__tgt") + smoothing)
                    / (F.col("__ntgt") + smoothing * n_buckets)
                )
                - F.log(
                    (F.col("__raw") + smoothing)
                    / (F.col("__nraw") + smoothing * n_buckets)
                )
            )
            * 1_000_000.0,
            0,
        )
        .cast("bigint")
        .alias("__w"),
    )
    scored = (
        doc_counts.join(F.broadcast(weights), "__b")
        .groupBy(id_col)
        .agg(
            F.sum("__c").alias("n_bigrams"),
            F.sum(F.col("__c") * F.col("__w")).alias("score_micro"),
        )
    )
    return scored.select(
        id_col,
        "n_bigrams",
        "score_micro",
        F.round(F.col("score_micro") / 1_000_000.0 / F.col("n_bigrams"), 6).alias(
            "score"
        ),
    )


def zipf_fit(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    input_bytes: int | None = None,
) -> DataFrame:
    """Per-group Zipf-law fit: OLS of ln(frequency) on ln(rank) over
    the group's token frequency table (rank 1 = most frequent; ties
    broken by token text so the rank is deterministic across
    engines). Natural language keeps the slope near −1; templated or
    machine-generated text departs sharply, making slope + r² a
    cheap source-level quality gate before heavier curation runs.
    Returns ``(group, n_types, n_tokens, zipf_slope, zipf_intercept,
    r2)`` via :func:`ln_ols` — exact integer moments, one pass over
    the ranked vocabulary, no totals join, run-order-deterministic.

    Plan shape: size-adaptive frequency table
    (:func:`token_freq_table` — r10: Arrow/RE2 batch partials at
    scale, where the JVM explode→hash-agg leg it replaces paid
    java.util.regex per byte) → per-group rank window → per-group
    regression aggregate. Only the VOCABULARY — not the corpus —
    crosses the rank window, so the sorted partition is bounded by
    types-per-group. At 100 TB with a very large per-group
    vocabulary, replace ``row_number`` with the sort-free two-pass
    rank (join each type against the group's frequency histogram:
    rank = 1 + Σ counts of strictly-higher frequencies, ties resolved
    within the equal-frequency bucket) to keep every stage a hash
    aggregate."""
    counts = token_freq_table(
        df, group_col, text_col, input_bytes=input_bytes
    )
    w = Window.partitionBy(group_col).orderBy(F.desc("freq"), F.asc("token"))
    ranked = counts.withColumn("rank", F.row_number().over(w))
    fit = ln_ols(
        ranked, [group_col], F.log("rank"), F.log("freq"),
        slope="zipf_slope", intercept="zipf_intercept",
        extra_aggs=[F.sum("freq").cast("bigint").alias("n_tokens")],
    ).withColumnRenamed("n", "n_types")
    return fit.select(
        group_col, "n_types", "n_tokens",
        "zipf_slope", "zipf_intercept", "r2",
    )


def ln_ols(
    df: DataFrame,
    group_cols: list[str],
    x: Column,
    y: Column,
    slope: str = "slope",
    intercept: str = "intercept",
    quantum: int = 10_000,
    extra_aggs: list[Column] | None = None,
) -> DataFrame:
    """Deterministic per-group OLS of ``y`` on ``x`` (both typically
    ln() expressions): x and y are quantized to 1/``quantum`` units
    (``round(x·quantum)`` — both engines round the same double away
    from zero at 0 dp), the five moment sums accumulate as EXACT
    BIGINTs (integer addition commutes, so partial-aggregation order
    cannot perturb them — float ``regr_*`` co-moments flip rounding
    boundaries run-to-run under 32-thread partial aggs, observed on
    q_heaps_fit), and slope/intercept/r² derive from the integer
    moments by double arithmetic written IDENTICALLY in the DuckDB
    twins. Returns group cols + ``n`` + slope/intercept/r2 (4/4/6 dp).

    Range: the BIGINT moment sums fit int64 while
    n·(quantum·|x|max)² < 2⁶³ — at quantum 10⁴ and |x| ≤ ln(10⁹),
    about 10⁸ rows per group; lower ``quantum`` to 10³ for groups
    beyond that. The moment COMBINATION (n·Σxy − Σx·Σy) overflows
    int64 ~n× earlier — found live at sf10 (60 M rows, ANSI throw) —
    so it runs in DECIMAL(38,0): exact integers, group-count-sized
    rows, zero aggregate-side cost; DuckDB's side is already exact
    there (SUM(BIGINT) → HUGEINT)."""
    q = F.lit(quantum)
    xm = F.round(x * q, 0).cast("bigint")
    ym = F.round(y * q, 0).cast("bigint")
    m = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xm).alias("__sx"),
        F.sum(ym).alias("__sy"),
        F.sum(xm * xm).alias("__sxx"),
        F.sum(xm * ym).alias("__sxy"),
        F.sum(ym * ym).alias("__syy"),
        *(extra_aggs or []),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    dnum = dec("n") * dec("__sxy") - dec("__sx") * dec("__sy")
    dxx = dec("n") * dec("__sxx") - dec("__sx") * dec("__sx")
    dyy = dec("n") * dec("__syy") - dec("__sy") * dec("__sy")
    s = dnum.cast("double") / dxx
    return (
        m.withColumn(slope, F.when(dxx > 0, F.round(s, 4)))
        .withColumn(
            intercept,
            F.when(
                dxx > 0,
                F.round(
                    (F.col("__sy").cast("double") - s * F.col("__sx"))
                    / F.col("n")
                    / quantum,
                    4,
                ),
            ),
        )
        .withColumn(
            "r2",
            F.when(
                (dxx > 0) & (dyy > 0),
                F.round(s * (dnum.cast("double") / dyy), 6),
            ),
        )
        .drop("__sx", "__sy", "__sxx", "__sxy", "__syy")
    )
