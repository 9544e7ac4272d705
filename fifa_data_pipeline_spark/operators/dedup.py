"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, and n-gram Jaccard verification.

Design (all public-knowledge constructions — Broder's MinHash, the
banding LSH scheme, Charikar's SimHash):

- Signatures are computed with **higher-order array functions only**
  (``transform``/``aggregate``/``array_min`` over per-row shingle
  arrays + ``xxhash64``) — no explode, no Python, no shuffle until
  the candidate join. Per-row cost is O(#shingles × #hashes); the
  only shuffles are the band-bucket self-join and the final distinct.
- Candidate generation is the classic band trick: split the
  signature into ``bands`` bands of ``rows_per_band`` hashes, bucket
  by (band_id, band_hash), and emit pairs that share any bucket.
  At 100 TB this is THE reason the approach works: the self-join keys
  on (band_id, band_hash) — a fine-grained, well-distributed key —
  instead of comparing all O(n²) pairs.
- Everything is seeded/deterministic (xxhash64 with fixed per-slot
  seeds), so results are reproducible run-to-run, which the driver's
  hash checks require.

Skew note: a degenerate bucket (e.g. thousands of boilerplate-
identical docs) makes the bucket join quadratic in that bucket. The
``max_bucket_size`` guard drops buckets larger than the cap —
standard practice (such buckets are near-certain duplicates of one
another; route them to exact dedup by fingerprint instead).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from fifa_data_pipeline_spark.operators.text import (
    position_gram_hashes,
    shingles,
    tokens,
)
from fifa_data_pipeline_spark.operators.util import exploded, pin
from fifa_data_pipeline_spark.sources.io import spread


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, on: list[str], id_col: str) -> DataFrame:
    """Exact deduplication via hash-groupBy on the dedup key: one row
    per distinct key, keeping the smallest ``id_col`` as the canonical
    representative plus the duplicate count. Deterministic (unlike
    bare ``dropDuplicates``, which keeps an arbitrary row)."""
    return df.groupBy(*on).agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_dups")
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    k: int = 3,
) -> DataFrame:
    """(id, sig: array<bigint>) as ONE streaming pass per row: fold
    the shingle array with ``aggregate``, carrying an ``n_hashes``-wide
    min-accumulator and updating every slot per shingle with
    ``zip_with``/``least``. Zero shuffles — the signature is a plain
    projection, embarrassingly parallel at any scale.

    Measured A/B at sf0.1 (5 000 docs, min-of-3): this form 0.40 s vs
    0.55 s for the explode → groupBy(32×MIN) form it replaced (which
    also paid a doc_id shuffle), vs 5.3 s for the naive per-slot
    ``transform(sequence(...), i -> array_min(transform(sh, ...)))``
    form — the per-slot form re-walks and re-allocates the shingle
    array once per hash slot, while this fold walks it once with
    O(n_hashes) state. Signatures are bit-identical across all three
    (xxhash64 of (shingle, int slot) with int literals either way).
    """
    sh = spread(df).select(
        F.col(id_col), shingles(text_col, k).alias("__sh")
    )
    # expr string, not a Column tree: one py4j call for the whole
    # fold (see memory: plan-build cost of wide Column trees).
    sig = (
        f"aggregate(__sh, array_repeat({_LONG_MAX}L, {n_hashes}), "
        f"(acc, s) -> zip_with(acc, sequence(0, {n_hashes - 1}), "
        "(a, i) -> least(a, xxhash64(s, i)))) AS sig"
    )
    return sh.select(F.col(id_col), F.expr(sig))


_LONG_MAX = (1 << 63) - 1


def _band_hashes(sig_col: str, bands: int, rows_per_band: int) -> Column:
    """Hash each band of the signature into one bucket key (single
    expr string — see ``minhash_signatures`` note on plan-build cost)."""
    items = ", ".join(
        "xxhash64({b}, {elems})".format(
            b=b,
            elems=", ".join(
                f"element_at({sig_col}, {b * rows_per_band + r + 1})"
                for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return F.expr(f"array({items})")


def minhash_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
) -> DataFrame:
    """(id, band_id, band_hash) bucket assignments — one output row
    per doc per band."""
    rows_per_band = n_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, n_hashes, k)
    # outer-generate: keeps InferFiltersFromGenerate from cloning the
    # band-hash transform (and, pushed below the projection, the whole
    # signature fold) into a pre-filter — measured −39% at sf0.1.
    return exploded(
        sigs,
        _band_hashes("sig", bands, rows_per_band),
        "band_hash",
        keep=[id_col],
        pos_alias="band_id",
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Distinct candidate near-dup pairs (id_a < id_b) that share at
    least one LSH bucket. The bucket-size guard keeps a degenerate
    bucket from going quadratic (see module docstring).

    Pairs are generated INSIDE each bucket group (groupBy bucket →
    ``collect_set`` ids → in-row combination explode) rather than via
    a bucket self-join: one shuffle instead of three (self-join build
    + probe + the size-guard window), no join hash table, and the
    signature pipeline is provably computed once. The size guard
    becomes a free post-aggregation filter."""
    buckets = minhash_buckets(df, id_col, text_col, n_hashes, bands, k)
    grouped = buckets.groupBy("band_id", "band_hash").agg(
        F.sort_array(F.collect_set(id_col)).alias("__ids")
    )
    sized = grouped.filter(
        (F.size("__ids") >= 2) & (F.size("__ids") <= max_bucket_size)
    )
    combos = F.expr(
        "flatten(transform(__ids, (x, i) -> "
        "transform(slice(__ids, i + 2, size(__ids)), "
        "y -> struct(x AS id_a, y AS id_b))))"
    )
    return (
        exploded(sized, combos, "__p")
        .select("__p.id_a", "__p.id_b")
        .distinct()
    )


def jaccard_verify_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.6,
    prune_candidates: bool = False,
) -> DataFrame:
    """Exact word-k-gram Jaccard over candidate pairs; keeps pairs at
    or above ``threshold``. This is the verification stage after LSH:
    cost is O(#candidates), not O(n²).

    Plan shape: the candidate pairs shuffle-join the per-doc shingle
    sets; AQE demotes the (small) pair side to a runtime broadcast.
    Measured A/B note: forcing explicit ``F.broadcast`` on the pair
    subtree is ~2× SLOWER here — each broadcast materializes the
    candidate pipeline as a serialized standalone job, while the
    shuffle form overlaps both sides and lets AQE pick the strategy.

    ``prune_candidates=True`` is the scale path for the remaining
    cost — both join inputs re-deriving shingle arrays for the WHOLE
    corpus: the (tiny) pair set is localCheckpointed once, its id set
    broadcast-semi-joins the corpus, and shingles are built only for
    documents that actually appear in a candidate pair. Verify work
    drops from O(2·corpus) shingle builds to O(candidate docs) —
    measured −19% end-to-end at sf0.1 where candidates ≈ 1% of docs,
    and asymptotically the difference at 100 TB. The checkpoint is
    per-invocation (honest cost, no cross-run caching); the trade is
    one materialized tiny table + broken lineage below it."""
    # on the scan: on the semi-join, spread()'s probe would run jobs
    df = spread(df)
    if prune_candidates:
        pairs = pairs.transform(pin("dedup", eager=True))
        ids = (
            pairs.select(F.col("id_a").alias(id_col))
            .union(pairs.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        df = df.join(F.broadcast(ids), id_col, "semi")
    sets = df.select(
        F.col(id_col), shingles(text_col, k).alias("__set")
    )
    a = sets.select(F.col(id_col).alias("id_a"), F.col("__set").alias("__sa"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("__set").alias("__sb"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("__sa", "__sb"))
    union = F.size(F.array_union("__sa", "__sb"))
    return (
        joined.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def near_dedup_minhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    **lsh_kwargs,
) -> DataFrame:
    """End-to-end near-dedup: LSH candidates → Jaccard verify →
    greedily drop the larger id of each confirmed pair (single-pass
    stand-in for connected components, which needs an iterative
    algorithm; documented trade-off: in a chain a-b-c it may keep
    both a and c)."""
    pairs = minhash_candidate_pairs(df, id_col, text_col, **lsh_kwargs)
    confirmed = jaccard_verify_pairs(
        df, pairs, id_col, text_col, threshold=threshold, prune_candidates=True
    )
    losers = confirmed.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_hash: str = "xxhash64",
) -> DataFrame:
    """(id, simhash) via explode → 64 conditional-SUM aggregates —
    the scalable form (same reasoning as ``minhash_signatures``):
    per exploded token one hash + 64 bit tests, all inside
    whole-stage codegen; the shuffle carries 64 longs per doc.

    ``token_hash``: ``'xxhash64'`` (fastest, engine-private) or
    ``'md5'`` — a 60-bit value from the md5 hex prefix. md5 is
    engine-portable (DuckDB computes the identical digest), which
    makes the whole signature — and every downstream pair — exactly
    reproducible by the SQL oracle; the 4 zero bits only thin the
    sketch by 1/16th of its positions.

    Shape: ONE streaming pass per row (same construction as
    ``minhash_signatures``): hash each token once with ``transform``,
    fold the hashes with ``aggregate`` carrying a 64-wide ±1 counter
    array, then fold the counter signs into the 64-bit sketch. Zero
    shuffles. Measured A/B at sf0.1 (min-of-3): 0.23 s vs 0.79 s for
    the explode → 64×conditional-SUM groupBy form it replaced —
    sketches bit-identical (``shiftleft(1L, 63)`` wraps to the sign
    bit, same two's-complement value as adding -2^63)."""
    if token_hash == "xxhash64":
        h = "xxhash64(t)"
    elif token_hash == "md5":
        # 15 hex chars = 60 bits: fits a signed BIGINT exactly, and
        # conv()'s unsigned reading can't overflow into the sign bit.
        h = "CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT)"
    else:
        raise ValueError(f"unsupported token_hash {token_hash!r}")
    tk = spread(df).select(F.col(id_col), tokens(text_col).alias("__tk"))
    # expr strings: the Column-tree form of the old 64 aggregates plus
    # the 64-term bit fold cost ~2 s of pure Python plan-construction
    # per call (measured); as strings it is <10 ms.
    counters = (
        f"aggregate(transform(__tk, t -> {h}), "
        "array_repeat(CAST(0 AS BIGINT), 64), "
        "(acc, hv) -> zip_with(acc, sequence(0, 63), "
        "(a, j) -> a + IF((shiftright(hv, j) & 1) = 1, "
        "CAST(1 AS BIGINT), CAST(-1 AS BIGINT)))) AS __c"
    )
    fold = (
        "aggregate(zip_with(__c, sequence(0, 63), "
        "(c, j) -> IF(c > 0, shiftleft(CAST(1 AS BIGINT), j), "
        "CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (s, v) -> s + v) "
        "AS simhash"
    )
    return tk.select(F.col(id_col), F.expr(counters)).select(
        F.col(id_col), F.expr(fold)
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket_size: int = 1000,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``.

    Candidate generation uses the pigeonhole band trick: split the 64
    bits into ``max_hamming + 1`` bands — any pair within the distance
    budget must agree exactly on at least one band, so candidates are
    grouped by (band_id, band_bits) instead of O(n²) comparisons.
    Like :func:`minhash_candidate_pairs`, pairs are generated inside
    each bucket group (collect_set + in-row combination explode) —
    one shuffle, no self-join — with the same degenerate-bucket size
    guard (an over-full bucket means byte-identical boilerplate;
    route those to exact dedup)."""
    sigs = simhash_signatures(df, id_col, text_col, token_hash)
    return hamming_pairs_64(
        sigs, id_col, "simhash", max_hamming, max_bucket_size
    )


def hamming_pairs_64(
    sigs: DataFrame,
    id_col: str,
    sig_col: str,
    max_hamming: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Pairs of ids whose 64-bit signatures differ in ≤ ``max_hamming``
    bits, by pigeonhole banding (see :func:`simhash_pairs`, which this
    generalizes): works for ANY 64-bit signature column — SimHash over
    tokens, perceptual aHash over pixels — since the band/verify logic
    only assumes hamming distance is the similarity. Returns
    (id_a, id_b, hamming) with id_a < id_b."""
    n_bands = max_hamming + 1
    width = 64 // n_bands
    # outer-generate: see operators.util.exploded — stops the inferred
    # pre-filter from re-evaluating the signature fold per row.
    bands = exploded(
        sigs,
        F.array(
            *[
                F.shiftright(F.col(sig_col), i * width).bitwiseAND(
                    F.lit((1 << width) - 1)
                )
                for i in range(n_bands)
            ]
        ),
        "band_bits",
        keep=[id_col, sig_col],
        pos_alias="band_id",
    )
    grouped = bands.groupBy("band_id", "band_bits").agg(
        F.sort_array(
            F.collect_set(
                F.struct(F.col(id_col).alias("id"), F.col(sig_col).alias("sig"))
            )
        ).alias("__ms")
    )
    sized = grouped.filter(
        (F.size("__ms") >= 2) & (F.size("__ms") <= max_bucket_size)
    )
    combos = F.expr(
        "flatten(transform(__ms, (x, i) -> "
        "transform(slice(__ms, i + 2, size(__ms)), "
        "y -> struct(x.id AS id_a, y.id AS id_b, "
        "CAST(bit_count(x.sig ^ y.sig) AS INT) AS hamming))))"
    )
    return (
        exploded(sized, combos, "__p")
        .select("__p.id_a", "__p.id_b", "__p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Fuzzy (edit-distance) name matching
# ---------------------------------------------------------------------------

def fuzzy_name_pairs(
    df: DataFrame,
    name_col: str,
    block_col: Column,
    max_dist: int = 2,
    max_block_size: int = 1000,
) -> DataFrame:
    """Entity-resolution candidate pairs over DISTINCT names:
    blocking + Levenshtein verify. Returns (name_a, name_b, dist)
    with name_a < name_b and dist ≤ ``max_dist``.

    The classic record-linkage recipe (Fellegi–Sunter blocking):
    an all-pairs edit-distance scan is O(n²) — grouping by a cheap
    blocking key (here any caller-supplied expression: a token, a
    phonetic code, a length bucket) restricts comparisons to
    plausible pairs. Like :func:`minhash_candidate_pairs`, pairs are
    generated INSIDE each block group (collect_set → in-row
    combination explode with the distance filter in the lambda):
    one shuffle keyed by block, no self-join, same degenerate-block
    guard. Distinct-names-first matters at scale: dedup the names
    (one agg) before the quadratic step so block cost is
    O(distinct²), not O(rows²)."""
    names = df.select(
        F.col(name_col).alias("__name"), block_col.alias("__blk")
    ).distinct()
    grouped = names.groupBy("__blk").agg(
        F.sort_array(F.collect_set("__name")).alias("__ns")
    )
    sized = grouped.filter(
        (F.size("__ns") >= 2) & (F.size("__ns") <= max_block_size)
    )
    combos = F.expr(
        "flatten(transform(__ns, (x, i) -> "
        "filter(transform(slice(__ns, i + 2, size(__ns)), "
        "y -> struct(x AS name_a, y AS name_b, "
        f"levenshtein(x, y) AS dist)), p -> p.dist <= {int(max_dist)})))"
    )
    return (
        exploded(sized, combos, "__p")
        .select("__p.name_a", "__p.name_b", "__p.dist")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Connected components (dedup-group closure)
# ---------------------------------------------------------------------------

# Round cap of :func:`connected_components`. Star contraction needs
# O(log n) rounds on any topology (a 1000-node chain takes 10, a
# 5000-node one 13), so the cap sits far above what dedup graphs need.
CC_MAX_ROUNDS = 30


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Connected components over an undirected pair set via
    alternating large-star / small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014).
    Returns ``(node, label)``: every node that appears in a pair,
    labelled with the smallest id in its component. Self-loop pairs
    ``(x, x)`` are dropped, so a node seen only in one is absent from
    the result (no caller produces them: every pair source emits
    ``a < b``).

    Star contraction converges in O(log n) rounds on any topology —
    long chains included — and monotonically shrinks the edge set
    toward one star per component, centered at its minimum. The loop
    keeps the symmetric view ``(u, v)`` of the distinct edges with
    ``m = min(neighborhood(u) ∪ u)``, computed by a window over ``u``
    behind the ONE shuffle that also removes duplicates. Each round
    is one Spark action, its eager pin, of two shuffles: the
    small-star window over ``hi``, then that ``u`` shuffle.
    The pinned frame carries an ``Observation`` counting the rows of
    nodes that break the star shape (``u`` has a smaller neighbor and
    a second one), so the pin's own job tells the loop to stop when
    the edges ARE the stars: the labels are then ``m``, with no
    confirming round (the input edges are pinned the same way). Raises
    ``RuntimeError`` if the edges are not stars after ``CC_MAX_ROUNDS``
    rounds, rather than return partial labels."""
    w = Window.partitionBy("u")

    def _pinned(edges: DataFrame) -> tuple[DataFrame, int]:
        obs = Observation()
        sym = (
            edges.union(edges.select("hi", "lo")).toDF("u", "v")
            .filter("u != v")
            .repartition("u")  # serves both the distinct and the window
            .distinct()
            .select(
                "u", "v",
                F.least(F.min("v").over(w), "u").alias("m"),
                F.max("v").over(w).alias("top"),
            )
            .observe(obs, F.expr("count_if(m < u AND top > m) AS bad"))
            .select("u", "v", "m")
        )
        return sym.transform(pin("dedup", eager=True)), obs.get["bad"]

    s, bad = _pinned(
        pairs.select(F.col(src).alias("lo"), F.col(dst).alias("hi"))
    )
    for _ in range(CC_MAX_ROUNDS):
        if not bad:
            break
        # large-star: attach each STRICTLY LARGER neighbor v of u to m
        large = s.filter("v > u").select(
            F.col("m").alias("lo"), F.col("v").alias("hi")
        )
        # small-star: attach hi and all its SMALLER neighbors lo to their
        # minimum (computed before the generator, which cannot hold a
        # window); duplicate edges change no minimum
        small = large.select(
            "lo", "hi", F.min("lo").over(Window.partitionBy("hi")).alias("m")
        ).select(
            F.col("m").alias("lo"), F.explode(F.array("lo", "hi")).alias("hi")
        )
        s, bad = _pinned(small)
    if bad:
        raise RuntimeError(
            f"connected_components did not converge within "
            f"CC_MAX_ROUNDS={CC_MAX_ROUNDS} rounds"
        )
    # stars centered at their minimum: a leaf's m is its center, a
    # center's m is itself
    return s.groupBy(F.col("u").alias("node")).agg(F.min("m").alias("label"))


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental exact dedup: from a NEW batch of documents, keep
    only those whose normalized-text fingerprint (md5 of
    lower(trim(text)), same as :func:`fifa_data_pipeline_spark.operators.text.fingerprint`)
    neither exists in the already-ingested corpus nor duplicates an
    earlier row of the batch (first = min id wins). This is how
    steady-state corpus ingestion dedups at 100 TB: the historical
    corpus is never rescanned per document — only its fingerprint
    column — and the ANTI join ships just the batch across the
    cluster, hash-partitioned on fingerprint.

    Returns (id, fp) for the surviving batch rows. Scale shape: one
    shuffle of the batch fingerprints for the anti join (the corpus
    side prunes to the fp column at scan), one more for the
    min-per-fp window within the batch; AQE picks broadcast for small
    batches automatically."""
    fp = F.md5(F.lower(F.trim(F.col(text_col))))
    corpus_fp = corpus.select(fp.alias("fp")).distinct()
    batch_fp = batch.select(F.col(id_col), fp.alias("fp"))
    fresh = batch_fp.join(corpus_fp, "fp", "left_anti")
    w = Window.partitionBy("fp")
    return (
        fresh.withColumn("__min_id", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("__min_id"))
        .select(id_col, "fp")
    )


# ---------------------------------------------------------------------------
# Prefix-filtering exact similarity join (AllPairs/PPJoin family)
# ---------------------------------------------------------------------------

def jaccard_prefix_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT all-pairs Jaccard join at ``threshold`` without the n²
    cross product — prefix filtering (the AllPairs/PPJoin family:
    Bayardo et al. WWW'07, Chaudhuri et al. ICDE'06), the scale-path
    complement to MinHash LSH when the answer must be exact (no
    recall loss) rather than approximate.

    Guarantee: under any fixed global token order, two k-shingle
    sets with Jaccard ≥ t must share ≥ ceil(t·|r|) tokens with each
    set r, so each set's PREFIX — its first |r| − ceil(t·|r|) + 1
    tokens in that order — must intersect the other's. Pairs sharing
    a prefix token are the complete candidate set; exact verification
    then makes precision 1. Ordering tokens rarest-first makes
    prefixes maximally selective.

    Plan shape: one document-frequency aggregate over exploded
    shingles (vocabulary-sized), a join to annotate each shingle with
    its df, a per-doc sort_array to rebuild the ordered set, then the
    candidate self-equi-join keyed on prefix token — fine-grained and
    well-distributed exactly like the LSH band join, with the size
    filter (min ≥ t·max) pruning length-incompatible pairs before
    verification. No stage is quadratic in corpus size; the blow-up
    risk is a token whose df is huge, which rarest-first ordering
    keeps OUT of prefixes by construction."""
    sets = spread(df).select(F.col(id_col), shingles(text_col, k).alias("__set"))
    ex = exploded(sets, F.col("__set"), "__t", keep=[id_col])
    tok_df = ex.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    ordered = (
        ex.join(tok_df, "__t")
        .groupBy(id_col)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("__df"), F.col("__t")))
            ).alias("__ord")
        )
    )
    n = F.size("__ord")
    plen = (n - F.ceil(F.lit(threshold) * n) + 1).cast("int")
    prefixes = ordered.select(
        F.col(id_col),
        n.alias("__n"),
        F.slice(F.transform("__ord", lambda s: s["__t"]), F.lit(1), plen).alias(
            "__prefix"
        ),
    )
    pex = exploded(prefixes, F.col("__prefix"), "__t", keep=[id_col, "__n"])
    a = pex.select(
        F.col(id_col).alias("id_a"), F.col("__n").alias("__na"), "__t"
    )
    b = pex.select(
        F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"), "__t"
    )
    cands = (
        a.join(b, "__t")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.least("__na", "__nb")
                >= F.ceil(F.lit(threshold) * F.greatest("__na", "__nb"))
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return jaccard_verify_pairs(
        df, cands, id_col, text_col, k=k, threshold=threshold
    )


def all_pairs_jaccard(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT all-pairs k-shingle Jaccard join as an inverted-index
    self-join (Vernica et al., SIGMOD 2010): the (doc, shingle)
    postings equi-join on the shingle and ``count(*)`` per pair is
    |A∩B|; sets are distinct, so |A∪B| = |A| + |B| − |A∩B|. Pairs
    sharing no shingle never form (nor do two NULL-text documents).
    Cost is Σ df(t)² over shared shingles, n² if one shingle is in
    every document: for BOUNDED input only (callers filter to a small
    id range). Unbounded callers use :func:`jaccard_prefix_join`, with
    the IDENTICAL pair set (``test_all_pairs_jaccard_paths_agree``).
    Measured on q_dedup_keep_best at sf0.01 (2,074 posting pairs; 4
    vCPU, warm, median of 7, driver JVM plus client CPU): 1.45 CPU-s;
    the string-set cross join it replaced 2.57, with a length bound
    and a ``let1``-bound ``array_intersect`` 1.76; the prefix join 2.66.

    Returns ``(id_a, id_b, jaccard)`` with id_a < id_b, jaccard
    rounded to 6 places (engine-portable comparison)."""
    # pinned once: both posting sides read the shingle sets
    sets = (
        df.select(F.col(id_col), shingles(text_col, k).alias("__set"))
        .select(id_col, F.size("__set").alias("__n"), "__set")
        .transform(pin("dedup"))
    )
    post = exploded(sets, F.col("__set"), "__t", keep=[id_col, "__n"])
    a = post.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na"), "__t")
    b = post.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"), "__t")
    i = F.count(F.lit(1))
    return (
        a.join(b, "__t")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "__na", "__nb")
        .agg(F.round(i / (F.col("__na") + F.col("__nb") - i), 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def repeated_ngram_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 10,
) -> DataFrame:
    """Exact cross-document repeated-span detection: every position
    whose ``w``-token n-gram also occurs in at least one OTHER
    document — the primitive behind exact substring deduplication
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better": repeated spans are memorization fuel; production
    pipelines cut or down-weight them). Returns
    ``(doc_id, pos, gram)`` with 1-based token positions.

    Plan shape: position n-grams are a pure per-row explode
    (``sequence`` + ``slice`` — JVM-side, no UDF); the ONLY wide
    stage is the gram groupBy that counts distinct source docs, and
    the gram key is the shuffle key — uniform by construction, so
    the stage scales like any hash aggregate. A 100 TB corpus
    shuffles one row per token occurrence with a w-token payload;
    to cut payload 10×, substitute ``md5(gram)`` as the join key and
    recover the text from one side only."""
    from fifa_data_pipeline_spark.operators.text import position_ngrams

    # posexplode over the zip_with gram build (see position_ngrams:
    # a slice-inside-transform lambda would re-evaluate the split per
    # position — O(tokens²)); pos is the 1-based token offset
    grams = df.select(
        F.col(id_col),
        F.posexplode(
            position_ngrams(F.split(F.trim(F.col(text_col)), r"\s+"), w)
        ).alias("__p", "gram"),
    ).select(id_col, (F.col("__p") + 1).alias("pos"), "gram")
    # ">= 2 distinct docs" as min != max: one single-pass hash
    # aggregate, no partial-distinct phase (see _dup_span_positions)
    multi = (
        grams.groupBy("gram")
        .agg(F.min(id_col).alias("__lo"), F.max(id_col).alias("__hi"))
        .filter(F.col("__lo") != F.col("__hi"))
        .select("gram")
    )
    return grams.join(multi, "gram").select(id_col, "pos", "gram")


def _dup_span_positions(
    df: DataFrame,
    id_col: str,
    text_col: str,
    w: int,
) -> DataFrame:
    """Positions of cross-document repeated ``w``-gram spans, keyed by
    a 64-bit gram hash instead of the gram text: ``(id, pos)``.

    Same semantics as :func:`repeated_ngram_spans` minus the gram
    column, with two physical differences that matter on a large
    corpus (the consumers — :func:`dup_span_stats`,
    :func:`trim_repeated_spans` — only need positions, never the
    gram text):

    - gram text is never built: positional gram hashes come from
      :func:`text.position_gram_hashes` (r7 — each token hashed to a
      long once, w consecutive token-hashes combined per position;
      the earlier ``xxhash64(slice(t, i, w))`` form re-hashed every
      token's characters w times, and at w=8 that is 8 string hashes
      per gram), and the wide stages shuffle the 8-byte hash instead
      of the w-token text (~8× smaller shuffle rows at w=8 prose);
    - the hashed gram table is ``localCheckpoint``-ed so the
      scan→split→explode pipeline runs ONCE instead of once per wide
      consumer (the aggregate side and the probe side of the
      self-join are separate plan branches). The checkpoint
      materializes one narrow (id, pos, hash) row per token — the
      same cost class as the shuffle it feeds.

    xxhash64 collisions (p ≈ n²/2⁶⁵) would mark a unique span
    duplicated; at 10¹² grams that is ~30 expected false positions —
    swap ``F.unhex(F.md5(gram))`` (128-bit) if exactness at that
    scale is required. The DuckDB oracles stay on raw gram text, so
    a collision would surface as a driver hash-mismatch."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    hashed = position_gram_hashes(toks, w)
    grams = df.select(
        F.col(id_col),
        F.posexplode(hashed).alias("__p", "__gh"),
    ).select(
        id_col,
        (F.col("__p") + 1).alias("pos"),
        "__gh",
    ).transform(pin("dedup"))
    # "occurs in >= 2 distinct docs" as min != max — one single-pass
    # hash aggregate instead of countDistinct's partial-distinct
    # two-phase plan (measured ~18% off the wide stage at sf1)
    multi = (
        grams.groupBy("__gh")
        .agg(F.min(id_col).alias("__lo"), F.max(id_col).alias("__hi"))
        .filter(F.col("__lo") != F.col("__hi"))
        .select("__gh")
    )
    return grams.join(multi, "__gh").select(id_col, "pos")


def dup_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 10,
) -> DataFrame:
    """Per-document repeated-span exposure: total w-gram positions,
    positions whose gram recurs in another doc, and the duplicated
    fraction — the per-doc score a curation pipeline thresholds on
    (drop or trim docs past e.g. 30% duplicated spans). Documents
    shorter than ``w`` tokens have zero positions and are reported
    with ``dup_ratio`` 0. Span detection runs on the hashed-gram
    path (:func:`_dup_span_positions` — 8-byte shuffle keys, one
    explode pass) plus one doc-key aggregate."""
    toks = df.select(
        F.col(id_col),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("__t"),
    )
    totals = toks.select(
        id_col,
        F.greatest(F.size("__t") - w + 1, F.lit(0)).alias("n_spans"),
    )
    dup = (
        _dup_span_positions(df, id_col, text_col, w)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup_spans"))
    )
    return (
        totals.join(dup, id_col, "left")
        .select(
            id_col,
            "n_spans",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.round(
                F.when(F.col("n_spans") > 0,
                       F.coalesce("n_dup_spans", F.lit(0))
                       / F.col("n_spans")).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_ratio"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting" — the
    MOSS algorithm): hash every k-token gram, slide a window of
    ``window`` consecutive gram hashes, keep the minimum hash of each
    window, distinct per document. Guarantees: any shared run of
    k+window-1 tokens yields at least one shared fingerprint, while
    storage is ~2/(window+1) of the gram count — the local,
    position-robust sampling that plain modulo-sampling of hashes
    (0 mod p) cannot guarantee.

    Returns ``(doc_id, fp)`` exploded, fp = the engine-portable
    60-bit md5 fold (bit-identical in the DuckDB twin). Everything up
    to the explode is per-row higher-order functions — no UDF, no
    shuffle; a 100 TB corpus emits ~2·tokens/(window+1) narrow rows."""
    from fifa_data_pipeline_spark.operators.text import position_ngrams

    # gram hashes: the fold's lambda argument is the gram itself, so
    # per-element work is O(1); the gram array comes from the
    # zip_with build (a slice-inside-transform form would re-split
    # the text per position — see position_ngrams)
    hashes = F.transform(
        position_ngrams(F.split(F.trim(F.col(text_col)), r"\s+"), k),
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("bigint"),
    )
    with_h = df.select(F.col(id_col), hashes.alias("__h"))
    # sliding window-min under a let binding (transform over a
    # single-element array materializes __h once as lambda var h;
    # slicing the raw column inside the inner lambda would re-run
    # the whole gram-hash pipeline per window position — see
    # text.position_ngrams)
    fps = F.element_at(
        F.transform(
            F.array(F.col("__h")),
            lambda h: F.when(
                F.size(h) >= window,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size(h) - window + 1),
                        lambda j: F.array_min(F.slice(h, j, window)),
                    )
                ),
            ).otherwise(F.expr("array()").cast("array<bigint>")),
        ),
        1,
    )
    return with_h.select(id_col, F.explode(fps).alias("fp"))


def winnow_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_bucket: int = 50,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowing fingerprints
    — candidate plagiarism/near-copy pairs with MOSS's coverage
    guarantee. Pair generation is fingerprint-bucketed (never
    all-pairs): one groupBy on fp, a self-join inside buckets, and a
    ``max_bucket`` guard drops degenerate boilerplate fingerprints
    shared by more than ``max_bucket`` docs (the LSH band-guard
    discipline — a stopword-run fingerprint would otherwise go
    quadratic at corpus scale)."""
    # checkpoint the narrow (doc, fp) table: it feeds three consumers
    # (bucket sizing + both join sides) and the md5-per-gram
    # fingerprint pipeline would otherwise be recomputed per consumer
    fps = (
        winnow_fingerprints(df, id_col, text_col, k, window)
        .distinct()
        .transform(pin("dedup"))
    )
    sized = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter((F.col("__n") >= 2) & (F.col("__n") <= max_bucket))
        .select("fp")
    )
    pruned = fps.join(sized, "fp")
    a = pruned.select(F.col("fp"), F.col(id_col).alias("id_a"))
    b = pruned.select(F.col("fp"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def trim_repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 10,
) -> DataFrame:
    """The CLEANING step of exact substring dedup (the action behind
    :func:`dup_span_stats`'s score): drop every token covered by a
    cross-document repeated ``w``-gram span and re-join the
    survivors. Returns ``(id, n_tokens, n_removed, cleaned_text)``.

    Shape: the span detection is :func:`_dup_span_positions` (hashed
    gram keys, single explode pass); per-doc span starts come back as ONE
    array column via collect_set, so the coverage mask is a per-row
    higher-order filter — `exists(starts, s -> s <= p < s+w)` per
    token position, O(tokens × spans) with the starts array a bound
    attribute (no re-evaluation). Token re-assembly runs under the
    let binding (see text.position_ngrams). Docs with no duplicated
    spans pass through unchanged via the left join."""
    spans = _dup_span_positions(df, id_col, text_col, w)
    starts = spans.groupBy(id_col).agg(
        F.sort_array(F.collect_set("pos")).alias("__starts")
    )
    joined = df.join(starts, id_col, "left").withColumn(
        "__starts",
        F.coalesce("__starts", F.expr("array()").cast("array<int>")),
    )
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    # r12 (guide §1.2 per-task work): bind BOTH the split and the
    # O(tokens × spans) keep-mask ONCE in a struct under the let
    # binding — the r11 form re-ran the split 4× and the whole mask
    # pipeline 2× in the final Project (HOFs are interpreted, no CSE;
    # see text.gopher_rules). The struct lands in its own projection
    # so CollapseProject keeps it single-evaluation.
    stats = F.element_at(
        F.transform(
            F.array(toks),
            lambda t: F.struct(
                F.size(t).alias("n"),
                F.filter(
                    F.transform(
                        F.sequence(F.lit(1), F.size(t)),
                        lambda p: F.when(
                            ~F.exists(
                                F.col("__starts"),
                                lambda s: (s <= p) & (p < s + w),
                            ),
                            F.element_at(t, p),
                        ),
                    ),
                    lambda x: x.isNotNull(),
                ).alias("kept"),
            ),
        ),
        1,
    )
    st = joined.select(F.col(id_col), stats.alias("__st"))
    return st.select(
        F.col(id_col),
        F.col("__st.n").cast("bigint").alias("n_tokens"),
        (F.col("__st.n") - F.size("__st.kept")).cast("bigint").alias(
            "n_removed"
        ),
        F.concat_ws(" ", F.col("__st.kept")).alias("cleaned_text"),
    )
