"""Unit tests for text analysis + dedup operators with constructed
inputs (the registry queries check oracle parity; these check the
algorithmic behavior — recall on planted near-dups, determinism)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fifa_data_pipeline_spark.operators import dedup as D
from fifa_data_pipeline_spark.operators import text as X


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_token_count_and_stats(spark):
    df = _docs(spark, [(1, "  the quick  brown fox "), (2, "a")])
    out = {r.doc_id: r for r in X.text_stats(X.token_count(df)).collect()}
    assert out[1].n_tokens == 4
    assert out[2].n_tokens == 1
    assert out[2].stopword_ratio == 1.0
    assert out[1].avg_token_len == round((3 + 5 + 5 + 3) / 4, 6)


def test_fingerprint_normalizes(spark):
    df = _docs(spark, [(1, "  Hello World "), (2, "hello world")])
    fps = [r.fp for r in X.fingerprint(df).collect()]
    assert fps[0] == fps[1]


def test_exact_dedup_keeps_min_id(spark):
    df = _docs(spark, [(5, "x"), (2, "x"), (9, "y")])
    out = {r.doc_id: r.n_dups for r in D.exact_dedup(df, ["text"], "doc_id").collect()}
    assert out == {2: 2, 9: 1}


NEAR_DUP_A = "the quick brown fox jumps over the lazy dog again and again today"
NEAR_DUP_B = "the quick brown fox jumps over the lazy dog again and again tonight"
DISTINCT_C = "completely different content about spark engines and parquet files"


def test_minhash_finds_planted_near_dup(spark):
    df = _docs(spark, [(1, NEAR_DUP_A), (2, NEAR_DUP_B), (3, DISTINCT_C)])
    cands = D.minhash_candidate_pairs(df, "doc_id", "text")
    pairs = {(r.id_a, r.id_b) for r in cands.collect()}
    assert (1, 2) in pairs
    confirmed = D.jaccard_verify_pairs(df, cands, "doc_id", "text", threshold=0.6)
    rows = confirmed.collect()
    assert [(r.id_a, r.id_b) for r in rows] == [(1, 2)]
    assert rows[0].jaccard > 0.7


def test_minhash_deterministic(spark):
    df = _docs(spark, [(1, NEAR_DUP_A), (2, NEAR_DUP_B), (3, DISTINCT_C)])
    sig = D.minhash_signatures(df)
    a = sig.collect()
    b = sig.collect()
    assert a == b


def test_near_dedup_drops_larger_id(spark):
    df = _docs(spark, [(1, NEAR_DUP_A), (2, NEAR_DUP_B), (3, DISTINCT_C)])
    kept = sorted(r.doc_id for r in D.near_dedup_minhash(df, "doc_id", "text").collect())
    assert kept == [1, 3]


def test_simhash_near_for_similar_far_for_distinct(spark):
    df = _docs(spark, [(1, NEAR_DUP_A), (2, NEAR_DUP_B), (3, DISTINCT_C)])
    out = D.simhash_pairs(df, "doc_id", "text", max_hamming=10)
    pairs = {(r.id_a, r.id_b): r.hamming for r in out.collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_shingles_short_doc_fallback(spark):
    df = _docs(spark, [(1, "only two")])
    s = df.select(X.shingles("text", 3).alias("s")).collect()[0].s
    assert s == ["only two"]


def test_lang_id_threshold(spark):
    df = _docs(spark, [(1, "the cat sat on a mat"), (2, "xyz abc def")])
    out = {r.doc_id: r.lang_guess for r in X.lang_id(df).collect()}
    assert out == {1: "en", 2: "unk"}


def test_connected_components_chain_and_singleton(spark):
    # chain 1-2-3 plus isolated pair 10-11: transitive closure labels
    # the whole chain with its min, untouched nodes absent
    pairs = spark.createDataFrame([(2, 3), (1, 2), (10, 11)], ["id_a", "id_b"])
    from fifa_data_pipeline_spark.operators.dedup import connected_components

    got = {r.node: r.label for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_minhash_pairs_cross_validated_against_pyspark_ml(spark, sf_dir):
    """External validation: the engine's banded-MinHash + exact
    Jaccard verify finds the SAME near-dup pair set as pyspark.ml's
    MinHashLSH.approxSimilarityJoin at the same threshold over the
    same 3-token shingles (SURVEY §2.6 named the ml primitive as the
    candidate mapping; the custom operator must not diverge from it)."""
    import pyspark.sql.functions as F
    from pyspark.ml.feature import (
        CountVectorizer,
        MinHashLSH,
        NGram,
        RegexTokenizer,
    )

    from fifa_data_pipeline_spark.operators.dedup import (
        jaccard_verify_pairs,
        minhash_candidate_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    stages = RegexTokenizer(
        inputCol="text", outputCol="toks", pattern="\\s+"
    ).transform(docs)
    stages = NGram(n=3, inputCol="toks", outputCol="shingles").transform(
        stages
    )
    model = CountVectorizer(
        inputCol="shingles", outputCol="vec", binary=True
    ).fit(stages)
    vecs = model.transform(stages).filter(F.size("shingles") >= 1)
    mh = MinHashLSH(
        inputCol="vec", outputCol="hashes", numHashTables=8, seed=42
    ).fit(vecs)
    ml_pairs = {
        (r.id_a, r.id_b): r.jac
        for r in (
            mh.approxSimilarityJoin(vecs, vecs, 0.2, distCol="dist")
            .filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
            .select(
                F.col("datasetA.doc_id").alias("id_a"),
                F.col("datasetB.doc_id").alias("id_b"),
                (1 - F.col("dist")).alias("jac"),
            )
            .collect()
        )
    }
    ours = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_verify_pairs(
            docs, minhash_candidate_pairs(docs)
        ).collect()
    }
    assert set(ours) == set(ml_pairs)
    for pair, jac in ours.items():
        assert abs(jac - ml_pairs[pair]) < 0.05


def test_all_pairs_jaccard_paths_agree(spark, sf_dir):
    """The brute-force all-pairs join (bounded input) and the
    prefix-filter AllPairs join (unbounded input) must yield the
    IDENTICAL pair set."""
    from fifa_data_pipeline_spark.operators.dedup import (
        all_pairs_jaccard,
        jaccard_prefix_join,
    )
    from fifa_data_pipeline_spark.sources.io import read_table

    docs = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    brute = all_pairs_jaccard(docs)
    prefix = jaccard_prefix_join(docs)
    rows_b = sorted(map(tuple, brute.collect()))
    rows_p = sorted(map(tuple, prefix.collect()))
    assert rows_b == rows_p
    assert rows_b  # non-vacuous: the fixture has near-dup pairs


def _shingle_set(text, k=3):
    """Pure-Python model of ``text.shingles``: distinct word k-grams,
    or the whole trimmed text for documents shorter than k tokens."""
    if text is None:
        return set()
    toks = text.split()
    if len(toks) < k:
        return {text.strip()}
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def test_all_pairs_jaccard_matches_python_model(spark):
    """all_pairs_jaccard equals a pure-Python Jaccard over the same
    shingle sets: a pair at exactly the 0.5 threshold, heavy overlap,
    trigrams repeated inside one document, short documents (one
    full-text shingle), and two NULL-text documents, which share no
    shingle and so form no pair."""
    rows = [
        (1, "a b c d e"),  # with 2: |A∩B| = 2, |A| = |B| = 3 → 0.5
        (2, "a b c d x"),
        (3, "p q r s t u v w"),
        (4, "p q r s t u v"),
        (5, "p q r s t u v w z"),
        (6, "x y z x y z x y z"),  # 7 trigrams, 3 distinct
        (7, "x y z x y z"),
        (8, "x y z x"),
        (9, None),
        (10, None),
        (11, "hi there"),
        (12, " hi there "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(map(tuple, D.all_pairs_jaccard(df).collect()))
    sets = {i: _shingle_set(t) for i, t in rows}
    want = []
    for a in sets:
        for b in sets:
            if a < b and sets[a] & sets[b]:
                jac = round(
                    len(sets[a] & sets[b]) / len(sets[a] | sets[b]), 6
                )
                if jac >= 0.5:
                    want.append((a, b, jac))
    assert got == sorted(want)
    assert (1, 2, 0.5) in got and (11, 12, 1.0) in got
    assert not [p for p in got if {9, 10} & set(p[:2])]


def test_repeated_ngram_spans_finds_cross_doc_span(spark):
    """Two docs share an exact 4-token run; a third is unique. Only
    the shared positions are reported, with correct 1-based offsets."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d x y z w"),          # "a b c d" at pos 1
            (2, "q q a b c d t u"),          # "a b c d" at pos 3
            (3, "entirely different words here now"),
        ],
        ["doc_id", "text"],
    )
    out = {
        (r.doc_id, r.pos, r.gram)
        for r in D.repeated_ngram_spans(docs, w=4).collect()
    }
    assert out == {(1, 1, "a b c d"), (2, 3, "a b c d")}


def test_dup_span_stats_ratio_and_short_doc(spark):
    """Per-doc exposure: doc 1 has 5 positions (8 tokens, w=4), one
    duplicated; a doc shorter than w reports zero positions and
    ratio 0 (no division blowup)."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d x y z w"),
            (2, "q q a b c d t u"),
            (3, "too short"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in D.dup_span_stats(docs, w=4).collect()}
    assert rows[1].n_spans == 5 and rows[1].n_dup_spans == 1
    assert rows[1].dup_ratio == 0.2
    assert rows[3].n_spans == 0 and rows[3].dup_ratio == 0.0


def test_hashed_span_positions_match_raw_gram_path(spark):
    """The hashed-gram fast path (`_dup_span_positions`, xxhash64
    keys + localCheckpoint) reports the IDENTICAL (doc, pos) set as
    the raw-gram primitive — the switch is purely physical."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d x y z w"),
            (2, "q q a b c d t u"),
            (3, "entirely different words here now"),
            (4, "x y z w a b c d"),
        ],
        ["doc_id", "text"],
    )
    raw = {
        (r.doc_id, r.pos)
        for r in D.repeated_ngram_spans(docs, w=4).collect()
    }
    hashed = {
        tuple(r)
        for r in D._dup_span_positions(docs, "doc_id", "text", 4).collect()
    }
    assert raw == hashed and raw


def test_repeated_spans_within_single_doc_not_flagged(spark):
    """A span repeated only WITHIN one document is not cross-doc
    duplication (>= 2 distinct docs — min(doc) != max(doc) — is the
    predicate) — the
    operator targets inter-document memorization fuel, and intra-doc
    repetition is already scored by q_repetition_score."""
    docs = spark.createDataFrame(
        [(1, "a b c d a b c d"), (2, "other words entirely here")],
        ["doc_id", "text"],
    )
    assert D.repeated_ngram_spans(docs, w=4).count() == 0


def test_winnowing_coverage_guarantee(spark):
    """Winnowing's defining property: any shared token run of length
    >= k + window - 1 (here 5+4-1 = 8) yields at least one shared
    fingerprint between the two documents — regardless of where the
    run sits in each doc."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, "x1 y1 " + shared + " z1 w1"),
            (2, shared + " completely different tail words"),
            (3, "no overlap with anything else at all here"),
        ],
        ["doc_id", "text"],
    )
    from fifa_data_pipeline_spark.operators.dedup import winnow_fingerprints

    fps = winnow_fingerprints(docs, k=5, window=4)
    by_doc = {
        r.doc_id: set(r.f)
        for r in fps.groupBy("doc_id").agg(F.collect_set("fp").alias("f")).collect()
    }
    assert by_doc[1] & by_doc[2]           # shared run detected
    assert not (by_doc[1] & by_doc[3])     # no false overlap
    assert not (by_doc[2] & by_doc[3])


def test_winnow_pairs_counts_shared_fingerprints(spark):
    """Pair report: two near-copies share >= min_shared fingerprints;
    the unrelated doc appears in no pair."""
    base = ("one two three four five six seven eight nine ten "
            "eleven twelve thirteen fourteen fifteen sixteen")
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " with a small appended suffix"),
            (3, "totally unrelated content that shares nothing at all "
                "with the others in any span of tokens"),
        ],
        ["doc_id", "text"],
    )
    from fifa_data_pipeline_spark.operators.dedup import winnow_pairs

    rows = winnow_pairs(docs, min_shared=2).collect()
    assert {(r.id_a, r.id_b) for r in rows} == {(1, 2)}
    assert rows[0].n_shared >= 2


def test_winnow_pairs_bucket_guard_drops_boilerplate(spark):
    """A fingerprint shared by more than max_bucket docs is dropped
    before pair generation (quadratic-bucket protection): with
    max_bucket=2 a 3-way clique of identical docs yields no pairs,
    while max_bucket=3 reports all three pairs."""
    txt = "same words repeated across every doc in this tiny corpus"
    docs = spark.createDataFrame(
        [(i, txt) for i in (1, 2, 3)], ["doc_id", "text"]
    )
    from fifa_data_pipeline_spark.operators.dedup import winnow_pairs

    guarded = winnow_pairs(docs, max_bucket=2).count()
    open_ = winnow_pairs(docs, max_bucket=3)
    assert guarded == 0
    assert {(r.id_a, r.id_b) for r in open_.collect()} == {
        (1, 2), (1, 3), (2, 3)
    }


def test_gopher_rules_individual_rule_triggers(spark):
    """Each constructed pathology fails exactly its targeted rule."""
    from fifa_data_pipeline_spark.operators.text import gopher_rules

    good = ("the cat and the dog went to the house of a friend that "
            "we have known for years with many fine words here more "
            "words to clear twenty tokens easily done now")
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, "short text"),                       # word count
            (3, " ".join(["####"] * 30)),            # symbol ratio (+required)
            (4, "\n".join(["- bullet point here"] * 10)
                + "\nthe be to of and that have with filler words "
                + " ".join(["pad"] * 15)),           # bullet lines
            (5, " ".join(["12345"] * 30)),           # alpha words (+required)
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in gopher_rules(docs, min_words=20).collect()}
    assert rows[1].passes_gopher
    assert not rows[2].r_word_count
    assert not rows[3].r_symbol_ratio and not rows[3].passes_gopher
    assert not rows[4].r_bullet_lines
    assert not rows[5].r_alpha_words


def test_dsir_scores_prefer_target_like_docs(spark):
    """DSIR sanity: docs whose bigrams match the target subset's
    distribution score higher than docs matching the off-target
    distribution; scores are exact integers (micro-units)."""
    from fifa_data_pipeline_spark.operators.text import dsir_scores

    t = "the quick brown fox jumps over the lazy dog again and again"
    o = "uno dos tres cuatro cinco seis siete ocho nueve diez once doce"
    docs = spark.createDataFrame(
        [
            (1, t, True), (2, t, True), (3, o, False), (4, o, False),
            (5, t + " with a small tail", False),   # target-LIKE, unlabeled
            (6, o + " y mas palabras aqui", False), # off-target-like
        ],
        ["doc_id", "text", "__is_target"],
    )
    rows = {r.doc_id: r for r in dsir_scores(docs).collect()}
    per = {k: v.score_micro / v.n_bigrams for k, v in rows.items()}
    assert per[5] > per[6]
    assert all(isinstance(v.score_micro, int) for v in rows.values())


def test_trim_repeated_spans_removes_only_covered_tokens(spark):
    """Doc 1 and 2 share a 4-token run; trimming at w=4 removes
    exactly those tokens (span coverage, not whole docs), leaves the
    unrelated doc untouched, and reports counts."""
    shared = "alpha beta gamma delta"
    docs = spark.createDataFrame(
        [
            (1, "x1 y1 " + shared + " z1"),
            (2, shared + " tail words here"),
            (3, "unrelated text entirely here now"),
        ],
        ["doc_id", "text"],
    )
    from fifa_data_pipeline_spark.operators.dedup import trim_repeated_spans

    rows = {r.doc_id: r for r in trim_repeated_spans(docs, w=4).collect()}
    assert rows[1].cleaned_text == "x1 y1 z1" and rows[1].n_removed == 4
    assert rows[2].cleaned_text == "tail words here"
    assert rows[3].n_removed == 0
    assert rows[3].cleaned_text == "unrelated text entirely here now"


def test_trim_repeated_spans_full_removal_yields_empty_string(spark):
    """Two identical docs are fully covered: cleaned_text is the
    empty string (not NULL), n_removed == n_tokens."""
    t = "a b c d"
    docs = spark.createDataFrame([(1, t), (2, t)], ["doc_id", "text"])
    from fifa_data_pipeline_spark.operators.dedup import trim_repeated_spans

    rows = {r.doc_id: r for r in trim_repeated_spans(docs, w=4).collect()}
    for r in rows.values():
        assert r.cleaned_text == "" and r.n_removed == r.n_tokens == 4


def test_trim_repeated_spans_overlapping_spans_merge(spark):
    """Overlapping duplicated spans cover the union of their token
    ranges — an 8-token shared run at w=4 removes all 8 tokens, not
    just the first window."""
    run = "t1 t2 t3 t4 t5 t6 t7 t8"
    docs = spark.createDataFrame(
        [(1, run + " unique1 unique2"), (2, "pre1 pre2 " + run)],
        ["doc_id", "text"],
    )
    from fifa_data_pipeline_spark.operators.dedup import trim_repeated_spans

    rows = {r.doc_id: r for r in trim_repeated_spans(docs, w=4).collect()}
    assert rows[1].cleaned_text == "unique1 unique2"
    assert rows[2].cleaned_text == "pre1 pre2"


def _propagated_labels(pairs):
    """Reference closure: min-label propagation run to a fixed point,
    node -> smallest id in its component."""
    label = {x: x for edge in pairs for x in edge}
    changed = True
    while changed:
        changed = False
        for a, b in pairs:
            low = min(label[a], label[b])
            if label[a] != low or label[b] != low:
                label[a] = label[b] = low
                changed = True
    return set(label.items())


def test_star_components_match_label_propagation(spark):
    """connected_components (Kiveris alternating star rounds) produces
    the identical (node, component-min) mapping as min-label
    propagation run to a fixed point, on random graphs, chains (the
    long one is what a diameter-bound loop gets wrong), and bridged
    cliques."""
    import random

    rng = random.Random(7)
    cases = []
    # random sparse graphs
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(70)
        ]
        cases.append([(a, b) for a, b in edges if a != b])
    # long chains: diameter = n - 1
    cases.append([(i, i + 1) for i in range(49)])
    cases.append([(i, i + 1) for i in range(999)])
    # two cliques bridged by one edge
    k = list(range(5)), list(range(10, 15))
    cases.append(
        [(a, b) for a in k[0] for b in k[0] if a < b]
        + [(a, b) for a in k[1] for b in k[1] if a < b]
        + [(4, 10)]
    )
    for pairs in cases:
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        got = {
            (r.node, r.label)
            for r in D.connected_components(df).collect()
        }
        assert got == _propagated_labels(pairs) and got


def test_star_components_empty_input(spark):
    df = spark.createDataFrame([], "id_a long, id_b long")
    assert D.connected_components(df).count() == 0


def test_connected_components_raises_at_round_cap(spark, monkeypatch):
    monkeypatch.setattr(D, "CC_MAX_ROUNDS", 1)
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(49)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="CC_MAX_ROUNDS=1"):
        D.connected_components(df)


#: duplicate pairs, both orientations and self-loops (node 20 is only
#: in one, so it gets no label)
MESSY_PAIRS = [
    (3, 1), (1, 3), (1, 3), (3, 5), (5, 3), (5, 5), (7, 5), (7, 7),
    (9, 8), (8, 9), (8, 9), (12, 11), (20, 20),
]


@pytest.mark.parametrize("mode", ["local", "table"])
def test_star_components_messy_pairs(spark, monkeypatch, mode):
    # 'table' pins write and read back: the round's Observation must
    # fire on the write path too
    from fifa_data_pipeline_spark.operators.util import MATERIALIZE_MODE_ENV

    monkeypatch.setenv(MATERIALIZE_MODE_ENV, mode)
    df = spark.createDataFrame(MESSY_PAIRS, "id_a long, id_b long")
    got = {(r.node, r.label) for r in D.connected_components(df).collect()}
    assert got == _propagated_labels([(a, b) for a, b in MESSY_PAIRS if a != b])


def test_star_round_is_one_action(spark):
    """Round shape guard: the 49-edge chain is a star after 6 rounds.
    The observed input pin runs 2 jobs (its one shuffle, then the
    pin) and each round's pin 3 (its two shuffles, then the pin); a
    per-round ``collect``, a second pin or a confirming round adds
    jobs and fails here."""
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(49)], "id_a long, id_b long"
    )
    sc = spark.sparkContext
    group = "cc_round_shape"
    sc.setJobGroup(group, group)
    try:
        D.connected_components(df)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2 + 6 * 3


def test_token_counts_size_adaptive_branches_equal(spark):
    """The r10 size-adaptive switch: the Arrow/RE2 kernel branch
    (input_bytes=None → scale default) and the JVM expression branch
    (input_bytes=0 → below threshold) must produce bit-identical
    counts on the hostile edge set — NULL text, empty string,
    whitespace-only, adjacent stopwords, punctuation-attached
    stopwords, and multi-space runs."""
    rows = [
        ("x", 1, "the a a  the"),
        ("x", 2, ""),
        ("x", 3, None),
        ("x", 4, "   "),
        ("y", 5, "  a the banana a. the, THE"),
        ("y", 6, "digits 42 and sym!bols"),
        # non-space whitespace (r10 ADVICE): Spark trim strips ONLY
        # ASCII space and Java \s includes \x0B (vertical tab) where
        # RE2's \s does not — these rows pin the Arrow kernels to the
        # JVM semantics on tabs, newlines, and vertical tabs.
        ("z", 7, "\tthe a\n"),
        ("z", 8, "a\x0Bthe"),
        ("z", 9, "\n\t"),
        ("z", 10, " \t the \x0B a \r\n"),
        ("z", 11, "one\ftwo\rthree"),
    ]
    df = spark.createDataFrame(rows, "g string, id long, text string")
    kw = dict(
        bpe_alias="bpe", ws_alias="ws", stop_alias="st",
        chars_alias="ch",
    )
    arrow = X.token_counts(df, input_bytes=None, **kw)
    jvm = X.token_counts(df, input_bytes=0, **kw)
    assert arrow.columns == jvm.columns
    a = sorted(map(tuple, arrow.collect()))
    j = sorted(map(tuple, jvm.collect()))
    assert a == j
    # spot-check absolute semantics (not just cross-branch equality)
    by_id = {r.id: r for r in arrow.collect()}
    assert by_id[1].st == 4 and by_id[1].ws == 4
    assert by_id[2].ws == 1 and by_id[2].st == 0  # split('')==['']
    assert by_id[3].ws is None and by_id[3].st is None
    assert by_id[5].st == 2  # 'a.' / 'the,' / 'THE' are NOT hits


def test_token_counts_branch_equality_fuzz(spark):
    """Seeded adversarial sweep of the size-adaptive switch: random
    concatenations of stopwords, unicode whitespace (NBSP, en/thin
    space, ideographic space, ZWSP, NEL — all OUTSIDE Java's ``\\s``,
    so neither branch may split on them), Java-``\\s`` members
    including ``\\x0B``, control chars, astral emoji / ZWJ sequences,
    and regex metacharacters. Both branches must agree on every row.
    A 6-seed x 3000-row version of this sweep ran clean when the
    whitespace-parity fix landed (r11); this pins one seed of it."""
    import random

    atoms = (
        "abcde THE the a an of to".split()
        + [" ", "\t", "\n", "\x0b", "\f", "\r", "\r\n",
           "\xa0", "\u2002", "\u2009", "\u3000", "\u200b", "\x85",
           "the", "a.", ",the", "THE", "tHe",
           "42", "3.14", "sym!bols", "!", "é", "naïve",
           "日本語", "\U0001f389", "\U0001f469‍\U0001f467",
           "\x00", "\x1f", "x" * 50, "", "\\s", "[a-z]", "$1"]
    )
    rng = random.Random(7)
    rows = [
        (i, "".join(rng.choice(atoms) for _ in range(rng.randint(0, 12))))
        for i in range(1500)
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    kw = dict(bpe_alias="bpe", ws_alias="ws", stop_alias="st",
              chars_alias="ch")
    a = sorted(
        map(tuple, X.token_counts(df, input_bytes=None, **kw).collect())
    )
    j = sorted(
        map(tuple, X.token_counts(df, input_bytes=0, **kw).collect())
    )
    assert a == j and len(a) == 1500


def test_token_tables_size_adaptive_branches_equal(spark):
    rows = [
        ("x", 1, "b a a c"),
        ("x", 2, "a d"),
        ("y", 3, "a a"),
        ("y", 4, None),
        ("y", 5, ""),
        ("z", 6, "\ta b\x0Bc\n"),
        ("z", 7, " \r\n a "),
    ]
    df = spark.createDataFrame(rows, "g string, id long, text string")
    for fn in (
        lambda b: X.token_first_id_table(df, "g", "id", input_bytes=b),
        lambda b: X.token_freq_table(df, "g", input_bytes=b),
    ):
        a = sorted(map(tuple, fn(None).collect()))
        j = sorted(map(tuple, fn(0).collect()))
        assert a == j and len(a) > 0
    # non-string group column (r11 ADVICE): the Arrow partials derive
    # the group column's DDL type from the schema, not `string`.
    dfi = df.select(
        (F.length("g") + 10).alias("g"), "id", "text"
    )
    a = sorted(
        map(tuple, X.token_freq_table(dfi, "g", input_bytes=None).collect())
    )
    j = sorted(
        map(tuple, X.token_freq_table(dfi, "g", input_bytes=0).collect())
    )
    assert a == j and len(a) > 0


def test_token_tables_branch_equality_fuzz(spark):
    """Seeded adversarial sweep of the Acero batch-partial kernels
    (freq table, first-id table) and the fused doc/vocab union
    against their JVM twins — same hostile atom set as the
    token_counts fuzz. These are the paths a pyarrow/Acero upgrade
    could silently change; a 4-seed x 2000-row sweep ran clean when
    this was pinned (r11)."""
    import random

    atoms = (
        "abcde THE the a an of to".split()
        + [" ", "\t", "\n", "\x0b", "\f", "\r", "\r\n",
           "\xa0", "\u2002", "\u3000", "\u200b", "\x85",
           "the", "a.", ",the", "THE", "42", "sym!bols", "é",
           "日本語", "\U0001f389", "\x00", "x" * 50, "\\s", "[a-z]"]
    )
    rng = random.Random(11)
    rows = [
        (f"g{i % 5}", i,
         "".join(rng.choice(atoms) for _ in range(rng.randint(0, 10))))
        for i in range(800)
    ] + [("g0", 99990, None), ("g1", 99991, "")]
    df = spark.createDataFrame(rows, "g string, id long, text string")
    for fn in (
        lambda b: X.token_first_id_table(df, "g", "id", input_bytes=b),
        lambda b: X.token_freq_table(df, "g", input_bytes=b),
    ):
        a = sorted(map(tuple, fn(None).collect()))
        j = sorted(map(tuple, fn(0).collect()))
        assert a == j and len(a) > 0
    u = X.token_doc_vocab_union_arrow(df, "g", "id")
    vocab = sorted(map(tuple, (
        u.filter(F.col("token").isNotNull())
         .groupBy("g", "token").agg(F.min("id_min").alias("first_id"))
         .collect())))
    assert vocab == sorted(map(tuple, X.token_first_id_table(
        df, "g", "id", input_bytes=0).collect()))
    docs_leg = sorted(map(tuple, (
        u.filter(F.col("token").isNull())
         .select("g", "id", "n_toks").collect())))
    assert docs_leg == sorted(map(tuple, X.token_counts(
        df, ws_alias="n_toks", input_bytes=0)
        .select("g", "id", "n_toks").collect()))


def test_token_doc_vocab_union_matches_two_leg_form(spark):
    """The fused one-scan union (r10, q_heaps_fit's scale path) must
    reproduce both legs exactly: per-doc whitespace token counts and
    the (group, token) -> min(id) first-occurrence table."""
    rows = [
        ("x", 1, "b a a c"),
        ("x", 2, "a d"),
        ("y", 3, "a a"),
        ("y", 4, None),
        ("y", 5, ""),
        ("z", 6, "\ta b\x0Bc\n"),
        ("z", 7, " \r\n a "),
    ]
    df = spark.createDataFrame(rows, "g string, id long, text string")
    u = X.token_doc_vocab_union_arrow(df, "g", "id")
    per_doc = u.filter(F.col("token").isNull()).select("g", "id", "n_toks")
    first = (
        u.filter(F.col("token").isNotNull())
        .groupBy("g", "token")
        .agg(F.min("id_min").alias("first_id"))
    )
    ref_counts = X.token_counts(df, ws_alias="n_toks", input_bytes=0)
    assert sorted(map(tuple, per_doc.collect())) == sorted(
        map(tuple, ref_counts.select("g", "id", "n_toks").collect())
    )
    ref_first = X.token_first_id_table(df, "g", "id", input_bytes=0)
    assert sorted(map(tuple, first.collect())) == sorted(
        map(tuple, ref_first.collect())
    )


def test_clean_corpus_matches_composed_form(spark, sf_dir):
    """r12 equivalence pin: q_clean_corpus's let1-bound keep
    predicate + output struct must reproduce the r11 composed
    text_stats -> lang_id -> filter -> agg pipeline byte-for-byte
    (the rewrite only changes HOW OFTEN the split evaluates, never
    what any rule computes)."""
    from pyspark.sql import Window

    from fifa_data_pipeline_spark.plans.northstar import q_clean_corpus
    from fifa_data_pipeline_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    fp = X.fingerprint(docs)
    w = Window.partitionBy("fp")
    deduped = (
        fp.withColumn("__min_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("__min_id"))
        .drop("__min_id")
    )
    scored = X.lang_id(X.text_stats(deduped))
    cleaned = scored.filter(
        (F.col("n_tokens") >= 20)
        & (F.col("quality_score") >= 0.3)
        & (F.col("lang_guess") == "en")
    )
    old = cleaned.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("quality_score").alias("min_quality"),
    )
    new = q_clean_corpus(spark, sf_dir)
    assert sorted(map(tuple, old.collect())) == sorted(
        map(tuple, new.collect())
    )


def test_let1_value_identity(spark):
    """util.let1 is a pure evaluation-count optimization: the bound
    form must equal the direct form on edge inputs (empty array from
    empty text, NULL text, single token)."""
    from fifa_data_pipeline_spark.operators.util import let1

    df = _docs(spark, [(1, "a bb ccc"), (2, ""), (3, None), (4, "x")])
    toks = X.tokens("text")
    direct = df.select(
        "doc_id",
        F.size(toks).alias("n"),
        (F.size(F.filter(toks, lambda t: t.isin("a", "x"))) / F.size(toks)).alias("r"),
    )
    bound = df.select(
        "doc_id",
        let1(toks, lambda t: F.size(t)).alias("n"),
        let1(
            toks,
            lambda t: F.size(F.filter(t, lambda x: x.isin("a", "x")))
            / F.size(t),
        ).alias("r"),
    )
    assert direct.collect() == bound.collect()


def test_canonicalize_text_agrees_with_duckdb_unicode(spark, duck):
    """Cross-engine check on REAL Unicode (the parquet corpus is
    ASCII, so the evidence lives here): the engine's NFKC + casefold
    + accent strip + whitespace collapse equals DuckDB's
    lower(strip_accents(nfc_normalize(...))) + regexp collapse for
    inputs where NFKC and NFC coincide."""
    samples = [
        "Café  au\tlait",
        "É́cole",          # pre-composed + extra combining acute
        "naïve  RÉSUMÉ",
        "  plain ascii  text ",
        "straße",               # ß casefolds to ss
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(samples)], "id long, text string"
    )
    got = {r.id: r.canon for r in X.canonicalize_text(df).collect()}
    for i, s in enumerate(samples):
        expect = duck.execute(
            "SELECT trim(regexp_replace(lower(strip_accents("
            "nfc_normalize(?))), '\\s+', ' ', 'g'))",
            [s],
        ).fetchone()[0]
        if s == "straße":
            # casefold (ß->ss) is deliberately STRONGER than lower;
            # DuckDB's lower keeps ß
            assert got[i] == "strasse" and expect == "straße"
        else:
            assert got[i] == expect, (s, got[i], expect)


def test_canonicalize_text_dedups_visual_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "Café x"), (2, "Café x"), (3, "cafe  x")],
        "id long, text string",
    )
    out = X.canonicalize_text(df)
    assert out.select("canon").distinct().count() == 1
