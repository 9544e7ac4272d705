"""Training-data curation operators (round 3): decontamination,
sequence packing, hash split, incremental dedup, MAD outliers,
vocabulary coverage."""

from __future__ import annotations

import hashlib

import pytest

from fifa_data_pipeline_spark.operators.dedup import incremental_dedup
from fifa_data_pipeline_spark.operators.relational import hash_split, mad_outliers
from fifa_data_pipeline_spark.operators.text import (
    decontaminate,
    pack_sequences,
    vocab_coverage,
)


def _bucket(key) -> int:
    return int(hashlib.md5(str(key).encode()).hexdigest()[:15], 16) % 100


def test_hash_split_matches_python_md5_model(spark):
    df = spark.createDataFrame([(i,) for i in range(200)], ["doc_id"])
    rows = hash_split(df, "doc_id").collect()
    for r in rows:
        b = _bucket(r.doc_id)
        want = "train" if b < 90 else ("valid" if b < 95 else "test")
        assert r.split == want
    # the split must be a pure function of the key: rerun identical
    again = {r.doc_id: r.split for r in hash_split(df, "doc_id").collect()}
    assert again == {r.doc_id: r.split for r in rows}


def test_hash_split_rejects_bad_weights(spark):
    df = spark.createDataFrame([(1,)], ["doc_id"])
    with pytest.raises(ValueError):
        hash_split(df, "doc_id", weights=(("a", 50), ("b", 40)))


def test_decontaminate_flags_only_overlapping_docs(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different words with zero shared grams"),
            (3, "quick brown fox jumps elsewhere entirely now"),
        ],
        ["doc_id", "text"],
    )
    benchmark = spark.createDataFrame(
        [(100, "the quick brown fox jumps high")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in decontaminate(corpus, benchmark, n=4).collect()}
    # doc 1 shares 'the quick brown fox' and 'quick brown fox jumps'
    assert out[1].n_hits == 2
    assert out[1].n_grams == 6
    assert abs(out[1].contamination - round(2 / 6, 6)) < 1e-9
    # doc 3 shares 'quick brown fox jumps' only
    assert out[3].n_hits == 1
    assert 2 not in out  # clean doc not emitted


def test_pack_sequences_greedy_fill_model(spark):
    # tokens per doc: 3, 3, 3 with capacity 5:
    # cum=3 -> starts at 0 -> seq 0; cum=6 -> starts at 3 -> seq 0;
    # cum=9 -> starts at 6 -> seq 1
    df = spark.createDataFrame(
        [(1, "a b c", "s"), (2, "d e f", "s"), (3, "g h i", "s")],
        ["doc_id", "text", "source"],
    )
    rows = {
        r.seq_id: r
        for r in pack_sequences(df, capacity=5, group_col="source").collect()
    }
    assert rows[0].n_docs == 2 and rows[0].seq_tokens == 6
    assert rows[1].n_docs == 1 and rows[1].seq_tokens == 3


def test_pack_sequences_groups_independent(spark):
    df = spark.createDataFrame(
        [(1, "a b", "s1"), (2, "c d", "s2")], ["doc_id", "text", "source"]
    )
    rows = pack_sequences(df, capacity=1000).collect()
    assert {(r.source, r.seq_id) for r in rows} == {("s1", 0), ("s2", 0)}


def test_incremental_dedup_drops_corpus_and_batch_dups(spark):
    corpus = spark.createDataFrame(
        [(1, "seen before"), (2, "also seen")], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [
            (10, "seen before"),   # dup of corpus -> dropped
            (11, "brand new"),     # survives
            (12, "brand new"),     # in-batch dup, later id -> dropped
            (13, "another fresh"), # survives
        ],
        ["doc_id", "text"],
    )
    kept = sorted(r.doc_id for r in incremental_dedup(corpus, batch).collect())
    assert kept == [11, 13]


def test_mad_outliers_flags_planted_spike(spark):
    rows = [(i, "a", 10.0 + (i % 3)) for i in range(30)]
    rows.append((100, "a", 1000.0))  # planted outlier
    rows += [(200 + i, "b", 5.0) for i in range(10)]  # constant group: MAD 0
    df = spark.createDataFrame(rows, ["event_id", "event_type", "value"])
    out = mad_outliers(df, "event_type", "value").collect()
    assert [r.event_id for r in out] == [100]
    assert out[0].robust_z > 3.5


def test_vocab_coverage_rank_and_share(spark):
    df = spark.createDataFrame(
        [(1, "a a a b b c")], ["doc_id", "text"]
    )
    rows = {r.rank: r for r in vocab_coverage(df, top_n=2).collect()}
    assert rows[1].token == "a" and rows[1].n == 3
    assert abs(rows[1].cum_share - 0.5) < 1e-9
    assert rows[2].token == "b" and abs(rows[2].cum_share - round(5 / 6, 6)) < 1e-9
    assert len(rows) == 2
