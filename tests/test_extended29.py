"""Unit semantics for the round-7 curation analytics (extended29):
hard-negative mining, duplication inflation, temperature-mixture
weights, token-budget selection. The oracle-parity sweep hash-checks
them against
DuckDB; here the semantics are pinned on constructed inputs."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from fifa_data_pipeline_spark.operators.vector import hard_negatives_pandas
from fifa_data_pipeline_spark.plans.extended29 import (
    q_dup_inflation,
    q_hard_negatives,
    q_mixture_weights,
)

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark, rows):
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


def test_hard_negatives_excludes_same_label(spark):
    """The nearest SAME-label vector must never appear, even when it
    is the global nearest — the predicate sits before the rank."""
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.999, 0.01], 0),   # same label, nearest overall
        (2, [0.9, 0.1], 1),      # different label -> the hard negative
        (3, [0.0, 1.0], 1),
        (4, [-1.0, 0.0], 2),
    ]
    emb = _emb(spark, rows)
    out = hard_negatives_pandas(emb, emb.filter(F.col("vec_id") == 0), k=2)
    got = {(r.vec_id, r.rank): r for r in out.collect()}
    assert set(got) == {(2, 1), (3, 2)}
    for r in got.values():
        assert r.anchor_label == 0 and r.neg_label != 0


def test_hard_negatives_matches_bruteforce_ordering(spark):
    """Rank order equals the exact cosine ordering among
    different-label vectors, with the id tie-break."""
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.randn(30, 8).astype("float64")
    rows = [
        (i, [float(x) for x in vecs[i]], int(i % 3)) for i in range(30)
    ]
    emb = _emb(spark, rows)
    anchors = emb.filter(F.col("vec_id") < 4)
    out = hard_negatives_pandas(emb, anchors, k=5).collect()
    by_anchor: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.qid, r.rank)):
        by_anchor.setdefault(r.qid, []).append(r)
    for a in range(4):
        expect = []
        va = vecs[a]
        for j in range(30):
            if j % 3 == a % 3:
                continue
            sim = float(
                np.dot(va, vecs[j])
                / (np.linalg.norm(va) * np.linalg.norm(vecs[j]))
            )
            expect.append((round(sim, 6), j))
        expect.sort(key=lambda t: (-t[0], t[1]))
        got_ids = [r.vec_id for r in by_anchor[a]]
        assert got_ids == [j for _, j in expect[:5]]
        sims = [r.sim for r in by_anchor[a]]
        assert sims == sorted(sims, reverse=True)


def test_hard_negatives_pandas_drops_null_labels(spark):
    """NULL-label corpus rows are never negatives, matching SQL
    ``<>`` (NULL on them) in the DuckDB twin: the Arrow form masks
    them explicitly, because numpy ``!=`` alone would treat None as a
    distinct label and emit them."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.999, 0.02], None),  # nearest, but NULL label
        (2, [0.9, 0.1], 1),
        (3, [0.0, 1.0], 1),
    ]
    emb = spark.createDataFrame(rows, schema)
    anchors = emb.filter(F.col("vec_id") == 0)
    out = hard_negatives_pandas(emb, anchors, k=3).collect()
    assert {r.vec_id for r in out} == {2, 3}


def test_dup_inflation_exact_small_case(spark, tmp_path):
    """3 copies of A + 1 B in one source: n_docs 4, n_unique 2,
    inflation = (9 + 1) / 4 = 2.5 -> 2_500_000 micro."""
    df = spark.createDataFrame(
        [
            (1, "A text", "s1"),
            (2, "a text ", "s1"),   # normalized dup of 1
            (3, "A TEXT", "s1"),    # normalized dup of 1
            (4, "other", "s1"),
            (5, "solo", "s2"),
        ],
        ["doc_id", "text", "source"],
    )
    p = str(tmp_path / "documents.parquet")
    df.write.mode("overwrite").parquet(p)
    out = {
        r.source: r
        for r in q_dup_inflation(spark, str(tmp_path)).collect()
    }
    s1 = out["s1"]
    assert (s1.n_docs, s1.n_unique, s1.dup_docs) == (4, 2, 2)
    assert s1.inflation_micro == 2_500_000
    s2 = out["s2"]
    assert (s2.n_docs, s2.n_unique, s2.inflation_micro) == (1, 1, 1_000_000)


def test_mixture_weights_invariants(spark):
    """On the shipped testdata: natural shares sum to ~1e6, sqrt
    weighting compresses the spread (boost > 1 for below-average
    sources, < 1 for above-average), and every column is integral."""
    out = q_mixture_weights(spark, SF_DIR).collect()
    assert len(out) >= 2
    nat = sum(r.natural_ppm for r in out)
    wgt = sum(r.weight_ppm for r in out)
    assert abs(nat - 1_000_000) <= len(out)
    assert abs(wgt - 1_000_000) <= len(out)
    mean_tokens = sum(r.n_tokens for r in out) / len(out)
    for r in out:
        if r.n_tokens < 0.8 * mean_tokens:
            assert r.boost_micro > 1_000_000
        if r.n_tokens > 1.25 * mean_tokens:
            assert r.boost_micro < 1_000_000


def test_mixture_weights_exact_two_source_case(spark, tmp_path):
    """tokens 9 and 1: natural shares 900000/100000 ppm; sqrt legs
    3e6 and 1e6 micro -> weights 750000/250000 ppm; boosts
    833333 and 2500000 micro (exact half-up quotients)."""
    rows = [(1, "t " * 8 + "t", "big"), (2, "x", "small")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    p = str(tmp_path / "documents.parquet")
    df.write.mode("overwrite").parquet(p)
    out = {
        r.source: r for r in q_mixture_weights(spark, str(tmp_path)).collect()
    }
    assert out["big"].n_tokens == 9 and out["small"].n_tokens == 1
    assert out["big"].natural_ppm == 900_000
    assert out["small"].natural_ppm == 100_000
    assert out["big"].weight_ppm == 750_000
    assert out["small"].weight_ppm == 250_000
    assert out["big"].boost_micro == 833_333
    assert out["small"].boost_micro == 2_500_000


def test_query_forms_run_on_testdata(spark):
    hn = q_hard_negatives(spark, SF_DIR)
    rows = hn.collect()
    assert rows, "anchor panel must be non-empty at sf0.001"
    assert all(r.neg_label != r.anchor_label for r in rows)
    assert all(1 <= r.rank <= 3 for r in rows)
    infl = q_dup_inflation(spark, SF_DIR).collect()
    assert all(r.inflation_micro >= 1_000_000 for r in infl)
    assert all(r.n_docs >= r.n_unique for r in infl)


def test_budget_select_exact_small_case(spark, tmp_path):
    """Quality order x > p > the-doc; tokens 3+2+4=9, half-budget
    rule 2*cum <= 9 keeps only the 3-token top doc (cum 3 -> 6 <= 9;
    +2 -> 10 > 9)."""
    from fifa_data_pipeline_spark.plans.extended29 import q_budget_select

    df = spark.createDataFrame(
        [
            (1, "x y z", "s"),           # q = 3/50 * 1  = 60000 micro
            (2, "the the the the", "s"), # q = 0
            (3, "p q", "s"),             # q = 2/50 * 1  = 40000 micro
        ],
        ["doc_id", "text", "source"],
    )
    p = str(tmp_path / "documents.parquet")
    df.write.mode("overwrite").parquet(p)
    out = {r.source: r for r in q_budget_select(spark, str(tmp_path)).collect()}
    r = out["s"]
    assert (r.n_docs, r.tokens_total) == (3, 9)
    assert (r.n_selected, r.tokens_selected) == (1, 3)
    assert r.cutoff_q_micro == 60_000


def test_budget_select_invariants_on_testdata(spark):
    from fifa_data_pipeline_spark.plans.extended29 import q_budget_select

    rows = q_budget_select(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 2 * r.tokens_selected <= r.tokens_total
        assert 1 <= r.n_selected <= r.n_docs
