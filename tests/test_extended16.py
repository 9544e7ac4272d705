"""Unit tests for the round-5 batch-2 operators (extended16):
count-min sketch and bloom-pruned semi-join."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_cms_never_undercounts_and_is_tight_here(spark, sf_dir):
    from fifa_data_pipeline_spark.plans.extended16 import q_cms_counts

    rows = {r["token"]: r for r in q_cms_counts(spark, sf_dir).collect()}
    assert set(rows) == {"join", "hash", "spark", "window", "zzz_absent"}
    for r in rows.values():
        assert r["overcount"] >= 0  # the CMS guarantee: est >= true
        assert r["est"] == r["true_cnt"] + r["overcount"]
    assert rows["zzz_absent"]["true_cnt"] == 0
    # with ~60 distinct corpus tokens over 3x1024 cells, collisions
    # against the heavy probes are overwhelmingly unlikely
    for t in ("join", "hash", "spark", "window"):
        assert rows[t]["true_cnt"] > 0


def test_cms_is_mergeable_across_shards(spark, sf_dir):
    """Build one CMS per half of the corpus, merge by summing cell
    counts, and compare every estimate with the single-build sketch —
    the property that lets sketches roll up across days/shards."""
    from fifa_data_pipeline_spark.operators.sketch import cms_build, cms_estimate
    from fifa_data_pipeline_spark.operators.text import tokens
    from fifa_data_pipeline_spark.operators.util import exploded

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = exploded(docs, tokens("text"), "token", keep=["doc_id"])
    whole = cms_build(toks, "token")
    half_a = cms_build(toks.filter("doc_id % 2 = 0"), "token")
    half_b = cms_build(toks.filter("doc_id % 2 = 1"), "token")
    merged = (
        half_a.unionByName(half_b)
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    probes = toks.select("token").distinct()
    est_whole = {
        r["token"]: r["est"]
        for r in cms_estimate(whole, probes, "token").collect()
    }
    est_merged = {
        r["token"]: r["est"]
        for r in cms_estimate(merged, probes, "token").collect()
    }
    assert est_whole == est_merged


def test_bloom_join_equals_plain_semi_join(spark, sf_dir):
    from fifa_data_pipeline_spark.operators.relational import (
        bloom_pruned_semi_join,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rich = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        "c_acctbal > 9000"
    )
    got = bloom_pruned_semi_join(
        orders, rich, "o_custkey", "c_custkey", m=512, n_hashes=2
    )
    plain = orders.join(
        rich.select(F.col("c_custkey").alias("k")),
        orders.o_custkey == F.col("k"),
        "left_semi",
    )
    assert sorted(r["o_orderkey"] for r in got.collect()) == sorted(
        r["o_orderkey"] for r in plain.collect()
    )


def test_bloom_prune_actually_prunes(spark, sf_dir):
    """Drop the exact-verify stage and check the bloom pass alone (a)
    keeps every true match — no false negatives — and (b) discards a
    meaningful share of non-matching fact rows at m=4096."""
    from fifa_data_pipeline_spark.operators.sketch import _cms_fold_spark

    m, n_hashes = 4096, 2
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rich = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        "c_acctbal > 9000"
    )

    def positions(df, key):
        fold = _cms_fold_spark(f"CAST({key} AS STRING)")
        return [
            F.expr(f"({fold}) div {m ** j} % {m}")
            for j in range(n_hashes)
        ]

    bits = (
        rich.select(
            F.explode(F.array(*positions(rich, "c_custkey"))).alias("bit")
        )
        .distinct()
    )
    pruned = orders
    for p in positions(orders, "o_custkey"):
        pruned = pruned.join(F.broadcast(bits), p == F.col("bit"), "left_semi")
    true_matches = orders.join(
        rich.select(F.col("c_custkey").alias("k")),
        orders.o_custkey == F.col("k"),
        "left_semi",
    )
    n_pruned, n_true, n_all = (
        pruned.count(),
        true_matches.count(),
        orders.count(),
    )
    assert n_true <= n_pruned  # no false negatives
    assert n_pruned < n_all  # the filter does real work
