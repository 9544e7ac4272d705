"""Unit tests for the round-5 batch-1 operators (extended15):
governance, Z-order layout, retrieval, mergeable aggregates, and
semantic dedup."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F


def test_kanonymity_flags_small_classes(spark, sf_dir):
    from fifa_data_pipeline_spark.plans.extended15 import q_kanonymity

    rows = q_kanonymity(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["at_risk"] == (r["n"] < 5)
        assert 1 <= r["l_distinct"] <= r["n"]
    # total class sizes must add back to the table row count
    total = sum(r["n"] for r in rows)
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert total == n_cust


def test_morton_code_matches_python_model(spark, sf_dir):
    from fifa_data_pipeline_spark.plans.extended15 import q_zorder

    def morton(x: int, y: int, bits: int = 10) -> int:
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    rows = q_zorder(spark, sf_dir).collect()
    assert rows
    for r in rows[:200]:
        assert r["zvalue"] == morton(r["zx"], r["zy"])


def test_inverted_index_postings_roundtrip(spark, sf_dir):
    from fifa_data_pipeline_spark.plans.extended15 import q_postings

    rows = q_postings(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # postings are emitted space-joined (driver canonicalizer
        # cannot sort list cells — r8 HARD RULE for windowed queries)
        plist = r["postings"].split(" ")
        assert r["df"] >= 3
        assert len(plist) == r["df"]
        assert plist == sorted(plist)
        tf_sum = sum(int(p.split(":")[1]) for p in plist)
        assert tf_sum == r["total_tf"]


def test_bm25_matches_numpy_model(spark, sf_dir):
    from fifa_data_pipeline_spark.plans.extended15 import BM25_TERMS, q_bm25

    got = {r["doc_id"]: r["bm25"] for r in q_bm25(spark, sf_dir).collect()}
    assert len(got) == 20
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    toks = {r.doc_id: r.text.strip().split() for r in docs.itertuples()}
    n_docs = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n_docs
    dft = {
        q: sum(1 for t in toks.values() if q in t) for q in BM25_TERMS
    }
    scores = {}
    for d, t in toks.items():
        s = 0.0
        for q in BM25_TERMS:
            tf = t.count(q)
            if tf == 0:
                continue
            idf = math.log((n_docs - dft[q] + 0.5) / (dft[q] + 0.5) + 1.0)
            s += idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(t) / avgdl))
        if s > 0:
            scores[d] = round(s, 6)
    expect = dict(
        sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    )
    assert got == expect


def test_agg_merge_equals_single_pass(spark, sf_dir):
    from fifa_data_pipeline_spark.plans.extended15 import q_agg_merge

    got = {r["l_returnflag"]: r for r in q_agg_merge(spark, sf_dir).collect()}
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    direct = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_extendedprice").alias("s"),
            F.min("l_extendedprice").alias("mn"),
            F.max("l_extendedprice").alias("mx"),
        )
        .collect()
    }
    assert set(got) == set(direct)
    for flag, r in got.items():
        d = direct[flag]
        assert r["n"] == d["n"]
        assert abs(r["sum_price"] - d["s"]) < 0.5
        assert r["min_price"] == round(d["mn"], 2)
        assert r["max_price"] == round(d["mx"], 2)


def test_semantic_dedup_invariants_vs_numpy(spark, sf_dir):
    """Keep/drop invariants: (1) within every cluster the lowest id
    survives; (2) every dropped id has a lower-id same-cluster
    neighbor with cosine ≥ τ; (3) every kept id has none."""
    from fifa_data_pipeline_spark.operators.vector import ivf_assign, semantic_dedup

    tau = 0.5
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    kept = {
        r["vec_id"]: r["cluster"]
        for r in semantic_dedup(emb, threshold=tau, n_clusters=8).collect()
    }
    assigned, _ = ivf_assign(emb, "vec_id", "embedding", 8, 42)
    rows = assigned.collect()
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["__cluster"], []).append(
            (r["vec_id"], np.asarray(r["embedding"], dtype=np.float64))
        )
    all_ids = {r["vec_id"] for r in rows}
    for cid, members in by_cluster.items():
        members.sort()
        ids = [m[0] for m in members]
        mat = np.stack([m[1] for m in members])
        norms = np.sqrt((mat * mat).sum(axis=1))
        sims = np.round((mat @ mat.T) / np.outer(norms, norms), 6)
        assert ids[0] in kept  # lowest id always survives
        for j, vid in enumerate(ids):
            has_lower_dup = bool((sims[j, :j] >= tau).any())
            assert (vid not in kept) == has_lower_dup, vid
    assert set(kept) <= all_ids
