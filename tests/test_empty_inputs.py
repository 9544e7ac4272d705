"""Empty-input robustness: every major operator must return an empty
(but correctly-schemed) result on empty input, not throw. At 100 TB
a partition-pruned scan routinely produces zero rows."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

from fifa_data_pipeline_spark.operators import dedup as D
from fifa_data_pipeline_spark.operators import events as E
from fifa_data_pipeline_spark.operators import relational as R
from fifa_data_pipeline_spark.operators import text as X
from fifa_data_pipeline_spark.operators import vector as V


def _empty(spark, schema: str):
    return spark.createDataFrame([], schema)


def test_relational_ops_on_empty(spark):
    df = _empty(spark, "k int, upd int, v double")
    assert R.latest_per_group_join(df, "k", "upd").count() == 0
    assert R.latest_per_group_window(df, "k", "upd", "v").count() == 0


def test_text_dedup_on_empty(spark):
    docs = _empty(spark, "doc_id long, text string")
    assert X.text_stats(docs).count() == 0
    assert X.tfidf(docs).count() == 0
    assert D.minhash_signatures(docs).count() == 0
    assert D.minhash_candidate_pairs(docs).count() == 0
    assert D.simhash_pairs(docs).count() == 0
    assert D.near_dedup_minhash(docs).count() == 0


def test_vector_on_empty_corpus_and_queries(spark):
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    empty = spark.createDataFrame([], schema)
    corpus = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])], schema)
    # empty queries -> empty result; empty corpus -> empty result
    assert V.knn_bruteforce(corpus, empty).count() == 0
    assert V.knn_bruteforce(empty, corpus.limit(1)).count() == 0
    assert V.embedding_near_dup_pairs(empty, dim=2).count() == 0


def test_events_on_empty(spark):
    ev = _empty(spark, "user_id long, ts timestamp, value double, event_type string")
    assert E.sessionize(ev).count() == 0
    assert E.tumbling_window_agg(ev).count() == 0


def test_asof_empty_right_keeps_left(spark):
    left = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), "x")], ["user_id", "ts", "name"]
    )
    right = _empty(spark, "user_id long, ts timestamp, quote_id long")
    out = R.as_of_join(left, right, "user_id", "ts", "ts", ["quote_id"]).collect()
    assert len(out) == 1 and out[0].prior_quote_id is None


def test_new_batch_ops_on_empty(spark):
    from fifa_data_pipeline_spark.operators.graph import pagerank
    from fifa_data_pipeline_spark.operators.relational import salted_join
    from fifa_data_pipeline_spark.operators.tablefuncs import (
        split_sentences_native,
    )

    edges = _empty(spark, "src string, dst string")
    assert pagerank(edges).count() == 0
    assert pagerank(edges).columns == ["node", "rank"]

    left = _empty(spark, "k long, v double")
    right = _empty(spark, "k long, name string")
    assert salted_join(left, right, ["k"]).count() == 0

    docs = _empty(spark, "doc_id long, text string")
    assert split_sentences_native(docs).count() == 0

    ev = _empty(spark, "user_id long, ts timestamp, value double")
    sess = ev.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n"))
    assert sess.count() == 0


def test_round4_ops_on_empty(spark):
    facts = _empty(spark, "k int, ts int")
    dims = _empty(spark, "k int, valid_from int, valid_to int, tag string")
    assert R.point_in_time_join(facts, dims, "k", "ts").count() == 0

    left = _empty(spark, "k long, ts long")
    right = _empty(spark, "k long, rts long, tag string")
    fwd = R.as_of_join_forward(left, right, "k", "ts", "rts", ["tag"])
    assert fwd.count() == 0
    assert "next_tag" in fwd.columns


def test_round7_ops_on_empty(spark):
    from fifa_data_pipeline_spark.operators.sketch import kmv_distinct

    df = _empty(spark, "g string, v long")
    assert kmv_distinct(df, "g", "v").count() == 0
    # checksums of an empty table: n_rows=0, checksum NULL (bit_xor
    # over zero rows) — one row, defined schema, no throw
    row = R.column_checksums(_empty(spark, "a int, b string"), ["a", "b"]).collect()[0]
    assert row.n_rows == 0
    assert row.a_checksum is None and row.b_checksum is None
    row2 = R.table_checksum(_empty(spark, "a int"), ["a"]).collect()[0]
    assert row2.n_rows == 0
    # all-pairs jaccard on empty corpus: empty pair set
    docs = _empty(spark, "doc_id long, text string")
    assert D.all_pairs_jaccard(docs).count() == 0


def test_round4_closing_ops_on_empty(spark):
    docs = _empty(spark, "doc_id long, text string")
    assert D.repeated_ngram_spans(docs).count() == 0
    assert D.dup_span_stats(docs).count() == 0
    assert D.winnow_fingerprints(docs).count() == 0
    assert D.winnow_pairs(docs).count() == 0
    assert D.trim_repeated_spans(docs).count() == 0
    assert X.gopher_rules(docs).count() == 0
    tgt = docs.withColumn("__is_target", F.lit(True))
    assert X.dsir_scores(tgt).count() == 0
    emb = _empty(spark, "vec_id long, embedding array<float>")
    assert V.knn_join(emb, emb).count() == 0


def test_round4_statistics_ops_on_empty(spark):
    from fifa_data_pipeline_spark.operators.graph import (
        pagerank_micro,
    )
    from fifa_data_pipeline_spark.plans.extended27 import (
        _lang_pair_counts,
    )

    docs = _empty(spark, "doc_id long, text string, source string")
    assert X.zipf_fit(docs).count() == 0
    pooled = _empty(
        spark, "doc_id long, lang string, n_chars long"
    )
    assert _lang_pair_counts(pooled).count() == 0
    edges = _empty(spark, "src string, dst string")
    out = pagerank_micro(edges)
    assert out.count() == 0 and out.columns == ["node", "rank_micro"]


def test_round5_order_statistics_on_empty(spark):
    df = _empty(spark, "g string, v double, id bigint, w bigint")
    assert R.grouped_running_sums(df, ["g"], "v", ["w"]).count() == 0
    assert R.grouped_tie_rank2(df, "g", "v", bounds=(None, None)).count() == 0
    assert R.grouped_row_ranks(df, ["g"], ["v", "id"]).count() == 0
    assert R.parallel_ntile(df, ["g"], ["v", "id"], 4).count() == 0
    assert R.grouped_topk(df, ["g"], "v", "id", 5).count() == 0
    assert R.exact_group_quantiles(
        df, "g", "v", bounds=(None, None)
    ).count() == 0
    assert R.exact_group_quantiles_cont(
        df, "g", "v", bounds=(None, None)
    ).count() == 0
    assert R.woe_iv(df, "g", F.col("w") > 0).count() == 0


def test_round5_linkage_on_empty(spark):
    from fifa_data_pipeline_spark.operators.linkage import (
        field_u_probability,
        fs_link,
    )

    a = _empty(spark, "rid bigint, name string, blk string")
    b = spark.createDataFrame(
        [(1, "x", "b1")], "rid bigint, name string, blk string"
    )
    # u over an empty side: NULL (try_divide), never an ANSI
    # divide-by-zero crash — there are no pairs to weight anyway
    rows = field_u_probability(a, b, "name").collect()
    assert len(rows) == 1 and rows[0].u is None
    assert fs_link(a, b, "rid", "rid", "blk", [("name", 0.9)]).count() == 0
    assert fs_link(b, a, "rid", "rid", "blk", [("name", 0.9)]).count() == 0
    assert (
        fs_link(a, a, "rid", "rid", "blk", [("name", 0.9)]).count() == 0
    )
