"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: ``{"metric": ..., "value": N, "unit": "sec", "queries":
{...}, "sf": ...}``.

Each query is forced end-to-end with a noop sink (full computation,
no driver-side collect cost). A warmup run of the flagship query
first absorbs JVM/codegen warmup so numbers reflect steady-state
execution, which is what matters for the 100 TB posture.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q_flagship",
    "q_agg_multi",
    "q_join_fact_dim",
    "q_join_latest",
    "q_latest_window",
    "q_topk",
    "q_rollup",
    "q_asof",
    "q_dedup_exact",
    "q_clean_corpus",
    "q_token_count",
    "q_text_quality",
    "q_tfidf",
    "q_knn_exact",
    "q_mips",
    "q_knn_lsh",
    "q_minhash_pairs",
    "q_simhash_pairs",
    "q_window_tumbling",
    "q_sessionize",
    "q_stats_agg",
    "q_window_hopping",
    "q_basket_pairs",
    "q_cohort_retention",
    "q_scd2",
    "q_session_window",
    "q_pmi_bigrams",
    "q_sample_stratified",
    "q_rolling_range",
    "q_event_transitions",
    "q_dq_checks",
    # round-3 training-data curation operators
    "q_train_test_split",
    "q_decontaminate",
    "q_seq_pack",
    "q_dedup_incremental",
    "q_mad_outliers",
    "q_vocab_coverage",
    "q_corpus_pipeline",
    # round-3b feature-engineering operators
    "q_winsorize",
    "q_mixture_sample",
    "q_label_centroids",
    "q_embed_quantize",
    "q_interp_linear",
    "q_ewma",
    "q_lm_score",
    "q_chunk_dedup",
    "q_jaccard_prefix",
    "q_label_moments",
    "q_seasonal_anomaly",
    "q_variant_extract",
    "q_trimmed_mean",
    # round-4 analytics / experimentation operators
    "q_grouped_linreg",
    "q_entropy",
    "q_hhi",
    "q_pit_join",
    "q_heavy_hitters",
    "q_percentile_disc",
    "q_corr_matrix",
    "q_ab_welch",
    "q_time_to_convert",
    "q_path_trigrams",
    "q_windowed_distinct",
    "q_bitmap_distinct",
    "q_doc_similarity",
    "q_attribution",
    "q_tokenizer_fertility",
    "q_dedup_keep_best",
    "q_autocorr",
    "q_cusum",
    "q_rolling_median",
    "q_benford",
    "q_mode_group",
    "q_gini",
    "q_asof_forward",
    "q_lateral_topn",
    "q_length_buckets",
    "q_cross_source_dups",
    "q_cdc_apply",
    "q_lang_confusion",
    "q_rfm",
    "q_cosine_arrow",
    "q_media_pool",
    "q_triangles",
    "q_spatial_join",
    "q_feature_hash",
    "q_sql_udf",
    "q_weighted_sample",
    "q_target_encode",
    "q_quantile_norm",
    # round-5 governance / layout / retrieval / sketch operators
    "q_kanonymity",
    "q_zorder",
    "q_postings",
    "q_bm25",
    "q_agg_merge",
    "q_cms_counts",
    "q_bloom_join",
    # round-5 survival / drift / balancing / rules / PCA operators
    "q_survival_km",
    "q_kl_drift",
    "q_domain_cap",
    "q_weighted_quantile",
    "q_assoc_rules",
    "q_rolling_corr",
    "q_pca_project",
    "q_auc",
    "q_theil_sen",
    "q_late_events",
    "q_rrf_fusion",
    "q_chi_square",
    "q_degree_dist",
    "q_clustering_coeff",
    "q_top_movers",
    "q_tpch_q3",
    "q_tpch_q5",
    "q_tpch_q10",
    "q_tpch_q18",
    # round-6 TPC-H suite completion (plans/tpch2.py)
    "q_tpch_q1",
    "q_tpch_q2",
    "q_tpch_q4",
    "q_tpch_q6",
    "q_tpch_q7",
    "q_tpch_q8",
    "q_tpch_q9",
    "q_tpch_q11",
    "q_tpch_q12",
    "q_tpch_q13",
    "q_tpch_q14",
    "q_tpch_q15",
    "q_tpch_q16",
    "q_tpch_q17",
    "q_tpch_q19",
    "q_tpch_q20",
    "q_tpch_q21",
    "q_tpch_q22",
    # round-6 warehouse-engineering operators (extended23.py)
    "q_keyset_page",
    "q_mv_rollup",
    "q_sql_inference",
    "q_dense_ids",
    "q_table_checksum",
    # round-7 anti-entropy / cardinality-sketch operators
    "q_column_checksums",
    "q_kmv_distinct",
    # round-7 label-quality evaluation operators
    "q_cohens_kappa",
    "q_calibration_bins",
    "q_fk_discovery",
    # q_png_decode / q_cogroup_asof stay OUT of the headline with
    # the other Python-eval paths (oracle-checked in the registry)
    "q_pipe_syntax",
    "q_param_sql",
    "q_session_dynamic_gap",
    "q_bigram_lm",
    "q_ivm_delta",
    "q_quality_fusion",
    # round-4 closing additions (all JVM-path, oracle-checked)
    "q_knn_join",
    "q_repeated_spans",
    "q_winnow_pairs",
    "q_gopher_rules",
    "q_dsir_scores",
    "q_trim_spans",
    "q_bootstrap_ci",
    "q_recursive_cte",
    "q_zipf_fit",
    "q_heaps_fit",
    "q_ks_test",
    "q_mann_whitney",
    "q_spearman",
    # round-5 additions (partition-parallel exact order statistics)
    "q_exact_quantiles",
    "q_exact_quantiles_cont",
    "q_grouped_topk",
    "q_record_linkage",
    "q_woe_iv",
    "q_cuped",
    # round-7 curation analytics
    "q_hard_negatives",
    "q_dup_inflation",
    "q_mixture_weights",
    "q_budget_select",
    # q_udtf_topk stays OUT of the headline like the other Python-
    # interop demos (q_zscore): the plan audit
    # rightly flags Python-eval nodes, and the bench headline is the
    # JVM-path surface (the UDTF is oracle-checked in the registry)
    # q_textrank (and q_pagerank) stay OUT of the headline: an
    # iterative fixpoint pays a fixed join+agg+checkpoint cycle per
    # round, so at toy scale the wall clock measures round count,
    # not data throughput (SCALE.md covers the per-round structure)
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    import __spark_entry__ as entrymod
    from fifa_data_pipeline_spark.session import get_spark

    spark = get_spark("bench")
    queries = entrymod.queries()

    def run(name: str) -> float:
        t0 = time.perf_counter()
        df = queries[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    run("q_flagship")  # warmup: JVM + codegen + parquet footer cache

    # Steady-state per query: min of 3 runs. The first run of each
    # query shape pays one-time plan analysis + whole-stage-codegen
    # compilation (~0.3-0.8s) that is irrelevant at production scale;
    # cold totals are reported alongside for transparency. Min-of-3
    # (not mean): this box's timings vary up to 3x run-to-run under
    # external load, and the minimum is the reproducible steady-state
    # number (BASELINE.md measures DuckDB the same way, warm min-of-3).
    # Session-residue control (r7): a 160+-query session accumulates
    # JVM state between queries — lazy localCheckpoint blocks and
    # shuffle files are only reclaimed when BOTH the Python wrapper
    # and the JVM object are GC'd (py4j finalizer → ContextCleaner),
    # which rarely happens inside a tight bench loop. Measured at
    # sf1: queries late in the suite ran 5-10% slower than the same
    # query in a fresh session purely from that residue. Collecting
    # both heaps every few queries keeps each measurement about the
    # query, not about its 150 predecessors' leftovers. (Real
    # pipelines run queries in their own jobs/sessions, so the
    # residue is a harness artifact, not a production cost.)
    import gc as _gc

    jvm = spark.sparkContext._jvm

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for i, name in enumerate(HEADLINE):
        if name in queries:
            runs = [run(name) for _ in range(3)]
            cold[name] = round(runs[0], 4)
            timings[name] = round(min(runs), 4)
        if i % 8 == 7:
            _gc.collect()
            jvm.System.gc()
    total = round(sum(timings.values()), 4)
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cold_total": round(sum(cold.values()), 4),
        "cold": cold,
        "n_queries": len(timings),
    }
    # The driver captures only the LAST 2000 chars of stdout; a
    # 143-query dict overflows that and the line becomes unparseable
    # (BENCH_r03 "parsed": null). Emit a compact line: summary fields
    # plus as many per-query timings as fit (slowest first — the ones
    # that matter for the perf read), full detail in BENCH_FULL.json.
    # Quiet-session counterpart (r8, VERDICT r7 item 7): this box's
    # timings inflate 2-3x under concurrent load, so a driver-run
    # total can read as a "regression" that is pure box drift. The
    # builder refreshes BENCH_QUIET.json from an idle-box session
    # (tools/: run bench.py with nothing else on the machine, copy
    # BENCH_FULL.json); when its sf matches, the compact line carries
    # its total as prior_quiet_total so the artifact itself shows the
    # drift-free comparison point. Named "prior_" (r11, VERDICT r10
    # #3) because the field is the PREVIOUS quiet artifact's total
    # read at run time — when BENCH_FULL.json is later copied over
    # BENCH_QUIET.json, the field must read as "what this run was
    # compared against", never as this artifact's own total (which
    # is `value`).
    quiet_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_QUIET.json"
    )
    quiet_total = None
    try:
        with open(quiet_path) as f:
            quiet = json.load(f)
        if quiet.get("sf") == sf:
            quiet_total = quiet.get("value")
    except (OSError, ValueError):
        pass
    compact = {
        "metric": full["metric"],
        "value": total,
        "unit": "sec",
        "sf": sf,
        "cold_total": full["cold_total"],
        "n_queries": len(timings),
        "queries_full": "BENCH_FULL.json",
        "queries": {},
    }
    if quiet_total is not None:
        compact["prior_quiet_total"] = quiet_total
        full["prior_quiet_total"] = quiet_total
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_FULL.json"),
        "w",
    ) as f:
        json.dump(full, f)
    for name in sorted(timings, key=timings.get, reverse=True):
        compact["queries"][name] = timings[name]
        if len(json.dumps(compact, separators=(",", ":"))) > 1800:
            del compact["queries"][name]
            break
    print(json.dumps(compact, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
