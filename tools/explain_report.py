"""Generate PLANS.md: formatted physical plans for representative
headline queries, as committed evidence of the shuffle/broadcast/
pushdown structure SCALE.md describes. Usage::

    python tools/explain_report.py [sf_dir]
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

#: query -> one-line reading guide (what to look for in the plan).
PICKS = {
    "q_flagship": "3 exchanges total; dims broadcast; partial+final "
    "HashAggregate pairs; parquet PushedFilters/ReadSchema pruned",
    "q_join_fact_dim": "BroadcastHashJoins for dims; the fact crosses "
    "one Exchange only",
    "q_latest_window": "single Exchange + WindowGroupLimit pushdown "
    "(partial top-1 before the shuffle)",
    "q_minhash_pairs": "signature fold is a map-only Project; ONE "
    "Exchange for the band groupBy; verify side pruned to candidate "
    "ids via broadcast semi-join",
    "q_knn_exact": "corpus never shuffles: broadcast queries, per-row "
    "cosine, k rows per partition reach the rank Exchange",
    "q_corpus_pipeline": "per-doc stages fused into scans; wide ops = "
    "fp window, broadcast gram join, one pack window",
    "q_winsorize": "fence aggregate broadcast back; fact never "
    "shuffles",
    "q_mixture_sample": "threshold table broadcast; per-row md5 "
    "bucket filter on the fact — zero fact shuffle",
    "q_hhi": "both dims broadcast; exactly two Exchanges (supplier "
    "rollup + nation aggregate), no totals re-join",
    "q_pit_join": "interval containment as a post-filter on a hash "
    "equi-join over user_id — no NestedLoop anywhere",
    "q_windowed_distinct": "explode+aggregate rolling distinct — no "
    "Window operator, no SinglePartition exchange",
    "q_ab_welch": "one scan, one hash Exchange: six conditional "
    "aggregates fused into a single HashAggregate pair",
    "q_tpch_q5": "the 6-way snowflake closed by the c_nationkey = "
    "s_nationkey cycle: every dim side a BroadcastExchange, the "
    "fact crosses ONE hash Exchange (the n_name aggregate)",
    "q_auc": "collapse-first: only the first HashAggregate sees "
    "data-sized input; window + final agg run on distribution rows "
    "after a single narrow exchange on source",
    "q_tpch_q1": "the canonical map-side-combine: partial+final "
    "HashAggregate around ONE 6-row Exchange; shipdate filter in "
    "PushedFilters",
    "q_tpch_q21": "both aggregates at the order grain; orders-F "
    "keys and supplier names broadcast; TakeOrderedAndProject tail",
    "q_dense_ids": "one hash Exchange on the value bucket (__bkt) "
    "feeding the row-count Window + broadcast per-bucket offset "
    "join — no checkpoint pin and no global single-task Window over "
    "the fact",
    "q_mv_rollup": "two stacked HashAggregate pairs (day-grain MV, "
    "month rollup) — the rewrite's whole cost structure",
    "q_table_checksum": "single scan, md5 fold as a Project, one "
    "1-row Exchange for the XOR+count combine",
    "q_keyset_page": "no Sort, no Window: pruned scan (PushedFilters "
    "on the leading key) into TakeOrderedAndProject",
    "q_column_checksums": "ONE scan for all N columns: canon "
    "projection, spread round-robin (no-op at production split "
    "counts), N md5 folds in one partial+final aggregate pair "
    "around a 1-row Exchange",
    "q_kmv_distinct": "distinct (group, hash) partial before the "
    "shuffle; rank window bounded to k rows per group; final agg "
    "reuses the window's partitioning (no extra Exchange)",
    "q_cms_counts": "ONE scan; the w×d counter family derives from a "
    "single shared md5 fold (CSE), partial+final HashAggregate around "
    "one narrow Exchange",
    "q_dedup_keep_best": "size-adaptive pair gen (no Cartesian at the "
    "large-input branch); CC rounds are join+min-agg with checkpointed "
    "lineage; final keep-best = ONE window over the component key",
    "q_bigram_lm": "two stacked aggregates (bigram counts, unigram "
    "totals) sharing the exploded scan; smoothing is a broadcast of "
    "the 1-row vocab count, not a re-scan",
    "q_knn_join": "block equi-join (no BNLJ/Cartesian even with both "
    "sides unbounded); local top-k rank is sort-only on the join's "
    "hash distribution; ONE Exchange to the final per-query rank",
    "q_repeated_spans": "hashed-slice grams (xxhash64 of the token "
    "slice inside the lambda — no gram strings), checkpointed so the "
    "explode runs once; min/max dup predicate in ONE single-pass "
    "HashAggregate pair (no partial-distinct Expand)",
    "q_zipf_fit": "explode into a (source, token) HashAggregate; "
    "rank window sees only the vocabulary; integer ln-moment sums "
    "(run-order-proof) combine map-side in the final per-source "
    "aggregate",
    "q_ks_test": "pair grid built once from two tiny lang "
    "aggregates; docs reach it via broadcast EQUI-joins (no "
    "nested-loop OR join); the running-ECDF window input is "
    "|pairs| x |distinct lengths| — metadata-sized",
    "q_pagerank_exact": "per-iteration: ONE hash join (degrees "
    "pre-joined into the checkpointed edge table) + one "
    "HashAggregate; dangling mass is a 1-row fold over the static "
    "sink flag (no anti-join); lineage cut by localCheckpoint — "
    "plan size constant in iteration count",
    "q_hard_negatives": "map-only MapInPandas (Arrow/BLAS panel "
    "kernel with exact batch-local top-k prune) into ONE Exchange "
    "for the global rank — candidate volume O(batches·anchors·k), "
    "never the |A|×|C| pair grid; no Cartesian, no BNLJ",
    "q_budget_select": "hash Exchange on (value bucket, source), "
    "shared at run time by the prefix window and the totals branch "
    "(ReuseExchange), + per-bucket offsets "
    "(grouped_running_sums_bucketed) — the few-value source key never "
    "sorts its documents in one task; totals ride a broadcast join; "
    "final rollup is source-sized",
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sys.path.insert(0, str(REPO))
    import __spark_entry__ as entrymod
    from fifa_data_pipeline_spark.session import get_spark

    spark = get_spark("explain-report")
    queries = entrymod.queries()

    out = [
        "# PLANS — physical-plan evidence for representative queries",
        "",
        f"Generated by `tools/explain_report.py` at `{sf_dir}`; regenerate",
        "after plan-shape changes. Reading guide per query, then the",
        "formatted physical plan Spark executes.",
        "",
    ]
    for name, note in PICKS.items():
        df = queries[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"## {name}")
        out.append("")
        out.append(f"*What to look for:* {note}.")
        out.append("")
        out.append("```")
        out.append(buf.getvalue().rstrip())
        out.append("```")
        out.append("")
    with open(REPO / "PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(PICKS)} plans)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
