"""Scale-up testdata generator for the paired benchmark.

Replicates /root/testdata/sf0.1 ``N``× into a local directory with
disjoint key ranges per copy (every PK and FK shifted by
``copy × STRIDE``), preserving referential integrity — joins,
windows, and dedup semantics all behave as a genuinely larger
dataset, not as N overlapping clones. Dimension tables ``region`` /
``nation`` stay single-copy (their keys are referenced unshifted).

Purpose: BASELINE.md's sf0.1 paired ratio is dominated by Spark's
fixed ~0.1-0.4 s/query dispatch floor; this generator produces the
sf1 (10×) input where data cost outweighs the floor, so the paired
Spark-vs-DuckDB ratio measures the marginal per-row cost — the
number that matters at 100 TB (VERDICT r3 #3).

Usage::

    python tools/make_sfN.py [out_dir] [copies]

Defaults: ``.benchdata/sf1`` under the repo root, 10 copies.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb

SRC = "/root/testdata/sf0.1"
STRIDE = 10_000_000

#: key columns shifted per copy (PKs and the FKs that reference them)
SHIFTS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

SINGLE_COPY = ["region", "nation"]


def main() -> int:
    out = sys.argv[1] if len(sys.argv) > 1 else str(
        Path(__file__).resolve().parents[1] / ".benchdata" / "sf1"
    )
    copies = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 8}")

    for t in SINGLE_COPY:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{SRC}/{t}.parquet')) "
            f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )
        print(t, "copied 1x")

    for t, keys in SHIFTS.items():
        cols = [
            c[0]
            for c in con.execute(
                f"SELECT * FROM read_parquet('{SRC}/{t}.parquet') LIMIT 0"
            ).description
        ]
        select = ", ".join(
            f"({c} + i.copy * {STRIDE}) AS {c}" if c in keys else c
            for c in cols
        )
        con.execute(
            f"COPY (SELECT {select} "
            f"FROM read_parquet('{SRC}/{t}.parquet'), "
            f"(SELECT UNNEST(range({copies})) AS copy) i) "
            f"TO '{out}/{t}.parquet' (FORMAT PARQUET, ROW_GROUP_SIZE 122880)"
        )
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{out}/{t}.parquet')"
        ).fetchone()[0]
        print(t, f"replicated {copies}x ->", n, "rows")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
