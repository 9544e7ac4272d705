"""DuckDB side of the BASELINE.md comparison.

Runs each oracle SQL from ``__spark_entry__.oracle_sql()`` on DuckDB
over the same parquet tables the Spark bench reads, warm (min of 3
runs after one warmup), and prints one JSON line. Usage::

    python tools/bench_duckdb.py [sf_dir] [query ...]

Defaults to /root/testdata/sf0.1 and the bench HEADLINE queries that
have oracles.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

import duckdb

#: Oracles that are deliberately brute-force quadratic (all-pairs
#: Jaccard / all-pairs hamming): correct at the sf0.01 correctness
#: gate, but minutes at sf0.1 — which is the point of the LSH
#: operators they check. Excluded from the default min-of-3 loop;
#: pass the name explicitly to measure one (single run each is
#: reported in BASELINE.md as the LSH-vs-SQL story).
QUADRATIC_ORACLES = {
    "q_minhash_pairs",
    "q_near_dedup",
    "q_simhash_pairs",
    # O(rows × keys) recursive-CTE replay of the sequential EWMA
    # recurrence — the right correctness oracle, not a benchmark
    "q_stream_ewma",
    "q_stream_holt_winters",
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = sys.argv[2:]

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod
    from bench import HEADLINE
    from fifa_data_pipeline_spark.sources.io import TABLES

    oracles = entrymod.oracle_sql()
    names = only or [
        q for q in HEADLINE if q in oracles and q not in QUADRATIC_ORACLES
    ]

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    timings: dict[str, float] = {}
    for name in names:
        sql = oracles[name]
        if name in QUADRATIC_ORACLES:  # single cold run: these take minutes
            timings[name] = round(_timed(con, sql), 4)
            continue
        con.execute(sql).fetchall()  # warmup (buffer cache + plan)
        best = min(
            _timed(con, sql) for _ in range(3)
        )
        timings[name] = round(best, 4)
    print(
        json.dumps(
            {
                "metric": "duckdb_oracle_total",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "queries": timings,
            }
        )
    )
    return 0


def _timed(con: duckdb.DuckDBPyConnection, sql: str) -> float:
    t0 = time.perf_counter()
    con.execute(sql).fetchall()
    return time.perf_counter() - t0


if __name__ == "__main__":
    raise SystemExit(main())
