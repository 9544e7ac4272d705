"""Local mimic of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then
compares row count, column names, and an order-insensitive value
hash. Usage::

    python tools/check_oracle.py [sf_dir] [query ...]

Defaults to /root/testdata/sf0.01 and all queries.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import sys
from pathlib import Path

import duckdb


def _norm_cell(v) -> str:
    # Driver-faithful: the round driver stringifies values as-is, so a
    # DuckDB HUGEINT surfacing as float 606.0 vs Spark's int 606 IS a
    # mismatch. r1-r4 lesson (q_tpch_q12): never fold float -> int here,
    # or the mimic under-detects exactly the class the driver catches.
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def _hash_rows(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod
    from fifa_data_pipeline_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    from fifa_data_pipeline_spark.sources.io import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        scols = list(sdf.columns)
        if name not in oracles:
            print(f"{name:24s} rows-only: {len(srows)} rows, cols={scols}")
            continue
        rel = con.sql(oracles[name])
        dcols = list(rel.columns)
        # Reject oracle dtypes that the driver stringifies differently
        # from Spark's (HUGEINT -> float64 via pandas, DECIMAL ->
        # Decimal repr). These must be CAST in the oracle SQL.
        bad_types = [
            f"{c}:{t}" for c, t in zip(dcols, map(str, rel.types))
            if "HUGEINT" in str(t).upper() or "DECIMAL" in str(t).upper()
        ]
        drows = rel.fetchall()
        problems = []
        if bad_types:
            problems.append(f"oracle dtype must be cast: {bad_types}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"count spark={len(srows)} duck={len(drows)}")
        if not problems:
            sh, dh = _hash_rows(scols, srows), _hash_rows(dcols, drows)
            if sh != dh:
                problems.append(f"hash spark={sh} duck={dh}")
        if problems:
            failures.append(name)
            print(f"{name:24s} FAIL  " + "; ".join(problems))
            if len(srows) and len(drows):
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
                sset = {tuple(_norm_cell(r[i]) for i in order_s) for r in srows}
                dset = {tuple(_norm_cell(r[i]) for i in order_d) for r in drows}
                for x in list(sset - dset)[:3]:
                    print("   spark-only:", x)
                for x in list(dset - sset)[:3]:
                    print("   duck-only :", x)
        else:
            print(f"{name:24s} OK    {len(srows)} rows")
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
