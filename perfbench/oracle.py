"""Expected answers for a workload, from the registry's DuckDB twins.

Each query's oracle SQL runs once on DuckDB over the input tables;
the column names, row count and order-insensitive row hash
(``tools.check_oracle._hash_rows``) are cached under a key made of the
oracle SQL and the input files' hashes, so a changed oracle or changed
data is recomputed.
"""

from __future__ import annotations

import hashlib
import json
import os

import inputs


def expected(workload, data_dir: str, cache_dir: str) -> dict:
    """``{name: {"cols": sorted names, "rows": n, "hash": h}}`` for
    every query of ``workload`` (``"etl"`` for the ETL workload, whose
    sunk result is the flagship query over the raw tables)."""
    import duckdb

    from fifa_data_pipeline_spark.plans import registry
    from fifa_data_pipeline_spark.plans.flagship import FLAGSHIP_ORACLE
    from fifa_data_pipeline_spark.sources.io import TABLES
    from tools.check_oracle import _hash_rows

    if workload.queries:
        sqls = {q: registry.ORACLES[q] for q in workload.queries}
    else:
        sqls = {"etl": FLAGSHIP_ORACLE}
    key = hashlib.sha256(
        json.dumps([inputs.TABLES[workload.sf], sqls], sort_keys=True).encode()
    ).hexdigest()[:16]
    path = os.path.join(cache_dir, f"{workload.name}-{key}.json")
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        pass
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {os.cpu_count() or 4}")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )
        out = {}
        for name, sql in sqls.items():
            rel = con.sql(sql)
            cols = list(rel.columns)
            rows = rel.fetchall()
            out[name] = {
                "cols": sorted(cols), "rows": len(rows),
                "hash": _hash_rows(cols, rows),
            }
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump(out, fh, indent=1)
    os.replace(path + ".tmp", path)
    return out
