"""Physical-plan audit over every headline query — the scale-posture
guardrail.

For each bench HEADLINE query, inspects the executed plan (sf0.001 —
plan SHAPE is sf-independent for these queries) and reports:

- ``cartesian``: CartesianProduct present (all-pairs blowup at scale)
- ``bnlj``: BroadcastNestedLoopJoin present (fine for bounded
  broadcast sides — range joins, literal grids; fatal otherwise)
- ``exchanges``: number of shuffle Exchange operators
- ``py_udf``: row-at-a-time Python UDF in the plan (the slow path;
  Arrow-batched pandas/Arrow evaluators are NOT flagged)

Usage::

    python tools/plan_audit.py [sf_dir] [query ...]

Exits non-zero if any query OUTSIDE the allowlists trips a flag —
wired into tests/test_plan_audit.py so a regression that slips a
cartesian product or a Python UDF into a headline plan fails CI.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

#: Queries whose plan legitimately contains BroadcastNestedLoopJoin:
#: non-equi joins against a BOUNDED broadcast side (range join,
#: literal probe sets, one-row scalar frames).
BNLJ_ALLOWED = {
    # conditioned BNLJ against a PROVABLY one-row / bounded broadcast
    # side: Catalyst pushed a post-cross filter into the join itself
    "q_heavy_hitters",   # cnt*(k+1) > total vs one-row total
    "q_mixture_sample",  # hash threshold vs broadcast per-domain rates
    # genuine non-equi join against a bounded broadcast query batch
    "q_knn_exact",       # corpus x broadcast query vectors
    "q_mips",            # same shape, dot-product objective
    # TPC-H scalar-subquery shapes: the HAVING/threshold comparison
    # is pushed into a BNLJ whose broadcast side is a ONE-ROW
    # aggregate (global total / avg) — bounded by construction
    "q_tpch_q11",        # part_value > 0.0008 * one-row total
    "q_tpch_q20",        # shipped qty > one-row half-average
    "q_tpch_q22",        # acctbal > one-row positive-balance average
    # lang-pair grid build: lang_a < lang_b over TWO copies of the
    # distinct-languages aggregate (≤ dozens of rows each, both
    # broadcast); the docs themselves join the grid via equi-joins
    "q_ks_test",
    "q_mann_whitney",
}

#: Queries allowed a CartesianProduct: none — a true cartesian on two
#: large sides is never the right plan; bounded cross joins appear as
#: BroadcastNestedLoopJoin instead.
CARTESIAN_ALLOWED: set[str] = set()

#: Queries whose plan legitimately contains a row-at-a-time Python
#: UDF: none — Python interop goes through Arrow-batched evaluators
#: (pandas_udf / applyInPandas / mapInArrow / UDTF) everywhere.
PY_UDF_ALLOWED: set[str] = set()

#: Arrow-batched evaluator markers (not flagged).
_ARROW_OK = re.compile(
    r"ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas|"
    r"FlatMapGroupsInArrow|MapInArrow|PythonMapInArrow|"
    r"AggregateInPandas|FlatMapGroupsInPandasWithState"
)


def audit_plan(plan: str) -> dict:
    # an UNCONDITIONED "BuildX, Cross" BNLJ is the scalar-broadcast
    # cross-join pattern (one-row aggregate ridealongs) — safe by
    # construction, since only an explicit broadcast() makes Catalyst
    # pick BNLJ over CartesianProduct. A CONDITIONED BNLJ is a real
    # non-equi join and must be allowlisted (bounded broadcast side).
    bnlj_cond = any(
        "(" in line
        for line in plan.splitlines()
        if "BroadcastNestedLoopJoin" in line
    )
    return {
        "cartesian": "CartesianProduct" in plan,
        "bnlj": bnlj_cond,
        "exchanges": len(re.findall(r"Exchange (?:hash|range|Single)", plan)),
        "py_udf": bool(
            re.search(r"BatchEvalPython", plan)
        ),
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod
    from bench import HEADLINE
    from fifa_data_pipeline_spark.session import get_spark

    spark = get_spark("plan-audit")
    queries = entrymod.queries()
    failures = []
    for name in HEADLINE:
        if only and name not in only:
            continue
        if name not in queries:
            continue
        df = queries[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        a = audit_plan(plan)
        flags = []
        if a["cartesian"] and name not in CARTESIAN_ALLOWED:
            flags.append("CARTESIAN")
        if a["bnlj"] and name not in BNLJ_ALLOWED:
            flags.append("BNLJ")
        if a["py_udf"] and name not in PY_UDF_ALLOWED:
            flags.append("PY_UDF")
        status = "FLAG " + ",".join(flags) if flags else "ok"
        print(f"{name:24s} exchanges={a['exchanges']:2d}  {status}")
        if flags:
            failures.append((name, flags))
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        return 1
    print("plan audit clean")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
