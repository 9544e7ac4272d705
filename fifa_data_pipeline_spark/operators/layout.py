"""Z-order (Morton) multi-column clustering key.

The reference clusters its materialized tables on up to four columns
(`etl_kaggle_to_big_query.py:90,139` — BigQuery ``CLUSTER BY``). A
single-column sort (our ``sortWithinPartitions`` stand-in) gives
perfect min/max pruning on the leading column and none on the rest;
sorting on a Morton/Z-order interleaved key spreads pruning power
across BOTH columns — the same trick Delta's OPTIMIZE ZORDER uses,
built here from plain integer bit-arithmetic so it runs inside
whole-stage codegen with no library.

Scale: the key is a per-row scalar expression with no shuffle of its
own; ``q_zorder`` computes it, and no writer in the engine sorts on
it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def morton_code(x_col: str, y_col: str, bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of two non-negative integer
    columns into one Z-value: bit ``i`` of x lands at position
    ``2i``, bit ``i`` of y at ``2i + 1``.

    Emitted as ONE SQL expression string (a sum of shift/mask terms)
    rather than a py4j Column tree — the same plan-construction-cost
    rationale as ``vector.srp_bucket``; the expression stays inside
    whole-stage codegen.
    """
    terms = []
    for i in range(bits):
        terms.append(f"(shiftleft(({x_col} >> {i}) & 1, {2 * i}))")
        terms.append(f"(shiftleft(({y_col} >> {i}) & 1, {2 * i + 1}))")
    return F.expr("CAST(" + " + ".join(terms) + " AS BIGINT)")


def morton_code_sql(x_col: str, y_col: str, bits: int = 16) -> str:
    """DuckDB twin of :func:`morton_code` (same bit expansion,
    ``<<``/``>>``/``&`` syntax) for oracle checks."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x_col} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y_col} >> {i}) & 1) << {2 * i + 1})")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"
