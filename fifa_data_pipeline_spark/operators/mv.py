"""Materialized-view rollup rewrite.

The warehouse pattern: maintain ONE fine-grain aggregate (the MV) and
answer every coarser-grain query from it instead of the base table —
at 100 TB the MV is often 4-6 orders of magnitude smaller than the
fact, so a dashboard query drops from a full fact scan to a scan of
the MV.

The algebra that makes a rewrite VALID (and what :func:`rollup_from_mv`
implements):

- ``SUM``  re-aggregates as ``SUM`` of partial sums,
- ``COUNT`` re-aggregates as ``SUM`` of partial counts,
- ``MIN``/``MAX`` re-aggregate as themselves,
- ``AVG`` is NOT self-decomposable — the MV must store the
  (sum, count) pair and the rewrite derives ``sum/count``
  (storing avg itself would weight groups wrongly),
- grouping keys of the query must be a SUBSET of the MV's keys, and
  any query filter must be expressible on MV columns; otherwise the
  rewrite is refused and the caller falls back to the base table.

``q_mv_rollup``'s oracle runs the equivalent query against the BASE
table — a hash match proves the rewritten two-level aggregation is
value-identical to the direct one. Incremental MV maintenance (the
delta/retraction side) is covered separately by ``q_ivm_delta``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def _mv_measures() -> list:
    """Measures the MV materializes per group (decomposition-ready;
    built lazily — Column construction needs an active session)."""
    return [
        F.count(F.lit(1)).alias("cnt"),
        F.sum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    ]


def build_events_mv(events: DataFrame) -> DataFrame:
    """The fine-grain MV: per (day, event_type) partial aggregates.
    One wide shuffle at the finest grain anyone queries; everything
    coarser is answered from this."""
    return (
        events.groupBy(
            F.to_date("ts").alias("day"), F.col("event_type")
        ).agg(*_mv_measures())
    )


def rollup_from_mv(mv: DataFrame, keys: list[str]) -> DataFrame:
    """Answer a coarser-grain aggregate FROM the MV, with
    ``avg_value`` derived from the re-summed (sum, count) pair.
    ``keys`` must be a subset of the MV's grouping keys (raises
    otherwise — the caller must fall back to the base table; a silent
    wrong rewrite is the one unforgivable MV bug)."""
    mv_keys = {"day", "event_type"}
    unknown = set(keys) - mv_keys
    if unknown:
        raise ValueError(
            f"rewrite refused: {sorted(unknown)} not in MV keys "
            f"{sorted(mv_keys)} — answer from the base table"
        )
    out = mv.groupBy(*keys).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sum_value").alias("sum_value"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )
    return out.withColumn("avg_value", F.col("sum_value") / F.col("cnt"))
