"""Data-governance audit operators.

The reference bakes light data-quality rules into its materialization
DDL (league filter, not-null key — `etl_kaggle_to_big_query.py:109,161`);
this module extends that governance surface with the audits a
training-data platform runs before sharing or exporting a table:
k-anonymity / l-diversity over quasi-identifier columns.

All pure DataFrame aggregation — one wide shuffle on the QI key, no
UDFs — so the audit runs at full scan speed on 100 TB and the report
is tiny (one row per QI equivalence class).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bucketize(col: Column | str, width: int) -> Column:
    """Generalization helper: bucket a numeric column to ``width``-
    sized bins (the classic k-anonymity generalization step for
    continuous quasi-identifiers)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.floor(c / F.lit(width)) * F.lit(width)).cast("long")


def k_anonymity_report(
    df: DataFrame,
    qi_cols: Sequence[str],
    k: int,
    sensitive_col: str,
) -> DataFrame:
    """Per-equivalence-class k-anonymity / l-diversity audit.

    Groups by the quasi-identifier columns and reports, per class:
    ``n`` (class size — the "k" of that class), ``l_distinct``
    (distinct sensitive values — its "l"), and ``at_risk`` (class
    smaller than the required ``k``: those rows are re-identifiable
    by their quasi-identifiers alone).

    One hash aggregate; count-distinct over the sensitive column is
    the only expensive part and Catalyst plans it as a two-phase
    partial/expand aggregate — no row ever leaves with the sensitive
    value attached.
    """
    return (
        df.groupBy(*qi_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(sensitive_col).alias("l_distinct"),
        )
        .withColumn("at_risk", F.col("n") < F.lit(k))
    )
