"""Sketch operators: count-min point-frequency estimates and KMV
distinct counts.

The reference has no sketch surface at all (SURVEY.md §2.5); this
module adds the frequency/cardinality family next to the HLL
sketches in plans/extended5.py. Every sketch hashes through the same
deterministic md5→BIGINT fold, so the DuckDB twins reproduce each
sketch — and therefore each estimate — exactly. Sketch state is
bounded by the sketch size (depth × width cells; k hashes per group),
not by the input, and merges across shards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Count-min sketch (deterministic md5 hash family)
# ---------------------------------------------------------------------------

def _cms_fold_spark(key_expr: str) -> str:
    """Spark SQL: ONE 60-bit md5 fold of the key (the engine's
    portable hash — same construction as hash_split/spatial grid).
    All ``depth`` bucket indices derive from disjoint 10-bit slices
    of this single fold — the md5-per-(depth × row) variant cost
    d× the per-row hash work for identical CMS guarantees
    (est ≥ true holds for ANY hash family; the slices of one strong
    hash are the standard cheap stand-in for d independent hashes)."""
    return (
        f"CAST(conv(substring(md5({key_expr}), 1, 15), 16, 10) AS BIGINT)"
    )


def _cms_fold_duckdb(key_expr: str) -> str:
    """DuckDB twin of :func:`_cms_fold_spark`."""
    return (
        "list_reduce(list_transform(range(1, 16), "
        "j -> CAST(strpos('0123456789abcdef', "
        f"substr(md5({key_expr}), j, 1)) - 1 AS BIGINT)), "
        "(a, b) -> a * 16 + b)"
    )


def _cms_buckets(key_col: str, depth: int, width: int):
    """Array of per-depth bucket indices sliced from ONE shared fold:
    the three expression trees are IDENTICAL below the div, so
    whole-stage-codegen's common-subexpression elimination computes
    the md5 once per row (the old per-depth salt defeated CSE by
    construction). Wall clock at sf0.1 is tokenization-bound either
    way; the win is per-row hash work at scale."""
    fold = _cms_fold_spark(key_col)
    return F.array(
        *[
            F.expr(f"({fold}) div {width ** d} % {width}")
            for d in range(depth)
        ]
    )


def cms_build(
    items: DataFrame,
    key_col: str,
    depth: int = 3,
    width: int = 1024,
) -> DataFrame:
    """Count-min sketch as a DataFrame: one row per non-empty
    (depth, bucket) cell with its count. The hash family is the
    deterministic md5 fold salted by the depth index, so the sketch
    is reproducible across engines and runs (no JVM hash seeds).

    The build is a single hash aggregate over depth × n rows
    (posexplode of the per-row bucket array); the result is at most
    ``depth × width`` rows — KBs at ANY input scale, and mergeable
    across shards/days by summing cell counts (the property the
    oracle's single-pass twin verifies indirectly: estimates depend
    only on cell sums). The explode goes through the outer-generate
    idiom (`util.exploded`): a plain inner posexplode would trigger
    ``InferFiltersFromGenerate`` and evaluate the depth×md5 bucket
    array two extra times per row, interpreted (see util.exploded).
    """
    from fifa_data_pipeline_spark.operators.util import exploded

    return (
        exploded(items, _cms_buckets(key_col, depth, width), "bucket",
                 pos_alias="d")
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    cms: DataFrame,
    probes: DataFrame,
    key_col: str,
    depth: int = 3,
    width: int = 1024,
) -> DataFrame:
    """Point-estimate probe keys against a CMS: est(key) = min over
    depths of the key's cell count (0 when a cell is empty). The CMS
    guarantee — est ≥ true, with overshoot bounded by collisions —
    is asserted by the oracle pairing (the query also carries the
    exact count).

    The probe side is tiny (a literal key list) → broadcast; the CMS
    is ≤ depth×width rows → also broadcast-sized. No wide shuffle at
    any scale.
    """
    probe_cells = probes.select(
        F.col(key_col),
        F.posexplode(_cms_buckets(key_col, depth, width)).alias(
            "d", "bucket"
        ),
    )
    return (
        probe_cells.join(F.broadcast(cms), ["d", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).cast("long").alias("est"))
    )


def kmv_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per group — the
    mergeable cardinality sketch whose state is just the ``k``
    smallest hash values seen (Bar-Yossef et al. RANDOM'02; the
    order-statistics cousin of HLL). With values hashed uniformly
    into [0, 2^60), the k-th smallest hash ``h_k`` estimates density:
    ``distinct ≈ (k-1) · 2^60 / h_k``; groups with fewer than ``k``
    distinct hashes report their EXACT distinct count.

    Engine-portable by construction: the hash is the same md5→BIGINT
    fold as the CMS/checksum family, so the DuckDB twin reproduces
    every sketch — and therefore every estimate — bit-exactly (the
    estimate arithmetic is ordered to be IEEE-identical across
    engines: (2^60 / h_k) · (k-1), both factors exact doubles).

    Plan shape: distinct (group, hash) → one window rank per group →
    per-group max/count over the ≤ k survivors. The shuffle carries
    distinct hashes only; at 100 TB the sketch property that matters
    is MERGEABILITY — per-partition min-k sets union and re-take
    min-k, which is exactly what the rank-then-aggregate computes,
    and partial aggregation keeps map outputs at O(k · groups).

    Returns ``(group, k_eff, kth_min_hash, distinct_est)``.
    """
    from pyspark.sql import Window

    h = F.expr(
        f"CAST(conv(substring(md5(CAST(`{value_col}` AS STRING)), 1, 15),"
        " 16, 10) AS BIGINT)"
    )
    hashed = (
        df.filter(F.col(value_col).isNotNull())
        .select(F.col(group_col), h.alias("__h"))
        .distinct()
    )
    w = Window.partitionBy(group_col).orderBy("__h")
    topk = hashed.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= k
    )
    space = float(2**60)  # exact double (power of two)
    return (
        topk.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("k_eff"),
            F.max("__h").alias("kth_min_hash"),
        )
        .withColumn(
            "distinct_est",
            F.when(F.col("k_eff") < k, F.col("k_eff")).otherwise(
                F.floor(
                    F.lit(space)
                    / F.col("kth_min_hash").cast("double")
                    * F.lit(float(k - 1))
                )
            ).cast("bigint"),
        )
    )
