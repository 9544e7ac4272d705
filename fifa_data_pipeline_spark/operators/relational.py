"""Relational operators (SURVEY.md §2.2-2.4).

Operators that hide an algorithm or a contract — the "latest row per
group" idiom, AS-OF and skew-salted joins, merge/upsert, the bounded
prefix machinery, exact order statistics — as pure functions over
DataFrames. A plain projection, filter, join, aggregate or set
operation is written at its call site as the DataFrame method itself
(``df.select``, ``df.filter``, ``left.join(right, cond, how)``,
``groupBy().agg()``, ``rollup``, ``unpivot`` …), not through a
rename here. Each function declares a logical plan; Catalyst plans
the physical side (partial + final HashAggregate, broadcast vs
sort-merge join, pushdown).

Scale notes are attached per function; the common themes:

- Aggregations are expressed as ``groupBy().agg()`` so Spark always
  plans a map-side partial aggregate before the shuffle.
- Fact-fact joins are left to AQE, which demotes sort-merge to
  broadcast at runtime if the build side turns out small; callers
  hint ``F.broadcast`` only on genuinely small dimensions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fifa_data_pipeline_spark.operators.util import materialize_once


# ---------------------------------------------------------------------------
# The latest-per-group idiom (A1+J1/J2) and the AS-OF join
# ---------------------------------------------------------------------------

def latest_per_group_join(
    df: DataFrame, group_key: str, order_col: str
) -> DataFrame:
    """"Latest row per group": keep every row whose ``order_col``
    equals the group max — including ALL tied max rows, the semantic
    the reference's data needs (multiple teams share one latest
    update; reference A1+J1/J2, ``fifa_spark.py:34-66``).

    Implemented as ``rank() OVER (PARTITION BY key ORDER BY ord
    DESC) = 1`` — value-identical to the reference's max-agg +
    self-join-back idiom (``rank``, unlike ``row_number``, keeps
    ties), but ONE shuffle instead of three: the agg+join form keys
    the join on (key, max) pairs, so Catalyst hash-partitions the
    fact AND the agg output on the composite key — neither the agg's
    key-only exchange nor anything else is reusable. The window form
    shuffles the fact once on the key and sorts within partitions.
    The literal reference idiom is :func:`latest_per_group_agg_join`,
    which measured faster despite its extra exchanges (see there).

    NULL ``order_col`` rows are filtered BEFORE the window (ADVICE
    r1): max-agg + equality-join can never match a NULL, so it drops
    all-NULL groups — while a bare ``rank() DESC`` (nulls last) would
    rank them 1 and keep them. The filter makes the two forms
    value-identical for every input, not just NULL-free ones.
    """
    w = Window.partitionBy(group_key).orderBy(F.desc(order_col))
    return (
        df.filter(F.col(order_col).isNotNull())
        .withColumn("__rk", F.rank().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


def latest_per_group_agg_join(
    df: DataFrame, group_key: str, order_col: str
) -> DataFrame:
    """The reference's literal "latest" idiom: max-agg then self-join
    back on (key, max) (A1+J1/J2, ``fifa_spark.py:34-66``). Same
    result set as :func:`latest_per_group_join`, and the shape the
    oracle SQL mirrors. It stays beside the one-shuffle window form
    because it measured faster: q_latest_aggjoin against
    q_join_latest, warm min-of-3 on ``local[4]``, four
    order-alternated waves with a control, won 3 of 4 waves at sf0.1
    (0.46–0.66 s against 0.50–0.62 s) and all 4 at sf1 (1.35–1.50 s
    against 1.55–1.73 s). Its partial aggregate shrinks the fact to
    one row per key before the join, while the window sorts every
    row."""
    latest = (
        df.groupBy(group_key)
        .agg(F.max(order_col).alias("__latest"))
        .withColumnRenamed(group_key, "__gk")
    )
    out = df.join(
        latest,
        (F.col(group_key) == F.col("__gk")) & (F.col(order_col) == F.col("__latest")),
        "inner",
    )
    return out.drop("__gk", "__latest")


def latest_per_group_window(
    df: DataFrame, group_key: str, order_col: str, tiebreak: str
) -> DataFrame:
    """The idiomatic Spark alternative (SURVEY.md §2.3 note):
    ``row_number() == 1`` over a window. Deterministic tie-break via
    ``tiebreak`` (keeps exactly ONE row per group — different tie
    semantics from the join form, by design).

    Scale: one shuffle on ``group_key`` and no self-join — cheaper
    than the join form when the fact side is wide; but rows of a group
    must sort within a partition, so salt-or-split if one group is
    huge.
    """
    w = Window.partitionBy(group_key).orderBy(
        F.desc(order_col), F.desc(tiebreak)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: Sequence[str],
    prefix: str = "prior_",
) -> DataFrame:
    """AS-OF join: attach to each left row the most recent right row
    with ``right_ts <= left_ts`` for the same key (inclusive), or
    NULLs if none — the trades↔quotes idiom; matches DuckDB
    ``ASOF LEFT JOIN``.

    Implementation is the scalable union + running-``last`` form:
    tag both sides, union, one shuffle on ``key``, sort within
    partition by (ts, side) so an equal-timestamp right row sorts
    before the left row, then ``last(payload, ignorenulls)`` over the
    running window carries the latest right payload forward. No
    self-join, no per-left-row probe: cost is one shuffle + one sort
    regardless of how many right rows precede each left row."""
    lpay = F.struct(*[F.col(c) for c in left.columns])
    l_side = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        lpay.alias("__lpay"),
        F.lit(None).cast(
            right.select(F.struct(*payload_cols).alias("s")).schema["s"].dataType
        ).alias("__rpay"),
    )
    r_side = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(l_side.schema["__lpay"].dataType).alias("__lpay"),
        F.struct(*payload_cols).alias("__rpay"),
    )
    w = (
        Window.partitionBy("__k")
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        l_side.unionByName(r_side)
        .withColumn("__match", F.last("__rpay", ignorenulls=True).over(w))
        .filter(F.col("__side") == 1)
    )
    out_cols = [F.col(f"__lpay.{c}").alias(c) for c in left.columns]
    out_cols += [
        F.col(f"__match.{c}").alias(f"{prefix}{c}") for c in payload_cols
    ]
    return matched.select(*out_cols)


# ---------------------------------------------------------------------------
# Skew helper (scale posture, SURVEY.md §7.3 M3)
# ---------------------------------------------------------------------------

def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    how: str = "inner",
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-salted equi-join: the (large, skewed) ``left`` side gets a
    deterministic per-row salt appended to the join key; the smaller
    ``right`` side is replicated once per salt value (explode of a
    ``salt_buckets``-element array), so a hot key's rows spread over
    ``salt_buckets`` reducers instead of landing on one straggler
    task. Result is row-identical to ``left.join(right, on, how)``.

    Supported for inner/left joins (replication would multiply
    unmatched right rows under right/full outer). The salt is
    ``xxhash64`` of the whole left row (deterministic, no rand()), so
    reruns and retries produce identical partitioning — required for
    the driver's hash checks and for exactly-once sinks.

    AQE's skew-join split handles most skew adaptively (and is ON in
    this engine's session config); the explicit salt is for the
    pathological tail — e.g. a null-heavy or default-valued key where
    one key holds >1/salt_buckets of all rows — and for cases AQE
    cannot split (e.g. a skewed *build* side, or pre-AQE bucketed
    joins)."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt_buckets)
    ).cast("int")
    lsalted = left.withColumn("__salt", salt)
    rsalted = right.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)).cast("array<int>")),
    )
    return lsalted.join(rsalted, [*on, "__salt"], how).drop("__salt")


# ---------------------------------------------------------------------------
# Merge / snapshot diff and the rest of the §2.5 extended surface
# ---------------------------------------------------------------------------

def merge_upsert(
    base: DataFrame, updates: DataFrame, key: str
) -> DataFrame:
    """SCD-1 MERGE (upsert): rows in ``updates`` overwrite same-key
    rows in ``base``; unmatched update rows are inserted; unmatched
    base rows pass through. Engine form: one full-outer join on the
    key + per-column COALESCE(update, base).

    Scale: both sides shuffle once on the key — the same cost profile
    as a Delta/Iceberg MERGE rewrite without a transaction log. For
    repeated merges at 100 TB, bucket both tables on the key
    (``bucketBy``) so the join is shuffle-free."""
    cols = base.columns
    assert updates.columns == cols, "merge requires identical schemas"
    u = updates.select([F.col(c).alias(f"__u_{c}") for c in cols])
    j = base.join(u, F.col(key) == F.col(f"__u_{key}"), "full_outer")
    return j.select(
        *[F.coalesce(F.col(f"__u_{c}"), F.col(c)).alias(c) for c in cols]
    )


def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str
) -> DataFrame:
    """Snapshot reconciliation: classify every key across two table
    versions as ``added`` / ``removed`` / ``changed`` (any non-key
    column differs, null-safe) — the diff report a pipeline publishes
    between runs (and the precondition check before a blind MERGE).
    Unchanged keys are dropped (at 100 TB they are ~all rows; the
    report must be the small set).

    One full-outer join on the key; the change test is a null-safe
    struct comparison, so NULL→value and value→NULL edits count as
    changes. Both sides shuffle once on the key — bucket both
    snapshots on the key to make repeated diffs shuffle-free."""
    cols = old.columns
    assert new.columns == cols, "diff requires identical schemas"
    value_cols = [c for c in cols if c != key]
    o = old.select([F.col(c).alias(f"__o_{c}") for c in cols])
    n = new.select([F.col(c).alias(f"__n_{c}") for c in cols])
    j = o.join(n, F.col(f"__o_{key}").eqNullSafe(F.col(f"__n_{key}")), "full_outer")
    same_vals = F.struct(*[F.col(f"__o_{c}") for c in value_cols]).eqNullSafe(
        F.struct(*[F.col(f"__n_{c}") for c in value_cols])
    )
    change = (
        F.when(F.col(f"__o_{key}").isNull(), F.lit("added"))
        .when(F.col(f"__n_{key}").isNull(), F.lit("removed"))
        .when(~same_vals, F.lit("changed"))
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            F.coalesce(F.col(f"__o_{key}"), F.col(f"__n_{key}")).alias(key),
            "change_type",
        )
    )


def systematic_sample(
    df: DataFrame, key_cols: Sequence[str], modulus: int, keep: int
) -> DataFrame:
    """Deterministic systematic sample: keep rows where a linear
    combination of the key columns ≡ ``keep`` (mod ``modulus``).
    Unlike ``df.sample`` (Bernoulli per split — irreproducible across
    engines/partitionings) this is exactly reproducible anywhere,
    which is what a training-corpus sample needs for auditability.
    The predicate pushes down to the scan like any other filter."""
    expr = F.lit(0).cast("long")
    for i, c in enumerate(key_cols):
        expr = expr * 31 + F.col(c).cast("long") * (i + 1)
    return df.filter(F.pmod(expr, modulus) == keep)


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: Sequence[tuple[str, int]] = (
        ("train", 90),
        ("valid", 5),
        ("test", 5),
    ),
    alias: str = "split",
) -> DataFrame:
    """Deterministic train/valid/test split: bucket = md5(key) mod
    100, split by cumulative weight boundaries. Content-addressed
    splitting is the training-pipeline requirement a random() split
    cannot meet — the assignment is a pure function of the key, so
    it is stable across reruns, cluster sizes, and engines (no RNG,
    no ordering dependence), and a re-ingested document always lands
    in the same split (no train/test leakage across versions).

    The bucket uses the first 15 md5 hex digits (< 2^60, no sign
    issues) — the same engine-portable construction as the SimHash
    token hash, reproducible bit-exactly in the DuckDB oracle. Pure
    per-row expression: no shuffle, survives any scale."""
    total = sum(w for _, w in weights)
    if total != 100:
        raise ValueError(f"split weights must sum to 100, got {total}")
    bucket = F.expr(
        f"CAST(conv(substring(md5(CAST({key_col} AS STRING)), 1, 15), "
        "16, 10) AS BIGINT) % 100"
    )
    cum = 0
    branches = []
    for name, w in weights:
        cum += w
        branches.append((cum, name))
    out = None
    for cum, name in branches[:-1]:
        clause = (F.when if out is None else out.when)(
            bucket < cum, F.lit(name)
        )
        out = clause
    last = F.lit(branches[-1][1])
    out = last if out is None else out.otherwise(last)
    return df.withColumn(alias, out)


def winsorize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo: float = 0.01,
    hi: float = 0.99,
) -> DataFrame:
    """Per-group quantile clipping (winsorization): values below the
    ``lo`` / above the ``hi`` exact interpolated percentile are pulled
    to the fence. The standard robust preprocessing step before
    feeding heavy-tailed metrics (wages, latencies, token counts) to
    a model — unlike dropping outliers it preserves row count.

    Returns the input rows plus ``clipped`` (the winsorized value)
    and ``was_clipped``. Plan shape mirrors :func:`mad_outliers`: one
    exact-percentile aggregate over the group key broadcast back to
    the fact — the fact itself never shuffles. At 100 TB swap the
    exact ``percentile`` for ``approx_percentile`` (mergeable
    t-digest) with nothing else changing."""
    fences = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, {lo!r}D)").alias("__lo"),
        F.expr(f"percentile({value_col}, {hi!r}D)").alias("__hi"),
    )
    return (
        df.join(F.broadcast(fences), group_col)
        .withColumn(
            "clipped",
            F.round(
                F.least(F.greatest(F.col(value_col), F.col("__lo")), F.col("__hi")),
                6,
            ),
        )
        .withColumn(
            "was_clipped",
            (F.col(value_col) < F.col("__lo"))
            | (F.col(value_col) > F.col("__hi")),
        )
        .drop("__lo", "__hi")
    )


def mixture_sample(
    df: DataFrame,
    domain_col: str,
    key_col: str,
    temperature: float = 0.5,
    target_frac: float = 0.5,
) -> DataFrame:
    """Deterministic temperature-reweighted domain mixture sampling —
    the data-mixing step of a pretraining pipeline (upsample small
    domains, downsample dominant ones; τ=1 keeps natural proportions,
    τ→0 approaches uniform across domains, the multinomial-α recipe
    used by multilingual/LM corpus mixing).

    Per domain d with n_d rows out of N: weight
    w_d = n_d^τ / Σ n_e^τ, desired take c_d = (target_frac·N)·w_d,
    acceptance rate r_d = min(1, c_d / n_d). A row is kept iff its
    content-addressed bucket (md5 of the key, mod 10^6 — the
    :func:`hash_split` construction) falls below
    floor(round(r_d·10^6, 3)): reproducible across engines, reruns
    and partitionings, no RNG. The round-before-floor absorbs
    sub-ulp differences in pow() between engines.

    Plan shape: one tiny groupBy(domain) count (map-side combined),
    thresholds broadcast back; the fact is filtered with a pure
    per-row predicate — no fact shuffle at any scale."""
    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("__n"))
    tot = counts.agg(
        F.sum("__n").alias("__grand"),
        F.sum(F.pow("__n", F.lit(temperature))).alias("__wsum"),
    )
    thresholds = counts.crossJoin(F.broadcast(tot)).select(
        domain_col,
        "__n",
        F.floor(
            F.round(
                F.least(
                    F.lit(1.0),
                    F.lit(target_frac)
                    * F.col("__grand")
                    * F.pow("__n", F.lit(temperature))
                    / F.col("__wsum")
                    / F.col("__n"),
                )
                * 1000000,
                3,
            )
        )
        .cast("long")
        .alias("__threshold"),
    )
    bucket = F.expr(
        f"CAST(conv(substring(md5(CAST({key_col} AS STRING)), 1, 15), "
        "16, 10) AS BIGINT) % 1000000"
    )
    return (
        df.join(F.broadcast(thresholds), domain_col)
        .filter(bucket < F.col("__threshold"))
        .withColumnRenamed("__n", "domain_rows")
        .withColumnRenamed("__threshold", "threshold")
    )


def mad_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    threshold: float = 3.5,
) -> DataFrame:
    """Robust per-group outlier detection via the median absolute
    deviation: robust_z = 0.6745·(x − median)/MAD, flagging
    |robust_z| > ``threshold`` (the Iglewicz-Hoban modified z-score;
    3.5 is the standard cut). Median/MAD resist the very outliers a
    mean/stddev z-score lets mask themselves at scale. Groups whose
    MAD is 0 (constant bulk) are skipped rather than dividing by 0.

    Plan shape: two exact ``percentile`` aggregates over the group
    key, each broadcast back to the fact (group cardinality =
    #event_types — tiny), so the fact is scanned twice but never
    shuffled. Exact percentile sorts each group's values in the agg
    buffer, which is fine while groups fit an executor; the 100 TB
    path swaps in ``approx_percentile`` (t-digest, mergeable,
    map-side combined) with everything else unchanged."""
    med = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5D)").alias("__med")
    )
    dev = df.join(F.broadcast(med), group_col).withColumn(
        "__dev", F.abs(F.col(value_col) - F.col("__med"))
    )
    mad = dev.groupBy(group_col).agg(
        F.expr("percentile(__dev, 0.5D)").alias("__mad")
    )
    return (
        dev.join(F.broadcast(mad.filter(F.col("__mad") > 0)), group_col)
        .withColumn(
            "robust_z",
            F.round(
                F.lit(0.6745) * (F.col(value_col) - F.col("__med")) / F.col("__mad"),
                6,
            ),
        )
        .filter(F.abs(F.col("robust_z")) > threshold)
    )


def skew_report(
    df: DataFrame, key_cols: Sequence[str], top_n: int = 10
) -> DataFrame:
    """Shuffle-skew diagnostic for a prospective join/aggregate key:
    the ``top_n`` heaviest key groups with their share of all rows
    and their ratio to the mean group size — the numbers that decide
    whether a key needs salting (:func:`salted_join`) or AQE
    skew-join before a 100 TB run, read from a cheap aggregate
    instead of discovered as a straggler task at hour three.

    Plan: one hash aggregate on the key (map-side combined) plus a
    one-row global aggregate broadcast back; top-n via
    TakeOrderedAndProject. Output is ``top_n`` rows however large the
    input."""
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_rows"))
    totals = counts.agg(
        F.sum("n_rows").alias("__total"),
        F.count(F.lit(1)).alias("__groups"),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            *key_cols,
            "n_rows",
            F.round(F.col("n_rows") / F.col("__total"), 6).alias("row_share"),
            F.round(
                F.col("n_rows") / (F.col("__total") / F.col("__groups")), 6
            ).alias("x_mean_group"),
        )
        .orderBy(F.desc("n_rows"), *key_cols)
        .limit(top_n)
    )


def point_in_time_join(
    facts: DataFrame,
    dims: DataFrame,
    key: str,
    ts_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Point-in-time (PIT) join: each fact row picks the SCD-2
    dimension version whose ``[valid_from, valid_to)`` interval
    contains the fact's timestamp (``valid_to`` NULL = still open).
    The canonical "as the data stood then" lookup against a
    historized dimension — the temporal complement of
    :func:`as_of_join` (which matches the latest value ≤ ts without
    materialized intervals).

    Because SCD-2 intervals are per-entity and tile the entity's
    timeline, the interval predicate is a post-filter on an ordinary
    EQUI-join on the entity key — Catalyst plans a hash/sort-merge
    join on ``key``, never a nested-loop: each fact meets only its
    own entity's handful of versions, and exactly one survives the
    containment filter. At 100 TB both sides shuffle once on the
    entity key (or zero times if bucketed on it); there is no range
    explosion.
    """
    d = dims.select(
        F.col(key).alias("__pk"),
        *[c for c in dims.columns if c != key],
    )
    cond = (
        (facts[ts_col] >= d[valid_from])
        & (d[valid_to].isNull() | (facts[ts_col] < d[valid_to]))
    )
    return facts.join(d, (facts[key] == d["__pk"]) & cond, "inner").drop("__pk")


def as_of_join_forward(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: Sequence[str],
    prefix: str = "next_",
) -> DataFrame:
    """FORWARD as-of join: attach to each left row the EARLIEST right
    row with ``right_ts >= left_ts`` (inclusive) for the same key, or
    NULLs if none — "what happened next" (next session start, next
    price quote), the mirror of :func:`as_of_join`'s "latest before".

    Implemented by time reversal: negate both timestamp columns and
    run the backward join — the earliest following row IS the latest
    preceding row on the reversed axis, ties included identically.
    Same cost envelope: one union, one shuffle on ``key``, one
    running-``last`` window; requires a numeric timestamp (epoch).
    Matches DuckDB ``ASOF JOIN … ON right_ts >= left_ts``."""
    ln = left.withColumn("__fneg", -F.col(left_ts))
    rn = right.withColumn("__fnegr", -F.col(right_ts))
    return as_of_join(
        ln, rn, key, "__fneg", "__fnegr", payload_cols, prefix
    ).drop("__fneg")


def bloom_pruned_semi_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    m: int = 4096,
    n_hashes: int = 2,
) -> DataFrame:
    """Semi-join with a Bloom-filter pre-prune: the dim side's keys
    are folded into a ≤ ``m``-row bit-position table (one row per SET
    bit, all ``n_hashes`` hash functions pooled); the fact side keeps
    only rows whose every hash position is set (``n_hashes`` chained
    broadcast semi-joins — all map-side, zero fact shuffles), then the
    exact semi-join runs on the survivors.

    No false negatives (every true match passes the filter), so the
    result is EXACTLY the plain semi-join — which is what the oracle
    runs. The value is the 100 TB shape: when the dim side is too big
    to broadcast as rows but its bloom bits aren't, the pre-prune
    shrinks the fact's shuffle volume by the filter's selectivity —
    the same idea as Spark's own runtime row-group bloom pushdown,
    expressed as a reusable operator with an engine-portable (md5)
    hash family.
    """
    def positions(key_expr: str):
        from fifa_data_pipeline_spark.operators.sketch import _cms_fold_spark

        # n bit positions sliced from ONE shared md5 fold (identical
        # subtrees -> codegen CSE computes the hash once per row);
        # any hash family preserves the no-false-negative guarantee
        fold = _cms_fold_spark(f"CAST({key_expr} AS STRING)")
        return [
            F.expr(f"({fold}) div {m ** j} % {m}")
            for j in range(n_hashes)
        ]

    bits = F.broadcast(
        dim.select(
            F.explode(F.array(*positions(dim_key))).alias("bit")
        ).distinct()
    )
    pruned = fact
    for p in positions(fact_key):
        pruned = pruned.join(
            bits, p == F.col("bit"), "left_semi"
        )
    return pruned.join(
        dim.select(F.col(dim_key).alias("__bk")).distinct(),
        F.col(fact_key) == F.col("__bk"),
        "left_semi",
    )


def keyset_page(
    df: DataFrame,
    order_cols: list[str],
    cursor: list | None,
    n: int,
) -> DataFrame:
    """Keyset (cursor) pagination: the page AFTER ``cursor`` in
    ``order_cols`` order — ``WHERE (k1, k2, …) > (c1, c2, …)
    ORDER BY k1, k2, … LIMIT n`` with the row-value comparison
    expanded lexicographically (Spark has no tuple comparator in the
    DataFrame API).

    This is THE pagination idiom for big tables: OFFSET must scan
    and discard ``offset`` rows on every page (O(total) per page —
    quadratic to walk a table), while keyset is O(page): the leading
    strict-inequality conjunct ``k1 >= c1`` is added redundantly so
    it pushes into the parquet scan (row-group min/max skip), and
    the ORDER+LIMIT plans as TakeOrderedAndProject — a per-partition
    top-n plus a driver merge of n-row candidates, never a global
    sort. ``cursor=None`` returns the first page.
    """
    out = df
    if cursor is not None:
        assert len(cursor) == len(order_cols)
        cond = F.lit(False)
        for i in range(len(order_cols) - 1, -1, -1):
            eq_prefix = F.lit(True)
            for j in range(i):
                eq_prefix = eq_prefix & (
                    F.col(order_cols[j]) == F.lit(cursor[j])
                )
            cond = cond | (
                eq_prefix & (F.col(order_cols[i]) > F.lit(cursor[i]))
            )
        # redundant range conjunct on the leading key -> scan pruning
        out = out.filter(
            (F.col(order_cols[0]) >= F.lit(cursor[0])) & cond
        )
    return out.orderBy(*[F.asc(c) for c in order_cols]).limit(n)


def assign_dense_ids(
    df: DataFrame,
    order_cols: list[str],
    id_col: str = "row_id",
    num_partitions: int | None = None,
    *,
    bounds: tuple[float, float],
) -> DataFrame:
    """Dense, gap-free global row ids 1..N in ``order_cols`` order —
    WITHOUT the classic 100 TB trap of ``row_number() OVER (ORDER BY
    …)``, whose empty-partitionBy window collapses the whole table
    into ONE task.

    Global dense ids are per-bucket row ranks plus per-bucket count
    offsets, i.e. exactly :func:`grouped_row_ranks` with no group
    columns: ``bounds`` = (min, max) of the FIRST order column
    (footer-stats cheap on a raw table,
    :func:`~...sources.io.minmax_bounds`) derives the bucket split —
    one shuffle, no checkpoint pin, no driver-side offset scan.
    ``order_cols`` should be a unique key: ids stay gap-free under
    ties, but which tied row gets which id is arbitrary.
    """
    return grouped_row_ranks(
        df, [], order_cols, id_col,
        num_partitions=num_partitions, bounds=bounds,
    )


def grouped_running_sums(
    df: DataFrame,
    group_cols: list[str],
    order_col: str | list[str],
    sum_cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact per-group running sums of ``sum_cols`` in ``order_col``
    order, WITHOUT ``Window.partitionBy(<few-value key>)`` — whose
    single-task-per-group sort is the 100 TB trap when groups are few
    and large (a 3-value key funnels the whole table through 3 tasks).

    Three distributed steps:

    1. ``repartitionByRange`` on (group, order) — one range shuffle;
       sampling-based bounds are deterministic for a fixed input —
       then pin the partition assignment
       (:func:`~...operators.util.materialize_once`: lazy
       ``localCheckpoint`` default, short-lived table under
       ``$SPARK_GRAFT_MATERIALIZE=table`` on a real cluster) so the
       offsets pass and the output pass see the SAME split.
    2. Running sums WITHIN each physical partition via
       ``Window.partitionBy(__pid, *group)`` — parallelism scales
       with ``num_partitions``, not with the number of groups.
    3. Per-(partition, group) totals — a ``num_partitions × |groups|``
       row frame — turned into per-group prefix offsets by partition
       id (a window over that tiny frame) and broadcast-joined back.

    ``df`` must be pre-aggregated to ONE row per (group, order) — a
    duplicated order key could be split across range partitions,
    which would make the running sum placement-dependent.
    ``order_col`` may be a composite list (ascending order on each
    part; pre-negate a column for descending). Appends
    ``{col}_rsum`` (inclusive prefix sum) per requested column.

    ``num_partitions`` defaults to 2× the scheduler's parallelism —
    it scales with the cluster automatically; the offsets frame stays
    metadata-sized either way.

    Prefer :func:`grouped_running_sums_bucketed` whenever (min, max)
    of the lead order column is cheap to know (a raw-table column:
    footer stats). This sampled, pinned form serves order keys with no
    such bounds: q_ltv_deciles ranks customers by a per-customer
    aggregate (through :func:`parallel_ntile`), where a bounds probe
    has to run the aggregate again. Routed through the bucketed form
    with that probe it returned the same rows but ran slower at sf1
    (warm 2.78 / 2.49 s → 3.30 / 2.97 s).
    """
    if num_partitions is None:
        num_partitions = 2 * df.sparkSession.sparkContext.defaultParallelism
    order_cols = (
        [order_col] if isinstance(order_col, str) else list(order_col)
    )
    keys = [*group_cols, *order_cols]
    part = df.repartitionByRange(
        num_partitions, *[F.col(c) for c in keys]
    )
    # materialize_once (lazy localCheckpoint default), not persist():
    # pins one evaluation of the range shuffle (offsets pass and
    # output pass read the SAME rows) without a CacheManager entry —
    # persist() here leaked cached partitions across the 289-query
    # bench/driver run and substituted itself into unrelated plans
    # (ADVICE r5). $SPARK_GRAFT_MATERIALIZE=table on a real cluster.
    pinned = materialize_once(
        part.withColumn("__pid", F.spark_partition_id().cast("long")),
        name="rsum_pin",
    )
    wloc = (
        Window.partitionBy("__pid", *group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = pinned.select(
        "*", *[F.sum(c).over(wloc).alias(f"__loc_{c}") for c in sum_cols]
    )
    totals = pinned.groupBy("__pid", *group_cols).agg(
        *[F.sum(c).alias(f"__t_{c}") for c in sum_cols]
    )
    woff = (
        Window.partitionBy(*group_cols)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "__pid",
        *group_cols,
        *[
            F.coalesce(F.sum(f"__t_{c}").over(woff), F.lit(0)).alias(
                f"__off_{c}"
            )
            for c in sum_cols
        ],
    )
    out = local.join(F.broadcast(offsets), ["__pid", *group_cols])
    for c in sum_cols:
        out = out.withColumn(
            f"{c}_rsum", F.col(f"__loc_{c}") + F.col(f"__off_{c}")
        )
    return out.drop(
        "__pid",
        *[f"__loc_{c}" for c in sum_cols],
        *[f"__off_{c}" for c in sum_cols],
    )


def grouped_running_sums_bucketed(
    df: DataFrame,
    group_cols: list[str],
    order_col: str | list[str],
    sum_cols: list[str],
    bounds: tuple[float, float] | None,
    num_buckets: int | None = None,
    share_input: bool = True,
    emit_totals: bool = False,
) -> DataFrame:
    """:func:`grouped_running_sums` with the parallel split derived
    from the ORDER VALUE itself — ``floor((v − lo) / width)`` over
    caller-supplied ``bounds`` — instead of ``spark_partition_id``
    over a sampled range shuffle. Because the bucket is a pure
    function of the row, the local-prefix pass and the offsets pass
    agree by construction: no localCheckpoint pin, no range-sampling
    job, and the spine shuffles ONCE (the window's bucket+group hash
    exchange) instead of twice-plus-materialization. Appends
    ``{col}_rsum`` per requested column.

    ``bounds`` is (min, max) of ``order_col`` — probe it from the
    RAW fact (parquet footer-stats cheap), never from ``df`` itself
    when ``df`` is an aggregation, or the probe re-runs the
    aggregate. ``bounds=None`` (empty input) degrades to a single
    bucket. Exactness never depends on the value distribution —
    bucket order aligns with value order by monotonicity of floor,
    and NULL order values map to bucket −1, matching the window's
    NULLS FIRST — only bucket BALANCE does: a heavily skewed domain
    (one hot value) concentrates its rows in one bucket, the same
    way one hot key skews any range split. Same contract otherwise:
    ``df`` pre-aggregated to one row per (group, order value).

    ``order_col`` may be a composite list: the bucket derives from
    the FIRST component (``bounds`` = its min/max), which aligns
    with the lexicographic order because rows sharing a first-
    component value share a bucket; remaining components only order
    within the bucket.

    ``share_input`` picks how the per-bucket totals (the offsets
    pass's input) are produced — a measured per-shape trade (r8):

    - ``True`` (default): totals = last prefix row per bucket,
      aggregated (``max_by`` on the order key) from the WINDOW
      OUTPUT. Referencing window columns keeps both branches on one
      canonical hash(bucket, group) exchange, so ReuseExchange
      computes ``df`` ONCE; the totals branch pays a re-sort of the
      spine from shuffle files. Right whenever ``df`` carries real
      work (a tokenize, a join, an aggregate over a wider fact) or
      the spine is bounded.
    - ``False``: totals = a fresh aggregate over the pre-exchange
      frame. Catalyst plants the partial agg below its own exchange,
      so ``df`` computes twice — but no sort. Right when ``df`` is a
      bare columnar scan (or a near-free projection) AND the spine
      is near-fact-sized: re-scanning two pruned columns beats
      re-sorting the whole spine (exact-quantile family over
      near-unique values: 1.84 vs 2.26 s min interleaved at sf0.1).

    ``emit_totals=True`` additionally appends ``{col}_gsum`` = the
    per-GROUP grand total of each sum column, on every output row.
    It costs NOTHING extra: the grand total is the unbounded-frame
    sum over the same metadata-sized per-bucket-totals frame the
    offsets window already scans (same partitioning and ordering, so
    Spark hosts both frames in ONE WindowExec), and it rides the
    existing broadcast join back to the fact. Callers that would
    otherwise aggregate per-group totals from the machinery OUTPUT
    (a third fact-level sort+window pass over the reused exchange —
    measured as the q_budget_select residual, r9) should take these
    columns instead."""
    order_cols = (
        [order_col] if isinstance(order_col, str) else list(order_col)
    )
    lead = order_cols[0]
    if num_buckets is None:
        num_buckets = 2 * df.sparkSession.sparkContext.defaultParallelism
    if bounds is None or bounds[0] is None:
        lo, width = 0.0, float("inf")
    else:
        lo = float(bounds[0])
        span = float(bounds[1]) - lo
        width = (span / num_buckets) or 1.0
    # The outer coalesce never fires (the otherwise branch is
    # non-null whenever ``lead`` is), but it marks the expression
    # NON-NULLABLE so no branch-asymmetric isnotnull(__bkt) filter
    # can be inferred — see :func:`grouped_running_max_dense`.
    b = F.coalesce(
        F.when(F.col(lead).isNull(), F.lit(-1)).otherwise(
            F.least(
                F.floor(
                    (F.col(lead).cast("double") - F.lit(lo))
                    / F.lit(width)
                ),
                F.lit(num_buckets - 1),
            )
        ),
        F.lit(-1).cast("long"),
    )
    bucketed = df.withColumn("__bkt", b)
    wloc = (
        Window.partitionBy("__bkt", *group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = bucketed.select(
        "*",
        *[F.sum(c).over(wloc).alias(f"__loc_{c}") for c in sum_cols],
    )
    # Per-bucket totals = the LAST row of each bucket's local prefix
    # (max_by on the order key; exact for any sign since the final
    # prefix value IS the bucket total), aggregated from ``local`` —
    # NOT a fresh aggregate over ``bucketed``. A groupBy over
    # ``bucketed`` plants a partial aggregate BELOW its own exchange,
    # so the two exchange subplans differ and the whole ``df``
    # subtree (often an expensive tokenize or aggregate projection)
    # computes twice — measured as 2x corpus tokenize on
    # q_budget_select (r8). Aggregating the WINDOW OUTPUT references
    # __loc_*, so Catalyst cannot prune the Window and re-plan: both
    # branches keep the identical hash(__bkt, group) exchange and
    # ReuseExchange serves the totals branch from the first branch's
    # shuffle files — one scan of ``df``, one extra sort of the
    # spine (cheap, shuffle-local). The agg itself needs no exchange
    # (its keys equal the window partitioning); max_by's struct
    # comparison ranks NULL order components smallest, matching the
    # window's ASC NULLS FIRST, so "max struct" is exactly the last
    # prefix row.
    if share_input:
        _ord = F.struct(*[F.col(c) for c in order_cols])
        totals = local.groupBy("__bkt", *group_cols).agg(
            *[
                F.max_by(F.col(f"__loc_{c}"), _ord).alias(f"__t_{c}")
                for c in sum_cols
            ]
        )
    else:
        totals = bucketed.groupBy("__bkt", *group_cols).agg(
            *[F.sum(c).alias(f"__t_{c}") for c in sum_cols]
        )
    woff = (
        Window.partitionBy(*group_cols)
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # Same partitioning + ordering as ``woff`` with an unbounded
    # frame: Spark evaluates both in the one WindowExec over the
    # metadata-sized totals frame.
    wall = (
        Window.partitionBy(*group_cols)
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    offsets = totals.select(
        "__bkt",
        *group_cols,
        *[
            F.coalesce(F.sum(f"__t_{c}").over(woff), F.lit(0)).alias(
                f"__off_{c}"
            )
            for c in sum_cols
        ],
        *(
            [
                F.sum(f"__t_{c}").over(wall).alias(f"{c}_gsum")
                for c in sum_cols
            ]
            if emit_totals
            else []
        ),
    )
    out = local.join(F.broadcast(offsets), ["__bkt", *group_cols])
    for c in sum_cols:
        out = out.withColumn(
            f"{c}_rsum", F.col(f"__loc_{c}") + F.col(f"__off_{c}")
        )
    return out.drop(
        "__bkt",
        *[f"__loc_{c}" for c in sum_cols],
        *[f"__off_{c}" for c in sum_cols],
    )


def grouped_running_max_dense(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    max_cols: list[str],
    num_buckets: int | None = None,
    *,
    bounds: tuple,
) -> DataFrame:
    """Exact per-group RUNNING MAX of ``max_cols`` in ``order_col``
    order for a DENSE-ish integer ``order_col`` (an arrival sequence /
    row id), parallel across buckets — the high-water-mark primitive
    that replaces ``max(x) OVER (PARTITION BY <few-value key> ORDER BY
    … ROWS UNBOUNDED PRECEDING)``, whose one-task-per-group sort is the
    100 TB ceiling. The parallel split is a DATA-DERIVED range bucket
    ``order_col div width``: per-bucket local prefix maxes, per-(bucket,
    group) totals, and an EXCLUSIVE running max over the
    metadata-sized totals frame as the offset, combined with
    ``greatest``. Because the bucket is a pure function of the row,
    the two consumers (local prefix maxes, per-bucket totals) agree by
    construction — no localCheckpoint pin, no range-sampling job, and
    the bucket+group hash exchange the window inserts is the ONLY fact
    shuffle. Appends ``{col}_rmax``.

    Exactness does not depend on density — any integer key works
    because bucket order aligns with key order; density only keeps
    the buckets BALANCED (a heavily clustered key could skew them).
    ``bounds`` = (min, max) of ``order_col``, probed cheaply from the
    raw table (:func:`~...sources.io.minmax_bounds`); ``(None, None)``
    (an empty input) puts every row in one bucket."""
    if num_buckets is None:
        num_buckets = 2 * df.sparkSession.sparkContext.defaultParallelism
    lo, hi = bounds
    if lo is None:
        width = 1
    else:
        lo, hi = int(lo), int(hi)
        width = max((hi - lo) // num_buckets + 1, 1)
    # coalesce(-1) does two jobs: NULL order keys map to bucket -1
    # (sorts first, matching the window's NULLS FIRST), and the
    # expression becomes NON-NULLABLE — otherwise the machinery's
    # internal join infers an isnotnull(__bkt) filter into ONE of
    # the two branches, the exchange subtrees stop canonicalizing
    # equal, and ReuseExchange silently stops firing (found on
    # q_late_events, r8).
    b = F.coalesce(
        ((F.col(order_col).cast("long") - F.lit(lo)) / F.lit(width)).cast(
            "long"
        ),
        F.lit(-1).cast("long"),
    )
    bucketed = df.withColumn("__bkt", b)
    wloc = (
        Window.partitionBy("__bkt", *group_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = bucketed.select(
        "*",
        *[F.max(c).over(wloc).alias(f"__loc_{c}") for c in max_cols],
    )
    # Per-bucket totals as a fresh aggregate over ``bucketed`` (the
    # ``share_input=False`` side of the per-shape rule at
    # :func:`grouped_running_sums_bucketed`): this machinery runs at
    # ROW grain, so aggregating the window output would re-sort the
    # whole fact, while ``df`` is typically a bare pruned scan —
    # recomputing the two-column aggregate is the cheaper side
    # (measured on q_late_events: 0.43 vs 0.58 s).
    totals = bucketed.groupBy("__bkt", *group_cols).agg(
        *[F.max(c).alias(f"__t_{c}") for c in max_cols]
    )
    woff = (
        Window.partitionBy(*group_cols)
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "__bkt",
        *group_cols,
        *[
            F.max(f"__t_{c}").over(woff).alias(f"__off_{c}")
            for c in max_cols
        ],
    )
    out = local.join(F.broadcast(offsets), ["__bkt", *group_cols])
    for c in max_cols:
        out = out.withColumn(
            f"{c}_rmax",
            F.greatest(F.col(f"__loc_{c}"), F.col(f"__off_{c}")),
        )
    return out.drop(
        "__bkt",
        *[f"__loc_{c}" for c in max_cols],
        *[f"__off_{c}" for c in max_cols],
    )


def grouped_row_ranks(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    rank_col: str = "row_rank",
    num_partitions: int | None = None,
    bounds: tuple[float, float] | None = None,
) -> DataFrame:
    """Per-group 1-based ROW ranks in ``order_cols`` order (ascending;
    pre-negate a column for descending) computed partition-parallel —
    the drop-in replacement for ``row_number() OVER (PARTITION BY
    <few-value key> ORDER BY …)`` whose one-task-per-group sort is
    the 100 TB ceiling. ``(group, order_cols)`` must be unique (the
    same contract the deterministic window form needs). Just
    :func:`grouped_running_sums` with a constant-1 weight; pass
    ``bounds`` = (min, max) of the FIRST order column to route
    through :func:`grouped_running_sums_bucketed` (one shuffle, no
    checkpoint pin — r8). The bucket totals are a fresh aggregate
    (``share_input=False``): row ranks run at ROW grain, so the
    "spine" IS the input and a re-sort always loses to re-scanning a
    pruned projection (the per-shape rule at
    :func:`grouped_running_sums_bucketed`), and the totals stay exact
    when the order key carries ties."""
    one = df.withColumn("__one", F.lit(1))
    if bounds is not None:
        out = grouped_running_sums_bucketed(
            one, group_cols, order_cols, ["__one"],
            bounds=bounds, num_buckets=num_partitions,
            share_input=False,
        )
    else:
        out = grouped_running_sums(
            one, group_cols, order_cols, ["__one"],
            num_partitions=num_partitions,
        )
    return out.withColumnRenamed("__one_rsum", rank_col).drop("__one")


def ntile_bucket_expr(k: int, i: str = "__i", n: str = "__n") -> Column:
    """ANSI NTILE(k) bucket from a 1-based row rank ``i`` and group
    size ``n`` — pure integer arithmetic, bit-identical to the window
    form for any n, k. With q = n div k and r = n mod k the first r
    buckets hold q+1 rows; ceil(a/b) is (a + b − 1) div b. CASE is
    lazy, so the q = 0 branch (n < k ⇒ every row satisfies
    i ≤ r·(q+1) = n) never evaluates its div-by-zero."""
    return F.expr(
        f"""CASE WHEN {i} <= ({n} % {k}) * ({n} div {k} + 1)
                 THEN ({i} + {n} div {k}) div ({n} div {k} + 1)
                 ELSE ({n} % {k})
                      + ({i} - ({n} % {k}) * ({n} div {k} + 1)
                         + {n} div {k} - 1) div ({n} div {k})
            END"""
    )


def parallel_ntile(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    k: int,
    bucket_col: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact ANSI ``NTILE(k)`` per group without a single-task group
    sort: row ranks come from :func:`grouped_row_ranks`, group sizes
    from a broadcast aggregate, and the bucket from NTILE's integer
    definition — with n = group size, q = n div k, r = n mod k, the
    first ``r`` buckets hold ``q+1`` rows:

        bucket(i) = ceil(i / (q+1))                  for i ≤ r·(q+1)
                  = r + ceil((i − r·(q+1)) / q)      otherwise

    Pure integer arithmetic — bit-identical to the window ``ntile``
    (and DuckDB's) for any n, k, including n < k (q = 0 puts every
    row in its own bucket via the first branch)."""
    ranked = grouped_row_ranks(
        df, group_cols, order_cols, "__i", num_partitions=num_partitions
    )
    # Group sizes from the rank output (max rank = group size): the
    # sizes branch rides the rank machinery's exchange/pin instead
    # of scanning ``df`` a second time (one-scan rule, r8).
    sizes = ranked.groupBy(*group_cols).agg(F.max("__i").alias("__n"))
    bucket = ntile_bucket_expr(k, "__i", "__n")
    joined = (
        ranked.join(F.broadcast(sizes), group_cols)
        if group_cols
        else ranked.crossJoin(F.broadcast(sizes))  # global ntile: 1 row
    )
    return joined.withColumn(bucket_col, bucket.cast("int")).drop(
        "__i", "__n"
    )


def grouped_tie_rank2(
    df: DataFrame,
    group_col: str,
    value_col: str,
    rank_col: str = "rank2",
    num_partitions: int | None = None,
    *,
    bounds: tuple[float, float],
) -> DataFrame:
    """Tie-averaged ranks within each group carried as INTEGER
    ``2·rank`` (a value preceded by ``less`` rows with ``cnt`` ties
    has average rank ``less + (cnt+1)/2``, so ``2·rank = 2·less +
    cnt + 1`` exactly), computed partition-parallel: per-(group,
    value) counts (hash aggregate — the only pass over the raw rows)
    feed :func:`grouped_running_sums_bucketed`, so no group ever
    sorts in one task. Returns one row per (group, value) with
    ``rank_col``; callers join it back to the fact on (group, value).

    ``bounds`` = (min, max) of ``value_col``, probed cheaply from the
    raw fact (:func:`~...sources.io.minmax_bounds`), derives the
    bucket split — one spine shuffle, no checkpoint pin, no
    range-sampling job (r8)."""
    counts = df.groupBy(group_col, value_col).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    cum = grouped_running_sums_bucketed(
        counts, [group_col], value_col, ["__cnt"],
        bounds=bounds, num_buckets=num_partitions,
    )
    return cum.select(
        group_col,
        value_col,
        (
            2 * (F.col("__cnt_rsum") - F.col("__cnt"))
            + F.col("__cnt")
            + 1
        ).alias(rank_col),
    )


def grouped_topk(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    tiebreak_col: str,
    k: int,
    salt: int = 16,
) -> DataFrame:
    """Exact top-``k`` rows per group (``order_col`` descending,
    ``tiebreak_col`` ascending) WITHOUT sorting any whole group
    in one task — the skew-safe form of ``row_number() OVER
    (PARTITION BY group ORDER BY …) <= k``, whose single window task
    per group is the 100 TB trap when one group holds a large share
    of the table (the web-crawl reality: one domain, one language,
    one day dominating).

    Two phases, both exact:

    1. LOCAL top-k per (group, salt) — the salt is a deterministic
       hash of the tiebreak column, so every row lands in exactly one
       of ``salt`` sub-partitions and a group's sort parallelism is
       ``salt``, not 1. Each sub-partition keeps its own top-k.
    2. GLOBAL top-k per group over the ≤ salt·k survivors — a
       bounded frame regardless of group size.

    Any row in the true top-k is in its sub-partition's top-k, so
    phase 1 never discards a winner. ``(order_col, tiebreak_col)``
    must be unique within a group for a deterministic result (same
    contract as the window form needs for stable output). Returns
    the original columns plus ``rank`` (1-based).
    """
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(tiebreak_col), F.lit(salt))
    )
    w1 = Window.partitionBy(*group_cols, "__salt").orderBy(
        F.desc(order_col), F.asc(tiebreak_col)
    )
    cand = (
        salted.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k)
        .drop("__salt", "__rn")
    )
    w2 = Window.partitionBy(*group_cols).orderBy(
        F.desc(order_col), F.asc(tiebreak_col)
    )
    return (
        cand.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
    )


def exact_group_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    permille: Sequence[int] = (250, 500, 750, 900, 990),
    num_partitions: int | None = None,
    *,
    bounds: tuple[float, float],
) -> DataFrame:
    """EXACT per-group quantiles at 100 TB — no ``approx_percentile``
    error bars and no ``Window.partitionBy(<few-value key>)``
    single-task sort. The order statistic is located by counting,
    not sorting rows:

    1. per-(group, value) counts — a hash aggregate, the only pass
       over raw rows;
    2. partition-parallel prefix sums over the distinct-value spine
       (:func:`grouped_running_sums_bucketed`, split on ``bounds`` =
       (min, max) of ``value_col`` from
       :func:`~...sources.io.minmax_bounds`);
    3. the q-quantile is the smallest value whose cumulative count
       reaches rank ``max(1, ceil(q·n))`` — DuckDB's
       ``quantile_disc`` convention, carried as INTEGER per-mille
       arithmetic (``(pm·n + 999) div 1000``) so the rank can never
       drift between engines on an IEEE ``0.9·n`` boundary.

    Returns one row per (group, permille): ``(group, quantile_pm,
    q_value, n_rows)``. Cost: one fact aggregate + distinct-value-
    sized everything else; the quantile pick is a filter + MIN, both
    map-side combinable.
    """
    counts = df.groupBy(group_col, value_col).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    # A superset range is fine, the machinery only buckets on it;
    # the bucketed spine machinery shuffles the distinct-value spine
    # once with no checkpoint pin (r8 — the generic
    # grouped_running_sums pays a range shuffle, a localCheckpoint
    # materialization, AND a second full hash shuffle on a spine that
    # is nearly fact-sized for high-cardinality value columns).
    # share_input=False + totals re-aggregated from ``counts``: the
    # quantile spine is near-fact-sized for high-cardinality value
    # columns, so re-sorting it from shuffle files costs more than
    # re-running the two-column scan + hash aggregate (measured
    # 1.84 vs 2.26 s min interleaved at sf0.1; trade documented at
    # grouped_running_sums_bucketed).
    cum = grouped_running_sums_bucketed(
        counts, [group_col], value_col, ["__cnt"],
        bounds=bounds, num_buckets=num_partitions, share_input=False,
    )
    tot = counts.groupBy(group_col).agg(F.sum("__cnt").alias("__n"))
    # One conditional MIN per requested permille in a SINGLE group
    # aggregate (r8) — the earlier explode-per-pm form pushed
    # |permille| copies of the spine through the final aggregate;
    # this passes the spine once and unpivots the |permille|-column
    # result afterwards (group-grain rows, free).
    picked = (
        cum.join(F.broadcast(tot), group_col)
        .groupBy(group_col)
        .agg(
            F.max("__n").cast("bigint").alias("n_rows"),
            *[
                F.min(
                    F.when(
                        F.col("__cnt_rsum")
                        >= F.greatest(
                            F.lit(1),
                            F.expr(f"({int(p)} * __n + 999) div 1000"),
                        ),
                        F.col(value_col),
                    )
                ).alias(f"__q_{int(p)}")
                for p in permille
            ],
        )
    )
    unpivot = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(int(p)).alias("quantile_pm"),
                    F.col(f"__q_{int(p)}").alias("q_value"),
                )
                for p in permille
            ]
        )
    ).alias("__u")
    return picked.select(group_col, unpivot, "n_rows").select(
        group_col,
        F.col("__u.quantile_pm").alias("quantile_pm"),
        F.col("__u.q_value").alias("q_value"),
        "n_rows",
    )


def exact_group_quantiles_cont(
    df: DataFrame,
    group_col: str,
    value_col: str,
    permille: Sequence[int] = (250, 500, 750, 900, 990),
    num_partitions: int | None = None,
    *,
    bounds: tuple[float, float],
) -> DataFrame:
    """CONTINUOUS (interpolated, type-7 / ``percentile_cont``)
    per-group quantiles, exact at any scale — the companion of
    :func:`exact_group_quantiles` (discrete). Same counting
    decomposition: per-(group, value) counts → partition-parallel
    prefix sums → locate the two adjacent order statistics around
    the real-valued position, then one interpolation:

        pos1000 = pm · (n − 1)            (0-based, per-mille int)
        lo      = pos1000 div 1000        (rank lo+1, 1-based)
        frac    = pos1000 mod 1000
        q       = v[lo+1] + (v[lo+2] − v[lo+1]) · frac / 1000

    The position arithmetic is INTEGER (no IEEE ceil drift); only
    the final interpolation is floating point, written token-for-
    token identically in the SQL twin so both engines produce the
    same double. When frac = 0 the upper statistic is absent from
    the product term entirely (COALESCE to v_lo), so n = 1 groups
    and exact-integer positions never read rank n+1.

    Returns ``(group, quantile_pm, q_value, n_rows)``; cost is one
    fact hash-aggregate + distinct-value-sized everything else.
    """
    counts = df.groupBy(group_col, value_col).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    # Same bucketed-spine machinery as the discrete form (r8): one
    # spine shuffle, no checkpoint; ``bounds`` as there.
    # share_input=False + totals re-aggregated from ``counts``: the
    # quantile spine is near-fact-sized for high-cardinality value
    # columns, so re-sorting it from shuffle files costs more than
    # re-running the two-column scan + hash aggregate (measured
    # 1.84 vs 2.26 s min interleaved at sf0.1; trade documented at
    # grouped_running_sums_bucketed).
    cum = grouped_running_sums_bucketed(
        counts, [group_col], value_col, ["__cnt"],
        bounds=bounds, num_buckets=num_partitions, share_input=False,
    )
    tot = counts.groupBy(group_col).agg(F.sum("__cnt").alias("__n"))
    # Both order statistics for every requested permille as
    # conditional MINs in ONE group aggregate (r8 — replaces the
    # explode-per-pm pass over the spine, see the discrete form):
    # value at rank __lo = pos div 1000 + 1 is the smallest value
    # whose cumulative count reaches it; rank __lo + 1 likewise
    # (NULL when the interpolation needs no upper neighbour).
    def _lo(p: int):
        return F.expr(f"({p} * (__n - 1)) div 1000 + 1")

    picked = (
        cum.join(F.broadcast(tot), group_col)
        .groupBy(group_col)
        .agg(
            F.max("__n").cast("bigint").alias("n_rows"),
            *[
                agg
                for p in permille
                for agg in (
                    F.min(
                        F.when(
                            F.col("__cnt_rsum") >= _lo(int(p)),
                            F.col(value_col),
                        )
                    ).alias(f"__vlo_{int(p)}"),
                    F.min(
                        F.when(
                            F.col("__cnt_rsum") >= _lo(int(p)) + 1,
                            F.col(value_col),
                        )
                    ).alias(f"__vhi_{int(p)}"),
                )
            ],
        )
    )
    unpivot = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(int(p)).alias("quantile_pm"),
                    F.col(f"__vlo_{int(p)}").alias("__v_lo"),
                    F.col(f"__vhi_{int(p)}").alias("__v_hi"),
                    F.expr(f"({int(p)} * (n_rows - 1)) % 1000").alias(
                        "__frac"
                    ),
                )
                for p in permille
            ]
        )
    ).alias("__u")
    interp = (
        F.col("__u.__v_lo")
        + (F.coalesce("__u.__v_hi", F.col("__u.__v_lo")) - F.col("__u.__v_lo"))
        * (F.col("__u.__frac") / F.lit(1000.0))
    )
    return picked.select(group_col, unpivot, "n_rows").select(
        group_col,
        F.col("__u.quantile_pm").alias("quantile_pm"),
        F.round(interp, 6).alias("q_value"),
        "n_rows",
    )


def woe_iv(
    df: DataFrame,
    feature_col: str,
    label_col: Column,
    smooth: float = 0.5,
) -> DataFrame:
    """Weight-of-evidence encoding + information value of a
    categorical feature against a binary label — the credit-risk /
    feature-screening standard beside mean target encoding
    (``target_encode``): WoE_i = ln(bad_share_i / good_share_i) with
    Laplace smoothing ``smooth`` per cell (so empty cells never hit
    ln(0) or 0-division), IV = Σ (bad_share_i − good_share_i)·WoE_i.

    One hash aggregate at the feature grain; totals ride back as a
    one-row broadcast; IV folds from the value-grain rows with a
    second tiny aggregate joined back — output stays value-grained
    with the feature's total IV on every row. Nothing beyond
    |values| rows shuffles twice.
    """
    lab = label_col.cast("int")
    per = df.groupBy(feature_col).agg(
        F.sum(lab).alias("__b"),
        F.sum(1 - lab).alias("__g"),
    )
    tot = per.agg(
        F.sum("__b").alias("__tb"),
        F.sum("__g").alias("__tg"),
        F.count(F.lit(1)).alias("__v"),
    )
    shares = per.crossJoin(F.broadcast(tot)).select(
        feature_col,
        F.col("__b").cast("bigint").alias("n_bad"),
        F.col("__g").cast("bigint").alias("n_good"),
        (
            (F.col("__b") + smooth)
            / (F.col("__tb") + smooth * F.col("__v"))
        ).alias("__bs"),
        (
            (F.col("__g") + smooth)
            / (F.col("__tg") + smooth * F.col("__v"))
        ).alias("__gs"),
    )
    woed = shares.select(
        feature_col,
        "n_bad",
        "n_good",
        F.log(F.col("__bs") / F.col("__gs")).alias("__woe"),
        (
            (F.col("__bs") - F.col("__gs"))
            * F.log(F.col("__bs") / F.col("__gs"))
        ).alias("__ivc"),
    )
    iv = woed.agg(F.sum("__ivc").alias("__iv"))
    return woed.crossJoin(F.broadcast(iv)).select(
        feature_col,
        "n_bad",
        "n_good",
        F.round("__woe", 6).alias("woe"),
        F.round("__ivc", 6).alias("iv_contrib"),
        F.round("__iv", 6).alias("iv_total"),
    )


def table_checksum(
    df: DataFrame, cols: list[str], alias: str = "checksum"
) -> DataFrame:
    """Order-insensitive one-row table fingerprint: per-row
    ``md5(concat_ws('|', cols))`` folded to a BIGINT, combined with
    ``bit_xor`` — the anti-entropy check two systems run
    independently to verify a 100 TB copy without moving data (XOR is
    commutative/associative, so partial checksums merge across
    partitions, files, or clusters for free; a count rides along
    because XOR alone cannot see row multiplicity changes of even
    degree). Engine-portable: the DuckDB twin reproduces the fold
    bit-exactly (see extended23 oracle). Canonicalization is
    injective: every field carries an out-of-band 0/1 NULL flag
    (an in-band sentinel like '␀' would collide with a real
    one-character '␀' string — ADVICE r3) and is LENGTH-PREFIXED —
    a bare separator would collide ('a|b', 'c') with ('a', 'b|c')."""
    canon = []
    for c in cols:
        s = F.col(c).cast("string")
        flag = F.when(s.isNull(), F.lit("0")).otherwise(F.lit("1"))
        v = F.coalesce(s, F.lit(""))
        canon += [
            flag, F.length(v).cast("string"), F.lit(":"), v, F.lit("|")
        ]
    concat = F.concat(*canon)
    row_hash = F.expr(
        "CAST(conv(substring(md5(__c), 1, 15), 16, 10) AS BIGINT)"
    )
    from fifa_data_pipeline_spark.sources.io import spread

    # project-then-spread: a single-split local file would serialize
    # the md5 work onto one core (XOR is order-insensitive, so the
    # repartition cannot change the result; at production split
    # counts spread() is a no-op)
    return (
        spread(df.select(concat.alias("__c")))
        .select(row_hash.alias("__h"))
        .agg(
            F.expr("bit_xor(__h)").alias(alias),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def column_checksums(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-COLUMN anti-entropy fingerprints, all computed in ONE scan:
    for each column, ``bit_xor`` over ``md5(canonical(field))`` plus a
    shared row count. The data-diff companion to
    :func:`table_checksum` — when two copies of a 100 TB table
    disagree, the per-column checksums locate WHICH column diverged
    (a stuck default, a lossy type migration, a re-encoded string)
    without moving or re-reading data twice; each side computes its
    column vector independently and the comparison is bytes.

    Same engine-portable canonicalization as ``table_checksum``
    (0/1 null flag + length prefix, md5 folded to BIGINT, XOR
    combine — commutative/associative so partial checksums merge
    across partitions/files/clusters), so the DuckDB twin reproduces
    every column's value bit-exactly. One projection + one aggregate:
    the N columns share the scan and the map-side partials, so the
    cost is N md5 evaluations per row in a single pass — not N
    passes."""

    def canon(c: str) -> Column:
        s = F.col(c).cast("string")
        flag = F.when(s.isNull(), F.lit("0")).otherwise(F.lit("1"))
        v = F.coalesce(s, F.lit(""))
        return F.concat(flag, F.length(v).cast("string"), F.lit(":"), v)

    from fifa_data_pipeline_spark.sources.io import spread

    # project-then-spread (see table_checksum): N md5 folds per row
    # would otherwise run serially on a single-split local file
    proj = spread(
        df.select(
            *[canon(c).alias(f"__canon_{i}") for i, c in enumerate(cols)]
        )
    )
    fold = (
        "bit_xor(CAST(conv(substring(md5(__canon_{i}), 1, 15), 16, 10)"
        " AS BIGINT))"
    )
    return proj.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.expr(fold.format(i=i)).alias(f"{c}_checksum")
            for i, c in enumerate(cols)
        ],
    )


def fk_containment(
    child: DataFrame,
    child_col: str,
    parent: DataFrame,
    parent_col: str,
    relationship: str | None = None,
) -> DataFrame:
    """Foreign-key discovery probe: one row reporting how much of
    ``child[child_col]``'s distinct value set is CONTAINED in
    ``parent[parent_col]``'s — containment 1.0 (and a parent distinct
    count at least the child's) is the inclusion-dependency signal
    schema-inference runs over an undocumented 100 TB dump before
    trusting a join.

    Plan shape (r8 — replaced distinct+distinct+full-outer
    sort-merge): tag each side's values and UNION them, then ONE
    value-grain hash aggregate (``max`` of the tags = the side-
    membership flags the full-outer join used to produce) and one
    1-row fold. Each side partial-aggregates map-side before the
    single exchange, so the shuffle is value-set-sized, and the
    whole probe is HashAggregates — no sort anywhere (the SMJ form
    sorted both distinct sets; measured 1.09 s -> see BASELINE.md
    for the 3-probe query at sf1). Counts stay integers until the
    final division, so the DuckDB twin lands on the identical
    double."""
    rel = relationship or f"{child_col}->{parent_col}"
    c = (
        child.select(F.col(child_col).alias("__v"))
        .filter(F.col("__v").isNotNull())
        .select("__v", F.lit(1).alias("__c"), F.lit(0).alias("__p"))
    )
    p = (
        parent.select(F.col(parent_col).alias("__v"))
        .filter(F.col("__v").isNotNull())
        .select("__v", F.lit(0).alias("__c"), F.lit(1).alias("__p"))
    )
    return (
        c.unionByName(p)
        .groupBy("__v")
        .agg(F.max("__c").alias("__c"), F.max("__p").alias("__p"))
        .agg(
            F.sum("__c").alias("n_child_distinct"),
            F.sum("__p").alias("n_parent_distinct"),
            F.sum(F.col("__c") * F.col("__p")).alias("n_shared"),
        )
        .select(
            F.lit(rel).alias("relationship"),
            F.coalesce("n_child_distinct", F.lit(0)).alias(
                "n_child_distinct"
            ),
            F.coalesce("n_parent_distinct", F.lit(0)).alias(
                "n_parent_distinct"
            ),
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            F.round(
                F.coalesce("n_shared", F.lit(0)).cast("double")
                / F.col("n_child_distinct"),
                9,
            ).alias("containment"),
        )
    )


def bootstrap_ci(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    n_replicates: int = 40,
    alpha: float = 0.05,
    scale: int = 100,
) -> DataFrame:
    """Deterministic subsampling-bootstrap confidence interval for
    the mean of ``value_col``: ``n_replicates`` half-sample
    replicates drawn by content-addressed coins (replicate ``r``
    keeps a row iff bit ``r`` of the 60-bit md5 fold of its key is
    0 — one hash per row serves every replicate),
    replicate means ranked, and the (alpha/2, 1-alpha/2) order
    statistics reported around the full-sample mean. No RNG anywhere:
    the same rows produce the same interval on any engine, partition
    count, or rerun — the property an A/B readout pipeline needs for
    reproducible reports (a ``rand()``-based bootstrap cannot give a
    driver-hashable answer at all).

    Portability: values are fixed-point at ``scale`` (100 for 2-dp
    money), per-replicate sums are BIGINTs (order-free addition), and
    every emitted statistic is integer MICRO-units via ``round(x, 0)``
    of an identically-computed double — both engines round the same
    double away from zero at 0 dp, unlike fractional rounds where
    their internal scaling differs (see q_dsir_scores). Replicates
    are ranked by (micro-mean, replicate id): fully deterministic.

    Plan shape: ONE scan, ONE md5 per row (not per row×replicate —
    the replicate coins are the low ``n_replicates`` bits of a single
    60-bit content hash, so B more replicates cost bit-shifts, not
    hashes), and ONE partial-aggregating pass producing every
    per-replicate (sum, count) pair plus the full-sample moments as a
    single wide row; the rank/quantile step then runs on a B-row
    in-memory frame. No shuffle touches fact-sized data — the only
    exchange is the 1-row partial-aggregate merge. ``n_replicates``
    is capped at 60 by the hash width."""
    if not 1 <= n_replicates <= 60:
        raise ValueError("n_replicates must be in [1, 60] (60-bit coin hash)")
    keyed = df.select(
        F.round(F.col(value_col) * scale, 0).cast("bigint").alias("__v"),
        F.conv(
            F.substring(
                F.md5(F.concat_ws("-", *[F.col(c) for c in key_cols])), 1, 15
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("__h"),
    )
    micro = 1_000_000 // scale  # value-units → micro-units multiplier
    # The 2B+2 aggregates and B explode structs are assembled as SQL
    # STRINGS, one F.expr each: building them Column-call by
    # Column-call costs ~6 py4j round-trips per aggregate (~2s of
    # driver latency for B=40 — measured half the query's wall
    # clock). Branch-free coin: keep = 1 - bit_r(h); sum(v*keep) ==
    # sum(when(bit==0, v)) since __v is never NULL.
    rep_aggs = []
    for r in range(n_replicates):
        keep = f"(1 - ((__h >> {r}) & 1))"
        rep_aggs.append(F.expr(f"sum(__v * {keep}) AS __s{r}"))
        rep_aggs.append(F.expr(f"sum({keep}) AS __n{r}"))
    wide = keyed.agg(
        F.expr("sum(__v) AS __s_all"),
        F.expr("count(1) AS __n_all"),
        *rep_aggs,
    )
    # try_divide: an EMPTY replicate (coin selected zero rows) is a
    # divide-by-zero under ANSI — it must surface as a NULL mean here
    # and be dropped by the __n_rep > 0 filter below, not crash.
    structs = ", ".join(
        f"struct(CAST({r} AS INT) AS __rep, __n{r} AS __n_rep, "
        f"CAST(round(try_divide(__s{r} * {float(micro)}, __n{r}), 0)"
        f" AS BIGINT) AS __mean_micro)"
        for r in range(n_replicates)
    )
    reps = wide.select(
        "__s_all",
        "__n_all",
        F.expr(f"explode(array({structs}))").alias("__e"),
    ).select(
        "__s_all", "__n_all", "__e.__rep", "__e.__n_rep",
        "__e.__mean_micro",
    )
    # A replicate whose coin selected ZERO rows has a NULL mean (sum
    # over the empty set); ASC ordering would park it at rank 1 and
    # hand ci_lo a NULL (ADVICE r4 — ~2^-n per replicate, so tiny
    # groups hit it). Drop empty replicates and rescale the order-
    # statistic indices to the SURVIVOR count.
    w = Window.orderBy(F.asc("__mean_micro"), F.asc("__rep"))
    wb = Window.partitionBy("__s_all", "__n_all")
    ranked = (
        reps.filter(F.col("__n_rep") > 0)
        .withColumn("__r", F.row_number().over(w))
        .withColumn("__b", F.count(F.lit(1)).over(wb))
    )
    lo = F.greatest(F.lit(1), F.ceil(F.lit(alpha / 2) * F.col("__b")))
    hi = F.least(
        F.col("__b"), F.ceil(F.lit(1 - alpha / 2) * F.col("__b"))
    )
    return ranked.groupBy("__s_all", "__n_all").agg(
        F.max(
            F.when(F.col("__r") == lo, F.col("__mean_micro"))
        ).alias("ci_lo_micro"),
        F.max(
            F.when(F.col("__r") == hi, F.col("__mean_micro"))
        ).alias("ci_hi_micro"),
    ).select(
        F.round(F.col("__s_all") * float(micro) / F.col("__n_all"), 0)
        .cast("bigint")
        .alias("mean_micro"),
        "ci_lo_micro",
        "ci_hi_micro",
        F.col("__n_all").cast("bigint").alias("n_rows"),
        F.lit(n_replicates).cast("bigint").alias("n_replicates"),
    )
