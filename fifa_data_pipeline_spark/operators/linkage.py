"""Probabilistic record linkage (Fellegi & Sunter 1969).

Reference scope note: the reference pipeline has no entity-resolution
surface; this extends the curation family (near-dup detection finds
COPIES, linkage finds the SAME ENTITY under field noise — the
dedup-across-sources problem every multi-source training corpus has).

The classic decision model: for each candidate pair, compare K
fields; each field agreement multiplies the match likelihood by
``m/u`` and each disagreement by ``(1−m)/(1−u)``, where

- ``m`` = P(field agrees | pair IS a match) — supplied by the
  caller (domain knowledge / EM estimate; constants here so the
  result is deterministic and oracle-checkable), and
- ``u`` = P(field agrees | pair is NOT a match) — ESTIMATED FROM
  THE DATA, exactly: for two random records, agreement probability
  is Σ_v nA(v)·nB(v) / (NA·NB) — a value-frequency aggregate, no
  sampling, no RNG.

Total weight = Σ ln of the per-field factors. Pairs above
``upper`` are matches, below ``lower`` non-matches, between —
clerical review (the three-way FS decision).

Scale shape: candidate pairs come from an equi-join on a BLOCKING
key (never all-pairs — the LSH-band discipline applied to entity
resolution); u-probabilities are per-field value-count aggregates
(map-side combinable, value-set-sized); the weight is a map-only
expression over the blocked pairs. Every stage is a hash
aggregate/join — nothing quadratic, nothing collected.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: u-probability clamp bound: keeps ln(m/u) and ln((1-m)/(1-u)) finite
#: when a field has zero (u=0) or total (u=1) cross-frame agreement.
#: SQL twins must use the same literal (GREATEST(LEAST(u, 1-1e-12), 1e-12)).
_U_EPS = 1e-12


def field_u_probability(
    a: DataFrame, b: DataFrame, col: str
) -> DataFrame:
    """Exact random-pair agreement probability of ``col`` across
    frames ``a`` × ``b``: one row ``(u)`` with
    u = Σ_v nA(v)·nB(v) / (NA·NB). NULL never agrees (inner join on
    the value). Integer numerators — engine-exact until the final
    divide."""
    ca = a.groupBy(F.col(col).alias("__v")).agg(
        F.count(F.lit(1)).alias("__na")
    )
    cb = b.groupBy(F.col(col).alias("__v")).agg(
        F.count(F.lit(1)).alias("__nb")
    )
    hits = ca.join(cb, "__v").agg(
        F.sum(F.col("__na") * F.col("__nb")).alias("__hits")
    )
    na = a.agg(F.count(F.lit(1)).alias("__ta"))
    nb = b.agg(F.count(F.lit(1)).alias("__tb"))
    return (
        hits.crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            # try_divide: an EMPTY side makes NA·NB = 0, which throws
            # under ANSI — surface NULL instead (there are no pairs
            # to weight in that case anyway).
            F.try_divide(
                F.coalesce("__hits", F.lit(0)).cast("double"),
                F.col("__ta").cast("double") * F.col("__tb"),
            ).alias("u")
        )
    )


def _reject_float_keys(
    a: DataFrame, b: DataFrame, cols: list[str], who: str
) -> None:
    """Enforce the string-cast injectivity contract (r11 ADVICE):
    the fused u-pass and the pattern report join on ``CAST(value AS
    STRING)`` keys, but Spark normalizes ``-0.0 == 0.0`` (and NaN)
    in NATIVE float group/join keys while their string casts differ
    — a DOUBLE field would silently diverge between the per-field
    and string-keyed forms. Every current caller passes
    string/integer fields; this turns the documented assumption into
    a hard error instead of silent divergence."""
    bad = sorted(
        {
            f.name
            for df in (a, b)
            for f in df.schema.fields
            if f.name in cols
            and f.dataType.typeName() in ("float", "double")
        }
    )
    if bad:
        raise TypeError(
            f"{who}: float-typed field(s) {bad} would be compared on"
            " a string cast, which disagrees with native float"
            " equality on -0.0/NaN; round or cast them to an exact"
            " type (string/int/decimal) first"
        )


def field_u_probabilities(
    a: DataFrame,
    b: DataFrame,
    cols: list[str],
) -> DataFrame:
    """All K fields' exact u-probabilities in ONE pass per side —
    one row ``(__u_<col>, ...)`` with the identical arithmetic of
    :func:`field_u_probability` (u = Σ_v nA(v)·nB(v) / (NA·NB), NULL
    never agrees, ``try_divide`` → NULL when a side is empty).

    The per-field form scans each side 2K+2 times (a value groupBy
    and a total count per field per side); r11 bench showed those
    scans dominating q_record_linkage at sf1+. Here each side is
    exploded to ``(field_index, value-as-string)`` rows (NULL values
    skipped — they can never contribute agreement hits) plus one
    sentinel arm per record carrying the side's row count, so ONE
    hash aggregate per side yields every field's value counts AND
    the side total; one join + one K-row aggregate then folds every
    numerator. One plan at every input size; it is value-identical
    to the per-field form (pinned by a unit test).
    :func:`fs_pattern_report` no longer calls this at all (r12): it
    derives every u from its own masked aggregates, zero extra
    scans; this fused form remains the scan-minimal u-pass for
    pair-grain callers (:func:`fs_link`).

    Value matching is on the STRING cast — the same contract
    :func:`fs_pattern_report` already imposes on its mask keys
    (string/integer fields; injective, so counts per string value ==
    counts per native value). Totals NA/NB come from the sentinel
    rows and multiply in DOUBLE, exactly like the per-field form
    (no NA·NB BIGINT overflow at 10⁹-row sides)."""
    # The fused form joins on CAST(value AS STRING), while
    # field_u_probability joins native values — enforce the
    # injectivity contract before the two can diverge (r11 ADVICE).
    _reject_float_keys(a, b, cols, "field_u_probabilities")

    def ex(df: DataFrame) -> DataFrame:
        arms = [
            F.when(
                F.col(c).isNotNull(),
                F.struct(
                    F.lit(i).alias("__f"),
                    F.col(c).cast("string").alias("__v"),
                ),
            )
            for i, c in enumerate(cols)
        ]
        # Sentinel arm: one non-null row per RECORD (field index −1),
        # so count(f=−1) = the side's total row count — the NA/NB
        # probe fused into the same scan.
        arms.append(
            F.struct(
                F.lit(-1).alias("__f"), F.lit("").alias("__v")
            )
        )
        return (
            df.select(F.explode(F.array(*arms)).alias("__fv"))
            .filter(F.col("__fv").isNotNull())
            .select("__fv.__f", "__fv.__v")
        )

    ga = ex(a).groupBy("__f", "__v").agg(
        F.count(F.lit(1)).alias("__na")
    )
    gb = ex(b).groupBy("__f", "__v").agg(
        F.count(F.lit(1)).alias("__nb")
    )
    j = ga.join(gb, ["__f", "__v"])
    return j.agg(
        *[
            F.try_divide(
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("__f") == i,
                            F.col("__na") * F.col("__nb"),
                        )
                    ),
                    F.lit(0),
                ).cast("double"),
                F.max(
                    F.when(F.col("__f") == -1, F.col("__na"))
                ).cast("double")
                * F.max(F.when(F.col("__f") == -1, F.col("__nb"))),
            ).alias(f"__u_{c}")
            for i, c in enumerate(cols)
        ]
    )


def fs_link(
    a: DataFrame,
    b: DataFrame,
    id_a: str,
    id_b: str,
    block_col: str,
    fields: list[tuple[str, float]],
    lower: float = 0.0,
    upper: float = 4.0,
) -> DataFrame:
    """Fellegi–Sunter linkage of ``a`` × ``b``.

    ``fields`` is ``[(column, m), ...]`` — columns present in BOTH
    frames (caller normalizes beforehand), compared for equality,
    with the caller's m-probability. u-probabilities are estimated
    exactly per field (:func:`field_u_probabilities`) and ride along
    as a one-row broadcast. Returns one row per blocked candidate
    pair: both ids, each field's agreement flag, the total ln-weight
    (6 dp), and the three-way ``decision``
    (match / possible / non_match).
    """
    # All u-probabilities in one pass per side (r11) — a per-field
    # loop re-scans each side 2K+2 times.
    ua = field_u_probabilities(a, b, [c for c, _ in fields])
    pa = a.select(
        F.col(id_a).alias("__ida"),
        F.col(block_col).alias("__blk"),
        *[F.col(c).alias(f"__a_{c}") for c, _ in fields],
    )
    pb = b.select(
        F.col(id_b).alias("__idb"),
        F.col(block_col).alias("__blk"),
        *[F.col(c).alias(f"__b_{c}") for c, _ in fields],
    )
    pairs = pa.join(pb, "__blk").crossJoin(F.broadcast(ua))
    weight: Column = F.lit(0.0)
    out_cols = [F.col("__ida").alias("id_a"), F.col("__idb").alias("id_b")]
    for col, m in fields:
        agree = (
            F.col(f"__a_{col}").isNotNull()
            & F.col(f"__b_{col}").isNotNull()
            & (F.col(f"__a_{col}") == F.col(f"__b_{col}"))
        )
        # Clamp u into (eps, 1-eps): a field with zero cross-frame
        # value overlap gives u = 0 (log -> NULL under non-ANSI, error
        # under ANSI; +inf in DuckDB), and a constant field gives
        # u = 1, breaking the disagreement term symmetrically. The
        # clamp caps the evidence at ~27.6 nats instead of diverging;
        # the SQL twins apply the identical GREATEST/LEAST fold so the
        # engines stay bit-equal.
        u = F.greatest(
            F.least(F.col(f"__u_{col}"), F.lit(1.0 - _U_EPS)),
            F.lit(_U_EPS),
        )
        term = F.when(agree, F.log(F.lit(m) / u)).otherwise(
            F.log((1.0 - F.lit(m)) / (1.0 - u))
        )
        weight = weight + term
        out_cols.append(agree.alias(f"agree_{col}"))
    return pairs.select(
        *out_cols,
        F.round(weight, 6).alias("weight"),
        F.when(weight >= upper, F.lit("match"))
        .when(weight <= lower, F.lit("non_match"))
        .otherwise(F.lit("possible"))
        .alias("decision"),
    )


def fs_pattern_report(
    a: DataFrame,
    b: DataFrame,
    block_col: str,
    fields: list[tuple[str, float]],
    lower: float = 0.0,
    upper: float = 4.0,
) -> DataFrame:
    """Fellegi–Sunter linkage QUALITY REPORT — the decision ×
    agreement-pattern grain of :func:`fs_link`, computed WITHOUT ever
    materializing the candidate pairs.

    The insight: the report only needs the COUNT of blocked pairs per
    agreement pattern, and "pairs agreeing on at least field set S"
    is a value-grain count join — Σ over (block, S-values) of
    nA·nB — exactly the arithmetic :func:`field_u_probability`
    already uses. So:

    1. Explode each side to one row per (record, field-subset mask)
       keyed by the mask's value tuple (rows with a NULL field in the
       mask are skipped — NULL never agrees), PLUS — fused into the
       same explode (r12) — one GLOBAL row per (record, non-null
       field) under a sentinel mask id with a constant block, and
       one global total row per record: exactly the value-frequency
       tables and row counts the u-probabilities need, riding the
       explode the lattice already pays for. ONE aggregate per side
       gives every count in one shuffle; no separate u-pass ever
       touches the base tables.
    2. One join + one dimension-sized aggregate + ONE collect yields
       N(S) = #pairs agreeing on AT LEAST S for all 2^k subsets, the
       K u numerators (the constant-block sentinel rows join
       globally, so their Σ na·nb IS Σ_v nA(v)·nB(v)), and both side
       totals (2^k + K + 1 output rows).
    3. Möbius inversion on the subset lattice turns N(·) into exact
       per-pattern counts: P(T) = Σ_{S⊇T} (−1)^{|S\\T|} N(S). The
       2^k-row lattice is collected driver-side (dimension-sized,
       like the PCA Gram — k is the number of compared FIELDS).
    4. Weights/decisions are computed once per pattern (2^k rows)
       with the same clamped-u arithmetic as :func:`fs_link`. The
       u division happens driver-side in IEEE doubles — bit-equal
       to :func:`field_u_probability`'s ``try_divide(CAST(hits AS
       DOUBLE), CAST(na AS DOUBLE) * nb)`` (exact BIGINT numerator,
       one double multiply, one double divide, NULL on an empty
       side) — and the clamp/ln/round stay Spark expressions, so the
       output is byte-identical to the r11 form (pinned by
       ``test_fs_pattern_report_matches_pairwise_rollup``).
       min_weight = max_weight = the pattern's weight by
       construction.

    Scale: O(records · 2^k) narrow rows through one shuffle and TWO
    base-table scans total (one per side — r12; the r11 form paid 4:
    masked + fused-u explode per side), versus the pair form's
    O(Σ block²) fan-out — at sf1 measured 8.8 s (per-pair fs_link +
    groupBy) → 2.5 s, identical output, and the quadratic-in-
    block-size term is gone entirely. Value keys join as
    chr(1)-joined strings (fields are cast to string; values must
    not contain control chars — true for every table here).
    ``fields`` values must be NUL-free strings/numerics; k ≤ ~20
    (the lattice is 2^k).
    """
    cols = [c for c, _ in fields]
    k = len(cols)
    spark = a.sparkSession
    # Singleton-mask keys and blocks are CAST(value AS STRING) — same
    # contract as the fused u-pass (r11 ADVICE): refuse float fields.
    _reject_float_keys(a, b, cols + [block_col], "fs_pattern_report")

    # Mask-id layout of the ONE exploded grain per side:
    #   m in [0, 2^k)      — lattice arms: per-(block, value-tuple)
    #                        counts for subset mask m (b = the real
    #                        block; NULL fields in the mask skip).
    #   m = G + 2^i        — GLOBAL singleton arms (r12): the same
    #                        (field i, value) rows with a constant
    #                        b='' — their cross-side join products
    #                        ARE the u-probability numerators
    #                        Σ_v nA(v)·nB(v), because the constant
    #                        block makes the join global.
    #   m = 2·G            — GLOBAL total arm, one per record: its
    #                        single join row carries NA and NB.
    # The disjoint m ranges keep the sentinel rows from ever
    # colliding with a real (block, mask) group, whatever the block
    # values are; blocks join on their string cast (injective for
    # the string/integer keys the float guard admits).
    G = 2 ** k

    def masked(df: DataFrame) -> DataFrame:
        arms = []
        blk = F.col(block_col).cast("string")
        for mask in range(G):
            sel = [cols[i] for i in range(k) if mask >> i & 1]
            nonnull: Column = F.lit(True)
            for c in sel:
                nonnull = nonnull & F.col(c).isNotNull()
            key = (
                F.concat_ws(
                    "\x01", *[F.col(c).cast("string") for c in sel]
                )
                if sel
                else F.lit("")
            )
            arms.append(
                F.when(
                    nonnull,
                    F.struct(
                        blk.alias("b"),
                        F.lit(mask).alias("m"),
                        key.alias("k"),
                    ),
                )
            )
        for i, c in enumerate(cols):
            arms.append(
                F.when(
                    F.col(c).isNotNull(),
                    F.struct(
                        F.lit("").alias("b"),
                        F.lit(G + (1 << i)).alias("m"),
                        F.col(c).cast("string").alias("k"),
                    ),
                )
            )
        arms.append(
            F.struct(
                F.lit("").alias("b"),
                F.lit(2 * G).alias("m"),
                F.lit("").alias("k"),
            )
        )
        return (
            df.select(F.explode(F.array(*arms)).alias("mk"))
            .filter(F.col("mk").isNotNull())
            .select("mk.b", "mk.m", "mk.k")
        )

    ga = masked(a).groupBy("b", "m", "k").agg(
        F.count(F.lit(1)).alias("na")
    )
    gb = masked(b).groupBy("b", "m", "k").agg(
        F.count(F.lit(1)).alias("nb")
    )
    # ONE join + ONE dimension-sized aggregate + ONE collect yields
    # the whole lattice AND every u input. The when-guard keeps the
    # total row's NA/NB as separate columns — never the NA·NB BIGINT
    # product, which would overflow at 10⁹-row sides (every other
    # product stays a per-(block,)value Σ nA·nB, the r11 profile).
    stats = (
        ga.join(gb, ["b", "m", "k"])
        .groupBy("m")
        .agg(
            F.sum(
                F.when(F.col("m") != 2 * G, F.col("na") * F.col("nb"))
            ).alias("v"),
            F.max(F.when(F.col("m") == 2 * G, F.col("na"))).alias(
                "vna"
            ),
            F.max(F.when(F.col("m") == 2 * G, F.col("nb"))).alias(
                "vnb"
            ),
        )
    )
    at_least: dict[int, int] = {}
    u_hits: dict[int, int] = {}
    n_tot = {"a": 0, "b": 0}
    for r in stats.collect():
        if r["m"] < G:
            at_least[r["m"]] = r["v"]
        elif r["m"] == 2 * G:
            n_tot["a"], n_tot["b"] = r["vna"], r["vnb"]
        else:
            u_hits[r["m"] - G] = r["v"]
    patterns = []
    for t in range(2 ** k):
        total = 0
        for s in range(2 ** k):
            if (s & t) == t:
                total += (-1) ** bin(s ^ t).count("1") * at_least.get(
                    s, 0
                )
        if total:
            patterns.append(
                tuple([bool(t >> i & 1) for i in range(k)] + [total])
            )
    pat_df = spark.createDataFrame(
        patterns, [f"agree_{c}" for c in cols] + ["n_pairs"]
    )
    # u = hits / (NA·NB) in IEEE doubles, exactly the
    # field_u_probability arithmetic (exact integer numerator, one
    # double multiply, one double divide; NULL when a side is empty
    # — the try_divide contract). Python floats ARE IEEE doubles,
    # so the one-row frame is bit-identical to the r11 broadcast.
    den = float(n_tot["a"]) * float(n_tot["b"])
    ua = spark.createDataFrame(
        [
            tuple(
                None if den == 0.0 else float(u_hits.get(1 << i, 0)) / den
                for i in range(k)
            )
        ],
        T.StructType(
            [T.StructField(f"__u_{c}", T.DoubleType()) for c in cols]
        ),
    )
    out = pat_df.crossJoin(F.broadcast(ua))
    weight: Column = F.lit(0.0)
    for c, m in fields:
        u = F.greatest(
            F.least(F.col(f"__u_{c}"), F.lit(1.0 - _U_EPS)),
            F.lit(_U_EPS),
        )
        weight = weight + F.when(
            F.col(f"agree_{c}"), F.log(F.lit(m) / u)
        ).otherwise(F.log((1.0 - F.lit(m)) / (1.0 - u)))
    w6 = F.round(weight, 6)
    return out.select(
        F.when(weight >= upper, F.lit("match"))
        .when(weight <= lower, F.lit("non_match"))
        .otherwise(F.lit("possible"))
        .alias("decision"),
        *[F.col(f"agree_{c}") for c in cols],
        F.col("n_pairs").cast("long").alias("n_pairs"),
        w6.alias("min_weight"),
        w6.alias("max_weight"),
    )
