"""Fellegi-Sunter linkage unit tests: exact u-probabilities, weight
signs, three-way decisions, and the blocking contract."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from fifa_data_pipeline_spark.operators.linkage import (
    field_u_probability,
    fs_link,
)


def test_field_u_probability_exact(spark):
    a = spark.createDataFrame([("x",), ("x",), ("y",), (None,)], ["c"])
    b = spark.createDataFrame([("x",), ("y",), ("y",), ("z",)], ["c"])
    u = field_u_probability(a, b, "c").collect()[0].u
    # hits = 2*1 (x) + 1*2 (y) = 4; NA*NB = 16 (NULL rows count in
    # totals but never agree)
    assert abs(u - 4 / 16) < 1e-12


def test_fs_link_weights_and_decisions(spark):
    a = spark.createDataFrame(
        [(1, "alice", "A", "b1"), (2, "bob", "B", "b1")],
        ["rid", "name", "seg", "blk"],
    )
    b = spark.createDataFrame(
        [(11, "alice", "A", "b1"), (12, "carol", "B", "b1")],
        ["rid", "name", "seg", "blk"],
    )
    out = {
        (r.id_a, r.id_b): r
        for r in fs_link(
            a, b, "rid", "rid", "blk",
            [("name", 0.9), ("seg", 0.8)], lower=0.0, upper=1.5,
        ).collect()
    }
    assert len(out) == 4  # one block -> 2x2 candidate pairs
    # u_name = (1*1 + 0 + 0) / 4 = 0.25 ; u_seg = (1 + 1) / 4 = 0.5
    w_match = math.log(0.9 / 0.25) + math.log(0.8 / 0.5)
    got = out[(1, 11)]
    assert got.agree_name and got.agree_seg
    assert abs(got.weight - round(w_match, 6)) < 1e-6
    assert got.decision == "match"
    w_miss = math.log(0.1 / 0.75) + math.log(0.2 / 0.5)
    got = out[(2, 11)]  # bob vs alice: disagree both
    assert not got.agree_name and not got.agree_seg
    assert abs(got.weight - round(w_miss, 6)) < 1e-6
    assert got.decision == "non_match"
    # bob vs carol: names differ, segment agrees -> middle band
    mid = out[(2, 12)]
    assert (not mid.agree_name) and mid.agree_seg
    assert mid.decision in ("possible", "non_match")


def test_fs_link_blocking_is_equi_join(spark):
    """No cartesian/BNLJ: candidate generation must be a hash join
    on the block key."""
    a = spark.createDataFrame(
        [(i, f"n{i}", "s", f"b{i % 3}") for i in range(30)],
        ["rid", "name", "seg", "blk"],
    )
    out = fs_link(a, a, "rid", "rid", "blk", [("name", 0.9)])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    rows = out.count()
    assert rows == 3 * 10 * 10  # within-block pairs only


def test_fs_link_zero_overlap_field_stays_finite(spark):
    """A field with ZERO cross-frame value overlap gives u = 0; the
    eps clamp must keep ln(m/u) finite (not NULL under non-ANSI /
    an error under ANSI) and the decision well-defined (ADVICE r5)."""
    a = spark.createDataFrame(
        [(1, "alice", "b0"), (2, "bob", "b0")], ["rid", "name", "blk"]
    )
    b = spark.createDataFrame(
        [(11, "carol", "b0"), (12, "dave", "b0")], ["rid", "name", "blk"]
    )
    out = fs_link(a, b, "rid", "rid", "blk", [("name", 0.9)]).collect()
    assert len(out) == 4
    for r in out:
        assert r.weight is not None
        assert math.isfinite(r.weight)
        assert r.decision in ("match", "possible", "non_match")


def test_fs_pattern_report_matches_pairwise_rollup(spark):
    """The inclusion-exclusion pattern report must equal the per-pair
    fs_link aggregated to the same grain — including NULL fields
    (never agree) and duplicate values within a block."""
    from fifa_data_pipeline_spark.operators.linkage import (
        fs_pattern_report,
    )

    a = spark.createDataFrame(
        [(1, "x", "s1", "b0"), (2, "y", None, "b0"),
         (3, "x", "s2", "b0"), (4, "z", "s1", "b1"),
         (5, "z", "s1", "b1")],
        ["rid", "name", "seg", "blk"],
    )
    b = spark.createDataFrame(
        [(11, "x", "s1", "b0"), (12, "y", "s2", "b0"),
         (13, None, "s1", "b1"), (14, "z", "s1", "b1")],
        ["rid", "name", "seg", "blk"],
    )
    fields = [("name", 0.9), ("seg", 0.8)]
    per_pair = (
        fs_link(a, b, "rid", "rid", "blk", fields)
        .groupBy("decision", "agree_name", "agree_seg")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.min("weight"), 6).alias("min_weight"),
            F.round(F.max("weight"), 6).alias("max_weight"),
        )
    )
    report = fs_pattern_report(a, b, "blk", fields)
    got = sorted(map(tuple, report.collect()))
    want = sorted(map(tuple, per_pair.collect()))
    assert got == want


def test_field_u_probabilities_fused_equals_per_field(spark):
    """The r11 fused one-pass u-probability frame must equal the
    per-field form value-for-value — including a NULL-bearing field,
    a zero-cross-overlap field (u = 0 before clamping), a constant
    field (u = 1), and an integer field (string-cast join key)."""
    from fifa_data_pipeline_spark.operators.linkage import (
        field_u_probabilities,
        field_u_probability,
    )

    a = spark.createDataFrame(
        [
            ("x", "only_a", "k", 1),
            ("x", None, "k", 2),
            ("y", "aa", "k", 2),
            (None, "ab", "k", 3),
        ],
        ["c1", "c2", "c3", "c4"],
    )
    b = spark.createDataFrame(
        [
            ("x", "only_b", "k", 2),
            ("y", None, "k", 2),
            ("y", "bb", "k", 9),
            ("z", "bc", "k", None),
        ],
        ["c1", "c2", "c3", "c4"],
    )
    cols = ["c1", "c2", "c3", "c4"]
    fused = field_u_probabilities(a, b, cols).collect()[0]
    for c in cols:
        want = field_u_probability(a, b, c).collect()[0].u
        got = fused[f"__u_{c}"]
        assert (got is None) == (want is None), c
        if want is not None:
            assert abs(got - want) < 1e-15, (c, got, want)


def test_field_u_probabilities_fused_empty_sides(spark):
    """Empty side(s): the fused form must surface NULL u's, exactly
    like the per-field try_divide(0, 0) path."""
    from pyspark.sql import types as T

    from fifa_data_pipeline_spark.operators.linkage import (
        field_u_probabilities,
    )

    schema = T.StructType([T.StructField("c", T.StringType())])
    empty = spark.createDataFrame([], schema)
    full = spark.createDataFrame([("x",)], ["c"])
    for a, b in [(empty, full), (full, empty), (empty, empty)]:
        row = field_u_probabilities(a, b, ["c"]).collect()[0]
        assert row["__u_c"] is None


def test_fs_pattern_report_sentinel_arms_cannot_collide(spark):
    """r12 internals: the report fuses the u inputs into the masked
    explode as sentinel-mask rows with a constant '' block. The
    disjoint mask-id ranges must keep them from ever colliding with
    real groups — exercised with the worst case: a real EMPTY-STRING
    block, a NULL block (pairs in it never join), and duplicate
    values. Equivalence is against the per-pair fs_link rollup."""
    from fifa_data_pipeline_spark.operators.linkage import (
        fs_pattern_report,
    )

    a = spark.createDataFrame(
        [(1, "x", ""), (2, "y", ""), (3, "x", None), (4, "x", "b1"),
         (5, None, "b1")],
        ["rid", "name", "blk"],
    )
    b = spark.createDataFrame(
        [(11, "x", ""), (12, None, ""), (13, "y", None),
         (14, "x", "b1")],
        ["rid", "name", "blk"],
    )
    fields = [("name", 0.9)]
    per_pair = (
        fs_link(a, b, "rid", "rid", "blk", fields)
        .groupBy("decision", "agree_name")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.min("weight"), 6).alias("min_weight"),
            F.round(F.max("weight"), 6).alias("max_weight"),
        )
    )
    got = sorted(map(tuple, fs_pattern_report(a, b, "blk", fields).collect()))
    want = sorted(map(tuple, per_pair.collect()))
    assert got == want


def test_fs_pattern_report_integer_block_key(spark):
    """Blocks join on their string cast since r12 — injective for
    integer keys; pin the integer-block path against fs_link."""
    from fifa_data_pipeline_spark.operators.linkage import (
        fs_pattern_report,
    )

    a = spark.createDataFrame(
        [(1, "x", 10), (2, "y", 10), (3, "x", 2)],
        ["rid", "name", "blk"],
    )
    b = spark.createDataFrame(
        [(11, "x", 10), (12, "y", 2), (13, "x", 2)],
        ["rid", "name", "blk"],
    )
    fields = [("name", 0.9)]
    per_pair = (
        fs_link(a, b, "rid", "rid", "blk", fields)
        .groupBy("decision", "agree_name")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.min("weight"), 6).alias("min_weight"),
            F.round(F.max("weight"), 6).alias("max_weight"),
        )
    )
    got = sorted(map(tuple, fs_pattern_report(a, b, "blk", fields).collect()))
    want = sorted(map(tuple, per_pair.collect()))
    assert got == want


def test_linkage_rejects_float_fields(spark):
    """r11 ADVICE: the string-cast forms must refuse float fields
    instead of silently diverging on -0.0/NaN."""
    import pytest

    from fifa_data_pipeline_spark.operators.linkage import (
        field_u_probabilities,
        fs_pattern_report,
    )

    a = spark.createDataFrame([(1.0, "b")], ["val", "blk"])
    b = spark.createDataFrame([(2.0, "b")], ["val", "blk"])
    with pytest.raises(TypeError, match="float-typed"):
        field_u_probabilities(a, b, ["val"])
    with pytest.raises(TypeError, match="float-typed"):
        fs_pattern_report(a, b, "blk", [("val", 0.9)])


def test_fs_pattern_report_rejects_float_block_key(spark):
    """Blocks join on their string cast, so a DOUBLE block key is
    refused like a DOUBLE field (-0.0 and 0.0 would be two blocks)."""
    import pytest

    from fifa_data_pipeline_spark.operators.linkage import (
        fs_pattern_report,
    )

    a = spark.createDataFrame([("x", 0.0)], ["name", "blk"])
    b = spark.createDataFrame([("x", -0.0)], ["name", "blk"])
    with pytest.raises(TypeError, match=r"float-typed.*'blk'"):
        fs_pattern_report(a, b, "blk", [("name", 0.9)])
