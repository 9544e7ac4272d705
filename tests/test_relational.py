"""Unit tests for relational operators and scalar helpers — edge cases
the reference semantics imply (SURVEY.md §5): NULL propagation in
CONCAT, truncation (not rounding) in CAST(AVG), ties in max-based
latest-per-group."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from fifa_data_pipeline_spark.functions.scalar import (
    avg_int,
    cast_columns,
    concat_label,
)
from fifa_data_pipeline_spark.operators import relational as R


def test_concat_null_propagates(spark):
    df = spark.createDataFrame(
        [Row(a="x", b="y"), Row(a="x", b=None)],
    )
    out = df.select(concat_label("a", "b").alias("l")).collect()
    assert out[0].l == "x - y"
    assert out[1].l is None  # concat, not concat_ws


def test_avg_int_truncates_toward_zero(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (2.0,)], ["v"])  # avg 5/3
    assert df.select(avg_int("v").alias("a")).collect()[0].a == 1
    neg = spark.createDataFrame([(-1.0,), (-2.0,), (-2.0,)], ["v"])
    assert neg.select(avg_int("v").alias("a")).collect()[0].a == -1


def test_cast_double_to_int_truncates(spark):
    df = spark.createDataFrame([(2.9,), (-2.9,)], ["v"])
    vals = [r.v for r in cast_columns(df, {"v": "int"}).collect()]
    assert vals == [2, -2]


def test_latest_per_group_join_keeps_ties(spark):
    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 10, "b"), (1, 9, "c"), (2, 5, "d")],
        ["k", "upd", "payload"],
    )
    out = R.latest_per_group_join(df, "k", "upd")
    rows = {(r.k, r.payload) for r in out.collect()}
    assert rows == {(1, "a"), (1, "b"), (2, "d")}
    assert out.columns == df.columns


def test_latest_per_group_join_drops_all_null_groups(spark):
    """ADVICE r1 regression: a group whose order column is entirely
    NULL must vanish (agg+join semantics) — rank() alone would keep
    it. Mixed groups ignore their NULL rows."""
    from fifa_data_pipeline_spark.operators.relational import (
        latest_per_group_join,
        latest_per_group_agg_join,
    )
    import datetime as dt

    rows = [
        (1, dt.date(2024, 1, 1), "keep-old"),
        (1, dt.date(2024, 2, 1), "keep-new"),
        (1, None, "null-row"),
        (2, None, "all-null-a"),
        (2, None, "all-null-b"),
    ]
    df = spark.createDataFrame(rows, ["k", "d", "tag"])
    win = {(r.k, r.tag) for r in latest_per_group_join(df, "k", "d").collect()}
    agg = {(r.k, r.tag) for r in latest_per_group_agg_join(df, "k", "d").collect()}
    assert win == agg == {(1, "keep-new")}


def test_latest_per_group_window_single_row(spark):
    df = spark.createDataFrame(
        [(1, 10, 100), (1, 10, 200), (1, 9, 300), (2, 5, 400)],
        ["k", "upd", "id"],
    )
    out = R.latest_per_group_window(df, "k", "upd", "id")
    rows = {(r.k, r.id) for r in out.collect()}
    assert rows == {(1, 200), (2, 400)}  # tie broken by id desc


def test_topk_is_take_ordered(spark, sf_dir):
    """q_topk's ORDER BY + LIMIT plans as TakeOrderedAndProject — a
    per-partition top-k and a k-row merge, no global sort."""
    from fifa_data_pipeline_spark.plans.parity import q_topk

    out = q_topk(spark, sf_dir)
    vals = [r.o_totalprice for r in out.collect()]
    assert vals == sorted(vals, reverse=True) and len(vals) == 10
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_equi_join_broadcast_hint(spark, sf_dir):
    """q_join_fact_dim's ``F.broadcast`` hint on the nation dim plans
    a broadcast-hash join."""
    from fifa_data_pipeline_spark.plans.parity import q_join_fact_dim

    out = q_join_fact_dim(spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_bootstrap_ci_deterministic_and_ordered(spark):
    """The content-addressed bootstrap must return identical results
    across reruns and repartitionings, with lo <= mean <= hi and the
    interval tightening as data grows is not asserted (sampling), but
    the bounds must straddle the full mean on this fixture."""
    from fifa_data_pipeline_spark.operators.relational import bootstrap_ci

    rows = [(i, 1, float(100 + (i * 7) % 50)) for i in range(400)]
    df = spark.createDataFrame(rows, ["k1", "k2", "v"])
    a = bootstrap_ci(df, ["k1", "k2"], "v").collect()[0]
    b = bootstrap_ci(df.repartition(13), ["k1", "k2"], "v").collect()[0]
    assert a == b
    assert a.ci_lo_micro <= a.mean_micro <= a.ci_hi_micro
    assert a.n_rows == 400 and a.n_replicates == 40


def test_grouped_running_sums_matches_window(spark):
    """The partition-parallel prefix sum must equal the classic
    group-partitioned window on a spine small enough to window, for
    every partition count — including partitions that split groups
    mid-run (num_partitions > groups) and the degenerate 1-partition
    case."""
    from pyspark.sql import Window

    rows = [
        (g, v, (g * 31 + v * 7) % 13 + 1, (g + v) % 5)
        for g in range(3)
        for v in range(0, 200, 2)
    ]
    df = spark.createDataFrame(rows, ["g", "v", "a", "b"])
    w = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r.g, r.v, r.sa, r.sb)
        for r in df.select(
            "g", "v",
            F.sum("a").over(w).alias("sa"),
            F.sum("b").over(w).alias("sb"),
        ).collect()
    }
    for n in (1, 4, 32):
        got = {
            (r.g, r.v, r.a_rsum, r.b_rsum)
            for r in R.grouped_running_sums(
                df, ["g"], "v", ["a", "b"], num_partitions=n
            ).collect()
        }
        assert got == want, f"num_partitions={n}"


def test_grouped_tie_rank2_matches_rank_window(spark):
    """2·tie-averaged-rank from counts+prefix-sums == the classic
    2*RANK() + tiecount - 1 window form, heavy ties included."""
    from pyspark.sql import Window

    rows = [(i % 2, (i * i) % 7) for i in range(500)]
    vals = [v for _, v in rows]
    df = spark.createDataFrame(rows, ["g", "v"])
    wr = Window.partitionBy("g").orderBy("v")
    wt = Window.partitionBy("g", "v")
    want = {
        (r.g, r.v, r.r2)
        for r in df.select(
            "g", "v",
            (2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1)
            .alias("r2"),
        ).distinct().collect()
    }
    got = {
        (r.g, r.v, r.rank2)
        for r in R.grouped_tie_rank2(
            df, "g", "v", bounds=(min(vals), max(vals))
        ).collect()
    }
    assert got == want


def test_grouped_running_sums_parallel_rank_stage(spark):
    """The plan must NOT contain a window partitioned only by the
    group key — the whole point is that no group funnels through a
    single task. Windows may appear only with __pid in their
    partition spec (partition-local) or over the tiny offsets frame."""
    rows = [(1, v, 1) for v in range(100)]
    df = spark.createDataFrame(rows, ["g", "v", "a"])
    out = R.grouped_running_sums(df, ["g"], "v", ["a"], num_partitions=8)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    import re

    specs = re.findall(
        r"windowspecdefinition\((.*?)specifiedwindowframe", plan
    )
    assert specs, "expected window specs in the plan"
    # The running-sum window (the one ordered by v) must carry __pid
    # in its partition spec; a spec partitioned by g alone would be
    # the single-task-per-group funnel this operator exists to avoid.
    for spec in specs:
        if "v#" in spec:
            assert "__pid" in spec, f"group-only window spec: {spec}"


def test_bootstrap_ci_empty_replicates_never_null(spark):
    """With very few rows some replicate coins select ZERO rows; the
    empty replicates must be dropped (survivor-rescaled indices), not
    ranked first as NULL means (ADVICE r4)."""
    from fifa_data_pipeline_spark.operators.relational import bootstrap_ci

    df = spark.createDataFrame(
        [(1, 1, 10.0), (2, 1, 20.0)], ["k1", "k2", "v"]
    )
    r = bootstrap_ci(df, ["k1", "k2"], "v", n_replicates=40).collect()[0]
    assert r.ci_lo_micro is not None and r.ci_hi_micro is not None
    assert r.ci_lo_micro <= r.ci_hi_micro
    assert r.n_rows == 2


def test_exact_group_quantiles_vs_sorted_reference(spark):
    """Counting-based quantiles == the order statistic at rank
    max(1, ceil(q*n)) of the fully sorted group, on tie-heavy data,
    and == DuckDB's native quantile_disc at these permilles."""
    import math

    import duckdb

    rows = [(g, float((i * i) % 17)) for g in range(3) for i in range(g * 50 + 30)]
    df = spark.createDataFrame(rows, ["g", "v"])
    vs = [v for _, v in rows]
    got = {
        (r.g, r.quantile_pm): (r.q_value, r.n_rows)
        for r in R.exact_group_quantiles(
            df, "g", "v", bounds=(min(vs), max(vs))
        ).collect()
    }
    by_g = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vals in by_g.items():
        vals.sort()
        n = len(vals)
        for pm in (250, 500, 750, 900, 990):
            rank = max(1, math.ceil(pm * n / 1000))
            assert got[(g, pm)] == (vals[rank - 1], n), (g, pm)
    con = duckdb.connect()
    con.execute("CREATE TABLE t(g INT, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    duck = dict(
        con.execute(
            "SELECT g, quantile_disc(v, 0.5) FROM t GROUP BY g"
        ).fetchall()
    )
    for g in by_g:
        assert got[(g, 500)][0] == duck[g]


def test_grouped_topk_matches_window_form(spark):
    """Two-phase skew-safe top-k == the single-window row_number
    form, for several k and salt values, tie-heavy order values."""
    from pyspark.sql import Window

    rows = [(i % 3, float((i * i) % 40), i) for i in range(600)]
    df = spark.createDataFrame(rows, ["g", "score", "id"])
    for k in (1, 5, 17):
        for salt in (1, 4, 64):
            got = {
                (r.g, r.rank, r.id)
                for r in R.grouped_topk(
                    df, ["g"], "score", "id", k=k, salt=salt
                ).collect()
            }
            w = Window.partitionBy("g").orderBy(
                F.desc("score"), F.asc("id")
            )
            want = {
                (r.g, r.rank, r.id)
                for r in df.withColumn(
                    "rank", F.row_number().over(w)
                ).filter(F.col("rank") <= k).collect()
            }
            assert got == want, (k, salt)


def test_grouped_topk_no_group_only_sort_of_raw_rows(spark):
    """Phase 1's window must partition by (group, salt): the raw
    fact never crosses a window partitioned by the group alone."""
    import re

    rows = [(1, float(i), i) for i in range(100)]
    df = spark.createDataFrame(rows, ["g", "score", "id"])
    out = R.grouped_topk(df, ["g"], "score", "id", k=3)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    specs = re.findall(
        r"windowspecdefinition\((.*?)specifiedwindowframe", plan
    )
    assert len(specs) == 2
    assert sum("__salt" in s for s in specs) == 1  # phase 1 salted


def test_parallel_ntile_matches_window_ntile(spark):
    """Integer-definition ntile from partition-parallel ranks ==
    window NTILE(k) for regular, remainder, n<k, and n==k shapes —
    grouped and global (empty group list)."""
    from pyspark.sql import Window

    for n_rows, k in [(100, 10), (7, 10), (103, 4), (1, 3), (40, 40)]:
        rows = [(i % 3, float((i * 13) % 97), i) for i in range(n_rows)]
        df = spark.createDataFrame(rows, ["g", "v", "id"])
        got = {
            (r.g, r.id): r.bucket
            for r in R.parallel_ntile(
                df, ["g"], ["v", "id"], k
            ).collect()
        }
        w = Window.partitionBy("g").orderBy("v", "id")
        want = {
            (r.g, r.id): r.b
            for r in df.withColumn("b", F.ntile(k).over(w)).collect()
        }
        assert got == want, (n_rows, k)
    df = spark.createDataFrame(
        [(float(i % 23), i) for i in range(57)], ["v", "id"]
    )
    got = {
        r.id: r.bucket
        for r in R.parallel_ntile(df, [], ["v", "id"], 5).collect()
    }
    w = Window.orderBy("v", "id")
    want = {
        r.id: r.b
        for r in df.withColumn("b", F.ntile(5).over(w)).collect()
    }
    assert got == want


def test_exact_group_quantiles_cont_vs_duckdb_native(spark):
    """Interpolated counting-quantiles == DuckDB's native
    quantile_cont at permilles whose positions are exact integers or
    simple fractions, and == numpy's linear interpolation (type-7)
    generally — tie-heavy data, plus an n=1 group (frac path never
    reads rank n+1)."""
    import duckdb
    import numpy as np

    rows = [(g, float((i * i) % 17)) for g in range(2) for i in range(g * 40 + 21)]
    rows.append((9, 42.0))  # n=1 group
    df = spark.createDataFrame(rows, ["g", "v"])
    vs = [v for _, v in rows]
    got = {
        (r.g, r.quantile_pm): r.q_value
        for r in R.exact_group_quantiles_cont(
            df, "g", "v", bounds=(min(vs), max(vs))
        ).collect()
    }
    by_g = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vals in by_g.items():
        arr = np.sort(np.array(vals))
        for pm in (250, 500, 750, 900, 990):
            want = float(np.quantile(arr, pm / 1000.0, method="linear"))
            assert abs(got[(g, pm)] - round(want, 6)) < 1e-6, (g, pm)
    con = duckdb.connect()
    con.execute("CREATE TABLE t(g INT, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    duck = dict(
        con.execute(
            "SELECT g, quantile_cont(v, 0.75) FROM t GROUP BY g"
        ).fetchall()
    )
    for g in by_g:
        assert abs(got[(g, 750)] - round(duck[g], 6)) < 1e-6


def test_woe_iv_known_values(spark):
    """Hand-computed WoE/IV on a 2x2 fixture (smooth=0.5), plus the
    empty-cell guard: a value with zero bads stays finite."""
    import math

    rows = [("a", 1)] * 30 + [("a", 0)] * 10 + [("b", 1)] * 5 + [("b", 0)] * 55
    df = spark.createDataFrame(rows, ["f", "y"])
    got = {r.f: r for r in R.woe_iv(df, "f", F.col("y") == 1).collect()}
    tb, tg, v, s = 35, 65, 2, 0.5
    bs_a, gs_a = (30 + s) / (tb + s * v), (10 + s) / (tg + s * v)
    woe_a = math.log(bs_a / gs_a)
    assert abs(got["a"].woe - round(woe_a, 6)) < 1e-6
    assert got["a"].n_bad == 30 and got["a"].n_good == 10
    iv = sum(
        (((b + s) / (tb + s * v)) - ((g + s) / (tg + s * v)))
        * math.log(((b + s) / (tb + s * v)) / ((g + s) / (tg + s * v)))
        for b, g in [(30, 10), (5, 55)]
    )
    assert abs(got["a"].iv_total - round(iv, 6)) < 1e-6
    zero = spark.createDataFrame(
        [("a", 1)] * 3 + [("b", 0)] * 3, ["f", "y"]
    )
    z = {r.f: r for r in R.woe_iv(zero, "f", F.col("y") == 1).collect()}
    assert all(abs(r.woe) < 100 for r in z.values())  # finite, smoothed


def test_grouped_running_sums_bucketed_matches_window_form(spark):
    """The value-range-bucketed prefix sum must equal the single-
    window running sum for skewed doubles (most mass in one bucket),
    negative values, and NULL order values (bucket −1 = NULLS
    FIRST)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from fifa_data_pipeline_spark.operators.relational import (
        grouped_running_sums_bucketed,
    )

    rows = [
        (
            f"g{i % 3}",
            None if i % 97 == 0 else float(i * i % 701) - 100.0,
            i % 5 + 1,
        )
        for i in range(1500)
    ]
    df = (
        spark.createDataFrame(rows, ["g", "v", "c"])
        .groupBy("g", "v")
        .agg(F.sum("c").alias("c"))
    )
    bounds = tuple(df.agg(F.min("v"), F.max("v")).first())
    got = {
        (r["g"], r["v"]): r["c_rsum"]
        for r in grouped_running_sums_bucketed(
            df, ["g"], "v", ["c"], bounds=bounds, num_buckets=7
        ).collect()
    }
    w = (
        Window.partitionBy("g")
        .orderBy(F.asc_nulls_first("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r["g"], r["v"]): r["rs"]
        for r in df.withColumn("rs", F.sum("c").over(w)).collect()
    }
    assert got == want


def test_grouped_running_sums_bucketed_superset_bounds_equal(spark):
    """Bounds are bucketing-only: a WIDENED (superset) bounds range
    must produce byte-identical prefix sums — the invariant the r11
    footer-stats bounds probes rely on (footer min/max of an
    unfiltered table is exact, and of a filtered one a superset)."""
    from pyspark.sql import functions as F

    from fifa_data_pipeline_spark.operators.relational import (
        grouped_running_sums_bucketed,
    )

    rows = [
        (
            f"g{i % 3}",
            None if i % 97 == 0 else float(i * i % 701) - 100.0,
            i % 5 + 1,
        )
        for i in range(1500)
    ]
    df = (
        spark.createDataFrame(rows, ["g", "v", "c"])
        .groupBy("g", "v")
        .agg(F.sum("c").alias("c"))
    )
    lo, hi = df.agg(F.min("v"), F.max("v")).first()
    exact = {
        (r["g"], r["v"]): r["c_rsum"]
        for r in grouped_running_sums_bucketed(
            df, ["g"], "v", ["c"], bounds=(lo, hi), num_buckets=7
        ).collect()
    }
    widened = {
        (r["g"], r["v"]): r["c_rsum"]
        for r in grouped_running_sums_bucketed(
            df, ["g"], "v", ["c"],
            bounds=(lo - 250.0, hi + 1000.0), num_buckets=7,
        ).collect()
    }
    assert widened == exact


def test_footer_bounds_match_aggregate_probe():
    """The r11 footer-stats bounds probes must agree with the Spark
    aggregate probes they replace, on every (table, column) pair the
    plans now probe — verified against pyarrow's own column read
    (no Spark needed), including the DOUBLE columns."""
    import pyarrow.parquet as pq

    from fifa_data_pipeline_spark.sources.io import footer_minmax_int

    for table, col in [
        ("documents", "n_chars"),
        ("lineitem", "l_quantity"),
        ("lineitem", "l_extendedprice"),
        ("orders", "o_totalprice"),
        ("orders", "o_orderkey"),
        ("events", "value"),
    ]:
        path = f"/root/testdata/sf0.001/{table}.parquet"
        got = footer_minmax_int(path, col)
        assert got is not None, (table, col)
        vals = pq.read_table(path, columns=[col])[col].to_pylist()
        vals = [v for v in vals if v is not None]
        assert got == (min(vals), max(vals)), (table, col, got)


def test_grouped_running_max_dense_matches_window_form(spark):
    """The data-derived range-bucket variant must equal the single-
    window running max — including cross-bucket handoff, a sparse /
    offset id space (buckets derive from min..max, not 0..N), and a
    group that is empty in some buckets."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from fifa_data_pipeline_spark.operators.relational import (
        grouped_running_max_dense,
    )

    # ids offset by 10_000 and strided by 3: dense-ISH, not dense.
    rows = [
        (10_000 + 3 * i, f"g{i % 3}" if i % 7 else "rare",
         float((i * 193) % 500) - 250.0)
        for i in range(2000)
    ]
    df = spark.createDataFrame(rows, ["i", "g", "v"])
    got = {
        (r["g"], r["i"]): r["v_rmax"]
        for r in grouped_running_max_dense(
            df, ["g"], "i", ["v"], num_buckets=7,
            bounds=(10_000, 10_000 + 3 * 1999),
        ).collect()
    }
    w = (
        Window.partitionBy("g")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r["g"], r["i"]): r["rm"]
        for r in df.withColumn("rm", F.max("v").over(w)).collect()
    }
    assert got == want


def test_grouped_running_sums_bucketed_emit_totals(spark):
    """emit_totals=True must append {col}_gsum = the per-group grand
    total on every row, for both share_input branches, including
    groups with NULL order values (bucket −1 contributes to the
    total)."""
    from pyspark.sql import functions as F

    from fifa_data_pipeline_spark.operators.relational import (
        grouped_running_sums_bucketed,
    )

    rows = [
        (f"g{i % 3}", None if i % 53 == 0 else float(i % 211), i, i % 7 + 1)
        for i in range(800)
    ]
    df = spark.createDataFrame(rows, ["g", "v", "i", "c"])
    want = {
        r["g"]: r["t"]
        for r in df.groupBy("g").agg(F.sum("c").alias("t")).collect()
    }
    for share in (True, False):
        out = grouped_running_sums_bucketed(
            df, ["g"], ["v", "i"], ["c"],
            bounds=(0.0, 210.0), num_buckets=5,
            share_input=share, emit_totals=True,
        )
        got = out.select("g", "c_gsum").distinct().collect()
        assert {r["g"]: r["c_gsum"] for r in got} == want, share
        assert len(got) == len(want), share


def test_grouped_row_ranks_ties_exact(spark):
    """With duplicate (group, order) values the bucket totals must
    still count every tied row, so per-group ranks are exactly 1..n
    even when ties sit on bucket boundaries, and no internal column
    leaks into the output."""
    from fifa_data_pipeline_spark.operators.relational import (
        grouped_row_ranks,
    )

    # Heavy ties: only 10 distinct order values per group, 1200 rows.
    rows = [(f"g{i % 3}", float(i % 10), i) for i in range(1200)]
    df = spark.createDataFrame(rows, ["g", "v", "payload"])
    out = grouped_row_ranks(
        df, ["g"], ["v"], bounds=(0.0, 9.0), num_partitions=7
    )
    assert set(out.columns) == {"g", "v", "payload", "row_rank"}
    got = {}
    for r in out.collect():
        got.setdefault(r["g"], []).append(r["row_rank"])
    for g, ranks in got.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), g


def test_grouped_running_max_dense_null_order(spark):
    """NULL order keys form bucket −1, which sorts first; its rows
    must contribute to every later bucket's offset, so the result
    matches the window form with NULLS FIRST even when the NULL rows
    hold the global max."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from fifa_data_pipeline_spark.operators.relational import (
        grouped_running_max_dense,
    )

    rows = [
        (None if i % 11 == 0 else 10_000 + 3 * i,
         f"g{i % 3}",
         # NULL-order rows carry the LARGEST values: if they are
         # dropped from the offsets, later buckets' rmax is wrong.
         9_999.0 + i if i % 11 == 0 else float((i * 193) % 500))
        for i in range(900)
    ]
    df = spark.createDataFrame(rows, ["i", "g", "v"])
    # Tied (NULL) rows have order-dependent per-row prefixes in BOTH
    # forms; the deterministic contract is that every NON-null row
    # sees the whole NULL bucket as prefix — compare those only.
    ids = [r[0] for r in rows if r[0] is not None]
    got = {
        (r["g"], r["i"]): r["v_rmax"]
        for r in grouped_running_max_dense(
            df, ["g"], "i", ["v"], num_buckets=7, bounds=(min(ids), max(ids))
        ).collect()
        if r["i"] is not None
    }
    w = (
        Window.partitionBy("g")
        .orderBy(F.asc_nulls_first("i"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r["g"], r["i"]): r["rm"]
        for r in df.withColumn("rm", F.max("v").over(w)).collect()
        if r["i"] is not None
    }
    assert got == want


def test_grouped_running_max_dense_empty_frame(spark):
    from pyspark.sql import functions as F  # noqa: F401

    from fifa_data_pipeline_spark.operators.relational import (
        grouped_running_max_dense,
    )

    df = spark.createDataFrame([], "i long, g string, v double")
    assert grouped_running_max_dense(
        df, ["g"], "i", ["v"], bounds=(None, None)
    ).count() == 0


def test_materialize_once_modes_agree_and_table_mode_is_durable(
    spark, monkeypatch
):
    """r11: the shared pin helper behind the multi-consumer and
    bucketed-machinery sites. Both modes must return the same rows;
    'table' mode must round-trip through a short-lived parquet table
    under the warehouse dir (the executor-loss-durable cluster path)
    and freeze nondeterministic layout columns; the env var flips the
    default; junk modes fail loudly."""
    import glob
    import os

    from pyspark.sql import functions as F

    from fifa_data_pipeline_spark.operators.relational import (
        grouped_running_sums,
    )
    from fifa_data_pipeline_spark.operators.util import (
        MATERIALIZE_MODE_ENV,
        materialize_once,
    )

    df = spark.range(100).select(
        (F.col("id") % 7).alias("g"), F.col("id").alias("i"),
        (F.col("id") * 2).alias("v"),
    )
    rows = sorted(map(tuple, df.collect()))
    local = materialize_once(df, mode="local")
    table = materialize_once(df, mode="table", name="t_modes")
    assert sorted(map(tuple, local.collect())) == rows
    assert sorted(map(tuple, table.collect())) == rows
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    assert glob.glob(os.path.join(wh, "__graft_mat", "t_modes_*"))
    # 'table' freezes nondeterministic columns at write time: two
    # reads of the pin see identical monotonically_increasing_id.
    pin = materialize_once(
        df.withColumn("mid", F.monotonically_increasing_id()),
        mode="table", name="t_pin",
    )
    assert sorted(map(tuple, pin.collect())) == sorted(
        map(tuple, pin.collect())
    )
    # env default flips every pin site at once: the bucketed
    # machinery must produce the same result under 'table'.
    base = sorted(
        map(tuple, grouped_running_sums(df, ["g"], "i", ["v"]).collect())
    )
    monkeypatch.setenv(MATERIALIZE_MODE_ENV, "table")
    tbl = sorted(
        map(tuple, grouped_running_sums(df, ["g"], "i", ["v"]).collect())
    )
    assert base == tbl and len(base) == 100
    monkeypatch.setenv(MATERIALIZE_MODE_ENV, "bogus")
    try:
        materialize_once(df)
    except ValueError:
        pass
    else:
        raise AssertionError("bogus mode must raise")


def test_sweep_materialized_removes_only_expired_dirs(spark):
    """r11: the TTL sweep companion of table-mode pins. Age comes
    from the timestamp embedded in the dir name; dirs predating that
    naming fall back to FS mtime; fresh dirs survive."""
    import os
    import time

    from pyspark.sql import functions as F

    from fifa_data_pipeline_spark.operators.util import (
        materialize_once,
        sweep_materialized,
    )

    df = spark.range(10).select(F.col("id").alias("i"))
    fresh = materialize_once(df, mode="table", name="t_sweep_fresh")
    assert fresh.count() == 10
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    root = os.path.join(wh, "__graft_mat")
    # forge an EXPIRED dir (embedded timestamp one hour in the past)
    old = os.path.join(root, f"t_sweep_old_{int(time.time()) - 3600}_ab")
    os.makedirs(old, exist_ok=True)
    # and a legacy dir with no parseable timestamp (falls back to FS
    # mtime, which is "now" -> survives a 10-min TTL)
    legacy = os.path.join(root, "t_sweep_legacy")
    os.makedirs(legacy, exist_ok=True)
    removed = sweep_materialized(spark, max_age_sec=600)
    assert removed == 1
    assert not os.path.exists(old)
    assert os.path.exists(legacy)
    assert fresh.count() == 10  # live pin untouched
    os.rmdir(legacy)


def test_footer_minmax_micros_matches_aggregate_probe(spark):
    """footer_minmax_micros must equal the unix_micros aggregate
    probe it replaces in events.ewma (r11)."""
    from pyspark.sql import functions as F

    from fifa_data_pipeline_spark.sources.io import (
        footer_minmax_micros,
        read_table,
    )

    sf_dir = "/root/testdata/sf0.001"
    got = footer_minmax_micros(f"{sf_dir}/events.parquet", "ts")
    assert got is not None
    mic = F.unix_micros(F.col("ts").cast("timestamp"))
    want = tuple(
        read_table(spark, sf_dir, "events")
        .agg(F.min(mic), F.max(mic))
        .first()
    )
    assert got == want
