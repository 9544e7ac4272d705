"""Property-based tests (hypothesis): operator invariants on
generated inputs, checked against plain-Python models."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from fifa_data_pipeline_spark.operators.events import sessionize
from fifa_data_pipeline_spark.operators.text import token_count

SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),  # user_id
        st.integers(min_value=0, max_value=100_000),  # seconds offset
    ),
    min_size=1,
    max_size=40,
)


def _model_sessions(rows: list[tuple[int, int]], gap: int = 1800):
    """Plain-python sessionizer: expected (user, session) -> n_events."""
    out: dict[tuple[int, int], int] = {}
    by_user: dict[int, list[int]] = {}
    for u, s in rows:
        by_user.setdefault(u, []).append(s)
    for u, secs in by_user.items():
        idx = 0
        last = None
        for s in sorted(secs):
            if last is None or s - last > gap:
                idx += 1
            out[(u, idx)] = out.get((u, idx), 0) + 1
            last = s
    return out


@given(rows=events_strategy)
@settings(**SETTINGS)
def test_sessionize_matches_python_model(spark, rows):
    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(u, t0 + dt.timedelta(seconds=s)) for u, s in rows], ["user_id", "ts"]
    )
    got = {
        (r.user_id, r.session_idx): r.n_events for r in sessionize(df).collect()
    }
    assert got == _model_sessions(rows)


texts_strategy = st.lists(
    st.text(
        alphabet=st.sampled_from("abc xyz"),
        min_size=1,
        max_size=40,
    ).filter(lambda t: t.strip() != ""),
    min_size=1,
    max_size=10,
)


@given(texts=texts_strategy)
@settings(**SETTINGS)
def test_token_count_matches_python_split(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {r.doc_id: r.n_tokens for r in token_count(df).collect()}
    expected = {i: len(t.split()) for i, t in enumerate(texts)}
    assert got == expected


# --- salted join == plain join on generated (skewed) data -------------------

skewed_pairs = st.lists(
    st.tuples(
        # heavy-tailed key distribution: key 1 dominates
        st.sampled_from([1, 1, 1, 1, 2, 3, 4, 5]),
        st.integers(min_value=0, max_value=100),
    ),
    min_size=0,
    max_size=30,
)


@given(left=skewed_pairs, right=st.lists(st.integers(1, 6), min_size=0, max_size=6, unique=True))
@settings(**SETTINGS)
def test_salted_join_equals_plain_join(spark, left, right):
    from fifa_data_pipeline_spark.operators.relational import salted_join

    ldf = spark.createDataFrame(left, "k long, v long") if left else spark.createDataFrame([], "k long, v long")
    rrows = [(k, f"n{k}") for k in right]
    rdf = spark.createDataFrame(rrows, "k long, name string") if rrows else spark.createDataFrame([], "k long, name string")
    plain = sorted(map(tuple, ldf.join(rdf, "k").collect()))
    salted = sorted(map(tuple, salted_join(ldf, rdf, ["k"], salt_buckets=4).collect()))
    assert plain == salted


# --- snapshot diff matches a python model -----------------------------------

snap_strategy = st.lists(
    st.tuples(st.integers(1, 8), st.integers(0, 3)), min_size=0, max_size=12,
    unique_by=lambda t: t[0],
)


@given(old=snap_strategy, new=snap_strategy)
@settings(**SETTINGS)
def test_snapshot_diff_matches_python_model(spark, old, new):
    from fifa_data_pipeline_spark.operators.relational import snapshot_diff

    schema = "k long, v long"
    odf = spark.createDataFrame(old, schema) if old else spark.createDataFrame([], schema)
    ndf = spark.createDataFrame(new, schema) if new else spark.createDataFrame([], schema)
    om, nm = dict(old), dict(new)
    want = {}
    for k in set(om) | set(nm):
        if k not in om:
            want[k] = "added"
        elif k not in nm:
            want[k] = "removed"
        elif om[k] != nm[k]:
            want[k] = "changed"
    got = {r.k: r.change_type for r in snapshot_diff(odf, ndf, "k").collect()}
    assert got == want


values_strategy = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),
        st.floats(
            min_value=-1e6, max_value=1e6,
            allow_nan=False, allow_infinity=False,
        ),
    ),
    min_size=1,
    max_size=40,
)


@given(rows=values_strategy)
@settings(**SETTINGS)
def test_winsorize_invariants(spark, rows):
    """Row count preserved; clipped values lie within each group's
    exact fences; unclipped rows keep their value."""
    from fifa_data_pipeline_spark.operators.relational import winsorize

    df = spark.createDataFrame(rows, ["g", "v"])
    out = winsorize(df, "g", "v", lo=0.1, hi=0.9).collect()
    assert len(out) == len(rows)
    import numpy as np

    by_g = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    fences = {
        g: (np.quantile(vs, 0.1), np.quantile(vs, 0.9))
        for g, vs in by_g.items()
    }
    for r in out:
        lo, hi = fences[r.g]
        assert lo - 1e-6 <= r.clipped <= hi + 1e-6
        if not r.was_clipped:
            assert abs(r.clipped - r.v) < 1e-6


ids_strategy = st.lists(
    st.tuples(
        st.sampled_from(["s0", "s1", "s2"]),
        st.integers(min_value=0, max_value=10_000),
    ),
    min_size=1,
    max_size=50,
    unique_by=lambda t: t[1],
)


@given(rows=ids_strategy)
@settings(**SETTINGS)
def test_mixture_sample_subset_and_deterministic(spark, rows):
    """The sample is a subset of the input, stable across calls, and
    never exceeds a domain's population."""
    from fifa_data_pipeline_spark.operators.relational import mixture_sample

    df = spark.createDataFrame(rows, ["d", "id"])
    a = {(r.d, r.id) for r in mixture_sample(df, "d", "id").collect()}
    b = {(r.d, r.id) for r in mixture_sample(df, "d", "id").collect()}
    assert a == b
    assert a <= set(rows)


@given(rows=ids_strategy)
@settings(**SETTINGS)
def test_hash_split_partitions_completely(spark, rows):
    """Every row lands in exactly one split; assignment is a pure
    function of the key (permutation-invariant)."""
    from fifa_data_pipeline_spark.operators.relational import hash_split

    df = spark.createDataFrame(rows, ["d", "id"])
    out = hash_split(df, "id")
    assert out.count() == len(rows)
    splits = {r.id: r.split for r in out.collect()}
    assert set(splits.values()) <= {"train", "valid", "test"}
    again = {
        r.id: r.split
        for r in hash_split(
            spark.createDataFrame(list(reversed(rows)), ["d", "id"]), "id"
        ).collect()
    }
    assert splits == again


# ---- round-6 operators ------------------------------------------

keys_strategy = st.lists(
    st.integers(min_value=-1000, max_value=1000),
    min_size=1,
    max_size=60,
    unique=True,
)


@given(keys=keys_strategy, n=st.integers(min_value=1, max_value=10))
@settings(**SETTINGS)
def test_keyset_pagination_walk_recovers_sorted_order(spark, keys, n):
    """Walking pages of size n from cursor=None reconstructs exactly
    the sorted key list, for ANY key set and page size."""
    from fifa_data_pipeline_spark.operators.relational import keyset_page

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    walked, cursor = [], None
    for _ in range(len(keys) // n + 2):
        page = keyset_page(df, ["k"], cursor, n).collect()
        if not page:
            break
        walked += [r.k for r in page]
        cursor = [page[-1].k]
    assert walked == sorted(keys)


@given(keys=keys_strategy)
@settings(**SETTINGS)
def test_dense_ids_match_rank_for_any_input(spark, keys):
    from fifa_data_pipeline_spark.operators.relational import (
        assign_dense_ids,
    )

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    out = assign_dense_ids(
        df, ["k"], num_partitions=4, bounds=(min(keys), max(keys))
    ).collect()
    got = {r.k: r.row_id for r in out}
    expect = {k: i + 1 for i, k in enumerate(sorted(keys))}
    assert got == expect


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.one_of(st.none(), st.text(max_size=4)),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_table_checksum_is_permutation_invariant(spark, rows):
    from fifa_data_pipeline_spark.operators.relational import (
        table_checksum,
    )

    df = spark.createDataFrame(rows, "k long, v string")
    a = table_checksum(df, ["k", "v"]).collect()[0]
    b = table_checksum(df.repartition(3), ["k", "v"]).collect()[0]
    assert (a.checksum, a.n_rows) == (b.checksum, b.n_rows)


grp_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),      # group
        st.integers(min_value=-50, max_value=50),   # order value
        st.integers(min_value=-5, max_value=9),     # weight a
    ),
    min_size=1,
    max_size=60,
)


@given(rows=grp_rows, nparts=st.sampled_from([1, 3, 16]))
@settings(**SETTINGS)
def test_grouped_running_sums_matches_python_model(spark, rows, nparts):
    """Partition-parallel prefix sums == the plain-python running sum
    for any group/value/weight mix (negative weights included) and
    any partition count. Input deduped to one row per (g, v) — the
    operator's contract."""
    from fifa_data_pipeline_spark.operators.relational import (
        grouped_running_sums,
    )

    dedup = {}
    for g, v, a in rows:
        dedup[(g, v)] = a
    data = [(g, v, a) for (g, v), a in dedup.items()]
    df = spark.createDataFrame(data, "g int, v int, a int")
    got = {
        (r.g, r.v): r.a_rsum
        for r in grouped_running_sums(
            df, ["g"], "v", ["a"], num_partitions=nparts
        ).collect()
    }
    want = {}
    by_g: dict[int, list[tuple[int, int]]] = {}
    for g, v, a in data:
        by_g.setdefault(g, []).append((v, a))
    for g, vs in by_g.items():
        acc = 0
        for v, a in sorted(vs):
            acc += a
            want[(g, v)] = acc
    assert got == want


@given(rows=grp_rows, k=st.sampled_from([1, 2, 7]))
@settings(**SETTINGS)
def test_grouped_topk_matches_python_model(spark, rows, k):
    """Two-phase top-k == python sort-and-slice for any data and k
    (third tuple element reused as a unique-ifying id via enumerate)."""
    from fifa_data_pipeline_spark.operators.relational import grouped_topk

    data = [(g, float(v), i) for i, (g, v, _) in enumerate(rows)]
    df = spark.createDataFrame(data, "g int, v double, id int")
    got = {
        (r.g, r.rank): r.id
        for r in grouped_topk(
            df, ["g"], "v", "id", k=k, salt=4
        ).collect()
    }
    want = {}
    by_g: dict[int, list[tuple[float, int]]] = {}
    for g, v, i in data:
        by_g.setdefault(g, []).append((v, i))
    for g, vs in by_g.items():
        ordered = sorted(vs, key=lambda t: (-t[0], t[1]))[:k]
        for rank, (_, i) in enumerate(ordered, 1):
            want[(g, rank)] = i
    assert got == want


@given(rows=grp_rows)
@settings(**SETTINGS)
def test_exact_group_quantiles_matches_python_model(spark, rows):
    """Counting quantiles == the order statistic at rank
    max(1, ceil(pm*n/1000)) of the python-sorted group."""
    import math

    from fifa_data_pipeline_spark.operators.relational import (
        exact_group_quantiles,
    )

    data = [(g, float(v)) for g, v, _ in rows]
    df = spark.createDataFrame(data, "g int, v double")
    got = {
        (r.g, r.quantile_pm): (r.q_value, r.n_rows)
        for r in exact_group_quantiles(
            df, "g", "v",
            bounds=(min(v for _, v in data), max(v for _, v in data)),
        ).collect()
    }
    by_g: dict[int, list[float]] = {}
    for g, v in data:
        by_g.setdefault(g, []).append(v)
    for g, vals in by_g.items():
        vals.sort()
        n = len(vals)
        for pm in (250, 500, 750, 900, 990):
            rank = max(1, math.ceil(pm * n / 1000))
            assert got[(g, pm)] == (vals[rank - 1], n)
