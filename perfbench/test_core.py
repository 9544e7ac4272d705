"""Tests of the benchmark's own helpers; no Spark session is started.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from core import (  # noqa: E402
    Tally, Tracer, median, quartiles, query_order, spread, within_bound,
)


def test_median_and_quartiles_match_statistics():
    values = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0]
    assert median(values) == 3.5
    q1, _, q3 = statistics.quantiles(values, n=4)
    assert quartiles(values) == (q1, q3)
    assert spread(values) == pytest.approx((q3 - q1) / 3.5)
    with pytest.raises(ValueError):
        median([])


def test_span_self_time_subtracts_union_of_children():
    t = Tracer()
    root = t.add("pass", 0.0, 10.0)
    t.add("a", 1.0, 3.0, root)
    t.add("b", 2.0, 5.0, root)      # overlaps a: [1, 5] covered once
    t.add("c", 7.0, 8.0, root)
    t.add("d", 9.0, 12.0, root)     # clipped to the parent's end
    grandchild_parent = t.add("e", 5.0, 6.0, root)
    t.add("f", 5.0, 5.5, grandchild_parent)
    assert t.self_time(root) == pytest.approx(10.0 - 4.0 - 1.0 - 1.0 - 1.0)
    assert t.self_time(grandchild_parent) == pytest.approx(0.5)


def test_bound_check():
    assert within_bound(10.0, 11.0, "lower", 0.1)
    assert not within_bound(10.0, 11.5, "lower", 0.1)
    assert within_bound(10.0, 9.0, "higher", 0.1)
    assert not within_bound(10.0, 8.9, "higher", 0.1)
    assert within_bound(10.0, 5.0, "lower", 0.0)
    with pytest.raises(ValueError):
        within_bound(1.0, 1.0, "faster", 0.1)


def test_same_seed_gives_same_query_order():
    qs = [f"q{i}" for i in range(8)]
    assert query_order(qs, 7, 3) == query_order(qs, 7, 3)
    assert sorted(query_order(qs, 7, 3)) == qs
    orders = {tuple(query_order(qs, seed, 0)) for seed in range(20)}
    assert len(orders) > 1


def test_inputs_match_their_recorded_rows_and_hashes():
    import inputs
    from workloads import WORKLOADS

    for wl in WORKLOADS.values():
        data = inputs.verify(wl.sf)
        assert data["rows"] == {t: r for t, (r, _) in inputs.TABLES[wl.sf].items()}


def test_cpu_s_reads_user_and_system_time_from_proc():
    import run

    proc = run.SparkProcess("unused")
    proc.pid = os.getpid()      # this process stands in for the JVM
    before, jit = proc.cpu_s()
    sum(i * i for i in range(2_000_000))
    assert proc.cpu_s()[0] > before
    assert proc.cpu_s()[0] == pytest.approx(2 * run.own_cpu_s(), abs=0.05)
    assert jit == 0.0            # a Python process has no JIT threads


class _FakeWriter:
    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        pass


def test_error_rate_counts_an_injected_failing_query():
    from workloads import Runner, Workload

    def bad(spark, sf_dir):
        raise RuntimeError("injected")

    wl = Workload("fake", 0.001, ("q_ok", "q_bad"), 0, "test")
    tally = Tally()
    runner = Runner(types.SimpleNamespace(sparkContext=None), wl, "unused",
                    "unused", 1, tally, Tracer())
    runner.queries = {
        "q_ok": lambda spark, sf_dir: types.SimpleNamespace(write=_FakeWriter()),
        "q_bad": bad,
    }
    runner.run_pass(0, traced=False)
    runner.run_pass(1, traced=False)
    assert (tally.attempted, tally.failed) == (4, 2)
    assert tally.error_rate == 0.5
    assert all("injected" in e for e in tally.errors)


def test_benchmark_json_matches_the_program():
    import run
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} \
        == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} \
        == run.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())
