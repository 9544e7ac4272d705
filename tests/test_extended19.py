"""Semantic tests for extended19 (chi-square, graph structure,
movers) beyond the oracle hash parity."""

from __future__ import annotations

import numpy as np
import pandas as pd

from fifa_data_pipeline_spark.plans import extended19 as X19


def test_chi_square_matches_numpy(spark, sf_dir):
    got = X19.q_chi_square(spark, sf_dir).toPandas().iloc[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev["daypart"] = ev["ts"].dt.hour // 6
    obs = pd.crosstab(ev["event_type"], ev["daypart"]).to_numpy(
        dtype=np.float64
    )
    e = obs.sum(1, keepdims=True) @ obs.sum(0, keepdims=True) / obs.sum()
    chi2 = ((obs - e) ** 2 / e).sum()
    assert abs(got["chi2"] - chi2) < 1e-4
    assert got["dof"] == (obs.shape[0] - 1) * (obs.shape[1] - 1)
    v = np.sqrt(chi2 / (obs.sum() * (min(obs.shape) - 1)))
    assert abs(got["cramers_v"] - v) < 1e-6
    assert 0 <= got["cramers_v"] <= 1


def test_degree_dist_consistent_with_pairs(spark, sf_dir):
    pairs = X19._dup_pairs(spark, sf_dir).toPandas()
    got = X19.q_degree_dist(spark, sf_dir).toPandas()
    # sum(degree * n_nodes) counts each edge twice
    assert (got["degree"] * got["n_nodes"]).sum() == 2 * len(pairs)
    deg = pd.concat([pairs["id_a"], pairs["id_b"]]).value_counts()
    ref = deg.value_counts()
    for _, row in got.iterrows():
        assert ref[row["degree"]] == row["n_nodes"]


def test_clustering_coeff_bounds_and_cliques(spark, sf_dir):
    got = X19.q_clustering_coeff(spark, sf_dir).toPandas().iloc[0]
    assert 0 <= got["global_coeff"] <= 1 + 1e-9
    # fingerprint-identical groups form cliques: a family of size m
    # contributes C(m,3) triangles and m*C(m-1,2) wedges; since every
    # edge lives inside one family, the global coefficient must be 1
    # whenever all families are cliques (which fp-grouping guarantees)
    assert abs(got["global_coeff"] - 1.0) < 1e-9


def test_top_movers_rank_and_pct(spark, sf_dir):
    got = X19.q_top_movers(spark, sf_dir).toPandas()
    assert (got["mover_rank"] <= X19.TOP_MOVERS).all()
    assert got.groupby("wk")["mover_rank"].max().le(X19.TOP_MOVERS).all()
    # pct_change recomputes from the counts
    ref = (got["n"] - got["prev_n"]) / got["prev_n"] * 100
    np.testing.assert_allclose(
        got["pct_change"].to_numpy(), ref.round(6).to_numpy(), atol=1e-9
    )
    # within a week, |pct| is non-increasing with rank
    for _, sub in got.groupby("wk"):
        s = sub.sort_values("mover_rank")["pct_change"].abs().to_numpy()
        assert (np.diff(s) <= 1e-9).all()


def test_chi_square_plan_has_no_expand(spark, sf_dir):
    """The marginal counts come from the marginal aggregates, not from
    count_distinct, whose rewrite adds an Expand whose group order
    depends on what the session built before."""
    plan = X19.q_chi_square(spark, sf_dir)._jdf.queryExecution()
    assert "Expand" not in plan.optimizedPlan().toString()
