"""tools/ab_interleave.py must never score a crashed bench_subset run,
and reports each side's codegen compiles next to its minima."""

from __future__ import annotations

import json
import subprocess

import pytest

from tools import ab_interleave


def test_run_subset_raises_on_nonzero_exit(monkeypatch):
    def crashed(cmd, **kwargs):
        return subprocess.CompletedProcess(
            cmd,
            1,
            stdout='{"queries": {"q_x": 0.5}}\n',
            stderr="Traceback ...\nPy4JJavaError: boom\n",
        )

    monkeypatch.setattr(ab_interleave.subprocess, "run", crashed)
    with pytest.raises(RuntimeError, match="exited 1") as exc:
        ab_interleave.run_subset("/tree", "/sf", ["q_x"], {})
    assert "Py4JJavaError: boom" in str(exc.value)


def test_run_subset_returns_timings_and_compiles(monkeypatch):
    line = '{"queries": {"q_x": 0.5}, "compiles": {"q_x": [90, 0, 0]}}'

    def ok(cmd, **kwargs):
        return subprocess.CompletedProcess(cmd, 0, stdout=line + "\n", stderr="")

    monkeypatch.setattr(ab_interleave.subprocess, "run", ok)
    rec = ab_interleave.run_subset("/tree", "/sf", ["q_x"], {})
    assert rec["queries"] == {"q_x": 0.5}
    assert rec["compiles"] == {"q_x": [90, 0, 0]}


def test_main_reports_compiles_next_to_minima(monkeypatch, capsys):
    records = {
        "/base": [
            {"queries": {"q_x": 1.0}, "compiles": {"q_x": [90, 30, 28]}},
            {"queries": {"q_x": 0.8}, "compiles": {"q_x": [90, 25, 31]}},
        ],
        # a tree whose bench_subset predates the compile counts
        "/new": [{"queries": {"q_x": 0.5}}, {"queries": {"q_x": 0.4}}],
    }
    monkeypatch.setattr(
        ab_interleave, "run_subset",
        lambda tree, sf, names, env: records[tree].pop(0),
    )
    monkeypatch.setattr(
        ab_interleave.sys, "argv",
        ["ab_interleave.py", "--base", "/base", "--new", "/new",
         "--sf", "/sf", "--waves", "2", "q_x"],
    )
    assert ab_interleave.main() == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["base_min"] == {"q_x": 0.8}
    assert out["new_min"] == {"q_x": 0.4}
    assert out["speedup_base_over_new"] == {"q_x": 2.0}
    assert out["base_compiles"] == {"q_x": [[90, 30, 28], [90, 25, 31]]}
    assert out["new_compiles"] == {"q_x": [None, None]}
