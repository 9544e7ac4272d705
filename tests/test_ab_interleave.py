"""tools/ab_interleave.py must never score a crashed bench_subset run."""

from __future__ import annotations

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
