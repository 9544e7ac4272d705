"""Query scratch directories (landed inputs, streaming checkpoints,
sinks) are removed when the process exits, and every package call
site gets one through ``util.scratch_dir``."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "fifa_data_pipeline_spark"


def test_scratch_dir_is_removed_at_exit():
    script = (
        "from fifa_data_pipeline_spark.operators.util import scratch_dir\n"
        "d = scratch_dir('spark_graft_test_')\n"
        "open(d + '/f', 'w').write('x')\n"
        "print(d)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    )
    path = out.stdout.strip().splitlines()[-1]
    assert Path(path).name.startswith("spark_graft_test_")
    assert not os.path.exists(path)


def test_only_scratch_dir_calls_mkdtemp():
    callers = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            name = getattr(node, "attr", None) or getattr(node, "id", None)
            if name == "mkdtemp":
                callers.append(f"{path.relative_to(REPO)}:{node.lineno}")
    assert len(callers) == 1, callers
    assert callers[0].startswith("fifa_data_pipeline_spark/operators/util.py:")
