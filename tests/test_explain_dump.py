"""``tools/explain_dump.py`` fails loudly: a name it cannot explain
makes the run exit non-zero, while the plans that succeed are still
written."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_explain_dump_exits_nonzero_on_unknown_query(tmp_path, sf_dir):
    env = dict(
        os.environ,
        SPARK_GRAFT_PLANS_ROUND=str(tmp_path),
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [
            sys.executable,
            str(REPO / "tools" / "explain_dump.py"),
            "after",
            sf_dir,
            "q_topk",
            "q_no_such_query",
        ],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode != 0
    assert "q_no_such_query" in proc.stderr
    assert "TakeOrderedAndProject" in (tmp_path / "q_topk_after.txt").read_text()
    assert not (tmp_path / "q_no_such_query_after.txt").exists()
