"""Dead-code guard: every top-level ``def``/``class`` in the package
must be referenced somewhere besides its own definition — in the
package, ``tools/``, ``bench.py``, ``perfbench/`` or ``tests/``. A
name that nothing mentions is deleted, not kept "for later"."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "fifa_data_pipeline_spark"
SEARCH = [
    PACKAGE,
    REPO / "tools",
    REPO / "bench.py",
    REPO / "perfbench",
    REPO / "tests",
]


def _py_files(root: Path) -> list[Path]:
    return [root] if root.is_file() else sorted(root.rglob("*.py"))


def test_every_top_level_name_is_referenced():
    defs: Counter = Counter()
    where: dict[str, str] = {}
    for path in _py_files(PACKAGE):
        for node in ast.parse(path.read_text()).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs[node.name] += 1
                where.setdefault(
                    node.name, f"{path.relative_to(REPO)}:{node.lineno}"
                )
    words: Counter = Counter()
    for root in SEARCH:
        for path in _py_files(root):
            words.update(re.findall(r"\w+", path.read_text()))
    # each definition contributes one occurrence of its own name
    dead = sorted(f"{where[n]} {n}" for n in defs if words[n] <= defs[n])
    assert not dead, f"unreferenced top-level names: {dead}"
