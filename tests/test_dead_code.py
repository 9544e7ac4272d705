"""Dead-code guard: every top-level ``def``, ``class`` and module
constant in the package must be reached from code — the package,
``tools/``, ``bench.py``, ``perfbench/`` or ``__spark_entry__.py`` —
outside its own definition. Only the AST counts: a name, an attribute
or an import alias. String constants do not count, so a registry key,
an ``__all__`` entry or a query-name skip list that spells a name does
not keep it alive (every registry key is also reached as a ``Name``).
Docstrings, comments and tests do not make a name live either, except
for the few names in ``TEST_REFERENCES``, which exist for tests and
say why."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "fifa_data_pipeline_spark"
SEARCH = [
    PACKAGE,
    REPO / "tools",
    REPO / "bench.py",
    REPO / "perfbench",
    REPO / "__spark_entry__.py",
]
# registry plumbing read by name through each module object
SKIP = {"QUERIES", "ORACLES"}

TEST_REFERENCES = {
    "field_u_probability": "per-pair reference that test_linkage compares "
    "fs_pattern_report's fused u-probabilities against",
    "field_u_probabilities": "reference for fs_pattern_report's u column "
    "in test_linkage",
    "fs_link": "per-pair Fellegi-Sunter reference in test_linkage",
    "repeated_ngram_spans": "raw-gram reference for _dup_span_positions "
    "(test_hashed_span_positions_match_raw_gram_path)",
    "sweep_materialized": "the only cleanup for scratch tables written "
    "under SPARK_GRAFT_MATERIALIZE=table",
    "clear_footer_caches": "test seam that resets the footer caches",
}


def _py_files(root: Path) -> list[Path]:
    return [root] if root.is_file() else sorted(root.rglob("*.py"))


def _defined(stmt: ast.stmt) -> set[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return {stmt.name}
    targets = []
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    names = set()
    for target in targets:
        for node in ast.walk(target):
            if isinstance(node, ast.Name):
                names.add(node.id)
    return {n for n in names if not n.startswith("__") and n not in SKIP}


def _refs(tree: ast.AST) -> list[str]:
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            out.append(node.id)
        elif isinstance(node, ast.Attribute):
            out.append(node.attr)
        elif isinstance(node, ast.alias):
            out.append(node.name.rsplit(".", 1)[-1])
    return out


def _references(roots: list[Path]) -> Counter:
    """Reference counts by name, leaving out each top-level statement's
    references to the names it defines itself (recursion, a constant's
    own target)."""
    counts: Counter = Counter()
    for root in roots:
        for path in _py_files(root):
            for stmt in ast.parse(path.read_text()).body:
                own = _defined(stmt)
                counts.update(r for r in _refs(stmt) if r not in own)
    return counts


def _definitions() -> dict[str, str]:
    where: dict[str, str] = {}
    for path in _py_files(PACKAGE):
        for stmt in ast.parse(path.read_text()).body:
            for name in _defined(stmt):
                where.setdefault(
                    name, f"{path.relative_to(REPO)}:{stmt.lineno}"
                )
    return where


def test_every_top_level_name_is_referenced():
    where = _definitions()
    refs = _references(SEARCH)
    dead = sorted(
        f"{where[n]} {n}"
        for n in where
        if refs[n] == 0 and n not in TEST_REFERENCES
    )
    assert not dead, f"top-level names no code reaches: {dead}"


def test_test_references_are_current():
    where = _definitions()
    tested = _references([REPO / "tests"])
    stale = sorted(
        n for n in TEST_REFERENCES if n not in where or tested[n] == 0
    )
    assert not stale, f"TEST_REFERENCES entries no test uses: {stale}"
