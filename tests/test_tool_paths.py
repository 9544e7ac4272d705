"""Tools find the checkout they run from through ``__file__``, so a
second checkout (the base side of an A/B, in a git worktree) imports,
scores and writes its own tree. A string constant that spells a
checkout's absolute path would point every copy at that one tree."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _docstring_nodes(tree: ast.AST) -> set[int]:
    docs = set()
    for node in ast.walk(tree):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            first = node.body[0] if node.body else None
            if isinstance(first, ast.Expr) and isinstance(
                first.value, ast.Constant
            ):
                docs.add(id(first.value))
    return docs


def test_tools_do_not_hard_code_the_checkout_path():
    root = str(REPO)
    hits = []
    for path in sorted((REPO / "tools").glob("*.py")):
        tree = ast.parse(path.read_text())
        docs = _docstring_nodes(tree)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docs
                and (node.value == root or node.value.startswith(root + "/"))
            ):
                hits.append(f"{path.relative_to(REPO)}:{node.lineno}")
    assert not hits, f"derive the repo root from __file__: {hits}"
