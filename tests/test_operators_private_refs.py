"""Every underscore-prefixed top-level function in the operators package
is called from package code: a private helper whose last caller is gone
(a superseded dispatch wrapper, say) fails here instead of lingering."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "kingfisher_process_spark"


def _referenced_name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.alias):
        return node.name
    return None


def test_private_operator_functions_are_referenced():
    trees = {p: ast.parse(p.read_text()) for p in PKG.rglob("*.py")}
    private = [
        (path.name, fn) for path, tree in trees.items()
        if path.parent == PKG / "operators"
        for fn in tree.body
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
        and fn.name.startswith("_") and not fn.name.startswith("__")]
    assert private
    uses: dict[str, list[ast.AST]] = {}
    for tree in trees.values():
        for node in ast.walk(tree):
            name = _referenced_name(node)
            if name:
                uses.setdefault(name, []).append(node)
    unreferenced = []
    for module, fn in private:
        own = {id(n) for n in ast.walk(fn)}  # recursion is not a caller
        if not any(id(n) not in own for n in uses.get(fn.name, [])):
            unreferenced.append(f"{module}:{fn.name}")
    assert not unreferenced, unreferenced
