"""No module of the package binds the same top-level name twice.

A second `def` (or assignment) of a name silently replaces the first,
so the first is dead code that still reads as live: `cli.cmd_commands`
was written twice, and only the second was ever bound by the parser.
Pure AST walk, no import of the modules."""

from __future__ import annotations

import ast
import pathlib
from collections import Counter

PKG = pathlib.Path(__file__).resolve().parent.parent / "blq_cli_spark"


def _top_level_names(tree: ast.Module) -> list[str]:
    names = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.append(node.name)
        elif isinstance(node, ast.Assign):
            names += [t.id for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names.append(node.target.id)
    return names


def test_no_module_binds_a_top_level_name_twice():
    dups = {}
    for path in sorted(PKG.rglob("*.py")):
        counts = Counter(_top_level_names(ast.parse(path.read_text())))
        twice = sorted(n for n, c in counts.items() if c > 1)
        if twice:
            dups[str(path.relative_to(PKG))] = twice
    assert not dups, dups
