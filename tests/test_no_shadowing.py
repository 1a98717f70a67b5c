"""Static guard against silently shadowed definitions and dead statements.

A second top-level ``def`` of the same name replaces the first without a
word, a dict literal that repeats a key keeps only the last value, and a
top-level name assigned twice keeps only the second value — either way the
first copy is dead code that still reads as live. So is an import nothing
uses. This scans the package, the entry module, bench.py, the jobs and the
tools with ``ast`` (no linter is needed) and fails on all four; unused
imports fail in the tests as well."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SOURCES = (
    sorted((ROOT / "pbf2json_spark").glob("*.py"))
    + [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    + sorted((ROOT / "jobs").glob("*.py"))
    + sorted((ROOT / "tools").glob("*.py"))
)
TESTS = sorted((ROOT / "tests").glob("*.py"))


def _tree(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def repeated_top_level_defs(tree: ast.Module) -> list[str]:
    names = Counter(
        node.name
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    )
    return sorted(n for n, c in names.items() if c > 1)


def repeated_dict_keys(tree: ast.Module) -> list[tuple[int, object]]:
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Dict):
            keys = Counter(k.value for k in node.keys if isinstance(k, ast.Constant))
            out += [(node.lineno, k) for k, c in keys.items() if c > 1]
    return out


def _target_names(target: ast.expr) -> list[str]:
    if isinstance(target, ast.Name):
        return [target.id]
    if isinstance(target, (ast.Tuple, ast.List)):
        return [n for t in target.elts for n in _target_names(t)]
    return []


def repeated_top_level_assigns(tree: ast.Module) -> list[str]:
    names: Counter[str] = Counter()
    for node in tree.body:
        if isinstance(node, ast.Assign):
            for t in node.targets:
                names.update(_target_names(t))
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            names.update(_target_names(node.target))
    return sorted(n for n, c in names.items() if c > 1)


def unused_imports(tree: ast.Module) -> list[tuple[int, str]]:
    """Names bound by an import at any depth that no ``Name`` in the module
    reads; names listed in a top-level ``__all__`` count as read."""
    imported = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            imported += [
                (node.lineno, a.asname or a.name.split(".")[0])
                for a in node.names
                if a.name != "*"
            ]
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in tree.body:
        if isinstance(node, ast.Assign) and "__all__" in _target_names(node.targets[0]):
            used |= {e.value for e in node.value.elts}
    return sorted((line, n) for line, n in imported if n not in used)


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: p.name)
def test_no_repeated_top_level_def(path):
    assert repeated_top_level_defs(_tree(path)) == []


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: p.name)
def test_no_repeated_dict_literal_key(path):
    assert repeated_dict_keys(_tree(path)) == []


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: p.name)
def test_no_repeated_top_level_assign(path):
    assert repeated_top_level_assigns(_tree(path)) == []


@pytest.mark.parametrize("path", SOURCES + TESTS, ids=lambda p: p.name)
def test_no_unused_import(path):
    assert unused_imports(_tree(path)) == []


def test_scan_catches_both_kinds():
    tree = ast.parse("def f(): pass\ndef f(): pass\nd = {'a': 1, 'b': 2, 'a': 3}\n")
    assert repeated_top_level_defs(tree) == ["f"]
    assert repeated_dict_keys(tree) == [(3, "a")]


def test_scan_catches_dead_statements():
    tree = ast.parse(
        "from __future__ import annotations\n"
        "import os, sys\n"
        "from x import a as b, c\n"
        "__all__ = ['c']\n"
        "X = [2]\n"
        "X, Y = 1, 2\n"
        "def f():\n"
        "    import json\n"
        "    return sys.argv\n"
    )
    assert unused_imports(tree) == [(2, "os"), (3, "b"), (8, "json")]
    assert repeated_top_level_assigns(tree) == ["X"]
