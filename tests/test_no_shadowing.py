"""Static guard against silently shadowed definitions.

A second top-level ``def`` of the same name replaces the first without a
word, and a dict literal that repeats a key keeps only the last value —
either way the first copy is dead code that still reads as live. This
scans the package and the entry module with ``ast`` (no linter is
needed) and fails on both."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SOURCES = sorted((ROOT / "pbf2json_spark").glob("*.py")) + [ROOT / "__spark_entry__.py"]


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


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: p.name)
def test_no_repeated_top_level_def(path):
    assert repeated_top_level_defs(_tree(path)) == []


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: p.name)
def test_no_repeated_dict_literal_key(path):
    assert repeated_dict_keys(_tree(path)) == []


def test_scan_catches_both_kinds():
    tree = ast.parse("def f(): pass\ndef f(): pass\nd = {'a': 1, 'b': 2, 'a': 3}\n")
    assert repeated_top_level_defs(tree) == ["f"]
    assert repeated_dict_keys(tree) == [(3, "a")]
