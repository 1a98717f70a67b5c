"""Static guard against copy-pasted operator bodies in the package.

An operator written by copying a sibling and editing a line or two is one
computation with two bodies: a fix to one copy misses the other, and the
copies drift. The scan compares every pair of top-level functions in
``pbf2json_spark/*.py`` by the Jaccard similarity of their token 5-gram
sets. A function's tokens are the words and punctuation characters of its
body's code: its docstring and comments are not code and are dropped, and
bodies under ``MIN_TOKENS`` tokens are too short to judge. A pair at or
above ``THRESHOLD`` fails the test unless the keep-list below holds it with
its reason; the fix is a shared private kernel both functions call."""

from __future__ import annotations

import ast
import io
import re
import textwrap
import tokenize
from itertools import combinations
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = sorted((ROOT / "pbf2json_spark").glob("*.py"))

SHINGLE = 5
MIN_TOKENS = 150
THRESHOLD = 0.5

# pairs kept although their bodies are alike, each with its reason
KEEP: dict[tuple[str, str], str] = {}

_WORD = re.compile(r"\w+|[^\w\s]")


def body_tokens(source: str) -> dict[str, list[str]]:
    """`function name` → the tokens of its body, for every top-level
    function in `source`: docstring and comments dropped, every other
    token split into words and single punctuation characters."""
    lines = source.splitlines(keepends=True)
    out = {}
    for node in ast.parse(source).body:
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        body = node.body
        if (
            isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            body = body[1:]
        if not body:
            continue
        code = textwrap.dedent("".join(lines[body[0].lineno - 1 : node.end_lineno]))
        out[node.name] = [
            w
            for t in tokenize.generate_tokens(io.StringIO(code).readline)
            if t.type != tokenize.COMMENT
            for w in _WORD.findall(t.string)
        ]
    return out


def shingles(tokens: list[str]) -> set[tuple[str, ...]]:
    return set(zip(*(tokens[i:] for i in range(SHINGLE))))


def similar_pairs(paths: list[Path]) -> list[tuple[float, str, str]]:
    """(jaccard, a, b) for every pair of top-level functions in `paths`
    with at least MIN_TOKENS body tokens each whose shingle sets reach
    THRESHOLD, most similar first; names are `module.function`."""
    sets = {}
    for p in paths:
        for name, toks in body_tokens(p.read_text()).items():
            if len(toks) >= MIN_TOKENS:
                sets[f"{p.stem}.{name}"] = shingles(toks)
    found = []
    for (a, sa), (b, sb) in combinations(sets.items(), 2):
        j = len(sa & sb) / len(sa | sb)
        if j >= THRESHOLD:
            found.append((j, a, b))
    return sorted(found, reverse=True)


def test_no_near_duplicate_function_bodies():
    found = similar_pairs(PACKAGE)
    bad = [f"{j:.2f} {a} ~ {b}" for j, a, b in found if (a, b) not in KEEP]
    assert not bad, "near-duplicate function bodies (fold into one kernel):\n" + "\n".join(bad)


def test_keep_list_is_current():
    # a kept pair that no longer reaches the threshold is a stale entry
    found = {(a, b) for _, a, b in similar_pairs(PACKAGE)}
    assert set(KEEP) <= found


def test_scan_flags_a_crafted_copy(tmp_path):
    body = "\n".join(
        f"    v{i} = frame.select(F.col('c{i}') * {i}).groupBy('k').agg(F.sum('v'))"
        for i in range(12)
    )
    original = f'def first(frame):\n    """Doc one."""\n{body}\n    return v0\n'
    # the copy differs in name, docstring, a comment and one line
    copy = (
        f'def second(frame):\n    """Another doc."""\n    # tweaked\n'
        f"{body.replace('* 7', '+ 7')}\n    return v1\n"
    )
    other = "def third(x):\n" + "\n".join(
        f"    x = x ** {i} if x < {i} else [x, {i}, '{i}']" for i in range(30)
    ) + "\n    return x\n"
    short = "def tiny(frame):\n    return frame.select('a')\n"
    src = tmp_path / "mod.py"
    src.write_text(original + "\n\n" + copy + "\n\n" + other + "\n\n" + short)
    toks = body_tokens(src.read_text())
    assert "Doc" not in toks["first"] and "tweaked" not in toks["second"]
    assert len(toks["tiny"]) < MIN_TOKENS
    found = similar_pairs([src])
    assert [(a, b) for _, a, b in found] == [("mod.first", "mod.second")]
    assert found[0][0] > 0.8
