"""Static guard against package functions that only tests call.

A public function that no product code reaches is code the product
carries without using: tests keep it green, so it reads as live. This
scans with ``ast`` every public top-level function in ``pbf2json_spark``
and fails on one that no product source references, unless it is on the
keep-list below with its reason. A reference is the function's name as a
whole word anywhere in a product source (code, docstring or comment:
product documentation that names a function declares it as API), except
inside the function's own definition, so recursion and its own docstring
do not count."""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = sorted((ROOT / "pbf2json_spark").glob("*.py"))
PRODUCT = (
    PACKAGE
    + [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    + sorted((ROOT / "jobs").glob("*.py"))
    + sorted((ROOT / "tools").glob("*.py"))
    + sorted((ROOT / "perfbench").glob("*.py"))
)

# functions kept although no product code calls them, each with its reason
KEEP = {
    "geo.haversine_m": "oracle: tests compare distance columns against it",
    "cells.quadkey_to_cell": "oracle: inverse of the quadkey encoder",
    "cells.geohash_bounds": "oracle: inverse of the geohash encoder",
    "layout.hilbert_xy": "oracle: inverse of the Hilbert key",
    "fixtures.*": "test support: loads and perturbs the fixture tables",
    "parity.to_records": "test support: golden-parity record dump",
    "streaming.run_stream_to_memory": "test support: drives a stream to completion",
    "streaming.streaming_dedup": "README API: streaming near-dup filter",
    "streaming.streaming_cms": "README API: streaming count-min sketch",
    "textops.normalize_text": "README API: text normalizer",
    "iceberg.*": "deployment: Iceberg sink for the pages table",
}


def _public_functions(path: Path) -> list[ast.FunctionDef]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        node
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not node.name.startswith("_")
    ]


def unreferenced_functions(package: list[Path], product: list[Path]) -> list[str]:
    """`module.function` for every public package function whose name no
    product source contains outside the function's own definition."""
    where: dict[str, list[tuple[Path, int]]] = {}
    for p in product:
        for i, line in enumerate(p.read_text().splitlines(), 1):
            for word in set(re.findall(r"\w+", line)):
                where.setdefault(word, []).append((p, i))
    out = []
    for mod in package:
        for fn in _public_functions(mod):
            first = min([d.lineno for d in fn.decorator_list] + [fn.lineno])
            used = any(
                not (p == mod and first <= i <= fn.end_lineno)
                for p, i in where.get(fn.name, [])
            )
            if not used:
                out.append(f"{mod.stem}.{fn.name}")
    return out


def _kept(qualname: str) -> bool:
    return qualname in KEEP or f"{qualname.split('.')[0]}.*" in KEEP


def test_every_public_function_has_a_product_caller():
    unused = [q for q in unreferenced_functions(PACKAGE, PRODUCT) if not _kept(q)]
    assert unused == []


def test_keep_list_entries_still_exist():
    """A keep-list entry whose function is gone, or has since gained a
    product caller, is stale and must go."""
    names = {f"{p.stem}.{fn.name}" for p in PACKAGE for fn in _public_functions(p)}
    unreferenced = set(unreferenced_functions(PACKAGE, PRODUCT))
    for entry in KEEP:
        if entry.endswith(".*"):
            assert any(n.startswith(entry[:-1]) for n in names), entry
        else:
            assert entry in unreferenced, entry


def test_scan_ignores_own_body_and_sees_other_files(tmp_path):
    pkg = tmp_path / "mod.py"
    pkg.write_text(
        "def used(): pass\n"
        "def unused(n):\n"
        '    """unused(n) counts down."""\n'
        "    return unused(n - 1) if n else 0\n"
        "def used_by_sibling(): return used()\n"
    )
    caller = tmp_path / "caller.py"
    caller.write_text("import mod\nmod.used_by_sibling()\n")
    assert unreferenced_functions([pkg], [pkg, caller]) == ["mod.unused"]
