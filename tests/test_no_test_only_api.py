"""Static guard against package definitions the product cannot reach.

A definition that no product entry point reaches is code the product
carries without using: tests keep it green, so it reads as live. The scan
starts from every name, attribute and import alias in the product's entry
files (the driver entry, bench, the spark-submit jobs, the tools, the
benchmark harness and the CLI) and in the module-level statements of every
package module that are not definitions. A top-level function, class or
constant in ``pbf2json_spark`` is reached when its name is in that set; the
names in its code then join the set, until nothing more is reached.
Docstrings and comments are not code, so naming a definition there reaches
nothing; dunder names are exempt. Every unreached definition fails the test
unless the keep-list below holds it with its reason."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = sorted(
    p for p in (ROOT / "pbf2json_spark").glob("*.py") if p.name != "__main__.py"
)
ENTRIES = (
    [ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "pbf2json_spark" / "__main__.py"]
    + sorted((ROOT / "jobs").glob("*.py"))
    + sorted((ROOT / "tools").glob("*.py"))
    + sorted((ROOT / "perfbench").glob("*.py"))
)

# definitions kept although the product does not reach them, each with its reason
KEEP = {
    "geo.haversine_m": "oracle: tests compare distance columns against it",
    "cells.quadkey_to_cell": "oracle: inverse of the quadkey encoder",
    "cells.geohash_bounds": "oracle: inverse of the geohash encoder",
    "cells.geohash_encode": "oracle: the bisection reference geohash_col is tested against",
    "layout.hilbert_xy": "oracle: inverse of the Hilbert key",
    "layout.zorder_col": "test support: builds the stored Morton key zorder_range_filter reads",
    "model.MEMBER": "test support: member struct of RELATIONS_SCHEMA",
    "model.RELATIONS_SCHEMA": "test support: schema of hand-built relation tables",
    "fixtures.*": "test support: loads and perturbs the fixture tables",
    "parity.to_records": "test support: golden-parity record dump",
    "iceberg.*": "deployment: Iceberg sink for the pages table",
}

def _names(node: ast.AST) -> set[str]:
    """Every name, attribute and import alias in the code of `node`."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
            if n.asname:
                out.add(n.asname)
    return out


def _defined(node: ast.stmt) -> list[str]:
    """The non-dunder names a top-level statement defines."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        names = [node.name]
    elif isinstance(node, (ast.Assign, ast.AnnAssign)):
        targets = node.targets if isinstance(node, ast.Assign) else [node.target]
        names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
    else:
        names = []
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


def unreached_definitions(package: list[Path], entries: list[Path]) -> list[str]:
    """`module.name` for every top-level definition in `package` that no
    code reachable from `entries` names."""
    reached: set[str] = set()
    for p in entries:
        reached |= _names(ast.parse(p.read_text(), filename=str(p)))
    pending = []
    for p in package:
        for node in ast.parse(p.read_text(), filename=str(p)).body:
            names = _defined(node)
            if names:
                pending += [(f"{p.stem}.{name}", name, node) for name in names]
            else:
                reached |= _names(node)
    grew = True
    while grew:
        grew = False
        for item in list(pending):
            if item[1] in reached:
                reached |= _names(item[2])
                pending.remove(item)
                grew = True
    return sorted(qualname for qualname, _, _ in pending)


def _kept(qualname: str) -> bool:
    return qualname in KEEP or f"{qualname.split('.')[0]}.*" in KEEP


def test_every_definition_is_reached_from_the_product():
    unreached = [q for q in unreached_definitions(PACKAGE, ENTRIES) if not _kept(q)]
    assert unreached == [], "unreached from the product: " + ", ".join(unreached)


def test_keep_list_entries_still_exist():
    """A keep-list entry whose definition is gone, or is reached from the
    product by now, is stale and must go."""
    unreached = unreached_definitions(PACKAGE, ENTRIES)
    for entry in KEEP:
        if entry.endswith(".*"):
            assert any(q.startswith(entry[:-1]) for q in unreached), entry
        else:
            assert entry in unreached, entry


def test_scan_ignores_own_body_and_sees_other_files(tmp_path):
    pkg = tmp_path / "mod.py"
    pkg.write_text(
        '"""Exports used() and only_in_docstring()."""\n'
        "LIMIT = 3\n"
        "def used(): pass\n"
        "def unused(n):\n"
        '    """unused(n) counts down."""\n'
        "    return unused(n - 1) if n else only_dead_calls(LIMIT)\n"
        "def only_dead_calls(k): return k\n"
        "def only_in_docstring(): pass\n"
        "def used_by_sibling():\n"
        '    """Calls used(), never only_in_docstring()."""\n'
        "    return used()  # not only_in_docstring() either\n"
    )
    caller = tmp_path / "caller.py"
    caller.write_text("import mod\nmod.used_by_sibling()\n")
    assert unreached_definitions([pkg], [caller]) == [
        "mod.LIMIT",
        "mod.only_dead_calls",
        "mod.only_in_docstring",
        "mod.unused",
    ]
