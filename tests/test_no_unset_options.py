"""Static guard against options nobody sets.

A defaulted parameter that no call ever sets is a constant written as an
option: every reader has to ask which other values it takes, and the
answer is none. For every defaulted parameter of a top-level function or
a method in ``pbf2json_spark``, at least one call in the product's entry
files, the package itself or the tests must set it, by keyword or by
position, unless the keep-list below holds it with its reason.

Calls are matched by the called name (``f(...)``, ``mod.f(...)``,
``obj.f(...)``; calling a class sets its ``__init__``), so a name that two
definitions share counts for both, and a method's positions start after
``self``. A call that spreads ``*args`` or ``**kwargs`` sets every
parameter of the name it calls."""

from __future__ import annotations

import ast
from pathlib import Path

from test_no_test_only_api import ENTRIES, PACKAGE, ROOT

CALLERS = PACKAGE + ENTRIES + sorted((ROOT / "tests").glob("*.py"))

# defaulted parameters kept although no call sets them, each with its reason
KEEP = {
    "iceberg.catalog_conf(catalog)": (
        "deployment setting: the catalog name a deployment registers"
    ),
}


def _defaulted(fn: ast.FunctionDef) -> list[tuple[str, int | None]]:
    """(name, position) of each defaulted parameter; keyword-only ones
    have no position."""
    pos = fn.args.posonlyargs + fn.args.args
    first = len(pos) - len(fn.args.defaults)
    out = [(a.arg, i) for i, a in enumerate(pos) if i >= first]
    kw = zip(fn.args.kwonlyargs, fn.args.kw_defaults)
    return out + [(a.arg, None) for a, d in kw if d is not None]


def defaulted_parameters(
    package: list[Path],
) -> list[tuple[str, str, str, int | None]]:
    """(qualified name, called name, parameter, call position) for every
    defaulted parameter of a top-level function or method."""
    out = []
    for p in package:
        for node in ast.parse(p.read_text(), filename=str(p)).body:
            fns = [(node, None)] if isinstance(node, ast.FunctionDef) else []
            if isinstance(node, ast.ClassDef):
                fns = [
                    (m, node.name) for m in node.body if isinstance(m, ast.FunctionDef)
                ]
            for fn, cls in fns:
                static = any(
                    isinstance(d, ast.Name) and d.id == "staticmethod"
                    for d in fn.decorator_list
                )
                skip = 1 if cls and not static else 0
                called = cls if cls and fn.name == "__init__" else fn.name
                qual = ".".join([p.stem] + ([cls] if cls else []) + [fn.name])
                for name, i in _defaulted(fn):
                    out.append((qual, called, name, None if i is None else i - skip))
    return out


def _calls(callers: list[Path]) -> dict[str, list[tuple[int, set[str], bool]]]:
    """called name → (positional count, keyword names, spreads) per call."""
    out: dict[str, list[tuple[int, set[str], bool]]] = {}
    for p in callers:
        for n in ast.walk(ast.parse(p.read_text(), filename=str(p))):
            if not isinstance(n, ast.Call):
                continue
            f = n.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name is None:
                continue
            spread = any(isinstance(a, ast.Starred) for a in n.args) or any(
                k.arg is None for k in n.keywords
            )
            out.setdefault(name, []).append(
                (len(n.args), {k.arg for k in n.keywords}, spread)
            )
    return out


def unset_options(package: list[Path], callers: list[Path]) -> list[str]:
    """``module.function(parameter)`` for every defaulted parameter that
    no call in `callers` sets."""
    calls = _calls(callers)
    return sorted(
        f"{qual}({name})"
        for qual, called, name, i in defaulted_parameters(package)
        if not any(
            spread or name in kws or (i is not None and i < npos)
            for npos, kws, spread in calls.get(called, [])
        )
    )


def test_every_defaulted_parameter_is_set_by_some_call():
    unset = [q for q in unset_options(PACKAGE, CALLERS) if q not in KEEP]
    assert unset == [], "defaulted parameters no call sets: " + ", ".join(unset)


def test_keep_list_entries_are_still_unset():
    """A kept parameter that some call sets by now is no longer an
    exception, and its entry must go."""
    unset = unset_options(PACKAGE, CALLERS)
    for entry in KEEP:
        assert entry in unset, entry


def test_scan_sees_keywords_positions_methods_and_spreads(tmp_path):
    pkg = tmp_path / "mod.py"
    pkg.write_text(
        "def f(a, b=1, c=2, *, d=3): pass\n"
        "def g(a=1): pass\n"
        "def unset(a=1): pass\n"
        "class K:\n"
        "    def __init__(self, x=1, y=2): pass\n"
        "    def m(self, p=1, q=2): pass\n"
        "    @staticmethod\n"
        "    def s(p=1, q=2): pass\n"
    )
    caller = tmp_path / "caller.py"
    caller.write_text(
        "import mod\n"
        "mod.f(0, 5)\n"
        "k = mod.K(y=1)\n"
        "k.m(1)\n"
        "mod.K.s(1, 2)\n"
        "mod.g(*[1])\n"
        "unset\n"
    )
    assert len(defaulted_parameters([pkg])) == 11
    assert unset_options([pkg], [caller]) == [
        "mod.K.__init__(x)",
        "mod.K.m(q)",
        "mod.f(c)",
        "mod.f(d)",
        "mod.unset(a)",
    ]
