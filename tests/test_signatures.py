"""Every defaulted parameter of a package function is set by some caller.

A default that no call ever overrides is a constant spelled as an option:
it widens the signature, and every reader has to check whether some
caller passes a different value.  This test scans the source (no Spark
needed).  For each package function whose name is defined exactly once
in the package and that has at least one production caller (a call in
``puma_matcher_spark/``, ``bench.py``, ``__spark_entry__.py`` or
``perfbench/``), every defaulted parameter must be passed, by keyword or
by position, by at least one call in the package, ``bench.py``,
``__spark_entry__.py``, ``perfbench/``, ``tests/`` or ``scripts/``.

Limits of the scan:

* calls are matched by the bare function or attribute name, so a name
  defined more than once in the package (methods such as ``__init__``,
  helpers nested in several functions) is skipped;
* a call that spreads ``*args`` or ``**kwargs`` counts as setting every
  parameter of the callee;
* functions reached only indirectly (registered in a table, passed as a
  callback) have no production caller by name and are not checked.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "puma_matcher_spark"
PRODUCTION = [
    *PACKAGE.rglob("*.py"),
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    *(ROOT / "perfbench").rglob("*.py"),
]
OTHER = [*(ROOT / "tests").rglob("*.py"), *(ROOT / "scripts").glob("*.py")]


def _parse(paths):
    return {p: ast.parse(p.read_text(), str(p)) for p in paths if p.exists()}


def _definitions(trees):
    """name -> [(function node, bound method?)] for every def in the package."""
    defs = defaultdict(list)
    for tree in trees.values():
        for parent in ast.walk(tree):
            for node in ast.iter_child_nodes(parent):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    static = any(
                        isinstance(d, ast.Name) and d.id == "staticmethod"
                        for d in node.decorator_list
                    )
                    method = isinstance(parent, ast.ClassDef) and not static
                    defs[node.name].append((node, method))
    return defs


def _calls(trees):
    for path, tree in trees.items():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                yield path, name, node


def _set_by(call, fn, method):
    """Parameter names a call passes; ``None`` means all (``*``/``**``)."""
    pos = [a.arg for a in fn.args.posonlyargs + fn.args.args]
    if method and isinstance(call.func, ast.Attribute):
        pos = pos[1:]  # self / cls is bound
    if any(isinstance(a, ast.Starred) for a in call.args):
        return None
    if any(k.arg is None for k in call.keywords):
        return None
    return set(pos[: len(call.args)]) | {k.arg for k in call.keywords}


def _defaulted(fn):
    a = fn.args
    pos = a.posonlyargs + a.args
    names = [x.arg for x in pos[len(pos) - len(a.defaults) :]]
    names += [x.arg for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return names


def unset_defaults() -> list[str]:
    production = _parse(PRODUCTION)
    trees = {**production, **_parse(OTHER)}
    package = {p: t for p, t in production.items() if PACKAGE in p.parents}
    unique = {
        name: defs[0]
        for name, defs in _definitions(package).items()
        if len(defs) == 1
    }
    called = set()
    passed = defaultdict(set)
    for path, name, call in _calls(trees):
        if name not in unique:
            continue
        if path in production:
            called.add(name)
        s = _set_by(call, *unique[name])
        passed[name] |= set(_defaulted(unique[name][0])) if s is None else s
    return sorted(
        f"{name}({param}=)"
        for name in called
        for param in _defaulted(unique[name][0])
        if param not in passed[name]
    )


def test_every_default_is_set_by_some_caller():
    unset = unset_defaults()
    assert not unset, (
        f"{len(unset)} defaulted parameters that no caller sets; make each "
        "a constant in the function body:\n  " + "\n  ".join(unset)
    )
