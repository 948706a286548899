"""Package signatures and definitions keep only what production uses.

Both tests scan the source (no Spark needed).  "Production" is
``puma_matcher_spark/``, ``bench.py``, ``__spark_entry__.py`` and
``perfbench/``.

``test_every_default_is_set_by_some_caller``: a default that no call ever
overrides is a constant spelled as an option: it widens the signature,
and every reader has to check whether some caller passes a different
value.  For each package function whose name is defined exactly once in
the package and that has at least one production caller, every
defaulted parameter must be passed, by keyword or by position, by at
least one call in production, ``tests/`` or ``scripts/``.

Limits of the scan:

* calls are matched by the bare function or attribute name, so a name
  defined more than once in the package (methods such as ``__init__``,
  helpers nested in several functions) is skipped;
* a call that spreads ``*args`` or ``**kwargs`` counts as setting every
  parameter of the callee;
* functions reached only indirectly (registered in a table, passed as a
  callback) have no production caller by name and are not checked.

``test_every_package_definition_is_reached``: a package function that
only tests call is a facility kept on spec.  Every top-level ``def`` and
``class`` of a package module must be reached, transitively and by
name, from production: from module-level code of the package (decorated
definitions, such as the ``@register``ed queries, count as reached,
because the decorator receives them at import), and from everything in
``bench.py``, ``__spark_entry__.py`` and ``perfbench/``, whose functions
are entry points called from outside the package.  Definitions kept on
purpose are listed in ``UNREACHED_ALLOWED`` with the reason.

Limits of the scan:

* a name is resolved to every package definition with that bare name,
  and any mention counts (a local variable, a keyword argument, the
  attribute of an unrelated object), so the scan can miss dead code but
  does not flag code that production names;
* identifier-like string constants count as mentions, so names looked up
  through a registry or ``getattr`` are reached; a name built at run
  time (an f-string, a concatenation) is not seen;
* module-level assignments (constants, UDF objects) are not checked;
  their right-hand sides run at import and count as module-level code;
* import statements are not mentions: importing a name does not reach it.
"""

from __future__ import annotations

import ast
import re
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


#: Package definitions that production does not reach, kept on purpose,
#: each with the reason.  The private helpers they call are reached
#: through them and are not listed.
_EXTERNAL_IO = (
    "external I/O rebuild (SURVEY S1/S2/S5/S6/S9, DbManager.swapSchema): "
    "whether an app reads or writes through it is decided apart"
)
UNREACHED_ALLOWED = {
    **dict.fromkeys(
        [
            "puma_matcher_spark.sources.jdbc.scalar_int_query",
            "puma_matcher_spark.sources.jdbc.partitioned_jdbc_read",
            "puma_matcher_spark.sources.jdbc.write_jdbc",
            "puma_matcher_spark.sources.files.read_text_dir",
            "puma_matcher_spark.sources.files.read_text_files",
            "puma_matcher_spark.sources.files.read_csv_table",
            "puma_matcher_spark.sources.files.clean_full_text",
            "puma_matcher_spark.sources.publish.publish",
            "puma_matcher_spark.sources.publish.read_live",
        ],
        _EXTERNAL_IO,
    ),
    **dict.fromkeys(
        [
            "puma_matcher_spark.oracle.duck_connection",
            "puma_matcher_spark.oracle.compare_query",
            "puma_matcher_spark.oracle.run_all",
        ],
        "test instrument: the DuckDB parity harness",
    ),
    **dict.fromkeys(
        [
            "puma_matcher_spark.plans.inspect.formatted_plan",
            "puma_matcher_spark.plans.inspect.count_occurrences",
            "puma_matcher_spark.plans.inspect.has_cartesian",
            "puma_matcher_spark.plans.inspect.num_shuffles",
            "puma_matcher_spark.plans.inspect.scan_read_schemas",
            "puma_matcher_spark.plans.inspect.partition_filters",
            "puma_matcher_spark.plans.inspect.pushed_filters",
            "puma_matcher_spark.plans.inspect.assert_no_cartesian",
            "puma_matcher_spark.plans.inspect.assert_column_pruned",
        ],
        "test instrument: plan assertions",
    ),
    "puma_matcher_spark.llmdata.jpeg.fdct2": (
        "test instrument: the JPEG decoder tests invert their blocks with it"
    ),
    "puma_matcher_spark.functions.perceptron.read_tagged_corpus": (
        "scripts/train_perceptron.py regenerates the shipped tagger weights"
    ),
}

_IDENTIFIER = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _mentions(*nodes) -> set[str]:
    """Names, attribute names and identifier-like strings in the nodes."""
    out = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                if _IDENTIFIER.fullmatch(n.value):
                    out.add(n.value)
    return out


def package_reachability(roots=()) -> tuple[set[str], set[str]]:
    """(defined, reached) top-level package definitions, each as
    ``module.name``; ``roots`` names definitions reached by fiat."""
    by_name = defaultdict(list)
    reached = set()
    todo = set()
    for path, tree in _parse(PRODUCTION).items():
        if PACKAGE not in path.parents:
            todo |= _mentions(tree)
            continue
        module = ".".join(path.relative_to(ROOT).with_suffix("").parts)
        for node in tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                qualified = f"{module}.{node.name}"
                by_name[node.name].append((qualified, node))
                if node.decorator_list or qualified in roots:
                    reached.add(qualified)
                    todo |= _mentions(node)
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                todo |= _mentions(node)
    done = set()
    while todo:
        name = todo.pop()
        done.add(name)
        for qualified, node in by_name.get(name, ()):
            reached.add(qualified)
            todo |= _mentions(node) - done
    defined = {q for defs in by_name.values() for q, _ in defs}
    return defined, reached


def test_every_package_definition_is_reached():
    defined, reached = package_reachability(roots=set(UNREACHED_ALLOWED))
    unreached = sorted(defined - reached)
    assert not unreached, (
        f"{len(unreached)} package definitions that no production code "
        "reaches; delete each with the tests that only exercise it, or add "
        "it to UNREACHED_ALLOWED with the reason:\n  " + "\n  ".join(unreached)
    )
    _, from_production = package_reachability()
    stale = sorted(
        key
        for key in UNREACHED_ALLOWED
        if key not in defined or key in from_production
    )
    assert not stale, (
        "UNREACHED_ALLOWED entries that are gone or that production now "
        "reaches:\n  " + "\n  ".join(stale)
    )
