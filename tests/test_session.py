"""Settings: the session is the one place the package reads the
environment, and its defaults follow the host."""

import ast
import pathlib

import puma_matcher_spark
from puma_matcher_spark import session

PACKAGE = pathlib.Path(puma_matcher_spark.__file__).parent


def _environment_reads(path: pathlib.Path) -> list[int]:
    """Lines of ``path`` that touch ``os.environ`` or ``os.getenv``."""
    lines = []
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"), str(path))):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
            and node.attr in ("environ", "getenv")
        ) or (
            isinstance(node, ast.ImportFrom)
            and node.module == "os"
            and any(a.name in ("environ", "getenv") for a in node.names)
        ):
            lines.append(node.lineno)
    return lines


def _outside_session(find) -> dict[str, list[int]]:
    """The lines ``find`` reports in each package module but session.py."""
    return {
        str(path.relative_to(PACKAGE)): lines
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != PACKAGE / "session.py" and (lines := find(path))
    }


def test_only_session_reads_the_environment():
    offenders = _outside_session(_environment_reads)
    assert not offenders, offenders
    assert _environment_reads(PACKAGE / "session.py")


def _shuffle_width_sets(path: pathlib.Path) -> list[int]:
    """Lines of ``path`` that pass ``spark.sql.shuffle.partitions`` to a
    ``.conf.set(...)`` or ``.config(...)`` call."""
    lines = []
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"), str(path))):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        func = node.func
        conf_set = (
            func.attr == "set"
            and isinstance(func.value, ast.Attribute)
            and func.value.attr == "conf"
        )
        if (conf_set or func.attr == "config") and any(
            isinstance(a, ast.Constant) and a.value == "spark.sql.shuffle.partitions"
            for a in node.args
        ):
            lines.append(node.lineno)
    return lines


def test_only_session_sets_the_shuffle_width():
    """Shuffle partitioning has one owner: the session sets the width and
    AQE coalesces it; no operator scopes its own."""
    offenders = _outside_session(_shuffle_width_sets)
    assert not offenders, offenders
    assert _shuffle_width_sets(PACKAGE / "session.py")


def test_default_cpus_follows_the_affinity_mask(monkeypatch):
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert session.default_cpus() == 3
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {7})
    assert session.default_cpus() == 1
