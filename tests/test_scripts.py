"""Tooling check: every script under ``scripts/`` still imports.

Scripts are not run by the suite, so a script that imports a module or
name the package no longer has would otherwise only fail when someone
next runs it.  Each script keeps its work behind a ``__main__`` guard,
so importing it under another name runs no Spark job.
"""

from __future__ import annotations

import importlib.util
import pathlib
import sys

import pytest

SCRIPTS = sorted((pathlib.Path(__file__).parent.parent / "scripts").glob("*.py"))


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.stem)
def test_script_imports(path, monkeypatch):
    guard = 'if __name__ == "__main__":'
    assert guard in path.read_text(encoding="utf-8"), "no __main__ guard"
    name = f"_script_{path.stem}"
    # scripts read argv and extend sys.path at import; keep both local
    monkeypatch.setattr(sys, "argv", [str(path)])
    monkeypatch.setattr(sys, "path", list(sys.path))
    spec = importlib.util.spec_from_file_location(name, path)
    module = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, name, module)
    spec.loader.exec_module(module)
