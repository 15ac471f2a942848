"""The scripts that stay (sf1_gate, crossf_gate, driver_sim, ...)
import private names from the package, the tests helpers and each
other; nothing else runs them. This parses every
``scripts/*.py`` and ``bench.py`` and checks that each such
``from ... import name`` still resolves, so moving an internal name
cannot silently break a script. No Spark session is started."""

from __future__ import annotations

import ast
import importlib
import os

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SCRIPTS = os.path.join(_ROOT, "scripts")
_FILES = sorted(
    [os.path.join(_SCRIPTS, f) for f in os.listdir(_SCRIPTS) if f.endswith(".py")]
    + [os.path.join(_ROOT, "bench.py")]
)
_CHECKED = ("developing_img_etl_spark", "tests", "query_fingerprint", "driver_sim")


def _internal_imports(path: str) -> list[tuple[str, str]]:
    tree = ast.parse(open(path, encoding="utf-8").read(), filename=path)
    return [
        (node.module, alias.name)
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module
        and node.module.split(".")[0] in _CHECKED
        for alias in node.names
    ]


def _unresolved(path: str) -> list[str]:
    missing = []
    for module, name in _internal_imports(path):
        try:
            mod = importlib.import_module(module)
            if not hasattr(mod, name):
                # a submodule imported by name (``from pkg import mod``)
                importlib.import_module(f"{module}.{name}")
        except ImportError:
            missing.append(f"{module}.{name}")
    return missing


@pytest.mark.parametrize("path", _FILES, ids=os.path.basename)
def test_script_imports_resolve(path, monkeypatch):
    # scripts import query_fingerprint and driver_sim as sibling modules
    monkeypatch.syspath_prepend(_SCRIPTS)
    assert _unresolved(path) == []


def _hardcoded_roots(path: str) -> list[str]:
    """String constants that name this checkout by absolute path, and
    sys.path entries given as string constants: either makes a copy of
    the tree run (or overwrite) another checkout's files."""
    tree = ast.parse(open(path, encoding="utf-8").read(), filename=path)
    found = [
        node.value
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant) and isinstance(node.value, str)
        and (node.value == _ROOT or node.value.startswith(_ROOT + os.sep))
    ]
    found += [
        ast.unparse(node)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call) and ast.unparse(node.func) == "sys.path.insert"
        and any(isinstance(a, ast.Constant) for a in node.args[1:])
    ]
    return found


@pytest.mark.parametrize("path", _FILES, ids=os.path.basename)
def test_script_root_comes_from_its_own_path(path):
    # run from a copy of the tree, a script must import that copy's
    # package and write that copy's artifacts
    assert _hardcoded_roots(path) == []
