"""Symbol-drift guard for the scripts that live outside the package.

``tools/*.py``, ``examples/*.py``, ``bench.py`` and ``__spark_entry__.py``
import from ``mycenae_spark`` — often inside functions, where nothing runs
them until someone does.  This walks each script's AST (every nesting
level) and checks that every ``from mycenae_spark… import name`` still
resolves, so deleting or renaming a symbol a script depends on fails
here instead of leaving the script to rot.  Imports only; no Spark
session is started.
"""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(
    glob.glob(os.path.join(REPO, "tools", "*.py"))
    + glob.glob(os.path.join(REPO, "examples", "*.py"))
    + [os.path.join(REPO, "bench.py"), os.path.join(REPO, "__spark_entry__.py")]
)


def _package_imports(path: str) -> list[tuple[int, str, str]]:
    """(line, module, name) for every mycenae_spark import in ``path``."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            if (node.module or "").split(".")[0] == "mycenae_spark":
                found += [(node.lineno, node.module, a.name) for a in node.names]
        elif (
            # __import__("mycenae_spark.x", fromlist=["name"])
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "__import__"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and str(node.args[0].value).split(".")[0] == "mycenae_spark"
        ):
            found += [
                (node.lineno, node.args[0].value, e.value)
                for kw in node.keywords
                if kw.arg == "fromlist" and isinstance(kw.value, (ast.List, ast.Tuple))
                for e in kw.value.elts
                if isinstance(e, ast.Constant)
            ]
    return found


def _resolves(module: str, name: str) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name == "*" or hasattr(mod, name):
        return True
    # ``from pkg import submodule`` resolves to a module file, not an attribute
    return (
        hasattr(mod, "__path__")
        and importlib.util.find_spec(f"{module}.{name}") is not None
    )


def test_scripts_are_scanned():
    rel = {os.path.relpath(p, REPO) for p in SCRIPTS}
    assert {"bench.py", "__spark_entry__.py", "tools/verify_window.py"} <= rel
    assert any(_package_imports(p) for p in SCRIPTS)


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: os.path.relpath(p, REPO))
def test_script_package_imports_resolve(path):
    missing = [
        f"{os.path.relpath(path, REPO)}:{line}: from {mod} import {name}"
        for line, mod, name in _package_imports(path)
        if not _resolves(mod, name)
    ]
    assert not missing, "\n".join(missing)
