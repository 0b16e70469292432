"""Symbol-drift guard for the scripts that live outside the package.

``tools/*.py``, ``examples/*.py``, ``perfbench/*.py``, ``bench.py`` and
``__spark_entry__.py`` import from ``mycenae_spark`` — often inside
functions, where nothing runs them until someone does.  This walks each
script's AST (every nesting level) and checks that every
``from mycenae_spark… import name`` still resolves, and that every
keyword argument a script passes to a ``mycenae_spark`` callable it
imports is still a parameter of that callable — so deleting or renaming
a symbol or a parameter a script depends on fails here instead of
leaving the script to rot.  Imports and signatures only; no Spark
session is started.
"""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import inspect
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(
    glob.glob(os.path.join(REPO, "tools", "*.py"))
    + glob.glob(os.path.join(REPO, "examples", "*.py"))
    + glob.glob(os.path.join(REPO, "perfbench", "*.py"))
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


def _package_names(tree: ast.AST) -> dict[str, object]:
    """Local name → the ``mycenae_spark`` module or attribute it is bound
    to by an import anywhere in the script.  A name bound to two
    different objects (different imports in different functions) is
    dropped: the call sites cannot be told apart without scopes."""
    bound: dict[str, object] = {}
    clashes: set[str] = set()

    def bind(name: str, obj: object) -> None:
        if name in bound and bound[name] is not obj:
            clashes.add(name)
        bound[name] = obj

    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            if (node.module or "").split(".")[0] != "mycenae_spark":
                continue
            mod = importlib.import_module(node.module)
            for a in node.names:
                obj = getattr(mod, a.name, None)
                if obj is None and a.name != "*":
                    obj = importlib.import_module(f"{node.module}.{a.name}")
                if a.name != "*":
                    bind(a.asname or a.name, obj)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == "mycenae_spark" and a.asname:
                    bind(a.asname, importlib.import_module(a.name))
    return {k: v for k, v in bound.items() if k not in clashes}


def _resolve(node: ast.AST, names: dict[str, object]) -> object | None:
    """The ``mycenae_spark`` object an expression names, or None."""
    if isinstance(node, ast.Name):
        return names.get(node.id)
    if isinstance(node, ast.Attribute):
        base = _resolve(node.value, names)
        return None if base is None else getattr(base, node.attr, None)
    if (
        # __import__("mycenae_spark.x", fromlist=[...]) is module x
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "__import__"
        and node.args
        and isinstance(node.args[0], ast.Constant)
        and str(node.args[0].value).split(".")[0] == "mycenae_spark"
        and any(kw.arg == "fromlist" for kw in node.keywords)
    ):
        return importlib.import_module(node.args[0].value)
    return None


def _package_keywords(path: str) -> list[tuple[int, str, str, bool]]:
    """(line, callable, keyword, accepted) for every keyword argument the
    script passes to a ``mycenae_spark`` callable."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    names = _package_names(tree)
    found = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        fn = _resolve(node.func, names)
        if fn is None or not callable(fn) or inspect.ismodule(fn):
            continue
        try:
            params = inspect.signature(fn).parameters
        except (TypeError, ValueError):
            continue  # builtins without a signature
        takes_any = any(
            p.kind is inspect.Parameter.VAR_KEYWORD for p in params.values()
        )
        for kw in node.keywords:
            if kw.arg is not None:
                found.append((
                    node.lineno, ast.unparse(node.func), kw.arg,
                    takes_any or kw.arg in params,
                ))
    return found


def test_keyword_guard_sees_script_calls():
    # perfbench/tsdb_read.py passes rollup_dir= to start_ingest: perfbench
    # is scanned, and the scan must see package calls, or the guard below
    # checks nothing
    calls = {
        (os.path.relpath(p, REPO), fn, kw)
        for p in SCRIPTS
        for _line, fn, kw, _ok in _package_keywords(p)
    }
    assert ("perfbench/tsdb_read.py", "start_ingest", "rollup_dir") in calls


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: os.path.relpath(p, REPO))
def test_script_package_keywords_exist(path):
    bad = [
        f"{os.path.relpath(path, REPO)}:{line}: {fn}(..., {kw}=...) — "
        f"{fn} has no parameter {kw!r}"
        for line, fn, kw, ok in _package_keywords(path)
        if not ok
    ]
    assert not bad, "\n".join(bad)
