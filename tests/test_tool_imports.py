"""Every package name the command-line tools import must exist, and
every keyword they pass to a package function must be one it takes.

The tools under ``tools/`` and ``bench.py`` import package internals
inside the branches that use them, so a deleted or renamed function or
keyword only fails when someone runs that one leg. This gate parses each
file and resolves every ``from bioclip_vector_db_spark... import X`` (X a
module or an attribute), plus every ``alias.attr`` read off a package
module bound by such an import, without running the tools. Each call of
a resolved function is then checked against its signature: a keyword it
does not name (and no ``**kwargs`` absorbs) is reported.
"""

from __future__ import annotations

import ast
import glob
import importlib
import inspect
import os

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = "bioclip_vector_db_spark"
_FILES = sorted(glob.glob(os.path.join(_REPO, "tools", "*.py"))) + [
    os.path.join(_REPO, "bench.py")
]


def _resolve(module: str, name: str):
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    return importlib.import_module(f"{module}.{name}")


def _bindings(tree: ast.AST) -> tuple[list[str], dict[str, object], dict[str, list]]:
    """(unresolvable imports, package modules by alias, imported package
    callables by alias — a name a file imports in more than one branch
    keeps every binding)."""
    missing: list[str] = []
    modules: dict[str, object] = {}
    funcs: dict[str, list] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(_PKG):
            for alias in node.names:
                try:
                    obj = _resolve(node.module, alias.name)
                except (ImportError, AttributeError):
                    missing.append(f"line {node.lineno}: {node.module}.{alias.name}")
                    continue
                if inspect.ismodule(obj):
                    modules[alias.asname or alias.name] = obj
                elif callable(obj):
                    funcs.setdefault(alias.asname or alias.name, []).append(obj)
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith(_PKG):
                    try:
                        importlib.import_module(alias.name)
                    except ImportError:
                        missing.append(f"line {node.lineno}: {alias.name}")
    return missing, modules, funcs


def _unresolved(path: str) -> list[str]:
    tree = ast.parse(open(path).read(), filename=path)
    missing, modules, _ = _bindings(tree)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
            and not hasattr(modules[node.value.id], node.attr)
        ):
            missing.append(f"line {node.lineno}: {node.value.id}.{node.attr}")
    return missing


def _accepts(fn, keyword: str) -> bool:
    try:
        params = inspect.signature(fn).parameters.values()
    except (TypeError, ValueError):  # no introspectable signature
        return True
    return any(
        p.kind is p.VAR_KEYWORD
        or (p.name == keyword and p.kind is not p.POSITIONAL_ONLY)
        for p in params
    )


def _bad_keywords(path: str) -> list[str]:
    tree = ast.parse(open(path).read(), filename=path)
    _, modules, funcs = _bindings(tree)
    bad: list[str] = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Name) and f.id in funcs:
            name, targets = f.id, funcs[f.id]
        elif (
            isinstance(f, ast.Attribute)
            and isinstance(f.value, ast.Name)
            and f.value.id in modules
            and callable(getattr(modules[f.value.id], f.attr, None))
        ):
            name = f"{f.value.id}.{f.attr}"
            targets = [getattr(modules[f.value.id], f.attr)]
        else:
            continue
        for kw in node.keywords:
            if kw.arg is not None and not any(_accepts(t, kw.arg) for t in targets):
                bad.append(f"line {node.lineno}: {name}(..., {kw.arg}=...)")
    return bad


@pytest.mark.parametrize("path", _FILES, ids=os.path.basename)
def test_tool_package_imports_resolve(path):
    assert _unresolved(path) == []


@pytest.mark.parametrize("path", _FILES, ids=os.path.basename)
def test_tool_package_call_keywords_exist(path):
    assert _bad_keywords(path) == []
