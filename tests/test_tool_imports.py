"""Every package name the command-line tools import must exist.

The tools under ``tools/`` and ``bench.py`` import package internals
inside the branches that use them, so a deleted or renamed function only
fails when someone runs that one leg. This gate parses each file and
resolves every ``from bioclip_vector_db_spark... import X`` (X a module
or an attribute), plus every ``alias.attr`` read off a package module
bound by such an import, without running the tools.
"""

from __future__ import annotations

import ast
import glob
import importlib
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


def _unresolved(path: str) -> list[str]:
    tree = ast.parse(open(path).read(), filename=path)
    missing: list[str] = []
    modules: dict[str, object] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(_PKG):
            for alias in node.names:
                try:
                    obj = _resolve(node.module, alias.name)
                except (ImportError, AttributeError):
                    missing.append(f"line {node.lineno}: {node.module}.{alias.name}")
                    continue
                if type(obj).__name__ == "module":
                    modules[alias.asname or alias.name] = obj
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith(_PKG):
                    try:
                        importlib.import_module(alias.name)
                    except ImportError:
                        missing.append(f"line {node.lineno}: {alias.name}")
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
            and not hasattr(modules[node.value.id], node.attr)
        ):
            missing.append(f"line {node.lineno}: {node.value.id}.{node.attr}")
    return missing


@pytest.mark.parametrize("path", _FILES, ids=os.path.basename)
def test_tool_package_imports_resolve(path):
    assert _unresolved(path) == []
