"""Every ``from database_migration_engine_spark… import name`` in
``__spark_entry__.py`` and the tools must resolve, so a deleted operator
cannot leave a script that fails only when someone runs it. The files
are parsed, never executed."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
PKG = "database_migration_engine_spark"
SOURCES = [REPO / "__spark_entry__.py", *sorted((REPO / "tools").glob("*.py"))]


def _package_imports(path: Path):
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if (
            isinstance(node, ast.ImportFrom)
            and node.level == 0
            and node.module
            and node.module.split(".")[0] == PKG
        ):
            for alias in node.names:
                yield node.module, alias.name


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: p.name)
def test_package_imports_resolve(path):
    missing = []
    for module, name in _package_imports(path):
        mod = importlib.import_module(module)
        if not hasattr(mod, name):
            try:  # ``from pkg import submodule``
                importlib.import_module(f"{module}.{name}")
            except ImportError:
                missing.append(f"{module}.{name}")
    assert not missing, f"{path.name} imports missing names: {missing}"
