"""The scripts under ``tools/`` stay runnable as the package changes.

They run by hand, so nothing else notices when a refactor deletes or
renames a package internal one of them imports.  This check starts no
Spark session: it byte-compiles every script and resolves each
``from recsys_mapreduce_mrjob_spark… import name`` it contains.
"""

from __future__ import annotations

import ast
import glob
import importlib
import os
import py_compile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "recsys_mapreduce_mrjob_spark"
TOOLS = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))


def _package_imports(path: str) -> list[tuple[str, str]]:
    tree = ast.parse(open(path, encoding="utf-8").read(), filename=path)
    return [
        (node.module, alias.name)
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and node.level == 0
        and node.module
        and node.module.split(".")[0] == PACKAGE
        for alias in node.names
    ]


def test_tools_exist():
    assert TOOLS, "no scripts found under tools/"


@pytest.mark.parametrize("path", TOOLS, ids=os.path.basename)
def test_tool_compiles_and_its_package_imports_resolve(path, tmp_path):
    py_compile.compile(path, cfile=str(tmp_path / "out.pyc"), doraise=True)
    for module, name in _package_imports(path):
        mod = importlib.import_module(module)
        if hasattr(mod, name):
            continue
        try:
            # ``from pkg import submodule`` names a module, not an attribute
            importlib.import_module(f"{module}.{name}")
        except ImportError:
            pytest.fail(f"{os.path.basename(path)}: {module} has no {name!r}")
