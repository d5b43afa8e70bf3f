"""The scripts under ``scripts/`` import package names that no package
code calls, so deleting a package function can break a script without
breaking any other test. This check parses each script (no Spark
session) and resolves every ``from bag_parser_spark... import name`` and
``from perfbench import name``, plus every ``module.attr`` read through a
module it imports that way.
"""

from __future__ import annotations

import ast
import glob
import importlib
import os
from types import ModuleType

import pytest

SCRIPTS = sorted(
    glob.glob(
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "*.py")
    )
)


def _resolve(module: str, name: str):
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    return importlib.import_module(f"{module}.{name}")


@pytest.mark.parametrize("script", SCRIPTS, ids=os.path.basename)
def test_script_package_imports_resolve(script):
    with open(script) as f:
        tree = ast.parse(f.read(), script)
    modules: dict[str, ModuleType] = {}
    missing = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.ImportFrom)
            and node.level == 0
            and node.module.split(".")[0] in ("bag_parser_spark", "perfbench")
        ):
            for alias in node.names:
                try:
                    obj = _resolve(node.module, alias.name)
                except ImportError:
                    missing.append(f"{node.module}.{alias.name}")
                    continue
                if isinstance(obj, ModuleType):
                    modules[alias.asname or alias.name] = obj
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
            and not hasattr(modules[node.value.id], node.attr)
        ):
            missing.append(f"{modules[node.value.id].__name__}.{node.attr}")
    assert not missing, f"{os.path.basename(script)}: {missing}"
