"""Smoke test for the command-line scripts in ``tools/`` and for
``bench_extra.py``: each one must import without running (``main`` sits
behind a ``__main__`` guard; ``bench_extra.py`` dispatches on argv
there and has no ``main``), and every ``chronominer_spark`` name it
uses must still exist — names imported at module level or lazily
inside a function, and ``<alias>.<name>`` attributes read off an
imported ``chronominer_spark`` module — so removing engine code a kept
script depends on fails here rather than at the script's next use."""

from __future__ import annotations

import ast
import importlib
import pathlib
import types

import pytest

REPO = pathlib.Path(__file__).parent.parent
TOOLS = sorted(
    p for p in (REPO / "tools").glob("*.py") if p.name != "__init__.py"
)
SCRIPTS = TOOLS + [REPO / "bench_extra.py"]


def _check_engine_names(path: pathlib.Path) -> None:
    tree = ast.parse(path.read_text())
    modules: dict[str, types.ModuleType] = {}   # local alias -> module
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module \
                and node.module.startswith("chronominer_spark"):
            target = importlib.import_module(node.module)
            for alias in node.names:
                assert hasattr(target, alias.name), (
                    f"{path.name}: {node.module}.{alias.name} is gone")
                obj = getattr(target, alias.name)
                if isinstance(obj, types.ModuleType):
                    modules[alias.asname or alias.name] = obj
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith("chronominer_spark") and alias.asname:
                    modules[alias.asname] = importlib.import_module(alias.name)
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) \
                and isinstance(node.value, ast.Name) \
                and node.value.id in modules:
            mod = modules[node.value.id]
            assert hasattr(mod, node.attr), (
                f"{path.name}: {mod.__name__}.{node.attr} is gone")


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.stem)
def test_tool_imports(path):
    if path.parent.name == "tools":
        mod = importlib.import_module(f"tools.{path.stem}")
        assert callable(getattr(mod, "main", None)), \
            f"{path.name} has no main()"
    else:
        importlib.import_module(path.stem)
    _check_engine_names(path)
