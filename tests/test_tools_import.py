"""Smoke test for the command-line scripts in ``tools/``: each one must
import without running (``main`` sits behind a ``__main__`` guard), and
every ``chronominer_spark`` name it imports — at module level or lazily
inside a function — must still exist, so removing engine code a kept
tool depends on fails here rather than at the tool's next use."""

from __future__ import annotations

import ast
import importlib
import pathlib

import pytest

TOOLS = sorted(
    p for p in (pathlib.Path(__file__).parent.parent / "tools").glob("*.py")
    if p.name != "__init__.py"
)


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.stem)
def test_tool_imports(path):
    mod = importlib.import_module(f"tools.{path.stem}")
    assert callable(getattr(mod, "main", None)), f"{path.name} has no main()"
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.ImportFrom) and node.module \
                and node.module.startswith("chronominer_spark"):
            target = importlib.import_module(node.module)
            for alias in node.names:
                assert hasattr(target, alias.name), (
                    f"{path.name}: {node.module}.{alias.name} is gone")
