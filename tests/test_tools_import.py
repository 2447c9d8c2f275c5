"""Smoke test for the command-line scripts in ``tools/`` and for
``bench_extra.py``: each one must import without running (``main`` sits
behind a ``__main__`` guard; ``bench_extra.py`` dispatches on argv
there and has no ``main``), and every ``chronominer_spark`` name it
uses must still exist — names imported at module level or lazily
inside a function, and ``<alias>.<name>`` attributes read off an
imported ``chronominer_spark`` module — and every keyword argument it
passes to such a name must still be a parameter of it, so removing
engine code or an option a kept script depends on fails here rather
than at the script's next use.

The reverse check covers the streaming package: every public top-level
class or function in ``chronominer_spark/streaming/`` must be named by
non-test code (a query, a job, another package module or the perfbench
source; the package ``__init__`` re-exports do not count), so a twin
that only its own tests reach fails here.

The benchmark's ``perfbench/*.py`` files are only read, never imported
(they are a frozen instrument with their own entry point): the same
name check runs over their source, plus every ``wrap(<engine class>,
"<attr>", ...)`` span target of ``perfbench/tracing.py``, so a refactor
that breaks the benchmark fails here."""

from __future__ import annotations

import ast
import importlib
import inspect
import pathlib
import types

import pytest

REPO = pathlib.Path(__file__).parent.parent
TOOLS = sorted(
    p for p in (REPO / "tools").glob("*.py") if p.name != "__init__.py"
)
SCRIPTS = TOOLS + [REPO / "bench_extra.py"]
PERFBENCH = sorted((REPO / "perfbench").glob("*.py"))
PACKAGE = REPO / "chronominer_spark"
STREAMING = PACKAGE / "streaming"

# public streaming names whose callers live outside the repo, with why
STREAMING_ENTRY_POINTS = {
    "run_available_now_pass": "the suite twin's resumable AvailableNow "
                              "pass (ST3); a scheduler calls it",
}


def _check_engine_names(path: pathlib.Path) -> set[tuple[str, str]]:
    """Assert every ``chronominer_spark`` name ``path`` uses exists and
    every keyword it passes to a ``chronominer_spark`` callable is still
    a parameter of that callable; return the ``(class, attr)`` targets
    of its ``wrap`` calls."""
    tree = ast.parse(path.read_text())
    modules: dict[str, types.ModuleType] = {}   # local alias -> module
    imported: dict[str, object] = {}            # local name -> object
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module \
                and node.module.startswith("chronominer_spark"):
            target = importlib.import_module(node.module)
            for alias in node.names:
                assert hasattr(target, alias.name), (
                    f"{path.name}: {node.module}.{alias.name} is gone")
                obj = getattr(target, alias.name)
                imported[alias.asname or alias.name] = obj
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
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Name) and f.id in imported:
            fn, label = imported[f.id], f.id
        elif isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name) \
                and f.value.id in modules:
            fn, label = getattr(modules[f.value.id], f.attr), f.attr
        else:
            continue
        if not callable(fn) or isinstance(fn, types.ModuleType):
            continue
        params = inspect.signature(fn).parameters
        if any(q.kind is q.VAR_KEYWORD for q in params.values()):
            continue
        for kw in node.keywords:
            assert kw.arg is None or kw.arg in params, (
                f"{path.name}:{node.lineno}: {label}() has no "
                f"parameter {kw.arg!r}")
    wrapped = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) \
                and getattr(node.func, "id", None) == "wrap" \
                and len(node.args) > 1 \
                and isinstance(node.args[0], ast.Name) \
                and node.args[0].id in imported \
                and isinstance(node.args[1], ast.Constant):
            cls, attr = node.args[0].id, node.args[1].value
            assert hasattr(imported[cls], attr), (
                f"{path.name}: wrap target {cls}.{attr} is gone")
            wrapped.add((cls, attr))
    return wrapped


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.stem)
def test_tool_imports(path):
    if path.parent.name == "tools":
        mod = importlib.import_module(f"tools.{path.stem}")
        assert callable(getattr(mod, "main", None)), \
            f"{path.name} has no main()"
    else:
        importlib.import_module(path.stem)
    _check_engine_names(path)


@pytest.mark.parametrize("path", PERFBENCH, ids=lambda p: f"perfbench-{p.stem}")
def test_perfbench_engine_names(path):
    wrapped = _check_engine_names(path)
    if path.name == "tracing.py":
        assert {("RefAggCache", "load"), ("RefAggCache", "save"),
                ("SnapshotTable", "snapshots")} <= wrapped, wrapped


def _names_used(path: pathlib.Path) -> set[str]:
    """Every identifier ``path`` reads, imports or takes as an
    attribute (definitions themselves are not uses)."""
    used = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Attribute):
            used.add(node.attr)
        elif isinstance(node, ast.ImportFrom):
            used.update(alias.name for alias in node.names)
    return used


def test_every_streaming_name_has_a_consumer():
    public = {
        node.name
        for path in STREAMING.glob("*.py")
        for node in ast.parse(path.read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.ClassDef))
        and not node.name.startswith("_")
    }
    assert set(STREAMING_ENTRY_POINTS) <= public
    consumers = [p for p in PACKAGE.rglob("*.py")
                 if p != STREAMING / "__init__.py"] + PERFBENCH
    used = set().union(*(_names_used(p) for p in consumers))
    unreached = sorted(public - used - set(STREAMING_ENTRY_POINTS))
    assert unreached == [], (
        f"streaming names only tests reach: {unreached}")
