"""Spans recorded around calls into the engine.

A :class:`Tracer` keeps spans (name, start, end, parent, run id) in
memory and writes them out once at the end of the run. Every span also
tags the Spark jobs started inside it (``setJobGroup``), so the event
log can attribute task metrics to the span that caused them. The
untraced path uses :class:`NullTracer`, whose spans cost one call.

Wrappers are installed from here onto engine objects and classes for
the duration of a traced run; nothing inside ``chronominer_spark``
knows about them.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None


class Tracer:
    enabled = True

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"pb:{span.id}", span.name)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), 0.0,
                 parent.id if parent else None, self.run_id, attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._group(parent)

    # ------------------------------------------------------------ analysis
    def _children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part its children cover (children of
        one span never overlap: the loop is single-threaded)."""
        kids = self._children()
        return {s.id: s.seconds - sum(c.seconds for c in kids.get(s.id, []))
                for s in self.spans}

    def descendants(self, root: Span) -> list[Span]:
        kids = self._children()
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, []))
        return out

    def named(self, name: str, under: Span | None = None) -> list[Span]:
        pool = self.descendants(under) if under is not None else self.spans
        return [s for s in pool if s.name == name]

    def self_per_root(self, roots: list[Span], name: str) -> list[float]:
        """For each root, the summed self time of its descendants called
        ``name``."""
        st = self.self_times()
        return [sum(st[d.id] for d in self.descendants(r) if d.name == name)
                for r in roots]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        st = self.self_times()
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self": st[s.id]}) + "\n")


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


# ---------------------------------------------------------------- wrappers
def wrap(obj, attr: str, tracer, name, after=None):
    """Replace ``obj.attr`` by a call inside span ``name`` (a string, or
    a callable of the call's args); ``after(span, result)`` may set span
    attributes. Returns an undo callable."""
    orig = getattr(obj, attr)

    @functools.wraps(orig)
    def traced(*args, **kwargs):
        with tracer.span(name(args) if callable(name) else name) as s:
            out = orig(*args, **kwargs)
            if after is not None:
                after(s, out)
        return out

    setattr(obj, attr, traced)
    if isinstance(obj, type):
        return lambda: setattr(obj, attr, orig)
    return lambda: obj.__dict__.pop(attr, None)


@contextlib.contextmanager
def class_wrappers(tracer):
    """Spans on engine classes whose instances are created inside the
    engine (a RefAggCache per wave) or by the streaming twins (tables)."""
    if not tracer.enabled:
        yield
        return
    from chronominer_spark.checkpoint import CheckpointManifest, RefAggCache
    from chronominer_spark.tables import AppendLog, SnapshotTable

    def hit(span, out):
        span.attrs["hit"] = out is not None

    undo = [
        wrap(RefAggCache, "load", tracer, "checkpoint.refagg_load",
             after=hit),
        wrap(RefAggCache, "save", tracer, "checkpoint.refagg_save"),
        wrap(CheckpointManifest, "mark_completed", tracer,
             "checkpoint.manifest_commit"),
        wrap(CheckpointManifest, "save_strategy_decisions", tracer,
             "checkpoint.manifest_commit"),
        wrap(SnapshotTable, "write_snapshot", tracer, "tables.commit"),
        wrap(SnapshotTable, "write_snapshot_partial", tracer,
             "tables.commit"),
        wrap(SnapshotTable, "snapshots", tracer, "tables.snapshots_list"),
        wrap(AppendLog, "append", tracer, "tables.commit"),
    ]
    try:
        yield
    finally:
        for u in reversed(undo):
            u()


def instrument_runner(runner, tracer) -> None:
    """Phase spans on one SuiteRunner instance: discover, evaluate call,
    results and violations writes; the readback is added by
    :func:`traced_run`."""
    runner._pb_readback_t0 = None
    if not tracer.enabled:
        return
    ev = runner.evaluator
    wrap(ev, "evaluate", tracer, "runner.evaluate_call")
    wrap(runner, "_partition_values", tracer, "runner.discover")
    wrap(runner, "_write", tracer,
         lambda a: ("runner.results_write" if a[1] == runner.results_path
                    else "runner.violations_write"))
    orig_results = runner.results

    def results(*a, **k):
        runner._pb_readback_t0 = time.perf_counter()
        return orig_results(*a, **k)

    runner.results = results


def traced_run(runner, tracer, *args, **kwargs):
    """SuiteRunner.run inside a ``runner.run`` span; the tail from the
    results re-read to the return becomes a ``runner.readback`` child.
    The span records the strategy decisions the manifest held at the
    start and the partitions skipped."""
    if not tracer.enabled:
        return runner.run(*args, **kwargs)
    cached = runner.manifest.strategy_decisions(
        kwargs.get("snapshot_id", 0), runner.suite.suite_hash())
    with tracer.span("runner.run") as s:
        summary = runner.run(*args, **kwargs)
    if runner._pb_readback_t0 is not None:
        tracer.spans.append(Span(
            len(tracer.spans), "runner.readback",
            runner._pb_readback_t0, s.end, s.id, tracer.run_id))
        runner._pb_readback_t0 = None
    s.attrs.update(skipped=len(summary.skipped),
                   strategy_cache_hits=len(cached))
    return summary
