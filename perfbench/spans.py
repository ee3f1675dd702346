"""Spans around calls into the package's layers, recorded from outside.

The traced run wraps the public functions of the ``sources``,
``functions``, ``operators`` and ``streaming`` packages and rebinds
every module-level name that refers to one of them, including the names
the ``plans`` modules imported, so a call from a catalog plan function
into a layer opens a span. The runner opens spans itself around the plan
function (``QuerySpec.spark``), the action and ``get_spark``.

Each span records its name, layer, start, end (epoch seconds, the clock
Spark's event log uses), parent and entry. Spans stay in memory until
the run ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from .eventlog import union_s

PACKAGE = "hebrew_tutor_data_pipeline_spark"
LAYERS = ("sources", "functions", "operators", "streaming")


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    start: float
    end: float | None
    parent: int | None
    entry: str | None


class Tracer:
    """Collects spans. Each thread keeps its own stack of open spans, so a
    span opened in a streaming callback thread does not nest under the
    main thread's spans."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.entry: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        with self._lock:
            s = Span(len(self.spans), name, layer, time.time(), None,
                     stack[-1].span_id if stack else None, self.entry)
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced


def _layer_modules(layer: str) -> list:
    pkg = importlib.import_module(f"{PACKAGE}.{layer}")
    mods = [pkg]
    for info in pkgutil.iter_modules(pkg.__path__, prefix=f"{pkg.__name__}."):
        mods.append(importlib.import_module(info.name))
    return mods


def _traceable(obj, module_name: str) -> bool:
    """A public plain function defined in the module. Generator functions
    are skipped (their body runs after the call returns), and so are
    pandas UDF objects (they carry ``evalType`` and run on workers)."""
    return (
        inspect.isfunction(obj)
        and obj.__module__ == module_name
        and not obj.__name__.startswith("_")
        and not inspect.isgeneratorfunction(obj)
        and not hasattr(obj, "evalType")
    )


@contextmanager
def layers_wrapped(tracer: Tracer):
    """Wrap every layer's public functions for the duration of the block
    and restore the original bindings afterwards."""
    wrappers: dict[int, tuple[object, object]] = {}  # id(original) → (original, wrapper)
    for layer in LAYERS:
        for mod in _layer_modules(layer):
            short = mod.__name__.rsplit(".", 1)[-1]
            for attr, obj in vars(mod).items():
                if _traceable(obj, mod.__name__) and id(obj) not in wrappers:
                    wrappers[id(obj)] = (obj, tracer.wrap(obj, f"{layer}.{short}.{attr}", layer))
    rebound: list[tuple[object, str, object]] = []
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")):
            continue
        for attr, obj in list(vars(mod).items()):
            pair = wrappers.get(id(obj))
            if pair is not None and pair[0] is obj:
                setattr(mod, attr, pair[1])
                rebound.append((mod, attr, obj))
    try:
        yield len(wrappers)
    finally:
        for mod, attr, obj in rebound:
            setattr(mod, attr, obj)


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id → its duration minus the part of it its children cover.
    Children may overlap each other (spans from callback threads); the
    covered part is their union, clipped to the parent."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        covered = union_s([
            (max(c.start, s.start), min(c.end if c.end is not None else c.start, end))
            for c in children.get(s.span_id, [])
        ])
        out[s.span_id] = max(0.0, (end - s.start) - covered)
    return out


def innermost_span(spans: list[Span], t: float, entry: str | None) -> Span | None:
    """The innermost span of ``entry`` open at time ``t``: among spans
    that contain ``t``, the one that started last."""
    best = None
    for s in spans:
        if s.entry == entry and s.start <= t <= (s.end if s.end is not None else t):
            if best is None or s.start >= best.start:
                best = s
    return best
