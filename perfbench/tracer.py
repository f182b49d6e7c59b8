"""Spans around the engine's layer boundaries, recorded from outside.

An import hook wraps the public module-level functions of each layer
module right after the module executes, so modules that bind those
functions with ``from x import f`` get the wrapper too; the engine's
source is untouched. Spans live in memory; ``self_times`` turns them
into per-span self time (duration minus the part covered by children).
"""

from __future__ import annotations

import functools
import importlib.abc
import importlib.machinery
import inspect
import operator
import sys
import threading
import time
from dataclasses import dataclass

# module -> layer name, as reported in the per-layer metrics
LAYER_MODULES = {
    "padua_spark.sources.maxquant": "sources",
    "padua_spark.sources.design": "sources",
    "padua_spark.sources.perseus": "sources",
    "padua_spark.sources.phosphopath": "sources",
    "padua_spark.pipelines": "pipelines",
    **{
        f"padua_spark.operators.{m}": f"operators.{m}"
        for m in ("filters", "process", "normalization", "aggregates",
                  "stats", "imputation", "ml")
    },
    **{
        f"padua_spark.extensions.{m}": f"extensions.{m}"
        for m in ("similarity", "dedup", "graph", "text")
    },
}


@dataclass
class Span:
    layer: str
    name: str
    start: float  # time.time(), comparable with Spark event-log times
    end: float = 0.0
    parent: int = -1


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = False
        self._stack: list[int] = []
        self._thread = threading.get_ident()

    def open(self, layer: str, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(layer, name, time.time(), parent=parent))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        self._stack.pop()

    def active(self) -> bool:
        return self.enabled and threading.get_ident() == self._thread

    def instrument(self, module, layer: str) -> int:
        """Replace the module's public functions by traced wrappers."""
        n = 0
        for name, obj in list(vars(module).items()):
            if (
                not name.startswith("_")
                and inspect.isfunction(obj)
                and obj.__module__ == module.__name__
            ):
                setattr(module, name, _Traced(obj, layer, self))
                n += 1
        return n

    def install(self) -> "_Finder":
        finder = _Finder(self, LAYER_MODULES)
        sys.meta_path.insert(0, finder)
        return finder


class _Traced:
    """Callable stand-in for a layer function. It pickles as the
    original function, so Python UDFs that reference it ship the
    engine's code to the workers, not the tracer."""

    def __init__(self, fn, layer: str, tracer: Tracer):
        functools.update_wrapper(self, fn)
        self._fn = fn
        self._layer = layer
        self._tracer = tracer

    def __call__(self, *args, **kwargs):
        tracer = self._tracer
        if not tracer.active():
            return self._fn(*args, **kwargs)
        idx = tracer.open(self._layer, self.__name__)
        try:
            return self._fn(*args, **kwargs)
        finally:
            tracer.close(idx)

    def __reduce__(self):
        return operator.itemgetter(0), ((self._fn,),)


class _Loader(importlib.abc.Loader):
    def __init__(self, inner, layer: str, tracer: Tracer):
        self._inner = inner
        self._layer = layer
        self._tracer = tracer

    def create_module(self, spec):
        return self._inner.create_module(spec)

    def exec_module(self, module):
        self._inner.exec_module(module)
        self._tracer.instrument(module, self._layer)


class _Finder(importlib.abc.MetaPathFinder):
    def __init__(self, tracer: Tracer, layers: dict[str, str]):
        self._tracer = tracer
        self._layers = layers

    def find_spec(self, fullname, path, target=None):
        layer = self._layers.get(fullname)
        if layer is None:
            return None
        spec = importlib.machinery.PathFinder.find_spec(fullname, path)
        if spec is not None and spec.loader is not None:
            spec.loader = _Loader(spec.loader, layer, self._tracer)
        return spec


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    total, cur = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, end)
        if b > a:
            total += b - a
            cur = b
    return total


def self_times(spans: list[Span]) -> list[float]:
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent >= 0:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - covered(s.start, s.end, children.get(i, []))
        for i, s in enumerate(spans)
    ]


def innermost(spans: list[Span], t: float) -> int:
    """Index of the deepest span open at time ``t`` (-1 if none). Spans
    are in open order, so the last one containing ``t`` is the deepest."""
    found = -1
    for i, s in enumerate(spans):
        if s.start <= t <= s.end:
            found = i
    return found
