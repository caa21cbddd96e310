"""Layer spans for the traced benchmark run, recorded from outside the
package.

``LayerTracer.install`` wraps every public function defined in a
layer module and rebinds each module-level name in the package that
refers to it, so calls from the ``q_*`` query modules, from
function-local imports and between operators all pass through the
wrapper; ``uninstall`` puts the originals back. References captured
before ``install`` (a default argument, a dict of functions) still
call the original, whose time then counts as its caller's self time.

DataFrames are lazy: a layer's span covers its plan building and the
eager Spark jobs it starts. Executing the final plan lands in the
``query.action`` span.
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
from dataclasses import dataclass, field

PACKAGE = "bbcnews_scraper_nlp_spark"
_GROUPED = ("functions", "sources", "plans", "streaming")


def layer_of(module_name: str) -> str | None:
    """The layer a package module belongs to, or None for the query
    modules and the registry. ``functions``, ``sources``, ``plans``
    and ``streaming`` are one layer each; every ``operators`` module
    is a layer of its own."""
    if not module_name.startswith(PACKAGE + "."):
        return None
    rel = module_name[len(PACKAGE) + 1 :]
    head, _, tail = rel.partition(".")
    if rel in ("catalog", "session") or (head in _GROUPED and tail):
        return head
    if head == "operators" and tail:
        return rel
    return None


@dataclass(slots=True)
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    query: int | None
    jobs: list[int] = field(default_factory=list)
    """Spark jobs submitted while this was the innermost open span."""


class _Traced:
    """Stand-in for a layer function; records a span per call."""

    def __init__(self, fn, layer: str, tracer: LayerTracer):
        functools.update_wrapper(self, fn)
        self._fn, self._name, self._layer, self._tracer = (
            fn, f"{layer}:{fn.__name__}", layer, tracer,
        )

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._name, self._layer):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        # Spark pickles functions that its Python workers run. A worker
        # imports the package untraced, so send a reference to the
        # original instead of the tracer.
        return getattr, (sys.modules[self._fn.__module__], self._fn.__name__)


class LayerTracer:
    """Keeps spans in memory; the caller writes them out at the end."""

    def __init__(self):
        self.spans: list[Span] = []
        self.query: int | None = None
        self._stacks: dict[int, list[int]] = {}
        self._query_thread: int | None = None
        self._bound: list[tuple[object, str, object]] = []
        # perf_counter -> epoch seconds, to line spans up with the
        # status store's job times
        self.epoch_offset = time.time() - time.perf_counter()

    def install(self) -> None:
        # Query functions import most layer modules lazily; load them
        # all now so that none escapes the wrappers.
        pkg = importlib.import_module(PACKAGE)
        for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
            importlib.import_module(info.name)
        modules = [
            m for n, m in list(sys.modules.items())
            if m is not None and (n == PACKAGE or n.startswith(PACKAGE + "."))
        ]
        wrappers = {}
        for mod in modules:
            layer = layer_of(mod.__name__)
            if layer is None:
                continue
            for name, obj in vars(mod).items():
                if (
                    not name.startswith("_")
                    and inspect.isfunction(obj)
                    and obj.__module__ == mod.__name__
                ):
                    wrappers[id(obj)] = _Traced(obj, layer, self)
        for mod in modules:
            for name, obj in list(vars(mod).items()):
                w = wrappers.get(id(obj))
                if w is not None:
                    self._bound.append((mod, name, obj))
                    setattr(mod, name, w)

    def uninstall(self) -> None:
        for mod, name, obj in self._bound:
            setattr(mod, name, obj)
        self._bound.clear()

    @contextmanager
    def span(self, name: str, layer: str):
        tid = threading.get_ident()
        stack = self._stacks.setdefault(tid, [])
        if stack:
            parent = stack[-1]
        else:
            # a streaming batch thread: its caller is blocked in the
            # query thread's innermost span
            outer = self._stacks.get(self._query_thread) or [None]
            parent = outer[-1]
        idx = len(self.spans)
        sp = Span(name, layer, time.perf_counter(), 0.0, parent, self.query)
        self.spans.append(sp)
        stack.append(idx)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    @contextmanager
    def query_span(self, query: int, name: str, layer: str):
        """A root span for one phase of query execution ``query``."""
        self.query, self._query_thread = query, threading.get_ident()
        with self.span(name, layer):
            yield


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span], first: int, end: int) -> dict[int, float]:
    """Self time of each span in ``spans[first:end]``, by index: its
    duration minus the part of it that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans[first:end]:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    out = {}
    for i in range(first, end):
        sp = spans[i]
        kids = [
            (max(s, sp.start), min(e, sp.end))
            for s, e in children.get(i, ())
            if e > sp.start and s < sp.end
        ]
        out[i] = sp.end - sp.start - union_length(kids)
    return out


def innermost(spans: list[Span], t: float) -> Span | None:
    """The innermost of ``spans`` open at time ``t``."""
    best = None
    for sp in spans:
        if sp.start <= t <= sp.end and (best is None or sp.start >= best.start):
            best = sp
    return best
