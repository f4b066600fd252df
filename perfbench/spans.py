"""In-memory spans recorded from the benchmark's side of each layer boundary.

The benchmark never edits the package: ``Tracer.wrap_modules`` swaps each
public function of a layer module for a wrapper that records a span and
returns the original result unchanged (a lazy DataFrame stays lazy). The
swap is applied in every loaded module that holds a reference to the
function, because the package imports functions by name.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import sys
import threading
import time
import traceback
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    query: str = ""

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` pairs."""
    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its interval
    that its direct children cover (children clipped to the parent)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        kids = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, ())
            if c.end > s.start and c.start < s.end
        ]
        out[s.id] = s.duration - union_length(kids)
    return out


class Tracer:
    """Records spans and counters; ``enabled`` gates recording so wrappers
    can stay installed while untraced passes run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counters: dict[tuple[str, str], float] = {}
        self.enabled = False
        self.query = ""
        self._root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self._restore: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> Span:
        st = self._stack()
        parent = st[-1] if st else self._root
        with self._lock:
            span = Span(self._next, parent, name, time.perf_counter(), query=self.query)
            self._next += 1
            self.spans.append(span)
        st.append(span.id)
        return span

    def end(self, span: Span) -> None:
        span.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] == span.id:
            st.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.begin(name)
        try:
            yield s
        finally:
            self.end(s)

    def start_query(self, query: str) -> Span:
        """Open the root span of one query; spans opened on other threads
        while it is open (stream callbacks) hang under it."""
        self.query = query
        span = self.begin("query")
        self._root = span.id
        return span

    def end_query(self, span: Span) -> None:
        self.end(span)
        self._root = None
        self.query = ""

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            key = (self.query, name)
            with self._lock:
                self.counters[key] = self.counters.get(key, 0.0) + value

    # -- wrapping ----------------------------------------------------------
    def wrapper(self, layer: str, fn, on_call=None):
        """Wrap ``fn`` so each call records span ``layer.<name>``.
        ``on_call(tracer, args, kwargs, result)`` may add counters."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            span = tracer.begin(f"{layer}.{fn.__name__}")
            try:
                result = fn(*args, **kwargs)
            finally:
                tracer.end(span)
            if on_call is not None:
                try:
                    on_call(tracer, args, kwargs, result)
                except Exception:  # noqa: BLE001 - a counter must never fail the query
                    traceback.print_exc(file=sys.stderr)
                    tracer.count("bench.hook_errors")
            return result

        traced.__perfbench_wrapped__ = fn
        return traced

    def patch(self, owner, attr: str, new) -> None:
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap_modules(self, layers: dict[str, str], package: str, hooks=None) -> int:
        """Wrap every public function defined in each layer module.
        ``layers`` maps layer name -> module name; returns functions wrapped."""
        hooks = hooks or {}
        modules = {layer: importlib.import_module(name) for layer, name in layers.items()}
        holders = [
            m
            for n, m in list(sys.modules.items())
            if m is not None and (n == package or n.startswith(package + ".") or n == "__spark_entry__")
        ]
        wrapped = 0
        for layer, mod in modules.items():
            for name, fn in list(vars(mod).items()):
                if name.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                    continue
                new = self.wrapper(layer, fn, hooks.get(f"{layer}.{name}"))
                for holder in holders:
                    for attr, val in list(vars(holder).items()):
                        if val is fn:
                            self.patch(holder, attr, new)
                wrapped += 1
        return wrapped

    def unwrap_all(self) -> None:
        while self._restore:
            owner, attr, old = self._restore.pop()
            setattr(owner, attr, old)


def layer_self_times(spans: list[Span]) -> dict[tuple[str, str], float]:
    """Sum self time per ``(query, layer)``, where the layer is the span
    name up to its last dot (``pysink.merge_into_manifest_sink`` ->
    ``pysink``, ``query.build`` -> ``query.build``)."""
    st = self_times(spans)
    out: dict[tuple[str, str], float] = {}
    for s in spans:
        if s.name == "query":
            continue
        layer = s.name if s.name.startswith("query.") else s.name.rsplit(".", 1)[0]
        key = (s.query, layer)
        out[key] = out.get(key, 0.0) + st[s.id]
    return out
