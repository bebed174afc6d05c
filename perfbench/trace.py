"""Driver-side spans around calls into the package's modules.

A ``Tracer`` replaces a package function with a wrapper that records one
span per call: name, start, end, parent span and the op it ran under.
Spans stay in memory until the run ends.

Two rules keep the wrappers from changing what they measure:

- A function is rebound in every package namespace that holds it
  (``operators.build`` imports the catalog writers by name), or the
  callers that use the other binding would go unmeasured.
- A name that a UDF closure references is never wrapped: cloudpickle
  would ship the wrapper to the executors, which cannot import this
  directory, and its time would be spent there. ``only_in`` limits such
  a function to the namespace whose callers run on the driver.
"""

from __future__ import annotations

import functools
import importlib
import sys
import threading
import time
from dataclasses import dataclass, field

PACKAGE = "pyramidscheme_jl_spark"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span on the same thread
    op: int | None  # op id the span ran under
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.duration - covered(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


class Tracer:
    """Span recorder plus the wrappers that feed it."""

    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: int | None = None
        self._undo: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin_op(self, op: int) -> None:
        """Spans recorded from now on, on any thread, belong to ``op``."""
        self._op = op

    def end_op(self) -> None:
        self._op = None

    def call(self, name: str, fn, *args, attrs_fn=None, **kwargs):
        """Run ``fn`` inside a span named ``name``. ``attrs_fn(args, kwargs,
        result)`` may return counts to attach to the span."""
        stack = self._stack()
        with self._lock:
            idx = len(self.spans)
            self.spans.append(
                Span(name, time.perf_counter(), float("nan"),
                     stack[-1] if stack else None, self._op)
            )
        stack.append(idx)
        try:
            out = fn(*args, **kwargs)
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()
        if attrs_fn is not None:
            self.spans[idx].attrs.update(attrs_fn(args, kwargs, out))
        return out

    # -- wrappers -----------------------------------------------------------

    def wrap(self, module: str, attr: str, name: str, only_in: tuple[str, ...] | None = None,
             attrs_fn=None) -> None:
        """Rebind ``<PACKAGE>.<module>.<attr>`` to a span-recording wrapper in
        every loaded package namespace holding the same object, or only in
        the namespaces listed in ``only_in``."""
        orig = getattr(importlib.import_module(f"{PACKAGE}.{module}"), attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return self.call(name, orig, *args, attrs_fn=attrs_fn, **kwargs)

        targets = (
            [sys.modules[f"{PACKAGE}.{m}"] for m in only_in]
            if only_in is not None
            else [
                m for n, m in list(sys.modules.items())
                if n == PACKAGE or n.startswith(PACKAGE + ".")
            ]
        )
        for mod in targets:
            if getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapper)
                self._undo.append((mod, attr, orig))

    def unwrap(self) -> None:
        for mod, attr, orig in reversed(self._undo):
            setattr(mod, attr, orig)
        self._undo.clear()

    # -- summaries ------------------------------------------------------------

    def by_name(self) -> dict[str, list[tuple[Span, float]]]:
        """name -> [(span, self_time)] for finished spans."""
        out: dict[str, list[tuple[Span, float]]] = {}
        for s, st in zip(self.spans, self_times(self.spans)):
            out.setdefault(s.name, []).append((s, st))
        return out
