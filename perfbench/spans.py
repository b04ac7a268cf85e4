"""In-memory spans for the traced run, recorded from the benchmark's side.

A span is a named interval with an op id and a parent. The benchmark opens
spans around the calls it makes (the op root, the plan build, Catalyst
planning, the action) and :meth:`Tracer.wrap_functions` puts a span around
every call into the engine's public functions by replacing the module and
class attributes that hold them. Spark jobs read from the event log are
added after the run with :meth:`Tracer.add_span`, under the innermost span
that contains them. Nothing is written until the run ends.
"""

from __future__ import annotations

import functools
import inspect
import sys
import time
from collections import defaultdict
from collections.abc import Callable, Iterable
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    op: int
    name: str
    start: float
    end: float
    parent: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {
        s.sid: s.duration - covered(children.get(s.sid, ()), s.start, s.end)
        for s in spans
    }


class Tracer:
    """Span recorder for one single-threaded client.

    ``active`` switches recording on and off; wrapped functions call
    straight through while it is off.
    """

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.op = 0
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = Span(sid, self.op, name, time.time(), 0.0, parent)
        self.spans.append(span)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            span.end = time.time()

    def add_span(self, op: int, name: str, start: float, end: float) -> Span:
        """Add a span measured elsewhere, under the innermost span of
        ``op`` that contains it (the op root when none does)."""
        parent, best = None, None
        for s in self.spans:
            if s.op == op and s.start <= start and end <= s.end:
                if best is None or s.duration < best:
                    parent, best = s.sid, s.duration
        span = Span(len(self.spans), op, name, start, end, parent)
        self.spans.append(span)
        return span

    def _wrap(self, name: str, fn: Callable) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    def wrap_functions(
        self, package: str, prefixes: tuple[str, ...], skip: set[str]
    ) -> int:
        """Wrap the public functions and methods defined in the modules of
        ``package`` whose names start with one of ``prefixes``.

        Every attribute of a loaded ``package`` module that holds such a
        function is replaced, so callers that imported the name directly
        also go through the wrapper. Modules named in ``skip`` (those whose
        code is shipped to Python workers by value) and generator functions
        are left alone. ``functools.wraps`` keeps the module and qualified
        name, so a wrapped function sent to a worker is pickled by
        reference and the worker runs the original. Returns the number of
        functions wrapped.
        """
        modules = [
            m for n, m in list(sys.modules.items())
            if m is not None and (n == package or n.startswith(package + "."))
        ]
        wrapped: dict[int, Callable] = {}
        for mod in modules:
            short = mod.__name__[len(package) + 1:]
            if mod.__name__ in skip or not short.startswith(prefixes):
                continue
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_"):
                    continue
                if inspect.isfunction(obj) and obj.__module__ == mod.__name__:
                    if not inspect.isgeneratorfunction(obj):
                        wrapped[id(obj)] = self._wrap(f"{short}.{attr}", obj)
                elif inspect.isclass(obj) and obj.__module__ == mod.__name__:
                    for meth, fn in list(vars(obj).items()):
                        if (
                            meth.startswith("_")
                            or not inspect.isfunction(fn)
                            or inspect.isgeneratorfunction(fn)
                        ):
                            continue
                        w = self._wrap(f"{short}.{attr}.{meth}", fn)
                        self._restore.append((obj, meth, fn))
                        setattr(obj, meth, w)
        for mod in modules:
            for attr, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and id(obj) in wrapped:
                    self._restore.append((mod, attr, obj))
                    setattr(mod, attr, wrapped[id(obj)])
        return len(wrapped)

    def unwrap(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore.clear()

    def to_json(self) -> list[dict]:
        st = self_times(self.spans)
        return [
            {
                "id": s.sid, "op": s.op, "name": s.name, "start": s.start,
                "end": s.end, "parent": s.parent, "self": st[s.sid],
            }
            for s in self.spans
        ]
