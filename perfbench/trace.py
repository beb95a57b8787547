"""In-memory span recorder used by the traced benchmark run.

A span is one timed call into a layer: ``(id, parent, name, rid, t0,
t1, attrs)``. Spans nest through a per-thread stack; a span opened on
another thread can name its parent explicitly. All spans of one request
share the request id (``rid``). Spans stay in memory; the process
writes ``rows()`` out when it exits.

``self_times`` gives each span's duration minus the part of its
interval that its children cover, which is how per-layer self time is
computed from the dumped spans.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    rid: str | None
    t0: float
    t1: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.t1 if self.t1 is not None else self.t0) - self.t0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    # -- stack -------------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    def start(self, name: str, *, rid: str | None = None, parent: Span | None = None,
              push: bool = True) -> Span:
        cur = self.current()
        par = parent if parent is not None else cur
        sp = Span(next(self._ids), par.id if par else None, name,
                  rid if rid is not None else (par.rid if par else None),
                  time.perf_counter())
        self.spans.append(sp)
        if push:
            self._stack().append(sp)
        return sp

    def finish(self, sp: Span, *, pop: bool = True) -> None:
        sp.t1 = time.perf_counter()
        if pop:
            st = self._stack()
            if st and st[-1] is sp:
                st.pop()

    # -- wrappers ------------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, *, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a function that runs the original
        inside a span called ``name``. ``before(span, args)`` and
        ``after(span, args, result)`` run inside the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            sp = tracer.start(name)
            try:
                if before is not None:
                    before(sp, args)
                out = orig(*args, **kwargs)
                if after is not None:
                    after(sp, args, out)
                return out
            finally:
                tracer.finish(sp)

        setattr(owner, attr, traced)

    def iterate(self, it: Iterable, name: str, parent: Span | None) -> Iterator:
        """Yield from ``it``, recording each ``next`` as a span ``name``
        under ``parent`` (the iterator may be drained on another thread)."""
        src = iter(it)
        while True:
            sp = self.start(name, parent=parent, push=False)
            try:
                item = next(src)
            except StopIteration:
                self.finish(sp, pop=False)
                return
            self.finish(sp, pop=False)
            yield item

    # -- output --------------------------------------------------------------

    def rows(self) -> list[list]:
        return [[s.id, s.parent, s.name, s.rid, s.t0, s.t1, s.attrs] for s in self.spans]


def from_rows(rows: list[list]) -> list[Span]:
    return [Span(*row) for row in rows]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals,
    each clipped to the parent's interval."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[int, float] = {}
    for s in spans:
        if s.t1 is None:
            continue
        covered = 0.0
        end = s.t0
        for c in sorted(children.get(s.id, ()), key=lambda c: c.t0):
            if c.t1 is None:
                continue
            lo, hi = max(c.t0, end), min(c.t1, s.t1)
            if hi > lo:
                covered += hi - lo
                end = hi
        out[s.id] = s.duration - covered
    return out


def sum_by_name(spans: list[Span], values: dict[int, float]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in spans:
        if s.id in values:
            out[s.name] = out.get(s.name, 0.0) + values[s.id]
    return out
