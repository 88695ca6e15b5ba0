"""Spans and counters recorded from outside the package.

The benchmark patches class methods and registry entries of the package
(never names another module re-bound at import time) so that each call
into a layer opens a span, or, for per-call hot paths, bumps a counter.
Spans stay in memory; the benchmark summarises them when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """Records spans (name, start, end, parent, op id) and counters.

    Parents are tracked per thread, so a span opened on a pool thread is
    a root span of that thread; it still carries the op id that was
    current when it started.
    """

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[str, int] = defaultdict(int)
        self.times: dict[str, float] = defaultdict(float)
        self.enabled = False
        self.op: str | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []
        self._depth: dict[tuple[str, int], int] = defaultdict(int)

    # ---- recording -------------------------------------------------
    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans.append(Span(sid, name, start, end, parent, self.op))

    def add(self, name: str, count: int = 1, seconds: float = 0.0) -> None:
        with self._lock:
            self.counts[name] += count
            self.times[name] += seconds

    # ---- wrappers ----------------------------------------------------
    def spanned(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def counted(self, name: str, fn, timed: bool = False):
        """Count calls of ``fn`` (and time them when ``timed``).  Only
        the outermost call per thread counts, so an override calling
        its base class, or a recursive method, counts once; wrappers
        sharing a ``name`` share that depth."""
        depth = self._depth

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            key = (name, threading.get_ident())
            depth[key] += 1
            if depth[key] > 1:
                try:
                    return fn(*args, **kwargs)
                finally:
                    depth[key] -= 1
            t0 = time.perf_counter() if timed else 0.0
            try:
                return fn(*args, **kwargs)
            finally:
                depth[key] -= 1
                self.add(name, 1, time.perf_counter() - t0 if timed else 0.0)

        return wrapper

    # ---- patching ----------------------------------------------------
    def patch(self, owner, attr: str, make) -> None:
        """Replace ``owner.attr`` by ``make(original)``; :meth:`restore`
        puts every original back."""
        orig = owner[attr] if isinstance(owner, dict) else owner.__dict__[attr]
        new = make(orig)
        if isinstance(owner, dict):
            owner[attr] = new
        else:
            setattr(owner, attr, new)
        self._undo.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)
        self._undo.clear()


# ---- analysis ------------------------------------------------------------
def _union(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s.start), min(b, s.end))
            for a, b in kids.get(s.id, ())
            if min(b, s.end) > max(a, s.start)
        ]
        out[s.id] = (s.end - s.start) - _union(clipped)
    return out


def check_spans(spans: list[Span]) -> list[str]:
    """Problems with the span set: unknown parents, children outside
    their parent, negative durations or self times."""
    by_id = {s.id: s for s in spans}
    problems = []
    for s in spans:
        if s.end < s.start:
            problems.append(f"span {s.id} {s.name}: ends before it starts")
        if s.parent is None:
            continue
        p = by_id.get(s.parent)
        if p is None:
            problems.append(f"span {s.id} {s.name}: unknown parent {s.parent}")
        elif s.start < p.start or s.end > p.end:
            problems.append(f"span {s.id} {s.name}: outside parent {p.name}")
    for sid, t in self_times(spans).items():
        if t < -1e-9:
            problems.append(f"span {sid}: negative self time {t}")
    return problems


def outermost_total(spans: list[Span], name: str) -> float:
    """Summed duration of ``name`` spans not nested in another span of
    the same name."""
    by_id = {s.id: s for s in spans}

    def nested(s: Span) -> bool:
        p = by_id.get(s.parent) if s.parent is not None else None
        while p is not None:
            if p.name == name:
                return True
            p = by_id.get(p.parent) if p.parent is not None else None
        return False

    return sum(s.end - s.start for s in spans if s.name == name and not nested(s))


def uncovered(spans: list[Span], start: float, end: float) -> float:
    """Wall time in ``[start, end]`` that no span covers."""
    return (end - start) - _union(
        [(max(s.start, start), min(s.end, end)) for s in spans if s.end > start and s.start < end]
    )
