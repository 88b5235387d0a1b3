"""Spans recorded around the benchmark's calls into the engine's layers.

A span is (id, name, start, end, parent).  Spans live in memory and are
written out once, when the run ends.  Layer functions are wrapped from the
outside: ``Tracer.wrap`` swaps a module attribute for a span-recording
wrapper and ``Tracer.unwrap_all`` puts every original back, so the engine
code itself is never edited.  With tracing off no wrapper is installed.

The interval helpers are pure functions so the tests can pin them:
``union_ms`` (the union of overlapping job spans), ``attribute`` (a job
belongs to the innermost span open when it was submitted) and
``self_ms`` (a span's duration minus the part its children cover).
"""

from __future__ import annotations

import functools
import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, the same clock the JVM's job times use
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(next(self._ids), name, time.time(),
                 parent=self._stack[-1].id if self._stack else None, attrs=attrs)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)

    def wrap(self, owner: object, attr: str, name: str, **attr_fns) -> None:
        """Record a span around every call of ``owner.attr``; each
        ``attr_fns`` value maps the call's (args, kwargs) to a span attr."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            attrs = {k: fn(args, kwargs) for k, fn in attr_fns.items()}
            with self.span(name, **attrs):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, original))

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(asdict(s)) + "\n")


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Total length, in ms, of the union of (start, end) intervals in s."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total * 1000.0


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def attribute(spans: list[Span], t: float) -> Span | None:
    """The innermost span open at time ``t`` (a job's submission time)."""
    best = None
    for s in spans:
        if s.start <= t < s.end and (best is None or s.start >= best.start):
            best = s
    return best


def self_ms(span: Span, spans: list[Span]) -> float:
    children = [(c.start, c.end) for c in spans if c.parent == span.id]
    return span.ms - union_ms(clip(children, span.start, span.end))
