"""In-memory spans recorded around calls into the engine's modules.

A span is ``(name, start, end, parent)``; times are seconds on one
clock. Spans are kept in a list and read when the benchmark ends.
Wrapping rebinds a module attribute, so callers that look the name up
in that module at call time (``document.py`` calling ``parse_pdf``,
``extract_to_table`` calling ``create_table``) pass through the
wrapper; the engine's code is not edited.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into the recorder's span list


class Recorder:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, self.clock(), 0.0, parent))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx].end = self.clock()
        popped = self._stack.pop()
        if popped != idx:
            raise RuntimeError(f"span {idx} closed out of order ({popped})")

    def wrap(self, module, attr: str, name: str | None = None) -> None:
        """Rebind ``module.attr`` to a wrapper that records a span."""
        fn = getattr(module, attr)
        span_name = name or f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = self.open(span_name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(idx)

        self._patched.append((module, attr, fn))
        setattr(module, attr, wrapper)

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by ``intervals`` (overlaps counted once)."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover.

    Children are clipped to the parent's interval, so a child that
    outlives its parent (possible when spans come from two clocks)
    never makes a self time negative."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for span in spans:
        if span.parent is not None:
            p = spans[span.parent]
            lo, hi = max(span.start, p.start), min(span.end, p.end)
            if hi > lo:
                children[span.parent].append((lo, hi))
    return [
        (s.end - s.start) - union_length(children[i])
        for i, s in enumerate(spans)
    ]


def has_ancestor(spans: list[Span], idx: int, name: str) -> bool:
    parent = spans[idx].parent
    while parent is not None:
        if spans[parent].name == name:
            return True
        parent = spans[parent].parent
    return False
