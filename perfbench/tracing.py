"""Spans recorded from the benchmark's side of each layer boundary.

A span is ``(id, name, start_ns, end_ns, parent, run_id)``. Spans are
kept in memory and written once, as JSON lines, when the run ends.
The tracer is single-threaded: it is driven by the driver thread only.
"""

from __future__ import annotations

import contextlib
import json
import time
from typing import NamedTuple


class Span(NamedTuple):
    id: int
    name: str
    start_ns: int
    end_ns: int
    parent: int | None
    run_id: str


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.perf_counter_ns()
        try:
            yield sid
        finally:
            t1 = time.perf_counter_ns()
            self._stack.pop()
            self.spans.append(Span(sid, name, t0, t1, parent, self.run_id))

    def wrap(self, name: str, fn, on_enter=None):
        """``fn`` with every call recorded as a span named ``name``.
        ``on_enter(name)`` may return a callable run on exit."""

        def traced(*args, **kwargs):
            undo = on_enter(name) if on_enter else None
            try:
                with self.span(name):
                    return fn(*args, **kwargs)
            finally:
                if undo:
                    undo()

        return traced

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s._asdict()) + "\n")


def self_times_ns(spans: list) -> dict:
    """Per span name: total duration and total self time (duration
    minus the part of its interval covered by its children), in ns."""
    children: dict = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict = {}
    for s in spans:
        covered = 0
        cur_end = s.start_ns
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start_ns):
            lo, hi = max(c.start_ns, cur_end), min(c.end_ns, s.end_ns)
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        tot = out.setdefault(s.name, {"total_ns": 0, "self_ns": 0, "calls": 0})
        tot["total_ns"] += s.end_ns - s.start_ns
        tot["self_ns"] += s.end_ns - s.start_ns - covered
        tot["calls"] += 1
    return out


@contextlib.contextmanager
def patched(targets: list):
    """Temporarily replace module attributes: ``targets`` holds
    ``(module, attribute, replacement)`` triples."""
    saved = [(m, a, getattr(m, a)) for m, a, _ in targets]
    try:
        for m, a, new in targets:
            setattr(m, a, new)
        yield
    finally:
        for m, a, old in saved:
            setattr(m, a, old)
