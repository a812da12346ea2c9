"""In-memory spans around the benchmark's calls into the engine.

A span is ``(id, name, parent, start, end)``; the parent is the span
open when it began, so nesting follows the call stack of the one client.
Spans stay in memory until :meth:`Tracer.dump`. A layer's self time is
its span's duration minus the time its child spans cover.

With tracing off, :meth:`Tracer.span` still times the block (the
workload needs the duration either way) but records nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Timer:
    """The duration of one ``with`` block, read after it closes."""

    seconds = 0.0


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        timer = Timer()
        if not self.enabled:
            t0 = time.perf_counter()
            try:
                yield timer
            finally:
                timer.seconds = time.perf_counter() - t0
            return
        sp = Span(len(self.spans), name, self._stack[-1] if self._stack else None, 0.0)
        self.spans.append(sp)
        self._stack.append(sp.id)
        sp.start = time.perf_counter()
        try:
            yield timer
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            timer.seconds = sp.seconds

    def durations(self, name: str) -> list[float]:
        return [s.seconds for s in self.spans if s.name == name]

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its direct children cover.
        Children of one client never overlap, so their sum is the
        covered time."""
        covered = {s.id: 0.0 for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                covered[s.parent] += s.seconds
        return {s.id: s.seconds - covered[s.id] for s in self.spans}

    def overhead_s(self, samples: int = 20_000) -> float:
        """Recording cost of this run's spans, measured by recording
        ``samples`` empty spans on a scratch tracer."""
        if not self.spans:
            return 0.0
        probe = Tracer(True)
        t0 = time.perf_counter()
        for _ in range(samples):
            with probe.span("probe"):
                pass
        return (time.perf_counter() - t0) / samples * len(self.spans)

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self_s": selfs[s.id]}) + "\n")
