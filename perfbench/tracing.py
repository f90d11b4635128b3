"""In-memory spans around the benchmark's calls into each layer.

A span has a name, start, end, parent and the run id shared by every span of
one run. Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), name, self._open[-1] if self._open else None,
                 self.run_id, time.perf_counter())
        self.spans.append(s)
        self._open.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it covered by the span's children."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == span.id)
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return span.duration - covered

    def totals(self, name: str) -> tuple[float, int]:
        """(summed duration, call count) of the spans named ``name``."""
        hits = [s for s in self.spans if s.name == name]
        return sum(s.duration for s in hits), len(hits)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [dict(asdict(s), self_time=self.self_time(s)) for s in self.spans], f, indent=0
            )
