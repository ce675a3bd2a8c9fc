"""In-memory spans recorded by the benchmark around its calls into the
program, written to one JSON file when a traced run ends.

A span is (name, start, end, parent, run_id) plus counters. Spans nest
by a stack: a span opened while another is open names it as parent.
Self time is a span's duration minus the part of its interval covered by
its children, so nested layer calls are not counted twice.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects the spans of one run."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Record one span around the ``with`` body. Yields the span so
        the body can attach counters."""
        s = Span(
            id=len(self.spans),
            name=name,
            start=time.perf_counter(),
            end=0.0,
            parent=self._stack[-1] if self._stack else None,
            run_id=self.run_id,
        )
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def write(self, path: Path, meta: dict | None = None) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(
            json.dumps(
                {
                    "run_id": self.run_id,
                    "meta": meta or {},
                    "spans": [asdict(s) for s in self.spans],
                }
            )
        )


def load(path: Path) -> list[Span]:
    doc = json.loads(path.read_text())
    return [Span(**s) for s in doc["spans"]]


def self_time(span: Span, spans: list[Span]) -> float:
    """Duration minus the union of the children's intervals (clipped to
    the span's own interval)."""
    iv = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.id
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in iv:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span.duration - covered
