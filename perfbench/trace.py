"""In-memory spans recorded around calls into each layer.

Spans are kept in a list until the run ends. With tracing off, ``span``
yields a throwaway record and stores nothing, so the untraced run pays one
``perf_counter`` pair per span and no bookkeeping.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator

from perfbench.stats import self_time


@dataclass
class Span:
    name: str
    trace_id: str
    parent: int | None
    start: float = 0.0
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace_id: str = "", **attrs) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        if parent is not None and not trace_id:
            trace_id = self.spans[parent].trace_id
        sp = Span(name, trace_id, parent, attrs=dict(attrs))
        if self.enabled:
            self.spans.append(sp)
            self._stack.append(len(self.spans) - 1)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if self.enabled:
                self._stack.pop()

    def summary(self) -> dict[str, dict]:
        """Per span name: count, total duration and total self time."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                children[sp.parent].append((sp.start, sp.end))
        out: dict[str, dict] = {}
        for i, sp in enumerate(self.spans):
            row = out.setdefault(sp.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += sp.duration
            row["self_s"] += self_time(sp.start, sp.end, children[i])
        return out
