"""Harness-side spans recorded around calls into the program's layers.

Spans are kept in memory; the run writes them once, in its trace report.  When a
SparkContext is attached, entering a span also sets the ``perfbench.span``
local property, so every job the call submits carries the span id into the
event log and stage/task metrics can be attributed to the span.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass

from .eventlog import SPAN_PROPERTY
from .stats import union_length


@dataclass
class Span:
    id: str
    name: str
    start: float
    end: float
    parent: str | None
    pass_id: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc=None) -> None:
        self._sc = sc
        self._stack: list[str] = []
        self._count = 0
        self.spans: list[Span] = []
        self.pass_id: int | None = None

    @contextmanager
    def span(self, name: str):
        sid = f"s{self._count}-{name}"
        self._count += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        if self._sc is not None:
            self._sc.setLocalProperty(SPAN_PROPERTY, sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            self._stack.pop()
            if self._sc is not None:
                self._sc.setLocalProperty(SPAN_PROPERTY, parent)
            self.spans.append(Span(sid, name, start, end, parent, self.pass_id))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def subtree_ids(self, root: str) -> set[str]:
        """root plus every span nested under it."""
        children: dict[str | None, list[str]] = {}
        for s in self.spans:
            children.setdefault(s.parent, []).append(s.id)
        out, todo = set(), [root]
        while todo:
            sid = todo.pop()
            out.add(sid)
            todo += children.get(sid, [])
        return out

    def self_time(self, span: Span) -> float:
        """Duration minus the part of the interval its child spans cover."""
        covered = union_length((max(s.start, span.start), min(s.end, span.end))
                               for s in self.spans if s.parent == span.id)
        return span.duration - covered
