"""In-memory spans for traced benchmark runs.

A span has a name, a start and an end (``time.perf_counter`` seconds),
the id of the span that caused it, and the id of the pass it belongs
to. Spans are kept in a list and written out once, when the run ends.
The untraced run uses :class:`NoTracer`, whose ``span`` does nothing.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    pass_id: int
    start: float
    end: float = 0.0


class Tracer:
    """Records nested spans; ``span`` is a context manager."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.pass_id = -1

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, self.pass_id,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self, pass_ids: set[int] | None = None) -> dict[int, float]:
        """Span id -> its duration minus the time its children cover.

        Children of one span run one after another (the client is
        single-threaded), so their durations never overlap and can be
        summed.
        """
        spans = [s for s in self.spans
                 if pass_ids is None or s.pass_id in pass_ids]
        child = defaultdict(float)
        for s in spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return {s.id: (s.end - s.start) - child[s.id] for s in spans}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class NoTracer:
    """Stand-in for :class:`Tracer` in untraced runs."""

    pass_id = -1

    @contextlib.contextmanager
    def span(self, name: str):
        yield None
