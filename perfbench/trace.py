"""In-memory spans around the benchmark's own calls into each layer.

A span records name, layer, start, end (monotonic seconds), its parent span
and the run id shared by one benchmark run; spans stay in memory and are
written out once, when the run ends. A layer's self time is its spans'
durations minus the part of each interval its child spans cover.
"""

from __future__ import annotations

import json
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    run_id: str
    epoch_ms: float  # wall-clock start, to line spans up with Spark's event log


class Tracer:
    """Records spans when enabled; a disabled tracer's ``span`` is a bare
    yield, so the untraced runs pay nothing for it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._stack = threading.local()

    def _parents(self) -> list[int]:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    @contextmanager
    def span(self, name: str, layer: str, parent: int | None = None):
        """``parent`` overrides the calling thread's innermost span, for
        work submitted to other threads."""
        if not self.enabled:
            yield None
            return
        stack = self._parents()
        with self._lock:
            sid = len(self.spans)
            span = Span(sid, name, layer, time.monotonic(), 0.0,
                        parent if parent is not None else (stack[-1] if stack else None),
                        self.run_id, time.time() * 1000)
            self.spans.append(span)
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            span.end = time.monotonic()

    def self_time_by_layer(self) -> dict[str, float]:
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, [])]
            )
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
