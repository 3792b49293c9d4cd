"""Span recorder for the traced run, and the self-time arithmetic.

A span is recorded around each call the benchmark makes into a layer of
the program: name, start, end, parent span and run id. Spans stay in
memory and are written out when the run ends. While a span is open its
id is the Spark job group, so the event-log parser can attach every
Spark task to the innermost span that caused it.

With tracing off the recorder still runs the wrapped code but records
nothing and never touches the job group.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None  # SparkContext whose job group follows the open span

    def bind(self, sc) -> None:
        """Follow the open span with this SparkContext's job group (called
        again after every session restart)."""
        self._sc = sc

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=f"{self.run_id}-{len(self.spans)}",
            name=name,
            parent=parent.id if parent else None,
            run_id=self.run_id,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self._sc is None or self._sc._jsc is None:
            return
        if s is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(s.id, s.name)

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def _union_length(intervals: list[tuple[float, float]]) -> float:
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
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id -> its duration minus the part of it that its child spans
    cover (children clipped to the parent, overlaps counted once)."""
    kids: dict[str, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent in by_id:
            p = by_id[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids.setdefault(p.id, []).append((lo, hi))
    return {s.id: s.duration - _union_length(kids.get(s.id, [])) for s in spans}


def uncovered(spans: list[Span], wall_start: float, wall_end: float) -> float:
    """The part of [wall_start, wall_end] that no top-level span covers."""
    tops = [
        (max(s.start, wall_start), min(s.end, wall_end))
        for s in spans
        if s.parent is None and min(s.end, wall_end) > max(s.start, wall_start)
    ]
    return (wall_end - wall_start) - _union_length(tops)


def descendants(spans: list[Span], root_id: str) -> set[str]:
    """Ids of ``root_id`` and every span below it."""
    children: dict[str, list[str]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s.id)
    out, todo = set(), [root_id]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(children.get(sid, []))
    return out
