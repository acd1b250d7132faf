"""In-memory span recorder for the traced run.

A span has a name, start, end, parent and run id (plus free-form
attributes). Spans are kept in memory and written out once, when the run
ends. Self time is a span's duration minus the part of it that its child
spans cover.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path
from typing import Dict, List, Optional


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: Optional[int]
    run_id: str
    attrs: Dict[str, object] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer records nothing and
    costs one attribute check per boundary."""

    def __init__(self, enabled: bool, run_id: Optional[str] = None):
        self.enabled = enabled
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.spans: List[Span] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = Span(len(self.spans), name, time.time(), 0.0,
                  self._stack[-1] if self._stack else None, self.run_id,
                  dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp.span_id)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.time()

    def add(self, name: str, start: float, end: float,
            parent: Optional[int], **attrs) -> Optional[Span]:
        """Record a span measured elsewhere (a Spark stage or task read
        back from the event log)."""
        if not self.enabled:
            return None
        sp = Span(len(self.spans), name, start, end, parent, self.run_id,
                  dict(attrs))
        self.spans.append(sp)
        return sp

    def self_times(self) -> Dict[str, float]:
        """Summed self time per span name."""
        kids: Dict[int, List[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: Dict[str, float] = {}
        for s in self.spans:
            covered = _union_length(
                [(max(c.start, s.start), min(c.end, s.end))
                 for c in kids.get(s.span_id, ())])
            out[s.name] = out.get(s.name, 0.0) + s.duration - covered
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "run_id": s.run_id, "span_id": s.span_id,
                    "parent": s.parent, "name": s.name, "start": s.start,
                    "end": s.end, "attrs": s.attrs}, default=str) + "\n")


def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
