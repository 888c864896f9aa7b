"""In-memory spans for the traced run.

A span is a dict: ``id``, ``name``, ``start``, ``end`` (perf_counter
seconds), ``parent`` (enclosing span id or None) and ``op`` (the id
shared by every span of one op). Spans stay in memory and are written
once, when the run ends. A disabled tracer records nothing.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans = []
        self._stack = []
        self.op = None
        # maps time.time() (listener events) onto the perf_counter clock
        self._wall_offset = time.time() - time.perf_counter()

    def start(self, name: str) -> "dict | None":
        if not self.enabled:
            return None
        sp = {
            "id": len(self.spans),
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        return sp

    def end(self, sp: "dict | None") -> None:
        if sp is None:
            return
        sp["end"] = time.perf_counter()
        while self._stack:
            if self._stack.pop() is sp:
                break

    @contextmanager
    def span(self, name: str):
        sp = self.start(name)
        try:
            yield sp
        finally:
            self.end(sp)

    def add(self, name: str, start: float, end: float, parent: "dict | None") -> None:
        """Record a finished span measured elsewhere (a micro-batch that
        ran on a stream thread) under ``parent``."""
        if not self.enabled:
            return
        self.spans.append(
            {
                "id": len(self.spans),
                "name": name,
                "start": start,
                "end": end,
                "parent": parent["id"] if parent else None,
                "op": self.op,
            }
        )

    def from_wall(self, t_wall: float) -> float:
        """A ``time.time()`` reading on this tracer's clock."""
        return t_wall - self._wall_offset
