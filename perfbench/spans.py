"""In-memory spans recorded around the benchmark's calls into each layer.

A span is (name, start, end, parent, operation id).  The layer of a span
is its name without the last dotted part (``streaming.drain`` belongs to
``streaming``, ``plans.star.file_build`` to ``plans.star``).  Spans are
kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.op: int | None = None  # id of the operation being traced
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield -1
            return
        idx = self.add(name, time.perf_counter(), None)
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float | None, parent: int | None = None) -> int:
        """Record a span whose times were taken elsewhere; returns its id.
        The parent defaults to the innermost open span."""
        if not self.enabled:
            return -1
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, "op": self.op}
        )
        return len(self.spans) - 1

    def self_times(self, by: str = "layer") -> dict[str, float]:
        """Seconds each layer (or, with ``by="span"``, each span name)
        spent outside its child spans."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, cursor), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cursor = b
            key = s["name"] if by == "span" else s["name"].rsplit(".", 1)[0]
            out[key] = out.get(key, 0.0) + (s["end"] - s["start"]) - covered
        return out

    def export(self) -> list[dict]:
        """Spans with times relative to the first one, in seconds."""
        t0 = min((s["start"] for s in self.spans), default=0.0)
        return [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in self.spans
        ]
