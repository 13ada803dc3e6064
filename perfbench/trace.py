"""In-memory spans recorded around the benchmark's calls into each layer.

A span is (id, name, start, end, parent, op).  `name` is
`<layer>.<call>`, the layer being the engine module the call enters
(`execution.collect`, `stream_decode.scan`, ...).  Spans of one
operation share its op id.  Nothing is written until `dump`.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        """Time the enclosed block as a child of the innermost open span.
        With tracing off this records nothing."""
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "start": time.time(), "end": None,
            "parent": self._stack[-1] if self._stack else None, "op": op,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int, op: int | None) -> None:
        """Record an interval measured elsewhere (Catalyst's phase tracker)
        as a child of `parent`, clipped to the parent's interval."""
        if not self.enabled:
            return
        p = self.spans[parent]
        start, end = max(start, p["start"]), min(end, p["end"])
        if end > start:
            self.spans.append({
                "id": len(self.spans), "name": name, "start": start, "end": end,
                "parent": parent, "op": op,
            })

    def last(self, name: str) -> int:
        """Id of the most recent span called `name`."""
        for rec in reversed(self.spans):
            if rec["name"] == name:
                return rec["id"]
        raise KeyError(name)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        child: dict[int, float] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                child[rec["parent"]] = child.get(rec["parent"], 0.0) + rec["end"] - rec["start"]
        out: dict[str, float] = {}
        for rec in self.spans:
            own = rec["end"] - rec["start"] - child.get(rec["id"], 0.0)
            out[rec["name"]] = out.get(rec["name"], 0.0) + own
        return out

    def coverage(self, walls: dict[int, float]) -> list[float]:
        """For each op id in `walls` (its wall time, measured outside the
        tracer), the share of it that the op's top-level spans cover."""
        covered: dict[int, float] = {}
        for rec in self.spans:
            if rec["parent"] is None and rec["op"] in walls:
                covered[rec["op"]] = covered.get(rec["op"], 0.0) + rec["end"] - rec["start"]
        return [covered.get(op, 0.0) / wall for op, wall in walls.items() if wall > 0]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
