"""In-memory spans for the traced benchmark run.

A span is (id, name, parent, run, start, end), times in seconds on the
system-wide monotonic clock ``time.perf_counter`` uses on Linux, so
spans timed in pool workers line up with the main process's.  Spans are kept
in memory and written as JSON lines when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import time


class Tracer:
    def __init__(self, run: str, enabled: bool):
        self.run = run
        self.enabled = enabled
        self.spans: list[dict] = []
        self.last: dict = {}
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Record ``name`` around the block, as a child of the innermost
        open span.  Yields the span dict (None when tracing is off)."""
        if not self.enabled:
            yield None
            return
        rec = self.add(name, time.perf_counter(), None)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float | None,
            parent: int | None = -1) -> dict:
        """Append a span timed elsewhere; ``parent=-1`` means the
        innermost open span."""
        if parent == -1:
            parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "run": self.run, "start": start, "end": end}
        self.spans.append(rec)
        return rec

    @contextlib.contextmanager
    def wrap(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` with a spanned call for the block's
        duration.  The wrapper keeps the last return value in
        ``self.last[name]``."""
        if not self.enabled:
            yield
            return
        orig = getattr(owner, attr)

        def traced(*a, **kw):
            with self.span(name):
                out = orig(*a, **kw)
            self.last[name] = out
            return out

        setattr(owner, attr, traced)
        try:
            yield
        finally:
            setattr(owner, attr, orig)

    def self_times(self, name: str) -> list[float]:
        """Self time of each ``name`` span: its duration minus the part
        of it that the union of its children's intervals covers."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            if s["name"] != name:
                continue
            covered, cur = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], ())):
                a, b = max(a, cur), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur = b
            out.append(s["end"] - s["start"] - covered)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
