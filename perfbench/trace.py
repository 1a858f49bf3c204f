"""Spans recorded by the benchmark around its calls into the engine.

A span has a name, start, end, parent and request id. Spans live in
memory and are written once, when the run ends. With tracing off,
`Tracer.span` hands out one shared no-op context, so the untraced run
pays a method call and nothing else.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager, nullcontext

_NULL = nullcontext()  # reusable, so the untraced path allocates nothing


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0

    def span(self, name: str, req: str | None = None):
        if not self.enabled:
            return _NULL
        return self._span(name, req)

    @contextmanager
    def _span(self, name: str, req: str | None):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        if req is None and parent is not None:
            req = parent["req"]
        rec = {"id": sid, "name": name, "parent": parent and parent["id"],
               "req": req, "start": time.perf_counter(), "end": None}
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def self_times(self) -> dict[str, dict]:
        """name -> {count, total_s, self_s}. Self time is the span's
        duration minus the part of it its children cover."""
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_cover[s["parent"]] = child_cover.get(
                    s["parent"], 0.0) + (s["end"] - s["start"])
        out: dict[str, dict] = {}
        for s in self.spans:
            d = s["end"] - s["start"]
            row = out.setdefault(s["name"], {"count": 0, "total_s": 0.0,
                                             "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += d
            row["self_s"] += max(0.0, d - child_cover.get(s["id"], 0.0))
        return out

    def write(self, path, overhead_note: str) -> None:
        table = self.self_times()
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "layers": table,
                       "tracing_overhead": overhead_note}, f)

    def table_text(self, overhead_note: str) -> str:
        rows = sorted(self.self_times().items(),
                      key=lambda kv: -kv[1]["self_s"])
        lines = [f"{'span':34s} {'count':>7s} {'total_ms':>11s} "
                 f"{'self_ms':>11s}"]
        for name, r in rows:
            lines.append(f"{name:34s} {r['count']:7d} "
                         f"{r['total_s'] * 1e3:11.2f} "
                         f"{r['self_s'] * 1e3:11.2f}")
        lines.append(f"tracing overhead: {overhead_note}")
        return "\n".join(lines)
