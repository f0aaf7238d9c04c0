"""In-memory span recorder for the traced run.

A span is ``(id, name, parent, op, start, end)`` plus free-form counts.
Spans are recorded by the benchmark around calls into the program's
public functions, kept in memory, and written out as JSON lines when the
run ends.  A span's self time is its duration minus the time covered by
its direct children (children of one span never overlap: the client is
single-threaded).
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        """Yield the span record (a dict callers may add counts to), or
        a throwaway dict when tracing is off."""
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {
            s["id"]: (s["end"] - s["start"]) - child[s["id"]]
            for s in self.spans
        }

    def named(self, name: str, in_ops: bool | None = None) -> list[dict]:
        """Spans called ``name``; ``in_ops`` True/False keeps only spans
        inside / outside timed operations."""
        return [
            s for s in self.spans
            if s["name"] == name
            and (in_ops is None or (s["op"] is not None) == in_ops)
        ]

    def median_self(self, name: str, in_ops: bool | None = None,
                    per_op: bool = False) -> float:
        """Median self time of ``name`` spans; ``per_op`` sums the spans
        of each operation first.  0.0 when the layer never ran."""
        st = self.self_times()
        spans = self.named(name, in_ops)
        if not spans:
            return 0.0
        if per_op:
            sums: dict = {}
            for s in spans:
                sums[s["op"]] = sums.get(s["op"], 0.0) + st[s["id"]]
            return statistics.median(sums.values())
        return statistics.median(st[s["id"]] for s in spans)

    def write(self, path: Path) -> None:
        st = self.self_times() if self.spans else {}
        t0 = self.spans[0]["start"] if self.spans else 0.0
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                rec = dict(s)
                rec["start"] = round(s["start"] - t0, 6)
                rec["end"] = round(s["end"] - t0, 6)
                rec["self_s"] = round(st[s["id"]], 6)
                f.write(json.dumps(rec) + "\n")
