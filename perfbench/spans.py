"""In-memory spans around the benchmark's calls into each layer.

A span is (id, name, start, end, parent, run). Spans are kept in a list
and written as JSON when the run ends. A layer's self time is its
span's duration minus the part of that interval its child spans cover.
When tracing is off, `span()` records nothing and tags no Spark job.
"""

from __future__ import annotations

import contextlib
import json
import time


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans) -> dict:
    """{span id: duration minus the time its children cover}."""
    children: dict = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


class Tracer:
    """Records spans while `enabled`. A span opened with an `op` runs
    its Spark jobs under the job group `op`, so the event log can be
    folded per operation."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list = []
        self._stack: list = []
        self._spark = None

    def bind(self, spark) -> None:
        self._spark = spark

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        """Time the body as span `name`. With `op`, the Spark jobs the
        body starts carry job group `op` (see eventlog.fold)."""
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans) + len(self._stack),
            "name": name,
            "op": op,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
        }
        self._stack.append(rec)
        sc = self._spark.sparkContext if (op and self._spark is not None) else None
        if sc is not None:
            sc.setJobGroup(op, name)
        try:
            yield
        finally:
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)

    def op_windows(self) -> dict:
        """{op: [(start, end), ...]} of every span that tagged an op."""
        out: dict = {}
        for s in self.spans:
            if s["op"]:
                out.setdefault(s["op"], []).append((s["start"], s["end"]))
        return out

    def dump(self, path: str, extra: dict | None = None) -> None:
        st = self_times(self.spans)
        spans = sorted(self.spans, key=lambda s: s["id"])
        with open(path, "w") as f:
            json.dump(
                {
                    "run": self.run_id,
                    "spans": [dict(s, self_s=st[s["id"]]) for s in spans],
                    **(extra or {}),
                },
                f,
                indent=1,
            )
