"""In-memory spans recorded by the benchmark around calls into each layer.

A span has a name, start, end, the span that caused it and the operation it
belongs to; every span of one operation carries the same ``op`` id. With
tracing off, :class:`Tracer` records nothing and labels no Spark job.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark=None, enabled: bool = False):
        self._sc = spark.sparkContext if spark is not None else None
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        """Time the block; with ``op`` set, Spark jobs started inside are
        labelled ``<op>|<name>`` so the event log can attribute them."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "name": name,
            "op": op or (parent["op"] if parent else None),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        label = f"{rec['op']}|{name}" if rec["op"] else None
        if label and self._sc is not None:
            self._sc.setJobDescription(label)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                outer = self._stack[-1] if self._stack else None
                self._sc.setJobDescription(
                    f"{outer['op']}|{outer['name']}" if outer and outer["op"] else None
                )

    def label(self, label: str | None) -> None:
        """Label (or, with None, unlabel) Spark jobs started from now on."""
        if self.enabled and self._sc is not None:
            self._sc.setJobDescription(label)

    def catalyst(self, df, rec: dict | None) -> None:
        """Attach the QueryPlanningTracker phase durations of ``df`` to ``rec``."""
        if not self.enabled or rec is None:
            return
        phases = df._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            ms = phases.apply(phase).durationMs() if phases.contains(phase) else 0
            rec[f"catalyst.{phase}_ms"] = float(ms)


def with_self_times(spans: list[dict]) -> list[dict]:
    """Return the spans with ``dur_s`` and ``self_s``: a span's duration
    minus the part of it covered by its (sequential) child spans."""
    child_s: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
    out = []
    for s in spans:
        dur = s["end"] - s["start"]
        out.append({**s, "dur_s": dur, "self_s": dur - child_s.get(s["id"], 0.0)})
    return out
