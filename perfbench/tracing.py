"""Spans around the public calls into each layer, and Spark's own plan
metrics read from the executed plan after an action.

Spans are kept in memory and written out once, when the run ends. A
span's self time is its duration minus the part of it that its child
spans cover.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.monotonic(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name, in seconds."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, covered in zip(self.spans, child_time):
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - covered
            )
        return out


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def plan_nodes(df) -> list[tuple[str, dict[str, int]]]:
    """(node name, metrics) for every node of the executed plan of a
    DataFrame that has run an action, through AQE's final plan and its
    query stages. Timing metrics are in ms, nsTiming ones in ns."""
    out = []
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = int(kv._2().value())
        out.append((cls, metrics))
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        else:
            todo.extend(_seq(node.children()))
    return out


def metric_sum(nodes, metric: str, node_cls: str | None = None) -> int:
    return sum(
        m.get(metric, 0) for cls, m in nodes
        if node_cls is None or cls == node_cls
    )
