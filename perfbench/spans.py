"""Spans around the benchmark's calls into each layer, and the Spark stage
metrics of each span.

Spans live in memory and are written out when the run ends. Each records
name, start, end, parent span and op id. In a traced run every span also
tags the Spark jobs it starts with its own job group, so the stage metrics
of those jobs (task time, input, shuffle, spill, GC) can be read back per
span from the application status store once the op has finished.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

STAGE_FIELDS = {
    "task_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "input_rows": "inputRecords",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
    "tasks": "numTasks",
}


class Tracer:
    """Collects spans when ``enabled``; otherwise every call is a no-op so
    the untraced run pays nothing but a context-manager entry."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._stack: list[dict] = []
        self._sc = None
        self._t0 = time.perf_counter()

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op_id,
            "group": f"perfbench-{len(self.spans)}",
            "start": time.perf_counter() - self._t0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if self._stack:
                self._sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def op_spans(self, op_id: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op_id]

    def collect_stage_metrics(self, op_id: int, task_skew_for: tuple = ()) -> None:
        """Attach summed stage metrics to every span of ``op_id`` (its own
        jobs only, not its children's). For span names in
        ``task_skew_for`` also record max / median task duration."""
        if not self.enabled:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        for rec in self.op_spans(op_id):
            totals = dict.fromkeys(STAGE_FIELDS, 0)
            durations: list[float] = []
            for jid in tracker.getJobIdsForGroup(rec["group"]):
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # stage skipped: never ran, no data
                        continue
                    for key, getter in STAGE_FIELDS.items():
                        totals[key] += getattr(st, getter)()
                    if rec["name"] in task_skew_for:
                        tasks = store.taskList(sid, st.attemptId(), 10_000)
                        for i in range(tasks.size()):
                            d = tasks.apply(i).duration()
                            if d.isDefined():
                                durations.append(float(d.get()))
            rec["stages"] = totals
            if len(durations) >= 2:
                rec["task_skew"] = max(durations) / max(statistics.median(durations), 1.0)

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sorted(
            (s["start"], s["end"]) for s in self.spans if s["parent"] == rec["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered


def per_op(tracer: Tracer, ops: list[int], name: str, value) -> list[float]:
    """``value(span)`` summed over the spans called ``name`` in each op,
    for the ops that have such a span."""
    out = []
    for op in ops:
        vals = [value(s) for s in tracer.op_spans(op) if s["name"] == name]
        if vals:
            out.append(float(sum(vals)))
    return out


def duration(s: dict) -> float:
    return s["end"] - s["start"]


def stage(key: str):
    return lambda s: float(s.get("stages", {}).get(key, 0))
