"""Spans around the benchmark's calls into the engine, with their Spark work.

A span is recorded for every request the load generator issues (the root)
and for every call that request makes into a layer's public function (a
child). Each child call runs under a job group of its own, so the Spark
jobs it submits — including jobs adaptive query execution submits from
other threads, which lose the Python call site but keep the group — are
attributed to it. Stage metrics are read from the status store after the
request ends, outside its timed interval; the engine itself is not
instrumented.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from perfbench.plan import CALL_FIELDS, median


class Tracer:
    """Collects spans in memory; ``enabled`` switches per request."""

    def __init__(self, sc, on: bool):
        self.sc = sc
        self.on = on            # the run is a traced run
        self.enabled = False    # the current request is traced
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._pending: list[dict] = []
        self._seq = 0

    @contextmanager
    def request(self, name: str, request_id: int, traced: bool):
        """Root span of one request; child calls inside it are traced only
        when ``traced`` is true."""
        self.enabled = self.on and traced
        if not self.enabled:
            yield None
            return
        span = self._open(name, request_id, group=None)
        try:
            yield span
        finally:
            self._close(span)
            self.enabled = False
            self._collect()

    @contextmanager
    def call(self, name: str):
        """Child span around one call into a layer's public function."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        self._seq += 1
        group = f"perfbench-{self._seq}"
        span = self._open(name, self._stack[-1]["request"], group=group)
        self.sc.setJobGroup(group, name)
        span["own_s"] = time.perf_counter() - t0
        try:
            yield span
        finally:
            t1 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._close(span)
            self._pending.append(span)
            span["own_s"] += time.perf_counter() - t1

    def _open(self, name: str, request_id: int, group: str | None) -> dict:
        span = {"name": name, "request": request_id,
                "parent": self._stack[-1]["id"] if self._stack else None,
                "id": len(self.spans), "group": group,
                "start": time.perf_counter(), "start_ms": time.time() * 1e3}
        self.spans.append(span)
        self._stack.append(span)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        span["end_ms"] = time.time() * 1e3
        span["wall_s"] = span["end"] - span["start"]
        self._stack.pop()

    def _collect(self) -> None:
        for span in self._pending:
            span.update(self._spark_work(span))
        self._pending.clear()

    def _spark_work(self, span: dict) -> dict:
        from py4j.protocol import Py4JJavaError

        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(span["group"])
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"jobs": len(jobs), "task_cpu_s": 0.0, "input_bytes": 0,
               "input_records": 0, "shuffle_bytes": 0, "spill_bytes": 0,
               "failed_tasks": 0}
        busy: list[tuple[float, float]] = []
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # evicted from the status store
            if sd.status().toString() == "SKIPPED":
                continue
            out["task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["input_bytes"] += sd.inputBytes()
            out["input_records"] += sd.inputRecords()
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["failed_tasks"] += sd.numFailedTasks()
            sub, done = sd.submissionTime(), sd.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else span["end_ms"]
                busy.append((max(sub.get().getTime(), span["start_ms"]),
                             min(end, span["end_ms"])))
        out["driver_s"] = max(0.0, span["wall_s"] - _union_ms(busy) / 1e3)
        return out

    def export(self) -> list[dict]:
        """Spans as written to the trace file: name, start, end, parent,
        request id, and the Spark work of child calls."""
        keep = ("id", "name", "request", "parent", "start", "end", *CALL_FIELDS,
                "input_records")
        return [{k: s[k] for k in keep if k in s} for s in self.spans]


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def call_metrics(spans: list[dict], names) -> dict[str, float]:
    """Per-call medians of every CALL_FIELDS entry, for each call name.

    A call the run never made reports 0 for each field.
    """
    out: dict[str, float] = {}
    for name in names:
        calls = [s for s in spans if s["name"] == name and "jobs" in s]
        for f in CALL_FIELDS:
            out[f"{name}.{f}"] = median([float(s[f]) for s in calls]) if calls else 0.0
    return out


def overhead(spans: list[dict], timed_s: float) -> float:
    """Share of the traced requests' timed seconds the tracer spent setting
    and clearing job groups, its only work inside the timers."""
    return sum(s.get("own_s", 0.0) for s in spans) / timed_s if timed_s > 0 else 0.0


def coverage(spans: list[dict], loop_s: float) -> float:
    """Share of the traced requests' loop time spent inside layer calls."""
    inside = sum(s["wall_s"] for s in spans if s.get("group"))
    return inside / loop_s if loop_s > 0 else 0.0
