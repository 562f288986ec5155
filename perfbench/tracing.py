"""Spans recorded around calls into the engine's layers, and the per-stage
task metrics Spark's own event log holds for the jobs those calls fire.

A span is (name, start, end, parent, op id). Spans stay in memory and are
written once, when the run ends. A span's self time is its duration minus
the part of it that its child spans cover.

Jobs are attributed through Spark job groups: the benchmark sets the group
``<op id>:<phase>`` before each call, Spark copies it into every job's
``spark.jobGroup.id`` property, and the event log's job-start records map
each stage to that group.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._open[-1] if self._open else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(name, time.perf_counter(), 0.0, parent, op)
        self.spans.append(s)
        self._open.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the union of its children's intervals,
    clipped to the span."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children[i], key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


def read_event_log(path: str) -> list[dict]:
    """Events of one application's log: a plain JSON-lines file, or a
    rolling-log directory whose ``events_<n>_*`` parts are read in order."""
    if os.path.isdir(path):
        parts = sorted(
            (p for p in os.listdir(path) if p.startswith("events_")),
            key=lambda p: int(p.split("_")[1]),
        )
        files = [os.path.join(path, p) for p in parts]
    else:
        files = [path]
    events = []
    for fp in files:
        with open(fp) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


#: SQL metrics every Python exec node (mapInPandas, applyInPandas, pandas
#: UDFs) carries, by display name; the rows metric's name is shared with
#: every other node, so all three are matched by accumulator id
_PY_METRICS = {
    "data sent to Python workers": "py_sent_b",
    "data returned from Python workers": "py_returned_b",
    "number of output rows": "py_rows",
}
_SQL_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)


def _python_accumulators(plan: dict, out: dict[int, str]) -> None:
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if "data sent to Python workers" in metrics:
        for name, key in _PY_METRICS.items():
            if name in metrics:
                out[metrics[name]] = key
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def group_stage_metrics(events: list[dict]) -> dict[str, Counter]:
    """Task metrics summed per job group. Counters: ``stages`` (completed),
    ``tasks``, ``run_ms``, ``cpu_ns``, ``gc_ms``, ``fetch_wait_ms``,
    ``shuffle_read_b``, ``shuffle_write_b``, ``spill_b``, and for tasks
    that ran a Python exec node ``py_run_ms``, ``py_sent_b``,
    ``py_returned_b``, ``py_rows``. Jobs without a group land under ``""``."""
    stage_group: dict[int, str] = {}
    py_acc: dict[int, str] = {}
    out: dict[str, Counter] = defaultdict(Counter)
    for e in events:
        kind = e.get("Event")
        if kind in _SQL_PLAN_EVENTS:
            _python_accumulators(e.get("sparkPlanInfo") or {}, py_acc)
        elif kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            out[stage_group.get(sid, "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            c = out[stage_group.get(e.get("Stage ID"), "")]
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            c["tasks"] += 1
            c["run_ms"] += m.get("Executor Run Time", 0)
            c["cpu_ns"] += m.get("Executor CPU Time", 0)
            c["gc_ms"] += m.get("JVM GC Time", 0)
            c["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
            c["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            c["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
            c["spill_b"] += m.get("Disk Bytes Spilled", 0)
            ran_python = False
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                key = py_acc.get(a.get("ID"))
                if key is not None:
                    ran_python = True
                    c[key] += int(a.get("Update") or 0)
            if ran_python:
                c["py_run_ms"] += m.get("Executor Run Time", 0)
    return out
