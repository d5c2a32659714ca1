"""Spans and Spark event-log aggregation for the traced run.

Spans are recorded from the benchmark's own files around calls into the
program's public functions, kept in memory and written out at the end.
While a span is open its id is the Spark job group, so every job, stage
and task in Spark's event log can be charged to the innermost span that
caused it.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time
from collections import defaultdict


class Tracer:
    """Collects spans; a disabled tracer costs one branch per call."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        rec = {"id": f"pb{next(self._ids)}", "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               **attrs}
        self._stack.append(rec)
        self.sc.setLocalProperty("spark.jobGroup.id", rec["id"])
        cpu0 = time.process_time()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["cpu_s"] = time.process_time() - cpu0
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", self._stack[-1]["id"] if self._stack else None)
            self.spans.append(rec)

    def wrap(self, name: str, fn, on_result=None):
        """``fn`` wrapped in a span; ``on_result(rec, result)`` may add
        attributes from the call's return value."""
        def traced(*a, **k):
            with self.span(name) as rec:
                out = fn(*a, **k)
                if on_result is not None:
                    on_result(rec, out)
                return out
        return traced

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ------------------------------------------------------------ event log

# SQL-metric accumulables kept per stage (names as Spark reports them)
_ACCUMULABLES = {
    "data sent to Python workers": "python_sent",
    "data returned from Python workers": "python_received",
}
# driver-side SQL metrics of file scans: named in the plan of an SQL
# execution, updated by SparkListenerDriverAccumUpdates
_DRIVER_ACCUMULABLES = {
    "number of files read": "files_read",
    "size of files read": "bytes_read",
}
_SQL = "org.apache.spark.sql.execution.ui."


def _plan_metrics(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", ()):
        key = _DRIVER_ACCUMULABLES.get(m.get("name"))
        if key:
            out[m["accumulatorId"]] = key
    for child in node.get("children", ()):
        _plan_metrics(child, out)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks, task/cpu/gc seconds, shuffle,
    spill, input records, file-scan and Python-worker accumulables."""
    agg: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    exec_group: dict[str, str] = {}  # SQL execution id -> job group
    driver_keys: dict[int, str] = {}  # accumulator id -> metric
    driver_updates: list[tuple[str, int, float]] = []
    stage_group: dict[int, str] = {}
    python_stages: set[int] = set()
    stage_task_s: dict[int, float] = defaultdict(float)
    paths = sorted(os.path.join(r, n) for r, _d, ns in os.walk(log_dir) for n in ns)
    for path in paths:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev in (_SQL + "SparkListenerSQLExecutionStart",
                          _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_metrics(e.get("sparkPlanInfo") or {}, driver_keys)
                elif ev == _SQL + "SparkListenerDriverAccumUpdates":
                    driver_updates += [(str(e.get("executionId")), i, _num(v))
                                       for i, v in e.get("accumUpdates", ())]
                elif ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    if g is None:
                        continue
                    exec_group.setdefault(str(props.get("spark.sql.execution.id")), g)
                    agg[g]["jobs"] += 1
                    for sid in e.get("Stage IDs", ()):
                        stage_group.setdefault(sid, g)
                elif ev == "SparkListenerTaskEnd":
                    sid = e.get("Stage ID")
                    g = stage_group.get(sid)
                    if g is None:
                        continue
                    m = e.get("Task Metrics") or {}
                    a = agg[g]
                    run_s = _num(m.get("Executor Run Time")) / 1e3
                    a["tasks"] += 1
                    a["task_s"] += run_s
                    stage_task_s[sid] += run_s
                    a["task_cpu_s"] += _num(m.get("Executor CPU Time")) / 1e9
                    a["gc_s"] += _num(m.get("JVM GC Time")) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    a["shuffle_write_bytes"] += _num(sw.get("Shuffle Bytes Written"))
                    a["shuffle_read_bytes"] += (_num(sr.get("Remote Bytes Read"))
                                                + _num(sr.get("Local Bytes Read")))
                    a["spill_bytes"] += (_num(m.get("Memory Bytes Spilled"))
                                         + _num(m.get("Disk Bytes Spilled")))
                    a["records_read"] += _num((m.get("Input Metrics") or {})
                                              .get("Records Read"))
                elif ev == "SparkListenerStageCompleted":
                    info = e.get("Stage Info") or {}
                    sid = info.get("Stage ID")
                    g = stage_group.get(sid)
                    if g is None:
                        continue
                    agg[g]["stages"] += 1
                    for acc in info.get("Accumulables", ()):
                        key = _ACCUMULABLES.get(acc.get("Name"))
                        if key:
                            agg[g][key] += _num(acc.get("Value"))
                            if key.startswith("python"):
                                python_stages.add(sid)
    for sid in python_stages:
        agg[stage_group[sid]]["python_stage_task_s"] += stage_task_s.get(sid, 0.0)
    for eid, acc, v in driver_updates:
        if acc in driver_keys and eid in exec_group:
            agg[exec_group[eid]][driver_keys[acc]] += v
    return {g: dict(v) for g, v in agg.items()}


def subtree_ids(spans: list[dict]) -> dict[str, set[str]]:
    """span id -> the ids of the span and all its descendants."""
    kids: dict[str, list[str]] = defaultdict(list)
    for s in spans:
        if s["parent"]:
            kids[s["parent"]].append(s["id"])
    out = {}
    for s in spans:
        ids, todo = set(), [s["id"]]
        while todo:
            i = todo.pop()
            ids.add(i)
            todo.extend(kids.get(i, ()))
        out[s["id"]] = ids
    return out
