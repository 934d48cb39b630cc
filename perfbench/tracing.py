"""Spans recorded from the benchmark side, plus Spark's own accounting.

Two sources feed the per-layer metrics of a traced run:

* :class:`Tracer` keeps spans in memory: name, start, end and the index
  of the span that was open when it started (its parent).  The benchmark
  opens spans around its calls into the package's public functions; a
  disabled tracer records nothing.
* :func:`read_event_log` folds Spark's JSON event log into per-job-group
  totals.  Every unit of work the benchmark starts runs under its own
  job group (``spark.sparkContext.setJobGroup``), so tasks, shuffle,
  spill, CPU, GC and file-scan counters can be charged to it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.context: dict = {}     # merged into every span opened

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               **self.context, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def find(self, name: str, where=None) -> list[dict]:
        """Finished spans called ``name`` (and passing ``where``)."""
        return [
            s for s in self.spans
            if s["name"] == name and s["end"] is not None
            and (where is None or where(s))
        ]

    @staticmethod
    def seconds(span: dict) -> float:
        return span["end"] - span["start"]

    def wrap(self, fn, name: str, on_result=None):
        """``fn`` with a span around every call; ``on_result(span, result)``
        may attach what the call returned."""
        def wrapped(*a, **kw):
            with self.span(name) as rec:
                out = fn(*a, **kw)
                if on_result is not None and rec is not None:
                    on_result(rec, out)
                return out
        return wrapped

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class GroupStats:
    """Totals of one Spark job group."""

    def __init__(self):
        self.jobs = 0
        self.tasks = 0
        self.failed_tasks = 0
        self.shuffle_write_bytes = 0
        self.spill_bytes = 0
        self.cpu_ns = 0
        self.run_ms = 0
        self.gc_ms = 0
        # scan kind -> [files read, bytes of files read, rows output]
        self.scans: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0])


_TASK_METRICS = {
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.executorDeserializeCpuTime": "cpu_ns",
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.jvmGCTime": "gc_ms",
}
_SCAN_METRICS = ("number of files read", "size of files read", "number of output rows")


def _scan_nodes(plan: dict):
    if plan.get("nodeName", "").startswith("Scan"):
        yield plan
    for child in plan.get("children", []):
        yield from _scan_nodes(child)


def read_event_log(log_dir: str, classify) -> dict[str, GroupStats]:
    """Per-job-group totals from the event log(s) under ``log_dir``.

    ``classify(location)`` maps a scan's file-index location string to a
    scan kind (e.g. ``"raw"``); scans it maps to ``None`` are not kept.
    """
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    )
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    # accumulator id -> (group, scan kind, metric index)
    scan_acc: dict[int, tuple[str, str, int]] = {}
    acc_total: dict[int, int] = defaultdict(int)

    def note_plan(exec_id: int, plan: dict) -> None:
        group = exec_group.get(exec_id)
        if group is None:
            return
        for node in _scan_nodes(plan):
            kind = classify(node.get("metadata", {}).get("Location", ""))
            if kind is None:
                continue
            for m in node.get("metrics", []):
                if m["name"] in _SCAN_METRICS:
                    scan_acc[m["accumulatorId"]] = (
                        group, kind, _SCAN_METRICS.index(m["name"]))

    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind.endswith("SQLExecutionStart"):
                    # the benchmark sets each group's description to its id
                    exec_group[ev["executionId"]] = ev.get("description", "")
                    note_plan(ev["executionId"], ev["sparkPlanInfo"])
                elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                    note_plan(ev["executionId"], ev["sparkPlanInfo"])
                elif kind.endswith("DriverAccumUpdates"):
                    for acc_id, value in ev["accumUpdates"]:
                        acc_total[acc_id] += int(value)
                elif kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    groups[group].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    info = ev.get("Task Info") or {}
                    for acc in info.get("Accumulables", []):
                        if acc["ID"] in scan_acc:
                            acc_total[acc["ID"]] += int(acc["Update"])
                    if group is None:
                        continue
                    g = groups[group]
                    g.tasks += 1
                    if ev.get("Task End Reason", {}).get("Reason") != "Success":
                        g.failed_tasks += 1
                    for acc in info.get("Accumulables", []):
                        attr = _TASK_METRICS.get(acc.get("Name"))
                        if attr:
                            setattr(g, attr, getattr(g, attr) + int(acc["Update"]))
    for acc_id, (group, kind, i) in scan_acc.items():
        groups[group].scans[kind][i] += acc_total.get(acc_id, 0)
    return groups
