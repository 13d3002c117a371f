"""Spans recorded around calls into the package, and the Spark event
log summed per job group.

A span is (name, start, end, parent). Its self time is its duration
minus the part of that interval its child spans cover. Each span puts
the Spark jobs it triggers into a job group of its own, so the event
log can be split the same way.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    group: str
    start: float = 0.0
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``set_group`` is called with a job-group
    id on entering a span and with the parent's id on leaving it."""

    def __init__(self, set_group=None, prefix: str = "t"):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._set_group = set_group
        self._prefix = prefix

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None,
                  f"{self._prefix}{len(self.spans)}:{name}")
        self.spans.append(sp)
        self._stack.append(sp)
        if self._set_group:
            self._set_group(sp.group)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._set_group:
                self._set_group(parent.group if parent else None)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """{span id: duration minus the union of its children's intervals}."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            children[sp.parent].append((sp.start, sp.end))
    return {
        sp.sid: sp.duration - _covered(children[sp.sid], sp.start, sp.end)
        for sp in spans
    }


def coverage(spans: list[Span], root: Span) -> float:
    """Share of ``root``'s duration covered by its descendants' self
    times (1 − root self time / root duration)."""
    if root.duration <= 0:
        return 0.0
    return 1.0 - self_times(spans)[root.sid] / root.duration


def self_time_by_name(spans: list[Span], root: Span) -> dict[str, float]:
    """Self times of ``root``'s descendants, summed per span name."""
    st = self_times(spans)
    by_id = {sp.sid: sp for sp in spans}
    out: dict[str, float] = defaultdict(float)
    for sp in spans:
        p = sp.parent
        while p is not None and p != root.sid:
            p = by_id[p].parent
        if p == root.sid:
            out[sp.name] += st[sp.sid]
    return dict(out)


def job_group_setter(spark):
    """The ``set_group`` callback for a Tracer on ``spark``."""
    sc = spark.sparkContext

    def set_group(group):
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)
    return set_group


# ---------------------------------------------------------------------------
# Spark event log, summed per job group
# ---------------------------------------------------------------------------
_PY_METRICS = {
    "time to start Python workers": "python_boot",
    "time to initialize Python workers": "python_init",
    "time to run Python workers": "python_run",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_recv_bytes",
}


def _empty_group() -> dict:
    return {
        "jobs": 0, "stages": set(), "tasks": 0,
        "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
        "python_boot": 0, "python_init": 0, "python_run": 0,
        "python_sent_bytes": 0, "python_recv_bytes": 0,
        "task_s": defaultdict(list),  # stage id -> task seconds
    }


def event_log_groups(path: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, shuffle and spill bytes, the
    PythonSQLMetrics sums and every task's duration in seconds.

    Spark records the Python timing metrics in milliseconds."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(_empty_group)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g is None:
                    continue
                groups[g]["jobs"] += 1
                for s in ev.get("Stage IDs", []):
                    stage_group[s] = g
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"))
                if g is None:
                    continue
                rec = groups[g]
                rec["tasks"] += 1
                rec["stages"].add(ev["Stage ID"])
                info = ev.get("Task Info") or {}
                if info.get("Finish Time") and info.get("Launch Time"):
                    rec["task_s"][ev["Stage ID"]].append(
                        (info["Finish Time"] - info["Launch Time"]) / 1000.0)
                m = ev.get("Task Metrics") or {}
                rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                for acc in info.get("Accumulables", []):
                    key = _PY_METRICS.get(acc.get("Name"))
                    if key is not None:
                        rec[key] += int(acc.get("Update") or 0)
    for rec in groups.values():
        rec["stages"] = len(rec["stages"])
        rec["task_s"] = dict(rec["task_s"])
    return dict(groups)


def task_skew(group: dict) -> float:
    """Slowest over median task time in the group's busiest stage (the
    one with the most summed task time); 0 without tasks."""
    if not group["task_s"]:
        return 0.0
    tasks = max(group["task_s"].values(), key=sum)
    med = statistics.median(tasks)
    return max(tasks) / med if med > 0 else 0.0


def find_event_log(event_dir: str, app_id: str) -> str:
    """The finished event log file of ``app_id`` in ``event_dir``."""
    for name in os.listdir(event_dir):
        if name.startswith(app_id) and not name.endswith(".inprogress"):
            return os.path.join(event_dir, name)
    raise FileNotFoundError(f"no finished event log for {app_id} in {event_dir}")
