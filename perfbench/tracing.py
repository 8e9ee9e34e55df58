"""Spans around calls into the program, and Spark's counters folded per span.

Spans live in memory (name, start, end, parent, op id) and are written out
when the run ends. Each span runs its Spark jobs under a job group of its
own, so ``statusTracker().getJobIdsForGroup`` counts exactly that span's
jobs (one group reused across calls accumulates). The Spark event log,
enabled for traced runs only, carries every stage's job group and every
task's metrics; ``fold_event_log`` sums them per span, innermost span
first, and ``rollup`` adds children into their parents.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

COUNTERS = (
    "jobs", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "sched_gap_s",
)
# SQL metrics read from task accumulables (name -> (counter, scale))
_SQL_METRICS = {
    "time to run Python workers": ("python_run_s", 1e-3),
    "data sent to Python workers": ("python_bytes_sent", 1),
    "data returned from Python workers": ("python_bytes_returned", 1),
    "scan time": ("scan_s", 1e-3),
}


class Tracer:
    """No-op unless ``enabled``; then every ``span`` gets a unique job
    group and a record in ``self.spans``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[dict] = []
        self.op = None
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled or self.sc is None:
            yield None
            return
        rec = {
            "name": name,
            "group": f"pb{len(self.spans) + len(self._stack)}-{time.time_ns()}",
            "parent": self._stack[-1]["group"] if self._stack else None,
            "op": self.op,
            "start": time.time(),
        }
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            rec["jobs"] = len(
                self.sc.statusTracker().getJobIdsForGroup(rec["group"])
            )
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"],
                                    self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _union_seconds(intervals: list[tuple[float, float]], lo: float,
                   hi: float) -> float:
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy


def fold_event_log(log_dir: str, spans: list[dict]) -> None:
    """Add Spark counters to each span record (its own tasks only)."""
    by_group = {s["group"]: s for s in spans}
    for s in spans:
        s["own"] = {
            "jobs": s["jobs"], "tasks": 0, "failed_tasks": 0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "spill_bytes": 0, **{c: 0 for c, _ in _SQL_METRICS.values()},
        }
        s["intervals"] = []
    stage_group: dict[int, str] = {}
    for path in _log_files(log_dir):
        with open(path) as f:
            for line in f:
                if line.startswith('{"Event":"SparkListenerStageSubmitted"'):
                    e = json.loads(line)
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        stage_group[e["Stage Info"]["Stage ID"]] = g
                elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                    e = json.loads(line)
                    s = by_group.get(stage_group.get(e["Stage ID"]))
                    if s is None:
                        continue
                    _add_task(s, e)


def _log_files(log_dir: str) -> list[str]:
    """Event-log files in write order (rolling logs: events_<n>_<app>)."""
    out = []
    for root, _dirs, names in os.walk(log_dir):
        for n in names:
            if n.startswith("events_"):
                out.append((int(n.split("_")[1]), os.path.join(root, n)))
            elif not n.startswith((".", "appstatus")):
                out.append((0, os.path.join(root, n)))
    return [p for _, p in sorted(out)]


def _add_task(s: dict, e: dict) -> None:
    own = s["own"]
    info, m = e["Task Info"], e.get("Task Metrics") or {}
    own["tasks"] += 1
    if info.get("Failed") or info.get("Killed"):
        own["failed_tasks"] += 1
    own["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
    own["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    sw = m.get("Shuffle Write Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    own["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    own["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                  + sr.get("Local Bytes Read", 0))
    own["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    for a in info.get("Accumulables") or ():
        hit = _SQL_METRICS.get(a.get("Name"))
        if hit and a.get("Update") is not None:
            own[hit[0]] += float(a["Update"]) * hit[1]
    s["intervals"].append((info["Launch Time"] / 1e3, info["Finish Time"] / 1e3))


def rollup(spans: list[dict]) -> None:
    """Inclusive totals per span: own tasks plus all descendants'.
    ``sched_gap_s`` = span wall minus the time any of its tasks ran."""
    children: dict[str, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def total(s: dict) -> tuple[dict, list]:
        tot, iv = dict(s["own"]), list(s["intervals"])
        for c in children.get(s["group"], ()):
            ct, civ = total(c)
            for k, v in ct.items():
                tot[k] += v
            iv.extend(civ)
        return tot, iv

    for s in spans:
        tot, iv = total(s)
        tot["wall_s"] = s["end"] - s["start"]
        tot["sched_gap_s"] = tot["wall_s"] - _union_seconds(
            iv, s["start"], s["end"])
        s["totals"] = tot
    for s in spans:
        del s["intervals"]
