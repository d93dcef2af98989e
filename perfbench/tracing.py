"""Spans, Spark event-log attribution and process memory, stdlib only.

A :class:`Tracer` keeps spans (name, start, end, parent) in memory and
sets a Spark job group per span *before* the span's plan is built, so the jobs a plan launches while it is being
built (eager ``localCheckpoint``) are attributed to the span too.
:func:`read_event_log` turns Spark's uncompressed, non-rolling JSON
event log into per-job-group totals.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "group": f"pb-span-{sid}",
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]] if self._stack else None)

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["group"], rec["name"])

    def seconds(self, name: str) -> float:
        """Duration of the last span called ``name``."""
        rec = next(s for s in reversed(self.spans) if s["name"] == name)
        return rec["end"] - rec["start"]

    def subtree_groups(self, sid: int) -> set[str]:
        """Job groups of span ``sid`` and of every span nested in it."""
        out = {self.spans[sid]["group"]}
        for s in self.spans:
            if s["parent"] is not None and self.spans[s["parent"]]["group"] in out:
                out.add(s["group"])
        return out


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1 or not os.path.isfile(os.path.join(log_dir, names[0])):
        raise RuntimeError(f"expected one plain event-log file in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def read_event_log(path: str) -> dict[str, dict]:
    """Per-job-group totals from a JSON event log:
    jobs, stages (submitted, so skipped stages do not count), tasks,
    executor run/CPU/GC time, shuffle bytes, spill bytes and the task
    durations (for skew)."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict] = {}

    def tot(group: str) -> dict:
        return totals.setdefault(
            group,
            {
                "jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0,
                "gc_ms": 0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
                "task_ms": [],
            },
        )

    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
                tot(group)["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                tot(group or stage_group.get(sid, "-"))["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                t = tot(stage_group.get(ev["Stage ID"], "-"))
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                t["tasks"] += 1
                t["task_ms"].append(info["Finish Time"] - info["Launch Time"])
                t["run_ms"] += m.get("Executor Run Time", 0)
                t["cpu_ns"] += m.get("Executor CPU Time", 0)
                t["gc_ms"] += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                t["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                t["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                t["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return totals


def session_metrics(totals: dict[str, dict], groups: set[str], wall_s: float) -> dict[str, float]:
    """The ``session.*`` numbers for the spans whose job groups are
    ``groups`` and that together took ``wall_s`` seconds."""
    parts = [totals[g] for g in groups if g in totals]

    def s(key: str) -> float:
        return sum(p[key] for p in parts)

    task_ms = [x for p in parts for x in p["task_ms"]]
    med = statistics.median(task_ms) if task_ms else 0
    return {
        "jobs": s("jobs"),
        "stages": s("stages"),
        "tasks": s("tasks"),
        "executor_run_s": s("run_ms") / 1e3,
        "executor_cpu_s": s("cpu_ns") / 1e9,
        "parallelism": s("run_ms") / 1e3 / wall_s if wall_s > 0 else 0.0,
        "shuffle_read_bytes": s("shuffle_read"),
        "shuffle_write_bytes": s("shuffle_write"),
        "spill_bytes": s("spill"),
        "task_skew": max(task_ms) / med if med > 0 else 1.0,
        "gc_s": s("gc_ms") / 1e3,
    }


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``pids``, in MB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0

