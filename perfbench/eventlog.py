"""Spark event-log reader (stdlib only) that sums per-job-group metrics.

The traced run starts Spark with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false`` (the default v2 log is zstd, which the
stdlib cannot read). The log is a directory ``eventlog_v2_<app>/`` holding
``events_<n>_<app>`` files of one JSON event per line. Each timed operation
runs under its own ``setJobGroup`` id; the group arrives on every
``SparkListenerJobStart`` as the ``spark.jobGroup.id`` property and on every
SQL execution start as ``jobGroupId``.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

# per-task sums, read from "Task Metrics" (times in ms, CPU in ns)
_PY_ACCUMS = {
    "time to run Python workers": "python.run_ms",
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
GROUP_METRICS = (
    "spark.jobs", "spark.stages", "spark.tasks",
    "executor.cpu_ms", "executor.run_ms", "executor.gc_ms",
    *_PY_ACCUMS.values(),
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms", "spill.bytes",
    "catalyst.executions",
)


def event_files(log_dir: str) -> list[str]:
    """Event files in write order (rolled files are numbered from 1)."""
    def order(path):
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return (os.path.dirname(path), int(m.group(1)) if m else 0)

    return sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")), key=order)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    """Jobs, their stages and task metrics, keyed by job group."""

    def __init__(self):
        self.jobs: dict[int, dict] = {}
        self.stage_group: dict[int, str] = {}
        self.groups: dict[str, dict] = defaultdict(lambda: dict.fromkeys(GROUP_METRICS, 0.0))

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        log = cls()
        for path in event_files(log_dir):
            with open(path, encoding="utf-8") as f:
                for line in f:
                    line = line.strip()
                    if line:
                        log.add(json.loads(line))
        return log

    def add(self, e: dict) -> None:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            self.jobs[e["Job ID"]] = {"group": group, "start": e["Submission Time"], "end": None}
            if group is not None:
                g = self.groups[group]
                g["spark.jobs"] += 1
                for sid in e.get("Stage IDs", []):
                    self.stage_group[sid] = group
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            group = self.stage_group.get((e.get("Stage Info") or {}).get("Stage ID"))
            if group is not None:
                self.groups[group]["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            group = self.stage_group.get(e.get("Stage ID"))
            if group is None:
                return
            g = self.groups[group]
            g["spark.tasks"] += 1
            m = e.get("Task Metrics") or {}
            g["executor.cpu_ms"] += _num(m.get("Executor CPU Time")) / 1e6
            g["executor.run_ms"] += _num(m.get("Executor Run Time"))
            g["executor.gc_ms"] += _num(m.get("JVM GC Time"))
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle.read_bytes"] += _num(sr.get("Remote Bytes Read")) + _num(sr.get("Local Bytes Read"))
            g["shuffle.fetch_wait_ms"] += _num(sr.get("Fetch Wait Time"))
            g["shuffle.write_bytes"] += _num((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
            g["spill.bytes"] += _num(m.get("Memory Bytes Spilled")) + _num(m.get("Disk Bytes Spilled"))
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                name = _PY_ACCUMS.get(a.get("Name"))
                if name:
                    g[name] += _num(a.get("Update"))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            group = e.get("jobGroupId")
            if group is not None:
                self.groups[group]["catalyst.executions"] += 1

    def job_intervals(self, group: str) -> list[tuple[float, float]]:
        """``(start, end)`` of each finished job of ``group``, epoch seconds."""
        return [(j["start"] / 1e3, j["end"] / 1e3) for j in self.jobs.values()
                if j["group"] == group and j["end"] is not None]
