"""Roll up an uncompressed Spark event log into per-job-group totals.

The log is JSON lines, one listener event per line. Every stage inherits
the job group (``spark.jobGroup.id``) of the job that submitted it, so
each task can be charged to the group active when its job started:

    SparkListenerJobStart        -> jobs per group
    SparkListenerStageSubmitted  -> stage id -> group
    SparkListenerTaskEnd         -> task time, shuffle write, spill,
                                    peak execution memory

Only the standard library is used, so the roll-up also runs after the
Spark session is stopped and in the unit tests without a JVM.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

MB = 1024.0 * 1024.0
GROUP_KEY = "spark.jobGroup.id"


@dataclass
class GroupStats:
    """Totals of one job group over the whole log."""

    jobs: int = 0
    tasks: int = 0
    task_ms: int = 0
    shuffle_write_bytes: int = 0
    disk_spill_bytes: int = 0
    peak_exec_mem_bytes: int = 0
    output_records: int = 0
    #: stage id -> task durations (ms) of that stage
    stage_task_ms: dict[int, list[int]] = field(default_factory=lambda: defaultdict(list))

    def task_skew(self) -> float:
        """max / median task time of the group's dominant stage (the
        stage with the largest summed task time); 1.0 when it has a
        single task, 0.0 when the group ran no task."""
        if not self.stage_task_ms:
            return 0.0
        durations = max(self.stage_task_ms.values(), key=sum)
        median = statistics.median(durations)
        return max(durations) / median if median > 0 else 1.0


def _group(props: dict | None) -> str | None:
    return (props or {}).get(GROUP_KEY)


def rollup(path: str | Path) -> dict[str, GroupStats]:
    """Per-group totals of the event log at ``path``. Jobs and stages
    without a job group are collected under the empty string."""
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if not line.strip():
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = _group(ev.get("Properties")) or ""
                stats[group].jobs += 1
                # stages listed by the job; a stage submitted later
                # carries its own properties and overrides this
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                group = _group(ev.get("Properties"))
                if group is not None:
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                _add_task(stats[stage_group.get(ev["Stage ID"], "")], ev)
    return dict(stats)


def _add_task(g: GroupStats, ev: dict) -> None:
    info = ev.get("Task Info", {})
    metrics = ev.get("Task Metrics") or {}
    g.tasks += 1
    duration = max(0, int(info.get("Finish Time", 0)) - int(info.get("Launch Time", 0)))
    g.task_ms += duration
    g.stage_task_ms[ev["Stage ID"]].append(duration)
    shuffle = metrics.get("Shuffle Write Metrics") or {}
    g.shuffle_write_bytes += int(shuffle.get("Shuffle Bytes Written", 0))
    g.disk_spill_bytes += int(metrics.get("Disk Bytes Spilled", 0))
    g.output_records += int((metrics.get("Output Metrics") or {}).get("Records Written", 0))
    g.peak_exec_mem_bytes = max(
        g.peak_exec_mem_bytes, int(metrics.get("Peak Execution Memory", 0))
    )


def find_log(log_dir: str | Path) -> Path:
    """The single finished application log in ``log_dir``."""
    logs = [
        p for p in Path(log_dir).iterdir()
        if p.is_file() and not p.name.endswith(".inprogress") and not p.name.startswith(".")
    ]
    if len(logs) != 1:
        raise FileNotFoundError(f"expected one finished event log in {log_dir}, found {logs}")
    return logs[0]
