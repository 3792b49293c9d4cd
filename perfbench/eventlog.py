"""Spark event-log parser: task metrics per job group.

Spark writes the log with ``spark.ui.enabled=false`` too. With rolling
on (the default on Spark 4) each application is an ``eventlog_v2_*``
directory of ``events_*`` files; without it, one file per application.
``spark.eventLog.compress=false`` keeps them plain JSON lines.

Every stage carries the job group of the thread that submitted it in
``SparkListenerStageSubmitted.Properties``, so a task is attributed to
a group through its stage; jobs are attributed through
``SparkListenerJobStart.Properties``.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass


@dataclass
class GroupMetrics:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "GroupMetrics") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def log_files(log_dir: str) -> list[str]:
    out = []
    for dirpath, _, files in os.walk(log_dir):
        for f in files:
            if f.startswith(".") or f.startswith("appstatus") or f.endswith(".crc"):
                continue
            out.append(os.path.join(dirpath, f))
    return sorted(out)


def _group(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id")


def parse(lines) -> dict[str | None, GroupMetrics]:
    """Job group id (None for jobs run outside any group) -> metrics."""
    stage_group: dict[tuple[int, int], str | None] = {}
    out: dict[str | None, GroupMetrics] = {}
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            out.setdefault(_group(e.get("Properties")), GroupMetrics()).jobs += 1
        elif ev == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = _group(e.get("Properties"))
        elif ev == "SparkListenerTaskEnd":
            g = stage_group.get((e["Stage ID"], e["Stage Attempt ID"]))
            m = out.setdefault(g, GroupMetrics())
            m.tasks += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                m.failed_tasks += 1
            tm = e.get("Task Metrics") or {}
            m.run_s += tm.get("Executor Run Time", 0) / 1000.0
            m.gc_s += tm.get("JVM GC Time", 0) / 1000.0
            m.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            m.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    return out


def parse_dir(log_dir: str) -> dict[str | None, GroupMetrics]:
    """Merge every application log under ``log_dir`` (a run that
    restarts its SparkContext writes one log per context)."""
    out: dict[str | None, GroupMetrics] = {}
    for path in log_files(log_dir):
        with open(path) as fh:
            for g, m in parse(fh).items():
                out.setdefault(g, GroupMetrics()).add(m)
    return out


def total(by_group: dict[str | None, GroupMetrics], groups: set[str]) -> GroupMetrics:
    out = GroupMetrics()
    for g in groups:
        if g in by_group:
            out.add(by_group[g])
    return out
