"""Read Spark's uncompressed JSON event log and sum task metrics per job group.

A traced run tags every Spark job with the span it ran in, through
``SparkContext.setJobGroup``; the group id lands in the
``spark.jobGroup.id`` property of ``SparkListenerJobStart``. This module
maps each task (``SparkListenerTaskEnd``) to its stage, the stage to its
job, and the job to that group, then sums the task metrics per group.

Spark 4 writes the log zstd-compressed unless
``spark.eventLog.compress=false``; only the plain JSON form is read here.
The log may be a single file or a rolling ``eventlog_v2_*`` directory of
``events_<n>_*`` files, which are read in ``n`` order.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field
from statistics import median

# SQL metric names of the Python runner (Arrow UDF boundary). Sizes are
# bytes, times milliseconds.
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
_PY_NAMES = (PY_SENT, PY_RETURNED, PY_INIT, PY_RUN)


@dataclass
class GroupStats:
    """Task metrics summed over every task of the jobs in one job group."""

    jobs: int = 0
    tasks: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python: dict[str, int] = field(
        default_factory=lambda: dict.fromkeys(_PY_NAMES, 0))
    # executor run time of each task, per Spark stage id (for skew)
    stage_task_ms: dict[int, list[int]] = field(default_factory=dict)

    def add(self, other: GroupStats) -> None:
        self.jobs += other.jobs
        self.tasks += other.tasks
        self.run_ms += other.run_ms
        self.gc_ms += other.gc_ms
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.spill_bytes += other.spill_bytes
        for k, v in other.python.items():
            self.python[k] += v
        for sid, ms in other.stage_task_ms.items():
            self.stage_task_ms.setdefault(sid, []).extend(ms)

    def skew(self) -> float:
        """Task max/median run time of the stage with the most task time
        (1.0 when there is no task)."""
        if not self.stage_task_ms:
            return 1.0
        heaviest = max(self.stage_task_ms.values(), key=sum)
        mid = median(heaviest)
        return max(heaviest) / mid if mid > 0 else 1.0


def event_files(path: str) -> list[str]:
    """The JSON event files under `path` (a file, a rolling eventlog_v2
    directory, or the spark.eventLog.dir holding one of either)."""
    if os.path.isfile(path):
        return [path]
    rolled = glob.glob(os.path.join(path, "events_*"))
    if rolled:
        def index(p: str) -> int:
            m = re.match(r"events_(\d+)_", os.path.basename(p))
            return int(m.group(1)) if m else 0
        return sorted(rolled, key=index)
    out: list[str] = []
    for entry in sorted(os.listdir(path)):
        if not entry.startswith("."):
            out.extend(event_files(os.path.join(path, entry)))
    return out


def read_events(path: str) -> Iterator[dict]:
    for name in event_files(path):
        with open(name, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def group_stats(events: Iterable[dict]) -> dict[str | None, GroupStats]:
    """{job group id (None for untagged jobs): summed task metrics}."""
    stage_group: dict[int, str | None] = {}
    stats: dict[str | None, GroupStats] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            stats.setdefault(group, GroupStats()).jobs += 1
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            if sid not in stage_group:
                continue  # a task of a stage whose job start was not logged
            s = stats.setdefault(stage_group[sid], GroupStats())
            m = e.get("Task Metrics") or {}
            run = int(m.get("Executor Run Time", 0))
            s.tasks += 1
            s.run_ms += run
            s.gc_ms += int(m.get("JVM GC Time", 0))
            s.shuffle_write_bytes += int(
                (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0))
            s.spill_bytes += (int(m.get("Memory Bytes Spilled", 0))
                              + int(m.get("Disk Bytes Spilled", 0)))
            s.stage_task_ms.setdefault(sid, []).append(run)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if name in s.python:
                    s.python[name] += int(acc.get("Update") or 0)
    return stats


def rollup(stats: dict[str | None, GroupStats], prefix: str) -> GroupStats:
    """Sum of every group equal to `prefix` or nested under it
    (``prefix/...``)."""
    out = GroupStats()
    for group, s in stats.items():
        if group is not None and (group == prefix
                                  or group.startswith(prefix + "/")):
            out.add(s)
    return out
