"""Offline reader for Spark's JSON event log.

Folds jobs, stages and tasks into per-job-group totals: the harness
gives every operation (and every ingest phase) its own job group, so
these totals are the per-operation and per-layer cost split.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    run_ms: float = 0.0           # executor run time, summed over tasks
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0          # bytes spilled to disk
    intervals: list = field(default_factory=list)  # job (start, end) ms

    def job_ms(self) -> float:
        """Wall time covered by at least one of the group's jobs."""
        total, end = 0.0, float("-inf")
        for s, e in sorted(self.intervals):
            if e <= end:
                continue
            total += e - max(s, end)
            end = e
        return total


def read(log_dir: str) -> dict[str, GroupStats]:
    """Job-group id -> totals, for the single event-log file in
    ``log_dir``. Jobs outside any group are filed under ``""``."""
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    job_start: dict[int, tuple[str, float]] = {}
    stage_group: dict[int, str] = {}
    with open(os.path.join(log_dir, name)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                job_start[ev["Job ID"]] = (g, ev["Submission Time"])
                groups[g].jobs += 1
            elif kind == "SparkListenerJobEnd":
                g, t0 = job_start.pop(ev["Job ID"], ("", None))
                if t0 is not None:
                    groups[g].intervals.append((t0, ev["Completion Time"]))
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                stage_group[ev["Stage Info"]["Stage ID"]] = (
                    props.get("spark.jobGroup.id") or "")
            elif kind == "SparkListenerTaskEnd":
                st = groups[stage_group.get(ev["Stage ID"], "")]
                m = ev.get("Task Metrics") or {}
                st.tasks += 1
                st.run_ms += m.get("Executor Run Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                st.spill_bytes += m.get("Disk Bytes Spilled", 0)
                st.shuffle_write_bytes += (
                    m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return dict(groups)


def merge(stats: list[GroupStats]) -> GroupStats:
    out = GroupStats()
    for s in stats:
        out.jobs += s.jobs
        out.tasks += s.tasks
        out.run_ms += s.run_ms
        out.gc_ms += s.gc_ms
        out.shuffle_write_bytes += s.shuffle_write_bytes
        out.spill_bytes += s.spill_bytes
        out.intervals += s.intervals
    return out
