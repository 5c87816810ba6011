"""Spark event log → per-call counters.

The traced run tags every timed call with ``SparkContext.setJobGroup`` and
writes an uncompressed, non-rolling event log. Job-group ids reach the
``Properties`` of ``SparkListenerJobStart`` and ``SparkListenerStageSubmitted``;
task events carry only their stage, so tasks are attributed through the
stage that ran them.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class GroupStats:
    """Counters of the jobs, stages and tasks of one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    # (submission, completion) of each job, epoch seconds
    job_spans: list[tuple[float, float]] = field(default_factory=list)


def event_files(log_dir: str) -> list[str]:
    return sorted(
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.startswith(".") and not f.endswith(".inprogress")
    )


def parse(lines) -> dict[str, GroupStats]:
    """Aggregate event-log JSON lines by job group."""
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[tuple[int, int], str] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            if group is not None:
                job_group[ev["Job ID"]] = group
                job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                stats[group].jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                stats[job_group[jid]].job_spans.append((job_start[jid], ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            info = ev["Stage Info"]
            if group is not None:
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get((info["Stage ID"], info["Stage Attempt ID"]))
            if group is not None:
                stats[group].stages += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            if group is None:
                continue
            s = stats[group]
            s.tasks += 1
            if ev["Task End Reason"]["Reason"] != "Success":
                s.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            s.run_ms += m.get("Executor Run Time", 0)
            s.gc_ms += m.get("JVM GC Time", 0)
            s.spill_bytes += m.get("Disk Bytes Spilled", 0)
            s.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            s.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return dict(stats)


def parse_dir(log_dir: str) -> dict[str, GroupStats]:
    def lines():
        for path in event_files(log_dir):
            with open(path) as f:
                yield from f

    return parse(lines())


def covered(spans: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Seconds of [t0, t1] covered by the union of `spans`."""
    total, end = 0.0, t0
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, t1)
        if b > a:
            total += b - a
            end = b
    return total
