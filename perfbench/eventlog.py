"""Fold a Spark event log (plain JSON lines) into per-job-group totals.

Spark writes one JSON object per line when the session runs with
``spark.eventLog.compress=false`` and ``spark.eventLog.rolling.enabled=false``.
Jobs carry their group in the ``spark.jobGroup.id`` property; stages and
tasks are attributed to a group through the properties of the stage
submission, which Spark copies from the job that submitted the stage.

Standard library only, so the folder runs (and is tested) without Spark.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

#: SQL metric names (task accumulables) for the bytes crossing the
#: JVM/Python boundary of ``mapInPandas``, pandas UDFs and Arrow UDFs.
PYTHON_BYTES_METRICS = ("data sent to Python workers", "data returned from Python workers")

NO_GROUP = ""


@dataclass
class GroupTotals:
    """Everything the event log says about one job group."""

    jobs: int = 0
    failed_jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_bytes: int = 0
    #: (submission, completion) of each job, epoch seconds
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    #: message of each failed job
    failures: list[str] = field(default_factory=list)


def fold(lines) -> dict[str, GroupTotals]:
    """Fold event-log lines (an iterable of JSON strings) into totals per
    job group. Jobs without a group land under :data:`NO_GROUP`."""
    groups: dict[str, GroupTotals] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[tuple[int, int], str] = {}

    def totals(group: str) -> GroupTotals:
        return groups.setdefault(group, GroupTotals())

    for line in lines:
        if not line.strip():
            continue
        event = json.loads(line)
        kind = event.get("Event")
        if kind == "SparkListenerJobStart":
            group = _group(event)
            job_group[event["Job ID"]] = group
            job_start[event["Job ID"]] = event["Submission Time"] / 1000.0
            totals(group).jobs += 1
        elif kind == "SparkListenerJobEnd":
            job = event["Job ID"]
            g = totals(job_group.get(job, NO_GROUP))
            end = event["Completion Time"] / 1000.0
            g.job_intervals.append((job_start.get(job, end), end))
            result = event.get("Job Result", {})
            if result.get("Result") != "JobSucceeded":
                g.failed_jobs += 1
                g.failures.append(result.get("Exception", {}).get("Message", "job failed"))
        elif kind == "SparkListenerStageSubmitted":
            info = event["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            stage_group[key] = _group(event)
            totals(stage_group[key]).stages += 1
        elif kind == "SparkListenerTaskEnd":
            key = (event["Stage ID"], event["Stage Attempt ID"])
            _add_task(totals(stage_group.get(key, NO_GROUP)), event)
    return groups


def fold_file(path: str) -> dict[str, GroupTotals]:
    with open(path) as f:
        return fold(f)


def _group(event: dict) -> str:
    return (event.get("Properties") or {}).get("spark.jobGroup.id") or NO_GROUP


def _add_task(g: GroupTotals, event: dict) -> None:
    g.tasks += 1
    if event.get("Task End Reason", {}).get("Reason") != "Success":
        g.failed_tasks += 1
    m = event.get("Task Metrics") or {}
    g.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
    g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
    g.gc_s += m.get("JVM GC Time", 0) / 1000.0
    g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    g.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    g.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    read = m.get("Shuffle Read Metrics") or {}
    g.shuffle_read_bytes += read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
    g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    for acc in (event.get("Task Info") or {}).get("Accumulables", []):
        if acc.get("Name") in PYTHON_BYTES_METRICS:
            g.python_bytes += int(acc.get("Update") or 0)


def uncovered_s(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Seconds of ``[start, end]`` not covered by any of ``intervals``:
    the driver's control-plane time between (and around) jobs."""
    covered = 0.0
    cursor = start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            covered += b - a
            cursor = b
    return max(0.0, end - start - covered)
