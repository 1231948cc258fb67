"""Spark event-log parser (stdlib ``json`` only).

Reads an uncompressed, non-rolling event log (``spark.eventLog.compress=
false``, ``spark.eventLog.rolling.enabled=false``) and totals task and SQL
metrics per job group. The benchmark opens one job group per span, so a
group's totals are the Spark-side cost of one call into one layer.

SQL metrics that have no task-metric equivalent (time spent in Python
workers, rows returned by Python nodes, files listed by a scan) are found
by walking every physical plan the log carries, including the re-plans
adaptive execution emits, and collecting their accumulator ids.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# physical plan nodes that run Python workers (Arrow UDFs, mapInPandas,
# applyInPandas, row UDFs, ...)
_PYTHON_NODE_MARKERS = ("Python", "InPandas", "InArrow")
_PY_TIME = "time to run Python workers"  # SQL timing metric, ms
_ROWS = "number of output rows"
_FILES_READ = "number of files read"


@dataclass
class GroupStats:
    """Totals over every job submitted under one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_failures: int = 0
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    scheduler_delay_ms: int = 0
    jvm_gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_rows: int = 0
    output_bytes: int = 0
    python_ms: int = 0
    python_rows: int = 0
    files_read: int = 0
    # (submission, completion) of every job, epoch ms
    job_intervals: list[tuple[int, int]] = field(default_factory=list)


@dataclass
class _Ids:
    python_time: set[int] = field(default_factory=set)
    python_rows: set[int] = field(default_factory=set)
    files_read: set[int] = field(default_factory=set)


def _collect_ids(node: dict, ids: _Ids) -> None:
    is_python = any(m in node.get("nodeName", "") for m in _PYTHON_NODE_MARKERS)
    for metric in node.get("metrics", ()):
        name, acc = metric.get("name"), metric.get("accumulatorId")
        if name == _PY_TIME:
            ids.python_time.add(acc)
        elif name == _ROWS and is_python:
            ids.python_rows.add(acc)
        elif name == _FILES_READ:
            ids.files_read.add(acc)
    for child in node.get("children", ()):
        _collect_ids(child, ids)


def _task_stats(stats: GroupStats, event: dict, ids: _Ids) -> None:
    info = event.get("Task Info") or {}
    metrics = event.get("Task Metrics") or {}
    stats.tasks += 1
    if info.get("Failed") or info.get("Killed"):
        stats.task_failures += 1
    run = metrics.get("Executor Run Time", 0)
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    stats.executor_run_ms += run
    stats.executor_cpu_ns += metrics.get("Executor CPU Time", 0)
    stats.scheduler_delay_ms += max(
        0,
        duration
        - run
        - metrics.get("Executor Deserialize Time", 0)
        - metrics.get("Result Serialization Time", 0),
    )
    stats.jvm_gc_ms += metrics.get("JVM GC Time", 0)
    write = metrics.get("Shuffle Write Metrics") or {}
    stats.shuffle_write_bytes += write.get("Shuffle Bytes Written", 0)
    read = metrics.get("Shuffle Read Metrics") or {}
    stats.shuffle_read_bytes += read.get("Remote Bytes Read", 0) + read.get(
        "Local Bytes Read", 0
    )
    stats.spill_bytes += metrics.get("Memory Bytes Spilled", 0) + metrics.get(
        "Disk Bytes Spilled", 0
    )
    inp = metrics.get("Input Metrics") or {}
    stats.input_bytes += inp.get("Bytes Read", 0)
    stats.input_rows += inp.get("Records Read", 0)
    stats.output_bytes += (metrics.get("Output Metrics") or {}).get(
        "Bytes Written", 0
    )
    for acc in info.get("Accumulables", ()):
        acc_id = acc.get("ID")
        if acc_id in ids.python_time:
            stats.python_ms += int(acc.get("Update", 0))
        elif acc_id in ids.python_rows:
            stats.python_rows += int(acc.get("Update", 0))


def parse_lines(lines) -> dict[str, GroupStats]:
    """Job-group id -> totals, from an iterable of event-log lines.
    Jobs without a job group are reported under ``""``."""
    events = [json.loads(line) for line in lines if line.strip()]
    ids = _Ids()
    exec_group: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind.endswith("SQLExecutionStart"):
            exec_group[ev["executionId"]] = ev.get("jobGroupId") or ""
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _collect_ids(ev.get("sparkPlanInfo") or {}, ids)

    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}

    def group(name: str) -> GroupStats:
        return groups.setdefault(name, GroupStats())

    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            name = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_group[ev["Job ID"]] = name
            job_start[ev["Job ID"]] = ev.get("Submission Time", 0)
            group(name).jobs += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, name)
        elif kind == "SparkListenerJobEnd":
            name = job_group.get(ev["Job ID"], "")
            group(name).job_intervals.append(
                (job_start.get(ev["Job ID"], 0), ev.get("Completion Time", 0))
            )
        elif kind == "SparkListenerStageCompleted":
            sid = (ev.get("Stage Info") or {}).get("Stage ID")
            group(stage_group.get(sid, "")).stages += 1
        elif kind == "SparkListenerTaskEnd":
            _task_stats(group(stage_group.get(ev.get("Stage ID"), "")), ev, ids)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            stats = group(exec_group.get(ev.get("executionId"), ""))
            for acc_id, value in ev.get("accumUpdates", ()):
                if acc_id in ids.files_read:
                    stats.files_read += int(value)
    return groups


def parse_file(path: str) -> dict[str, GroupStats]:
    with open(path, encoding="utf-8") as f:
        return parse_lines(f)


def covered_ms(intervals, lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cursor = 0, lo
    for start, end in sorted(intervals):
        start, end = max(start, cursor), min(end, hi)
        if end > start:
            total += end - start
            cursor = end
    return total
