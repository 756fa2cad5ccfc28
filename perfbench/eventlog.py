"""Fold a Spark event log into per-job-group execution numbers.

The traced run enables ``spark.eventLog`` (uncompressed, one JSON object per
line) and tags every operation phase with a Spark job group. This module maps
each task back to its job group (task -> stage -> first job that lists the
stage -> ``spark.jobGroup.id``) and sums the task metrics per group:

=====================  ==================================================
field                  source
=====================  ==================================================
jobs                   SparkListenerJobStart
stages                 SparkListenerStageCompleted that ran >= 1 task
tasks                  SparkListenerTaskEnd
executor_run_s         Task Metrics / Executor Run Time (ms)
executor_cpu_s         Task Metrics / Executor CPU Time (ns)
gc_s                   Task Metrics / JVM GC Time (ms)
shuffle_write_bytes    Shuffle Write Metrics / Shuffle Bytes Written
shuffle_read_bytes     Shuffle Read Metrics / Local + Remote Bytes Read
spill_bytes            Memory Bytes Spilled + Disk Bytes Spilled
task_skew              max / median task duration of the slowest stage
slowest_stage_s        summed task time of that slowest stage
sql_executions         SQLExecutionStart whose jobs carry the group
=====================  ==================================================
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from collections.abc import Iterable

FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "task_skew",
    "slowest_stage_s",
    "sql_executions",
)

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def read_events(path: str) -> Iterable[dict]:
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def fold(events: Iterable[dict]) -> dict[str, dict[str, float]]:
    """Per job group: the ``FIELDS`` above. Jobs without a group are
    reported under the empty string."""
    stage_group: dict[int, str] = {}
    sql_groups: dict[int, str] = {}
    sql_started: set[int] = set()
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    durations: dict[int, list[float]] = defaultdict(list)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
            sql_id = props.get("spark.sql.execution.id")
            if sql_id is not None:
                sql_groups.setdefault(int(sql_id), group)
        elif kind == _SQL_START:
            sql_started.add(int(ev["executionId"]))
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"], "")
            acc = out[group]
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            acc["tasks"] += 1
            acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            acc["shuffle_read_bytes"] += sr.get("Local Bytes Read", 0) + sr.get(
                "Remote Bytes Read", 0
            )
            acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            durations[ev["Stage ID"]].append(
                (info["Finish Time"] - info["Launch Time"]) / 1e3
            )
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if durations.get(sid):
                out[stage_group.get(sid, "")]["stages"] += 1
    for sql_id in sql_started:
        if sql_id in sql_groups:
            out[sql_groups[sql_id]]["sql_executions"] += 1
    slowest: dict[str, tuple[float, float]] = {}
    for sid, ds in durations.items():
        group = stage_group.get(sid, "")
        total = sum(ds)
        if total > slowest.get(group, (-1.0, 0.0))[0]:
            med = statistics.median(ds)
            slowest[group] = (total, max(ds) / med if med > 0 else 1.0)
    for group, (total, skew) in slowest.items():
        out[group]["task_skew"] = skew
        out[group]["slowest_stage_s"] = total
    return dict(out)
