"""Spark event-log reader: job, stage and task records -> ``spark.*``
metrics per job group.

The traced run sets one job group per public call, so every job a call
launches (driver-side probes, broadcasts, the action itself) carries
the call's id in its ``spark.jobGroup.id`` property.  Tasks belong to
the job that first listed their stage; a stage re-listed by a later
job (a reused shuffle) is skipped there and runs no tasks.

Reads both the plain single-file log and Spark 4's rolling
``eventlog_v2_<app>/events_<n>_<app>`` layout.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

#: metric name -> unit, in report order
METRICS = {
    "jobs": "count",
    "tasks": "count",
    "failed_tasks": "count",
    "executor_cpu_s": "s",
    "executor_run_s": "s",
    "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "shuffle_fetch_wait_s": "s",
    "spill_bytes": "bytes",
    "peak_exec_mem_mb": "MB",
    "gc_s": "s",
    "result_bytes": "bytes",
}

NO_GROUP = ""


def _new() -> dict[str, float]:
    return {k: 0.0 for k in METRICS}


def log_files(event_dir: str) -> list[str]:
    """Every event file under ``event_dir``, in write order."""
    def order(path: str):
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return (os.path.dirname(path), int(m.group(1)) if m else 0)

    files = [
        p for p in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
        and not os.path.basename(p).startswith((".", "appstatus"))
    ]
    return sorted(files, key=order)


def iter_events(paths: list[str]):
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def metrics_by_group(events) -> dict[str, dict[str, float]]:
    """Fold events into ``group id -> {metric: value}``.  Sums, except
    ``peak_exec_mem_mb`` (the largest single task's peak)."""
    out: dict[str, dict[str, float]] = defaultdict(_new)
    stage_group: dict[int, str] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or NO_GROUP
            out[group]["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(e.get("Stage ID"), NO_GROUP)
            _add_task(out[group], e)
    return dict(out)


def _add_task(m: dict[str, float], e: dict) -> None:
    m["tasks"] += 1
    info = e.get("Task Info") or {}
    reason = (e.get("Task End Reason") or {}).get("Reason", "Success")
    if info.get("Failed") or reason != "Success":
        m["failed_tasks"] += 1
    tm = e.get("Task Metrics")
    if not tm:
        return  # a task lost with its executor reports no metrics
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
    m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    m["shuffle_read_bytes"] += (
        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    )
    m["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    m["peak_exec_mem_mb"] = max(
        m["peak_exec_mem_mb"], tm.get("Peak Execution Memory", 0) / 2**20
    )
    m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    m["result_bytes"] += tm.get("Result Size", 0)


def read_groups(event_dir: str) -> dict[str, dict[str, float]]:
    return metrics_by_group(iter_events(log_files(event_dir)))
