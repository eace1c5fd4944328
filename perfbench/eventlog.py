"""Stdlib-only reader for an uncompressed Spark event log.

Folds ``SparkListenerTaskEnd`` metrics into one row per job group: the
``spark.jobGroup.id`` property of each ``SparkListenerJobStart`` names the
group, and every stage a job lists belongs to that job's group (the first
job to list a stage claims it).
"""

from __future__ import annotations

import json
from collections import defaultdict

# Python-boundary task accumulators (SQL metrics of the Arrow/pandas UDF
# operators), summed per group under these short names
PY_ACCUMULATORS = {
    "time to run Python workers": "python_worker_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}

FIELDS = ("jobs", "tasks", "task_failures", "run_ms", "cpu_ns", "gc_ms",
          "scheduler_delay_ms", "input_bytes", "shuffle_read_bytes",
          "shuffle_write_bytes", "spill_bytes", *PY_ACCUMULATORS.values())


def _task_row(ev: dict) -> dict:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    duration = max(0, (info.get("Finish Time") or 0) - (info.get("Launch Time") or 0))
    run_ms = m.get("Executor Run Time", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    row = {
        "tasks": 1,
        "task_failures": 1 if info.get("Failed") or info.get("Killed") else 0,
        "run_ms": run_ms,
        "cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        # the Spark UI's definition: wall not spent deserializing, running,
        # serializing the result or fetching it
        "scheduler_delay_ms": max(0, duration - run_ms
                                  - m.get("Executor Deserialize Time", 0)
                                  - m.get("Result Serialization Time", 0)
                                  - (info.get("Getting Result Time") or 0)),
        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "shuffle_read_bytes": (sr.get("Remote Bytes Read", 0)
                               + sr.get("Local Bytes Read", 0)),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": (m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0)),
    }
    for acc in info.get("Accumulables") or ():
        key = PY_ACCUMULATORS.get(acc.get("Name"))
        if key is not None:
            row[key] = row.get(key, 0) + int(acc.get("Update") or 0)
    return row


def fold(path: str) -> dict[str, dict]:
    """``{job group: {field: total}}`` plus ``stage_ms`` (task run times
    per stage id, for skew). Tasks of jobs without a group fold under the
    empty string."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(
        lambda: dict.fromkeys(FIELDS, 0) | {"stage_ms": defaultdict(list)})
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                groups[group]["jobs"] += 1
                for sid in ev.get("Stage IDs") or ():
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                sid = ev.get("Stage ID")
                g = groups[stage_group.get(sid, "")]
                row = _task_row(ev)
                for k, v in row.items():
                    g[k] += v
                g["stage_ms"][sid].append(row["run_ms"])
    return dict(groups)
