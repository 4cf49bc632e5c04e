"""Per-layer counters from Spark's event log.

In a traced run the driver tags every Spark job with a job group named
after the layer that started it (``Recorder.call``). This module joins
the event log's job starts (job -> group, stages) with its task ends
(stage -> task metrics) and sums the metrics per group.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

MB = 1e6


def _new() -> dict:
    return {
        "jobs": 0,
        "tasks": 0,
        "executor_cpu_s": 0.0,
        "gc_s": 0.0,
        "input_mb": 0.0,
        "shuffle_write_mb": 0.0,
        "spill_mb": 0.0,
        "output_mb": 0.0,
    }


def _read_app(path: str, groups: dict) -> None:
    """One application's log (stage ids restart per SparkContext)."""
    stage_group: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untagged"
                groups[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(ev["Stage ID"], "untagged")]
                tm = ev.get("Task Metrics") or {}
                g["tasks"] += 1
                g["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                g["input_mb"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
                g["output_mb"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
                g["shuffle_write_mb"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                ) / MB
                g["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB


def group_counters(log_dir: str) -> dict[str, dict]:
    groups: dict[str, dict] = defaultdict(_new)
    for name in sorted(os.listdir(log_dir)):
        _read_app(os.path.join(log_dir, name), groups)
    return groups
