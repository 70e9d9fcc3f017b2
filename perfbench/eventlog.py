"""Offline parser for Spark's JSON event log.

Each layer call the benchmark makes runs under a job description (its layer
label). This module joins task metrics to stages, stages to the job that ran
them, and jobs to their description, and returns per-label totals.
"""

from __future__ import annotations

import json
from collections import defaultdict
from pathlib import Path

FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
    "executor_run_s",
    "executor_cpu_s",
    "jvm_gc_s",
)


def _task_totals(metrics: dict) -> dict[str, float]:
    rd = metrics.get("Shuffle Read Metrics", {})
    wr = metrics.get("Shuffle Write Metrics", {})
    out = metrics.get("Output Metrics", {})
    return {
        "shuffle_read_bytes": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
        "shuffle_write_bytes": wr.get("Shuffle Bytes Written", 0),
        "spill_bytes": metrics.get("Memory Bytes Spilled", 0) + metrics.get("Disk Bytes Spilled", 0),
        "output_bytes": out.get("Bytes Written", 0),
        "executor_run_s": metrics.get("Executor Run Time", 0) / 1e3,
        "executor_cpu_s": metrics.get("Executor CPU Time", 0) / 1e9,
        "jvm_gc_s": metrics.get("JVM GC Time", 0) / 1e3,
    }


def per_label(event_dir: Path) -> dict[str, dict[str, float]]:
    """{job description: {field: total}} over every event log in event_dir.
    Jobs without a description are grouped under ''."""
    job_label: dict[int, str] = {}
    stage_label: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    stages_seen: set[int] = set()
    for path in sorted(event_dir.iterdir()):
        with path.open() as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    label = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    job_label[ev["Job ID"]] = label
                    totals[label]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_label.setdefault(sid, label)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    label = stage_label.get(sid, "")
                    row = totals[label]
                    row["tasks"] += 1
                    if sid not in stages_seen:
                        stages_seen.add(sid)
                        row["stages"] += 1
                    for k, v in _task_totals(ev.get("Task Metrics") or {}).items():
                        row[k] += v
    return {k: dict(v) for k, v in totals.items()}
