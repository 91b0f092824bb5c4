"""Spark event-log parser: task metrics summed per job group.

The traced run enables the event log and wraps every call into a layer in
``setJobGroup(<layer>)``; streaming micro-batch jobs carry their query's
run id as the job group. This module turns the JSON-lines log into
per-group totals without a JVM, so it is unit-tested on a small fixture.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

NO_GROUP = "(none)"

FIELDS = (
    "cpu_s",
    "run_s",
    "gc_s",
    "tasks",
    "stages",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_records",
)


def _group(props: dict | None) -> str:
    return (props or {}).get("spark.jobGroup.id") or NO_GROUP


def aggregate(lines) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group over an iterable of event-log lines."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = _group(ev.get("Properties"))
            for sid in ev.get("Stage IDs", []):
                stage_group[int(sid)] = group
        elif kind == "SparkListenerStageSubmitted":
            sid = int(ev["Stage Info"]["Stage ID"])
            group = stage_group.setdefault(sid, _group(ev.get("Properties")))
            totals[group]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(int(ev.get("Stage ID", -1)), NO_GROUP)
            _add_task(totals[group], ev.get("Task Metrics") or {})
    return {g: dict(v) for g, v in totals.items()}


def _add_task(acc: dict[str, float], m: dict) -> None:
    acc["tasks"] += 1
    acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["run_s"] += m.get("Executor Run Time", 0) / 1e3
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    acc["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)


def aggregate_dir(log_dir: str) -> dict[str, dict[str, float]]:
    """Aggregate every (uncompressed) event log in ``log_dir``; one file per
    SparkContext, so a run that restarts its session leaves several."""
    merged: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            for group, vals in aggregate(fh).items():
                for k, v in vals.items():
                    merged[group][k] += v
    return {g: dict(v) for g, v in merged.items()}


def total(groups: dict[str, dict[str, float]], names=None) -> dict[str, float]:
    """Sum of the given groups (all groups when ``names`` is None)."""
    out = dict.fromkeys(FIELDS, 0)
    for g, vals in groups.items():
        if names is None or g in names:
            for k in FIELDS:
                out[k] += vals.get(k, 0)
    return out
