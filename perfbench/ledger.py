"""Spark's own counters per job group, read from the uncompressed event log.

Spark writes either one file per application (``<dir>/<app id>``) or,
with rolling logs, a directory ``<dir>/eventlog_v2_<app id>/`` holding
``events_<n>_<app id>`` parts and ``appstatus_*`` markers.  Both are
read here; compressed logs are refused, since ``zstandard`` is not
installed.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict

COUNTERS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
            "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")

_MB = 1 << 20


def event_files(log_dir: str) -> list[str]:
    """Event-log parts under ``log_dir`` in write order."""
    files = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path) and name.startswith("eventlog_v2_"):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            files += [os.path.join(path, p) for p in parts]
        elif os.path.isfile(path):
            files.append(path)
    for f in files:
        if re.search(r"\.(zstd|lz4|snappy|lzf)(\.inprogress)?$", f):
            raise ValueError(f"compressed event log {f}: set spark.eventLog.compress=false")
    return files


def read_events(log_dir: str):
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def group_counters(log_dir: str) -> dict[str, dict[str, float]]:
    """{job group id: counters}.  Jobs without a group land under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    for ev in read_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            out[stage_group.get(sid, "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics")
            if not tm:
                continue
            c = out[stage_group.get(ev["Stage ID"], "")]
            c["tasks"] += 1
            c["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            c["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            rd = tm.get("Shuffle Read Metrics", {})
            c["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)) / _MB
            c["shuffle_write_mb"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / _MB
            c["spill_mb"] += (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / _MB
    return dict(out)


_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?(\w+)")


def plan_fingerprint(df) -> dict[str, int]:
    """Exchange / Sort / BroadcastExchange node counts in the executed
    plan of ``df`` (the final adaptive plan once ``df`` has run)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" in plan:  # adaptive plan: skip the initial one
        plan = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    counts = {"exchanges": 0, "sorts": 0, "broadcasts": 0}
    for line in plan.splitlines():
        m = _NODE.match(line)
        node = m.group(1) if m else ""
        if node in ("Exchange", "ShuffleExchange"):
            counts["exchanges"] += 1
        elif node == "BroadcastExchange":
            counts["broadcasts"] += 1
        elif node == "Sort":
            counts["sorts"] += 1
    return counts
