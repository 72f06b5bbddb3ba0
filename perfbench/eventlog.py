"""Fold a Spark event log into per-span layer metrics.

Every span of the traced run sets a Spark job group named after itself
before it calls into the program, so each job in the log carries the
span that started it. Per span this module reports:

- ``wall_s``: the span's own duration, from the harness's clock;
- ``driver_s``: wall minus the part of it covered by the span's jobs,
  i.e. planning, py4j calls, driver-side work and scheduling gaps;
- ``jobs``, ``tasks``, ``executor_cpu_s``, ``shuffle_mb`` (read + write),
  ``spill_mb`` (bytes spilled to disk) and ``python_mb`` (bytes sent to
  and returned from Python workers, from the SQL metrics of the Python
  evaluation nodes).

The log must be written uncompressed (``spark.eventLog.compress=false``).
Spark 4 writes a rolling log directory ``eventlog_v2_<app>/events_<n>_<app>``;
a single plain file works too.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

FIELDS = ("wall_s", "driver_s", "jobs", "tasks", "executor_cpu_s",
          "shuffle_mb", "spill_mb", "python_mb")
PYTHON_METRICS = ("data sent to Python workers", "data returned from Python workers")
MB = 1e6


def read_events(path: str):
    """Yield the events of a log file, or of every part of a log directory."""
    if os.path.isdir(path):
        parts = [p for p in os.listdir(path) if p.startswith("events_")]
        parts.sort(key=lambda p: int(p.split("_")[1]))
        files = [os.path.join(path, p) for p in parts]
    else:
        files = [path]
    for f in files:
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def find_log(log_dir: str) -> str:
    """The one application log a session wrote under ``log_dir``."""
    logs = [os.path.join(log_dir, n) for n in os.listdir(log_dir)
            if not n.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return logs[0]


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _overlap_ms(jobs: list[tuple[float, float]], spans: list[tuple[float, float]]) -> float:
    clipped = [(max(a, s), min(b, e)) for a, b in jobs for s, e in spans
               if min(b, e) > max(a, s)]
    return _union_ms(clipped)


def fold(events, spans: dict[str, list[tuple[float, float]]]):
    """Per-span metrics from ``events`` and the spans' intervals.

    ``spans`` maps a span name (= job group) to its call intervals in
    epoch milliseconds. Returns ``(per_span, failed_tasks)`` where
    ``per_span[name]`` holds every field of ``FIELDS``.
    """
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    job_end: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    acc = defaultdict(lambda: defaultdict(float))
    failed_tasks = 0
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_group[jid] = group
            job_start[jid] = e["Submission Time"]
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            job_end[e["Job ID"]] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            info, m = e.get("Task Info", {}), e.get("Task Metrics") or {}
            if info.get("Failed") or info.get("Killed"):
                failed_tasks += 1
            a = acc[stage_group.get(e.get("Stage ID"), "")]
            a["tasks"] += 1
            a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            rd = m.get("Shuffle Read Metrics", {})
            wr = m.get("Shuffle Write Metrics", {})
            a["shuffle_mb"] += (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                                + wr.get("Shuffle Bytes Written", 0)) / MB
            a["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            for u in info.get("Accumulables", []):
                if u.get("Name") in PYTHON_METRICS:
                    a["python_mb"] += float(u.get("Update") or 0) / MB

    out = {}
    for name, intervals in spans.items():
        jobs = [(job_start[j], job_end.get(j, job_start[j]))
                for j, g in job_group.items() if g == name]
        wall_ms = _union_ms(intervals)
        row = {f: 0.0 for f in FIELDS}
        row.update(acc.get(name, {}))
        row["wall_s"] = wall_ms / 1e3
        row["driver_s"] = max(wall_ms - _overlap_ms(jobs, intervals), 0.0) / 1e3
        row["jobs"] = float(len(jobs))
        out[name] = row
    return out, failed_tasks
