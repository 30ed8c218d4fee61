"""Offline reader of Spark's JSON event log, grouped by job group.

The traced run starts the JVM with ``spark.eventLog.enabled=true`` (and
``compress=false``, ``rolling.enabled=true``), tags every timed operation
with ``sc.setJobGroup`` and reads the log after ``spark.stop()``. Rolling
logs are format v2: a directory ``eventlog_v2_<appId>/`` of
``events_<n>_<appId>`` files; a plain single-file log is read too.

``read_counters`` returns, per job group, the task-level counters the
benchmark reports as ``spark.*``.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

MB = 1e6
COUNTERS = (
    "jobs", "stages", "stages_skipped", "tasks", "failed_tasks",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "gc_s",
    "executor_run_s", "scheduler_delay_s",
)


def log_files(log_dir: str) -> list[str]:
    """Event files of the one application logged under ``log_dir``."""
    v2 = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*")))
    if v2:
        files = glob.glob(os.path.join(v2[-1], "events_*"))
        return sorted(files, key=lambda p: int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1)))
    return sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))


def events(log_dir: str):
    for path in log_files(log_dir):
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def read_counters(log_dir: str) -> dict[str, dict[str, float]]:
    """Job group → counters. Jobs without a group land under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    job_stages: dict[str, set[int]] = defaultdict(set)
    run_stages: dict[str, set[int]] = defaultdict(set)
    for ev in events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
                job_stages[group].add(sid)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            run_stages[stage_group.get(sid, "")].add(sid)
        elif kind == "SparkListenerTaskEnd":
            c = out[stage_group.get(ev.get("Stage ID"), "")]
            c["tasks"] += 1
            info = ev.get("Task Info") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            if info.get("Failed") or reason != "Success":
                c["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            c["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
            c["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            c["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            run_ms = m.get("Executor Run Time", 0)
            c["executor_run_s"] += run_ms / 1e3
            if info.get("Finish Time") and info.get("Launch Time"):
                wall = info["Finish Time"] - info["Launch Time"]
                busy = (run_ms + m.get("Executor Deserialize Time", 0)
                        + m.get("Result Serialization Time", 0) + info.get("Getting Result Time", 0))
                c["scheduler_delay_s"] += max(wall - busy, 0) / 1e3
    for group, sids in job_stages.items():
        ran = run_stages.get(group, set())
        out[group]["stages"] = float(len(sids))
        out[group]["stages_skipped"] = float(len(sids - ran))
    return dict(out)
