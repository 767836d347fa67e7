"""Offline census of a Spark JSON event log.

Spark writes the log when it is started with
``spark.eventLog.enabled=true`` (set from outside the program through
``PYSPARK_SUBMIT_ARGS``); with rolling on, the file sits at
``<dir>/eventlog_v2_<app>/events_<n>_<app>``. Every job carries its
``spark.jobGroup.id`` property, so the census is keyed by job group:
the benchmark sets one group per (pass, operation, phase).

Task times come from ``SparkListenerTaskEnd`` task metrics; the five
Python-worker figures come from the SQL metrics that the Arrow/pandas
operators attach to each task's accumulables.
"""
from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

# SQL metric name (as Spark writes it) -> census field
PY_METRICS = {
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
}
STAGE_FIELDS = (
    "tasks", "failed_tasks", "task_run_ms", "task_cpu_ms", "task_wait_ms",
    "gc_ms", "shuffle_write_bytes", "shuffle_write_records",
    "shuffle_read_bytes", "spill_bytes", *PY_METRICS.values(),
)


def app_logs(log_dir: str) -> list[list[str]]:
    """Event-log files under ``log_dir``, one list per application
    (a rolled log is a directory of numbered parts), in order."""
    apps = [sorted(glob.glob(os.path.join(d, "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
            for d in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*")))]
    apps += [[p] for p in sorted(glob.glob(os.path.join(log_dir, "*")))
             if os.path.isfile(p) and not p.endswith(".crc")]
    return apps


def read_events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def stage_census(log_dir: str) -> tuple[dict, dict]:
    """Return ``(stages, jobs_per_group)`` over every application logged
    under ``log_dir`` (stage ids restart in each one).

    ``stages`` maps ``(app, stage_id, attempt)`` to a dict of
    :data:`STAGE_FIELDS` plus ``group``; ``jobs_per_group`` counts
    ``SparkListenerJobStart`` events per job group.
    """
    stages: dict = {}
    jobs: dict[str, int] = defaultdict(int)
    for i, paths in enumerate(app_logs(log_dir)):
        app_stages, app_jobs = _app_census(read_events(paths))
        stages.update({(i, *k): v for k, v in app_stages.items()})
        for group, n in app_jobs.items():
            jobs[group] += n
    return stages, dict(jobs)


def _app_census(events) -> tuple[dict, dict]:
    """:func:`stage_census` of one application's events."""
    stages: dict = defaultdict(lambda: dict.fromkeys(STAGE_FIELDS, 0.0))
    stage_group: dict[int, str] = {}
    submitted: dict[tuple, float] = {}
    jobs: dict[str, int] = defaultdict(int)
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            jobs[group] += 1
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group is not None:
                stage_group[info["Stage ID"]] = group
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            if info.get("Submission Time"):
                submitted[key] = info["Submission Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            if info.get("Submission Time"):
                submitted.setdefault(key, info["Submission Time"])
        elif kind == "SparkListenerTaskEnd":
            key = (e["Stage ID"], e.get("Stage Attempt ID", 0))
            s = stages[key]
            info = e.get("Task Info", {})
            m = e.get("Task Metrics") or {}
            s["tasks"] += 1
            reason = (e.get("Task End Reason") or {}).get("Reason", "Success")
            if info.get("Failed") or reason != "Success":
                s["failed_tasks"] += 1
            s["task_run_ms"] += m.get("Executor Run Time", 0)
            s["task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            s["gc_ms"] += m.get("JVM GC Time", 0)
            w = m.get("Shuffle Write Metrics") or {}
            s["shuffle_write_bytes"] += w.get("Shuffle Bytes Written", 0)
            s["shuffle_write_records"] += w.get("Shuffle Records Written", 0)
            r = m.get("Shuffle Read Metrics") or {}
            s["shuffle_read_bytes"] += (r.get("Remote Bytes Read", 0)
                                        + r.get("Local Bytes Read", 0))
            s["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            s.setdefault("_launch", []).append(info.get("Launch Time", 0))
            for acc in info.get("Accumulables", []):
                field = PY_METRICS.get(acc.get("Name"))
                if field:
                    s[field] += _num(acc.get("Update"))
    out = {}
    for key, s in stages.items():
        sub = submitted.get(key)
        launches = s.pop("_launch", [])
        if sub:
            s["task_wait_ms"] = float(sum(max(0, t - sub) for t in launches if t))
        s["group"] = stage_group.get(key[0], "")
        out[key] = s
    return out, jobs


def group_totals(stages: dict, jobs: dict) -> dict[str, dict]:
    """Sum the stage census per job group, with job and stage counts."""
    totals: dict[str, dict] = {}
    for s in stages.values():
        t = totals.setdefault(s["group"], dict.fromkeys(STAGE_FIELDS, 0.0)
                              | {"jobs": 0, "stages": 0})
        t["stages"] += 1
        for f in STAGE_FIELDS:
            t[f] += s[f]
    for group, n in jobs.items():
        totals.setdefault(group, dict.fromkeys(STAGE_FIELDS, 0.0)
                          | {"jobs": 0, "stages": 0})["jobs"] = n
    return totals
