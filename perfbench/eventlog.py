"""Spark event log -> per-stage table and trace metrics.

The traced session runs with ``spark.eventLog.enabled`` and tags each
timed pass with the job group ``timed-<i>``. Only stages of those jobs
count. The per-stage table goes to stderr; ``trace_metrics`` reduces it
to per-pass figures.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

MB = 1e6
PYTHON_SENT = "data sent to Python workers"
PYTHON_RUN = "time to run Python workers"  # milliseconds


def read_events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def stage_table(log_dir: str) -> list:
    """One row per stage of a timed job: tasks, executor run / CPU time,
    records and bytes in and out, shuffle read / write, spill, bytes sent
    to and time spent in Python workers, and each task's run time."""
    stage_pass: dict = {}
    stages: dict = {}
    for ev in read_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if group.startswith("timed-"):
                for sid in ev["Stage IDs"]:
                    stage_pass[sid] = int(group.split("-", 1)[1])
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_pass:
            tm = ev.get("Task Metrics") or {}
            row = stages.setdefault(ev["Stage ID"], {
                "stage": ev["Stage ID"], "pass": stage_pass[ev["Stage ID"]],
                "name": "", "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
                "records_in": 0, "bytes_in": 0, "records_out": 0, "bytes_out": 0,
                "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
                "python_sent": 0, "python_run_s": 0.0, "task_run_s": [],
            })
            inp = tm.get("Input Metrics") or {}
            out = tm.get("Output Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            run_s = tm.get("Executor Run Time", 0) / 1000.0
            row["tasks"] += 1
            row["run_s"] += run_s
            row["task_run_s"].append(run_s)
            row["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            row["records_in"] += inp.get("Records Read", 0) + sr.get("Total Records Read", 0)
            row["bytes_in"] += inp.get("Bytes Read", 0)
            row["records_out"] += out.get("Records Written", 0) + sw.get("Shuffle Records Written", 0)
            row["bytes_out"] += out.get("Bytes Written", 0)
            row["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            row["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            row["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            row = stages.get(info["Stage ID"])
            if row is not None:
                row["name"] = info.get("Stage Name", "")
                acc = info.get("Accumulables", [])
                row["python_sent"] = sum(
                    int(a["Value"]) for a in acc if a.get("Name") == PYTHON_SENT)
                row["python_run_s"] = sum(
                    int(a["Value"]) for a in acc if a.get("Name") == PYTHON_RUN) / 1000.0
    return [stages[s] for s in sorted(stages)]


def trace_metrics(log_dir: str, n_passes: int) -> dict:
    rows = stage_table(log_dir)
    for row in rows:
        printable = {k: (round(v, 4) if isinstance(v, float) else v)
                     for k, v in row.items() if k != "task_run_s"}
        print("stage " + json.dumps(printable), file=sys.stderr)
    n = max(n_passes, 1)
    skews = []
    for p in sorted({r["pass"] for r in rows}):
        widest = max((r for r in rows if r["pass"] == p), key=lambda r: r["tasks"])
        times = widest["task_run_s"]
        med = statistics.median(times)
        skews.append(max(times) / med if med > 0 else 1.0)
    return {
        "trace.shuffle_write_mb": sum(r["shuffle_write"] for r in rows) / MB / n,
        "trace.spill_mb": sum(r["spill"] for r in rows) / MB / n,
        "trace.tasks": sum(r["tasks"] for r in rows) / n,
        "trace.task_skew": statistics.median(skews) if skews else 0.0,
        "trace.python_data_sent_mb": sum(r["python_sent"] for r in rows) / MB / n,
        "trace.python_run_s": sum(r["python_run_s"] for r in rows) / n,
        "trace.executor_run_s": sum(r["run_s"] for r in rows) / n,
    }
