"""Fold a Spark event log into the traced run's ``spark.*`` metrics.

Every job carries the description the benchmark set before the call that
submitted it (``"<workload>:<layer>"``). Stages inherit the description of
the first job that lists them; task-end events are summed per description:
executor run/CPU/GC time, shuffle and spill bytes, and the SQL accumulables
of ``PythonSQLMetrics`` (data sent to and returned from Python workers,
worker boot/init/run time).
"""

from __future__ import annotations

import json
import os
import re
import statistics

MB = float(1 << 20)
# PythonSQLMetrics accumulable name -> (metric, scale); sizes are bytes and
# timings milliseconds
PYTHON_METRICS = {
    "data sent to Python workers": ("python_sent_mb", 1 / MB),
    "data returned from Python workers": ("python_received_mb", 1 / MB),
    "time to start Python workers": ("python_boot_s", 1e-3),
    "time to initialize Python workers": ("python_init_s", 1e-3),
    "time to run Python workers": ("python_total_s", 1e-3),
}
SUMS = ("jobs", "tasks", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
        "run_s", "cpu_s", "gc_s") + tuple(m for m, _ in PYTHON_METRICS.values())


def log_files(path: str) -> list[str]:
    """The event-log files of one application: a plain file, or the
    ``events_<n>_<app>`` parts of a rolling ``eventlog_v2_<app>`` dir."""
    if os.path.isfile(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(re.match(r"events_(\d+)_", f).group(1)))
    return [os.path.join(path, f) for f in parts]


def read_events(path: str):
    for name in log_files(path):
        with open(name) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def fold(events) -> tuple[dict, dict]:
    """Returns (per-description sums, per-stage records). A stage record is
    {label, wall_s, task_s: [task durations]}."""
    stage_label: dict[int, str] = {}
    sums: dict[str, dict] = {}
    stages: dict[int, dict] = {}

    def bucket(label: str) -> dict:
        return sums.setdefault(label, dict.fromkeys(SUMS, 0.0))

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            label = (e.get("Properties") or {}).get("spark.job.description", "")
            bucket(label)["jobs"] += 1
            for sid in e["Stage IDs"]:
                stage_label.setdefault(sid, label)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                rec = stages.setdefault(info["Stage ID"], {"task_s": []})
                rec["label"] = stage_label.get(info["Stage ID"], "")
                rec["wall_s"] = (info["Completion Time"]
                                 - info["Submission Time"]) / 1e3
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            b = bucket(stage_label.get(sid, ""))
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            b["tasks"] += 1
            b["run_s"] += m.get("Executor Run Time", 0) / 1e3
            b["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            b["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            b["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            b["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)) / MB
            b["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            for acc in info.get("Accumulables", []):
                hit = PYTHON_METRICS.get(acc.get("Name"))
                if hit is not None and "Update" in acc:
                    b[hit[0]] += float(acc["Update"]) * hit[1]
            stages.setdefault(sid, {"task_s": []})["task_s"].append(
                (info["Finish Time"] - info["Launch Time"]) / 1e3)
    return sums, stages


def summarize(path: str, keep, per: float = 1.0) -> dict:
    """``spark.*`` metrics over the jobs whose description satisfies
    ``keep``, divided by ``per`` (the number of traced passes).
    ``spark.task_skew`` is max/median task time of the longest kept stage."""
    sums, stages = fold(read_events(path))
    out = {f"spark.{k}": 0.0 for k in SUMS}
    for label, b in sums.items():
        if keep(label):
            for k, v in b.items():
                out[f"spark.{k}"] += v / per
    kept = [s for s in stages.values()
            if "wall_s" in s and keep(s["label"]) and s["task_s"]]
    skew = 1.0
    if kept:
        longest = max(kept, key=lambda s: s["wall_s"])
        med = statistics.median(longest["task_s"])
        skew = max(longest["task_s"]) / med if med > 0 else 1.0
    out["spark.task_skew"] = skew
    return out
