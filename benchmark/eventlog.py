"""Spark event-log reader for the traced run.

The traced run enables ``spark.eventLog`` into a fresh directory; after
``spark.stop()`` the log is complete and this module folds its task-end
events into per-job-group totals. ``spans.Recorder`` names job groups
``span-<id>``, so every total belongs to one span.

Per task: executor run time, JVM GC time, scheduler delay (the Spark UI
definition: task duration minus run, deserialize, result-serialization
and getting-result time), shuffle bytes written, disk bytes spilled; a
task is a map task when its stage wrote shuffle output, else a reduce
(result) task. Per stage, the wait from stage submission to its first
task launch is added to the scheduler wait.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

FIELDS = ("jobs", "tasks", "map_task_ms", "reduce_task_ms", "run_ms",
          "sched_wait_ms", "gc_ms", "shuffle_write_bytes", "spill_bytes")


def _events(log_dir: str):
    """Events of the one application logged under ``log_dir`` (a single
    uncompressed, non-rolling log file)."""
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path):
            raise ValueError(f"expected one event-log file, found directory {path}")
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def per_group(log_dir: str) -> dict[str, dict[str, float]]:
    """job group id -> totals over its jobs (keys: ``FIELDS``); jobs with
    no group are filed under ``""``."""
    group_of_stage: dict[int, str] = {}
    jobs = defaultdict(int)
    tasks: list[tuple[int, dict]] = []
    stage_submit: dict[int, int] = {}
    stage_first_launch: dict[int, int] = {}
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            jobs[g] += 1
            for sid in ev.get("Stage IDs", []):
                group_of_stage[sid] = g
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" in info:
                stage_submit[info["Stage ID"]] = info["Submission Time"]
        elif kind == "SparkListenerTaskEnd":
            tasks.append((ev["Stage ID"], ev))
            launch = ev["Task Info"]["Launch Time"]
            sid = ev["Stage ID"]
            stage_first_launch[sid] = min(stage_first_launch.get(sid, launch), launch)
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    for g, n in jobs.items():
        out[g]["jobs"] = n
    map_stage = defaultdict(bool)
    for sid, ev in tasks:
        m = ev.get("Task Metrics") or {}
        if (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0):
            map_stage[sid] = True
    for sid, ev in tasks:
        t = out[group_of_stage.get(sid, "")]
        info = ev["Task Info"]
        m = ev.get("Task Metrics") or {}
        run = m.get("Executor Run Time", 0)
        dur = info["Finish Time"] - info["Launch Time"]
        t["tasks"] += 1
        t["run_ms"] += run
        t["map_task_ms" if map_stage[sid] else "reduce_task_ms"] += run
        t["gc_ms"] += m.get("JVM GC Time", 0)
        t["sched_wait_ms"] += max(
            0,
            dur - run - m.get("Executor Deserialize Time", 0)
            - m.get("Result Serialization Time", 0)
            - (info["Finish Time"] - info["Getting Result Time"]
               if info.get("Getting Result Time") else 0),
        )
        t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    for sid, launch in stage_first_launch.items():
        if sid in stage_submit:
            out[group_of_stage.get(sid, "")]["sched_wait_ms"] += max(
                0, launch - stage_submit[sid])
    return dict(out)
