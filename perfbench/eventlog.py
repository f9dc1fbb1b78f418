"""Summarise a Spark JSON event log per job group, standard library only.

The traced run enables ``spark.eventLog.enabled`` through the session
conf and tags each layer call with ``setJobGroup``.  This reader maps
every stage to the job group of the first job that ran it and sums the
task metrics of each group:

tasks                 finished tasks
executor_cpu_s        task CPU time
gc_s                  JVM GC time inside tasks
scheduler_delay_s     launch-to-finish minus run, deserialize, result
                      serialization and result fetch (the Spark UI rule)
shuffle_write_bytes   bytes written to shuffle files
spill_bytes           memory plus disk bytes spilled
result_stage_s        wall time of the group's result stages (for a
                      write job: the stage that writes the files)

and the highest executor memory any of its tasks saw (Spark polls it
while tasks run when ``spark.executor.metrics.pollingInterval`` is set):

storage_peak_bytes    on-heap storage memory: cached and persisted blocks
execution_peak_bytes  on-heap execution memory: shuffle, sort, aggregation
heap_peak_bytes       used JVM heap, garbage included
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

FIELDS = ("tasks", "executor_cpu_s", "gc_s", "scheduler_delay_s",
          "shuffle_write_bytes", "spill_bytes", "result_stage_s")
# peak field -> the executor metric it is the maximum of
PEAKS = {
    "storage_peak_bytes": "OnHeapStorageMemory",
    "execution_peak_bytes": "OnHeapExecutionMemory",
    "heap_peak_bytes": "JVMHeapMemory",
}


def _events(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def summarize(path: str) -> dict[str, dict[str, float]]:
    """{job group: {field: value}} for one event log file."""
    stage_group: dict[int, str] = {}
    result_stages: set[int] = set()
    stage_wall: dict[int, float] = {}
    totals: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys((*FIELDS, *PEAKS), 0))
    for ev in _events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stage_wall[info["Stage ID"]] = (info["Completion Time"] - info["Submission Time"]) / 1e3
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            if ev.get("Task Type") == "ResultTask":
                result_stages.add(sid)
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            t = totals[stage_group.get(sid, "none")]
            t["tasks"] += 1
            t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            busy = (m.get("Executor Run Time", 0) + m.get("Executor Deserialize Time", 0)
                    + m.get("Result Serialization Time", 0) + info.get("Getting Result Time", 0))
            t["scheduler_delay_s"] += max(0, info["Finish Time"] - info["Launch Time"] - busy) / 1e3
            t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            peaks = ev.get("Task Executor Metrics") or {}
            for k, name in PEAKS.items():
                t[k] = max(t[k], peaks.get(name, 0))
    for sid in result_stages:
        if sid in stage_wall:
            totals[stage_group.get(sid, "none")]["result_stage_s"] += stage_wall[sid]
    return dict(totals)


def summarize_dir(events_dir: str) -> dict[str, dict[str, float]]:
    """Merge the summaries of every application's event log in
    ``events_dir`` (one file per application: rolling is off)."""
    merged: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys((*FIELDS, *PEAKS), 0))
    for name in sorted(os.listdir(events_dir)):
        for group, vals in summarize(os.path.join(events_dir, name)).items():
            for k, v in vals.items():
                merged[group][k] = max(merged[group][k], v) if k in PEAKS else merged[group][k] + v
    return dict(merged)
