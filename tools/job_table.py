"""Print one row per Spark job of an event log.

Usage:  python tools/job_table.py <event log file or dir> [--group G]

Reads an uncompressed JSON event log (``spark.eventLog.enabled``; a
dir is read file by file, in name order) and prints, per job in start
order: its id, job group (``setJobGroup``), description, the names of
the stages that ran tasks, the tasks run, the input records those
tasks read, and the job's duration (submission to end).  ``--group``
keeps one job group's jobs.  A last line sums the tasks, records and
durations of the printed jobs.  Standard library only.
"""

from __future__ import annotations

import argparse
import json
import os
from collections import Counter


def _events(path: str):
    paths = [path] if os.path.isfile(path) else [
        os.path.join(path, f) for f in sorted(os.listdir(path)) if not f.startswith(".")]
    for p in paths:
        with open(p) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def jobs(path: str) -> list[dict]:
    """The jobs of an event log, in start order, as dicts with the
    printed fields."""
    out: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_names: dict[int, str] = {}
    tasks: Counter = Counter()
    records: Counter = Counter()
    for ev in _events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            out[jid] = {"job": jid, "group": props.get("spark.jobGroup.id") or "",
                        "description": props.get("spark.job.description") or "",
                        "stages": [], "start": ev.get("Submission Time", 0), "end": None}
            for info in ev.get("Stage Infos", ()):
                stage_job.setdefault(info["Stage ID"], jid)
                stage_names[info["Stage ID"]] = info.get("Stage Name", "")
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in out:
            out[ev["Job ID"]]["end"] = ev.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            tasks[sid] += 1
            m = ev.get("Task Metrics") or {}
            records[sid] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    for sid, jid in sorted(stage_job.items()):
        if tasks[sid]:
            out[jid]["stages"].append(stage_names[sid])
    rows = sorted(out.values(), key=lambda j: (j["start"], j["job"]))
    for j in rows:
        sids = [s for s, jid in stage_job.items() if jid == j["job"]]
        j["tasks"] = sum(tasks[s] for s in sids)
        j["records"] = sum(records[s] for s in sids)
        j["seconds"] = (j["end"] - j["start"]) / 1e3 if j["end"] else float("nan")
    return rows


def table(rows: list[dict]) -> str:
    lines = [f"{'job':>4}  {'group':<12}{'tasks':>6}{'records':>9}{'s':>8}  description | stages"]
    for j in rows:
        lines.append(f"{j['job']:>4}  {j['group'][:12]:<12}{j['tasks']:>6}{j['records']:>9}"
                     f"{j['seconds']:>8.3f}  {j['description'][:60]} | {'; '.join(j['stages'])}")
    lines.append(f"{'sum':>4}  {len(rows):<12}{sum(j['tasks'] for j in rows):>6}"
                 f"{sum(j['records'] for j in rows):>9}{sum(j['seconds'] for j in rows):>8.3f}")
    return "\n".join(lines)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log", help="event log file, or a dir of them")
    ap.add_argument("--group", help="print only this job group's jobs")
    args = ap.parse_args()
    rows = jobs(args.log)
    if args.group is not None:
        rows = [j for j in rows if j["group"] == args.group]
    print(table(rows))


if __name__ == "__main__":
    main()
