"""Spark event-log parsing: jobs, stages and task metrics of one application.

Times in the event log are epoch milliseconds; everything returned here is in
seconds (epoch) or bytes, so it lines up with ``time.time()`` spans.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

from .spans import SPAN_PROPERTY, union_length


def find_log(log_dir: str, app_id: str) -> str:
    """Path of the (uncompressed, non-rolling) event log of ``app_id``."""
    hits = [p for p in glob.glob(os.path.join(log_dir, f"*{app_id}*")) if not p.endswith(".inprogress")]
    if not hits:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return hits[0]


def parse(path: str) -> dict:
    """{'jobs': {id: job}, 'stages': {id: stage}}: a job has its submit and
    end time (s), stage ids and span id (or None); a stage has its tasks'
    run time (s), shuffle bytes written, bytes spilled and input bytes."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                span = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                jobs[ev["Job ID"]] = {
                    "submit": ev["Submission Time"] / 1000.0, "end": None,
                    "stages": list(ev.get("Stage IDs", [])),
                    "span": int(span) if span not in (None, "") else None,
                }
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                stages.setdefault(ev["Stage ID"], {"tasks": []})["tasks"].append({
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0),
                    "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                })
    return {"jobs": jobs, "stages": stages}


def jobs_in(log: dict, t0: float, t1: float) -> list[int]:
    """Ids of jobs submitted within [t0, t1]."""
    return sorted(j for j, job in log["jobs"].items() if t0 <= job["submit"] <= t1)


def totals(log: dict, job_ids: list[int]) -> dict:
    """Summed engine counters over the given jobs."""
    out = {"jobs": len(job_ids), "tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0, "input_bytes": 0}
    for j in job_ids:
        for sid in log["jobs"][j]["stages"]:
            for t in log["stages"].get(sid, {}).get("tasks", []):
                out["tasks"] += 1
                out["shuffle_write_bytes"] += t["shuffle_write"]
                out["spill_bytes"] += t["spill"]
                out["input_bytes"] += t["input"]
    return out


def idle_seconds(log: dict, job_ids: list[int], t0: float, t1: float) -> float:
    """Wall time in [t0, t1] during which none of the jobs was running."""
    busy = union_length([
        (max(job["submit"], t0), min(job["end"] or t1, t1))
        for job in (log["jobs"][j] for j in job_ids)
    ])
    return max((t1 - t0) - busy, 0.0)


def task_skew(log: dict, job_ids: list[int]) -> float:
    """Max over median task run time in the last stage of the jobs that ran
    more than one task (adaptive execution coalesces a small final shuffle
    into one task, which has no skew to show); 0 when there is none."""
    for sid in sorted((s for j in job_ids for s in log["jobs"][j]["stages"]), reverse=True):
        runs = [t["run_s"] for t in log["stages"].get(sid, {}).get("tasks", [])]
        if len(runs) > 1:
            med = statistics.median(runs)
            return max(runs) / med if med > 0 else 1.0
    return 0.0


def attribute(log: dict, job_ids: list[int], spans: list[dict]) -> dict[int, int | None]:
    """Job id -> the span that launched it: the span id carried in the job's
    properties, else the innermost span open when the job was submitted
    (jobs from helper threads outside any traced call)."""
    out = {}
    for j in job_ids:
        job = log["jobs"][j]
        if job["span"] is not None and job["span"] < len(spans):
            out[j] = job["span"]
            continue
        t = job["submit"]
        open_ = [s for s in spans if s["start"] <= t <= (s["end"] or t)]
        out[j] = max(open_, key=lambda s: s["start"])["id"] if open_ else None
    return out
