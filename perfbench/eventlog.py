"""Spark event-log reader: per-job task, CPU, GC, shuffle and spill.

Reads the uncompressed JSON-lines log Spark writes with
``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``,
with stdlib ``json`` only.  A job's tasks are found through its stages:
a stage belongs to the first job that lists it (a later job that lists
it again reuses its shuffle output and skips it).
"""

from __future__ import annotations

import json
import os

JOB_FIELDS = ("tasks", "task_s", "jvm_cpu_s", "gc_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")


def _new_job(submit: float) -> dict:
    job = {"submit": submit, "end": submit}
    job.update({k: 0 for k in JOB_FIELDS})
    return job


def parse_lines(lines, app: str = "") -> list[dict]:
    """Jobs of one event log, each with ``submit``/``end`` in epoch
    seconds and the summed task metrics of its stages."""
    jobs: dict = {}
    stage_job: dict = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            key = (app, ev["Job ID"])
            jobs[key] = _new_job(ev["Submission Time"] / 1000.0)
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, key)
        elif kind == "SparkListenerJobEnd":
            job = jobs.get((app, ev["Job ID"]))
            if job is not None:
                job["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID")))
            m = ev.get("Task Metrics")
            if job is None or not m:
                continue
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            job["tasks"] += 1
            job["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            job["jvm_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            job["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
            job["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j["submit"])


def parse_dir(path: str) -> list[dict]:
    """All jobs of every application log in ``path`` (one file per
    SparkContext; rolling logs are off), sorted by submission time."""
    jobs = []
    if not os.path.isdir(path):
        return jobs
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), encoding="utf-8") as fh:
            jobs.extend(parse_lines(fh, app=name))
    return sorted(jobs, key=lambda j: j["submit"])


def in_window(jobs: list[dict], start: float, end: float) -> list[dict]:
    """Jobs submitted inside [start, end) (epoch seconds)."""
    return [j for j in jobs if start <= j["submit"] < end]


def totals(jobs: list[dict]) -> dict:
    out = {"jobs": len(jobs)}
    for k in JOB_FIELDS:
        out[k] = sum(j[k] for j in jobs)
    out["nonjvm_s"] = out["task_s"] - out["jvm_cpu_s"]
    return out


def driver_gap(jobs: list[dict], start: float, end: float) -> float:
    """Seconds of [start, end) during which no job was running."""
    from .trace import union_length

    busy = union_length(
        (max(j["submit"], start), min(j["end"], end))
        for j in jobs if j["end"] > start and j["submit"] < end)
    return (end - start) - busy
