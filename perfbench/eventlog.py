"""Reads Spark's own uncompressed event log and attributes its jobs,
stages and task metrics to the benchmark's spans through the job group.

Per job group (= span id) the rollup holds: jobs, stages, tasks, executor
run and CPU seconds, shuffle write bytes, spilled bytes, input bytes, and
the Python-worker SQL metrics ("time to run Python workers", "data sent to
/ returned from Python workers").
"""

from __future__ import annotations

import json
import os
import re

FIELDS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
          "shuffle_write_bytes", "spill_bytes", "input_bytes",
          "python_worker_s", "python_bytes_sent", "python_bytes_returned")

_PY_ACCUMS = {
    "time to run Python workers": ("python_worker_s", 1e-3),   # ms
    "data sent to Python workers": ("python_bytes_sent", 1),
    "data returned from Python workers": ("python_bytes_returned", 1),
}


def log_files(path: str) -> list[str]:
    """The event files of one application log: a plain file, or the
    `events_<n>_<app>` parts of a rolling (v2) log directory in order."""
    if os.path.isfile(path):
        return [path]
    parts = []
    for name in os.listdir(path):
        m = re.match(r"events_(\d+)_", name)
        if m:
            parts.append((int(m.group(1)), os.path.join(path, name)))
    return [p for _, p in sorted(parts)]


def read_events(path: str):
    for f in log_files(path):
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _empty() -> dict:
    return {k: 0 for k in FIELDS}


def rollup(events) -> dict[str, dict]:
    """job group -> summed metrics. Jobs outside any group count under ""."""
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    out: dict[str, dict] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_group[jid] = group
            # a stage reused by a later job keeps the job that ran it first
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
            out.setdefault(group, _empty())["jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            if sid in stage_job:
                out[job_group[stage_job[sid]]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            if sid not in stage_job:
                continue
            acc = out[job_group[stage_job[sid]]]
            acc["tasks"] += 1
            tm = e.get("Task Metrics") or {}
            acc["executor_run_s"] += tm.get("Executor Run Time", 0) * 1e-3
            acc["executor_cpu_s"] += tm.get("Executor CPU Time", 0) * 1e-9
            acc["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}) \
                .get("Shuffle Bytes Written", 0)
            acc["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                   + tm.get("Disk Bytes Spilled", 0))
            acc["input_bytes"] += (tm.get("Input Metrics") or {}) \
                .get("Bytes Read", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                hit = _PY_ACCUMS.get(a.get("Name"))
                if hit and a.get("Update") is not None:
                    acc[hit[0]] += int(a["Update"]) * hit[1]
    return out


def subtree_totals(spans: list[dict], by_group: dict[str, dict]) -> dict[str, dict]:
    """span id -> metrics of the jobs run in the span or any span under it."""
    kids: dict[str, list[str]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])
    memo: dict[str, dict] = {}
    # spans are recorded in start order, so children follow their parent:
    # fold them bottom-up
    for s in reversed(spans):
        tot = dict(by_group.get(s["id"], _empty()))
        for k in kids.get(s["id"], []):
            for f in FIELDS:
                tot[f] += memo[k][f]
        memo[s["id"]] = tot
    return memo
