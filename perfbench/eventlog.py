"""Spark event-log reader: every job Spark recorded, with its job group, its
submission time and the totals of its tasks. The log is complete once the
session stopped.
"""

from __future__ import annotations

import json
import os

COUNTERS = ("tasks", "executor_cpu_s", "gc_s", "shuffle_write_bytes")


def jobs(log_dir: str) -> list[dict]:
    """One dict per job: ``group`` (``spark.jobGroup.id``, "" without one),
    ``submit_ms`` (ms since the epoch) and the COUNTERS of its tasks."""
    stage_job: dict[int, dict] = {}
    out: list[dict] = []
    paths = sorted(
        os.path.join(root, f) for root, _dirs, files in os.walk(log_dir) for f in files
    )
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = {
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id") or "",
                        "submit_ms": ev.get("Submission Time", 0),
                        **{c: 0 for c in COUNTERS},
                    }
                    out.append(job)
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = job
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
                    m = ev.get("Task Metrics") or {}
                    job = stage_job[ev["Stage ID"]]
                    job["tasks"] += 1
                    job["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    job["shuffle_write_bytes"] += (
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    )
    return out


def total(selected: list[dict]) -> dict:
    """The number of jobs and the sum of each counter over ``selected``."""
    return {"jobs": len(selected), **{c: sum(j[c] for j in selected) for c in COUNTERS}}
