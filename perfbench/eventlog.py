"""Spark event-log parser: one record per job with its task totals.

Reads the uncompressed JSON-lines log Spark writes with
``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``.
Jobs are attributed to harness operations by time window (their
``Submission Time`` falls inside the operation), because jobs that the
engine starts from its dispatch thread pool carry no job description.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass


@dataclass
class Job:
    job_id: int
    app: str
    submit: float            # epoch seconds
    end: float | None
    tasks: int = 0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    spill_bytes: int = 0


def parse_lines(lines, app: str = "") -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerApplicationStart":
            app = ev.get("App ID", app)
        elif kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = Job(jid, app, ev["Submission Time"] / 1000.0, None)
            for sid in ev.get("Stage IDs", []):
                # a stage runs under the first job that lists it; later
                # jobs that reuse its shuffle output list it as skipped
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID")))
            if job is None:
                continue
            m = ev.get("Task Metrics") or {}
            job.tasks += 1
            job.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
            job.gc_s += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            job.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0) +
                                       sr.get("Local Bytes Read", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            job.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            job.input_bytes += (m.get("Input Metrics") or {}).get(
                "Bytes Read", 0)
            job.spill_bytes += (m.get("Memory Bytes Spilled", 0) +
                                m.get("Disk Bytes Spilled", 0))
    return sorted(jobs.values(), key=lambda j: (j.submit, j.job_id))


def parse_dir(path: str) -> list[Job]:
    """Every application log under ``path`` (one file per SparkContext)."""
    jobs: list[Job] = []
    for root, _dirs, files in os.walk(path):
        for name in sorted(files):
            if name.startswith("."):
                continue  # checksum side files
            with open(os.path.join(root, name)) as f:
                jobs.extend(parse_lines(f, app=name))
    return sorted(jobs, key=lambda j: (j.submit, j.job_id))


def in_window(jobs, start: float, end: float):
    """Jobs submitted inside [start, end]."""
    return [j for j in jobs if start <= j.submit <= end]
