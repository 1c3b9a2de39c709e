"""Read Spark's JSON event log with the standard library.

Spark writes one JSON object per line. With ``spark.eventLog.compress=false``
the files are plain text; Spark 4 writes a rolling directory
(``eventlog_v2_<app>/events_<n>_<app>``) and older layouts write one file.
This module folds the job, stage and task events into one ``Job`` record per
job so that the benchmark can attribute jobs to the spans it recorded.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int = 0
    description: str = ""
    tasks: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def event_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir``, in the order Spark wrote them."""
    found = []
    for dirpath, _dirs, files in os.walk(log_dir):
        for name in files:
            if name.startswith(".") or name.endswith(".crc"):
                continue
            found.append(os.path.join(dirpath, name))

    def order(path: str) -> tuple[str, int]:
        # rolling logs are events_<index>_<app>; sort by index, not text
        base = os.path.basename(path)
        parts = base.split("_")
        idx = int(parts[1]) if base.startswith("events_") and parts[1].isdigit() else 0
        return (os.path.dirname(path), idx)

    return sorted(found, key=order)


def read_events(log_dir: str):
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def parse_jobs(events) -> list[Job]:
    """Fold listener events into per-job totals, ordered by job id."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                job_id=ev["Job ID"],
                submit_ms=ev.get("Submission Time", 0),
                description=props.get("spark.job.description") or "",
            )
            jobs[job.job_id] = job
            for sid in ev.get("Stage IDs", []):
                # a shared stage runs under the job that first listed it;
                # later jobs list it again but skip it
                stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev.get("Completion Time", job.submit_ms)
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            metrics = ev.get("Task Metrics")
            if job is None or not metrics:
                continue
            job.tasks += 1
            job.cpu_ns += metrics.get("Executor CPU Time", 0)
            job.gc_ms += metrics.get("JVM GC Time", 0)
            job.spill_bytes += metrics.get("Memory Bytes Spilled", 0) + metrics.get("Disk Bytes Spilled", 0)
            sw = metrics.get("Shuffle Write Metrics") or {}
            job.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    return [jobs[k] for k in sorted(jobs)]


def load_jobs(log_dir: str) -> list[Job]:
    return parse_jobs(read_events(log_dir))


def jobs_between(jobs: list[Job], start_ms: float, end_ms: float) -> list[Job]:
    """Jobs submitted inside ``[start_ms, end_ms]``: a closed-loop client has
    no other work in flight, so a span owns every job submitted during it."""
    return [j for j in jobs if start_ms <= j.submit_ms <= end_ms]


def covered_ms(jobs: list[Job], start_ms: float, end_ms: float) -> float:
    """Length of ``[start_ms, end_ms]`` covered by at least one job."""
    spans = sorted(
        (max(j.submit_ms, start_ms), min(j.end_ms or j.submit_ms, end_ms)) for j in jobs
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
