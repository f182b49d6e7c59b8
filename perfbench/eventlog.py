"""Spark's built-in event log, reduced to per-job records.

Each job carries its job group (the harness sets one per op and phase),
its submission time and the task metrics of the stages it ran. A stage
shared by several jobs is charged to the job that submitted it.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class Job:
    job_id: int
    group: str
    submit_s: float
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    output_mb: float = 0.0
    stage_ids: list[int] = field(default_factory=list)


def _add_task(job: Job, metrics: dict) -> None:
    sr = metrics.get("Shuffle Read Metrics", {})
    sw = metrics.get("Shuffle Write Metrics", {})
    job.tasks += 1
    job.run_s += metrics.get("Executor Run Time", 0) / 1e3
    job.cpu_s += metrics.get("Executor CPU Time", 0) / 1e9
    job.gc_s += metrics.get("JVM GC Time", 0) / 1e3
    job.shuffle_read_mb += (
        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    ) / MB
    job.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
    job.spill_mb += (
        metrics.get("Memory Bytes Spilled", 0)
        + metrics.get("Disk Bytes Spilled", 0)
    ) / MB
    job.input_mb += metrics.get("Input Metrics", {}).get("Bytes Read", 0) / MB
    job.output_mb += (
        metrics.get("Output Metrics", {}).get("Bytes Written", 0) / MB
    )


def read_jobs(lines) -> list[Job]:
    """Jobs in submission order from an iterable of event-log lines."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                ev["Job ID"],
                props.get("spark.jobGroup.id") or "",
                ev["Submission Time"] / 1e3,
            )
            jobs[job.job_id] = job
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            job = jobs.get(stage_job.get(info["Stage ID"], -1))
            if job is not None and info.get("Stage Attempt ID", 0) == 0:
                job.stages += 1
                job.stage_ids.append(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"], -1))
            if job is not None and ev.get("Task Metrics"):
                _add_task(job, ev["Task Metrics"])
    return sorted(jobs.values(), key=lambda j: j.job_id)


def read_jobs_file(path: str) -> list[Job]:
    with open(path) as fh:
        return read_jobs(fh)


TOTALS = (
    "stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "input_mb", "output_mb",
)


def totals(jobs: list[Job]) -> dict[str, float]:
    out = {k: sum(getattr(j, k) for j in jobs) for k in TOTALS}
    out["jobs"] = len(jobs)
    return out
