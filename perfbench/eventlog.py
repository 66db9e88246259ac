"""Spark event-log reader: per-job counters from an uncompressed event
log (``spark.eventLog.enabled=true``, ``spark.eventLog.compress=false``).

Each job carries the ``spark.job.description`` it was launched under;
the tracer sets that to ``pb:<span id>``, which attributes the job to
the span (and so the layer) that was innermost when it started.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int = 0
    description: str = ""
    stage_ids: tuple = ()
    stages_run: set = field(default_factory=set)
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0      # executor run time
    cpu_s: float = 0.0       # executor CPU time
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    spill_b: int = 0
    input_b: int = 0

    @property
    def stages_skipped(self) -> int:
        return len(self.stage_ids) - len(self.stages_run & set(self.stage_ids))


def log_files(event_dir: str) -> list:
    """The event-log files under ``event_dir``, one per SparkContext
    (rolling logs are off, so each is a single plain file)."""
    return sorted(os.path.join(event_dir, f) for f in os.listdir(event_dir)
                  if not f.startswith("."))


def parse(path: str) -> "list[Job]":
    """Jobs in submission order, with their task counters summed."""
    jobs: dict = {}
    job_of_stage: dict = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                ids = tuple(ev.get("Stage IDs", ()))
                job = Job(ev["Job ID"], ev.get("Submission Time", 0),
                          description=props.get("spark.job.description")
                          or "", stage_ids=ids)
                jobs[job.job_id] = job
                for sid in ids:
                    job_of_stage[sid] = job
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job.end_ms = ev.get("Completion Time", 0)
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in job_of_stage:
                    job_of_stage[sid].stages_run.add(sid)
            elif kind == "SparkListenerTaskEnd":
                job = job_of_stage.get(ev.get("Stage ID"))
                if job is not None:
                    _add_task(job, ev)
    return sorted(jobs.values(), key=lambda j: (j.submit_ms, j.job_id))


def _add_task(job: Job, ev: dict) -> None:
    job.tasks += 1
    info = ev.get("Task Info") or {}
    if info.get("Failed") or info.get("Killed"):
        job.failed_tasks += 1
    m = ev.get("Task Metrics") or {}
    job.task_s += m.get("Executor Run Time", 0) / 1e3
    job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    job.gc_s += m.get("JVM GC Time", 0) / 1e3
    sw = m.get("Shuffle Write Metrics") or {}
    job.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    job.shuffle_read_b += (sr.get("Remote Bytes Read", 0)
                           + sr.get("Local Bytes Read", 0))
    job.spill_b += (m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0))
    job.input_b += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
