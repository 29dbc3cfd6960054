"""Spark event-log rollup, standard library only.

The traced run writes an uncompressed, non-rolling event log (one JSON
event per line). This rolls it up per job: jobs, stages and tasks, and
the tasks' executor run, CPU and GC time, shuffle write and spill.
Stages are charged to the first job that ran them, tasks to their
stage's job.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from pathlib import Path


@dataclass
class Totals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    spill: int = 0

    def add(self, o: "Totals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(o, k))


@dataclass
class Job:
    group: str
    #: submission time, ms since the epoch
    submitted: int
    totals: Totals


def read_jobs(log: Path) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(props.get("spark.jobGroup.id") or "", ev["Submission Time"], Totals(jobs=1))
                jobs[ev["Job ID"]] = job
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerStageSubmitted":
                jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                if jid is not None:
                    jobs[jid].totals.stages += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is None:
                    continue
                t = jobs[jid].totals
                m = ev.get("Task Metrics") or {}
                t.tasks += 1
                t.run_ms += m.get("Executor Run Time", 0)
                t.cpu_ns += m.get("Executor CPU Time", 0)
                t.gc_ms += m.get("JVM GC Time", 0)
                t.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                t.spill += m.get("Disk Bytes Spilled", 0)
    return list(jobs.values())


def find_log(log_dir: Path) -> Path:
    """The one application log in ``log_dir``."""
    logs = [p for p in log_dir.iterdir() if p.is_file() and not p.name.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {[p.name for p in logs]}")
    return logs[0]
