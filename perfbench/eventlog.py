"""Reader for Spark's JSON event log (``spark.eventLog.enabled``).

Only job, stage-completion and task-end events are kept. A job carries the
job group and description that were set on the thread that submitted it;
the benchmark tags each operation as ``workload:op:run`` with the phase as
description, and a streaming query's jobs carry the query's run id as
group. Task figures are summed per stage, and a job set's totals are the
sums over the completed stages its jobs list (a stage that a later job
reuses from the shuffle is listed but skipped, so it is counted once).

Scheduler delay per task is Spark UI's: wall duration minus executor run,
deserialize, result-serialization and result-fetch time.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Iterable
from dataclasses import dataclass, field


@dataclass
class Job:
    id: int
    group: str
    description: str
    submit_ms: int
    stage_ids: list[int]
    end_ms: int | None = None


@dataclass
class StageTasks:
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    sched_delay_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, StageTasks] = field(default_factory=dict)
    completed: set[int] = field(default_factory=set)


def parse(lines: Iterable[str]) -> EventLog:
    log = EventLog()
    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = Job(
                id=ev["Job ID"],
                group=props.get("spark.jobGroup.id") or "",
                description=props.get("spark.job.description") or "",
                submit_ms=ev["Submission Time"],
                stage_ids=list(ev["Stage IDs"]),
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            log.completed.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            _add_task(log.stages.setdefault(ev["Stage ID"], StageTasks()), ev)
    return log


def _add_task(st: StageTasks, ev: dict) -> None:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    run = m.get("Executor Run Time", 0)
    st.tasks += 1
    st.run_ms += run
    st.cpu_ns += m.get("Executor CPU Time", 0)
    st.gc_ms += m.get("JVM GC Time", 0)
    overhead = (
        run
        + m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0)
        + info.get("Getting Result Time", 0)
    )
    st.sched_delay_ms += max(0, info["Finish Time"] - info["Launch Time"] - overhead)
    rd = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)


def read_app(log_dir: str, app_id: str) -> EventLog:
    """Parse one application's log: a single file, or the rolling
    ``eventlog_v2_<app>/events_<n>_<app>`` parts in order."""
    parts = sorted(
        glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", f"events_*_{app_id}*")),
        key=lambda p: int(re.search(r"events_(\d+)_", os.path.basename(p)).group(1)),
    )
    if not parts:
        parts = [os.path.join(log_dir, app_id)]

    def lines():
        for p in parts:
            with open(p) as f:
                yield from f

    return parse(lines())


def totals(log: EventLog, job_ids: Iterable[int]) -> dict[str, float]:
    """Counts and task sums over a set of jobs."""
    jobs = [log.jobs[j] for j in job_ids]
    stage_ids = {s for j in jobs for s in j.stage_ids} & log.completed
    st = [log.stages.get(s, StageTasks()) for s in stage_ids]
    return {
        "jobs": len(jobs),
        "stages": len(stage_ids),
        "tasks": sum(s.tasks for s in st),
        "executor_run_s": sum(s.run_ms for s in st) / 1e3,
        "executor_cpu_s": sum(s.cpu_ns for s in st) / 1e9,
        "scheduler_delay_s": sum(s.sched_delay_ms for s in st) / 1e3,
        "gc_s": sum(s.gc_ms for s in st) / 1e3,
        "shuffle_read_bytes": sum(s.shuffle_read_bytes for s in st),
        "shuffle_write_bytes": sum(s.shuffle_write_bytes for s in st),
    }


def busy_seconds(log: EventLog, job_ids: Iterable[int]) -> float:
    """Wall time covered by the jobs' [submit, end] intervals (overlaps
    counted once)."""
    spans = sorted((log.jobs[j].submit_ms, log.jobs[j].end_ms or log.jobs[j].submit_ms) for j in job_ids)
    total, cur_s, cur_e = 0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3
