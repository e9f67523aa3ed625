"""Spark event-log reader: job, stage and task metrics keyed by the job
descriptions the benchmark sets around each public call.

Reads the JSON-lines file Spark writes with ``spark.eventLog.enabled``
(uncompressed, not rolling); only the JobStart, JobEnd and TaskEnd
events are used.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write_bytes: int
    spill_bytes: int
    bytes_read: int
    failed: bool

    @property
    def duration_ms(self) -> int:
        return self.finish_ms - self.launch_ms


@dataclass
class Job:
    id: int
    description: str | None
    start_ms: int
    end_ms: int | None = None
    succeeded: bool = False
    stage_ids: list[int] = field(default_factory=list)
    tasks: list[Task] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job]

    def labelled(self, prefix: str) -> list[Job]:
        """Jobs whose description starts with ``prefix``."""
        return [
            j for j in self.jobs.values()
            if j.description and j.description.startswith(prefix)
        ]


def _metric(tm: dict, *path, default=0):
    cur = tm
    for p in path:
        if not isinstance(cur, dict) or p not in cur:
            return default
        cur = cur[p]
    return cur


def read(path: str) -> EventLog:
    """Parse one uncompressed, non-rolling event-log file."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    tasks: list[Task] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(
                    id=ev["Job ID"],
                    description=props.get("spark.job.description"),
                    start_ms=ev["Submission Time"],
                    stage_ids=list(ev.get("Stage IDs", [])),
                )
                jobs[job.id] = job
                for s in job.stage_ids:
                    # a reused (skipped) parent stage is listed again by
                    # later jobs; it ran in the first job that listed it
                    stage_job.setdefault(s, job.id)
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job.end_ms = ev["Completion Time"]
                    job.succeeded = (
                        ev.get("Job Result", {}).get("Result") == "JobSucceeded"
                    )
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                tm = ev.get("Task Metrics") or {}
                tasks.append(Task(
                    stage=ev["Stage ID"],
                    launch_ms=info["Launch Time"],
                    finish_ms=info["Finish Time"],
                    cpu_ns=_metric(tm, "Executor CPU Time"),
                    gc_ms=_metric(tm, "JVM GC Time"),
                    shuffle_write_bytes=_metric(
                        tm, "Shuffle Write Metrics", "Shuffle Bytes Written"
                    ),
                    spill_bytes=_metric(tm, "Memory Bytes Spilled")
                    + _metric(tm, "Disk Bytes Spilled"),
                    bytes_read=_metric(tm, "Input Metrics", "Bytes Read"),
                    failed=bool(info.get("Failed")) or bool(info.get("Killed")),
                ))
    for t in tasks:
        jid = stage_job.get(t.stage)
        if jid is not None:
            jobs[jid].tasks.append(t)
    return EventLog(jobs)


# --- derived figures ------------------------------------------------------------


def tasks_of(jobs: list[Job]) -> list[Task]:
    return [t for j in jobs for t in j.tasks]


def stage_tasks(jobs: list[Job]) -> dict[int, list[Task]]:
    out: dict[int, list[Task]] = {}
    for t in tasks_of(jobs):
        out.setdefault(t.stage, []).append(t)
    return out


def skew(tasks: list[Task]) -> float:
    """Max over median task duration (1.0 = perfectly even)."""
    d = [t.duration_ms for t in tasks if not t.failed]
    if not d:
        return 0.0
    med = statistics.median(d)
    return max(d) / med if med > 0 else 0.0


def stage_span_s(tasks: list[Task]) -> float:
    """Wall seconds from a stage's first task launch to its last finish."""
    if not tasks:
        return 0.0
    return (max(t.finish_ms for t in tasks) - min(t.launch_ms for t in tasks)) / 1e3


def widest_stage(jobs: list[Job]) -> list[Task]:
    """Tasks of the stage with the most task time among ``jobs``."""
    st = stage_tasks(jobs)
    if not st:
        return []
    return max(st.values(), key=lambda ts: sum(t.duration_ms for t in ts))


def covered_s(jobs: list[Job], t0_ms: float, t1_ms: float) -> float:
    """Seconds of [t0_ms, t1_ms] during which at least one job ran."""
    iv = sorted(
        (max(j.start_ms, t0_ms), min(j.end_ms or t1_ms, t1_ms))
        for j in jobs
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
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
    return total / 1e3


def totals(jobs: list[Job]) -> dict:
    ts = tasks_of(jobs)
    return {
        "tasks": len(ts),
        "task_failures": sum(t.failed for t in ts),
        "cpu_s": sum(t.cpu_ns for t in ts) / 1e9,
        "gc_s": sum(t.gc_ms for t in ts) / 1e3,
        "shuffle_write_bytes": sum(t.shuffle_write_bytes for t in ts),
        "spill_bytes": sum(t.spill_bytes for t in ts),
        "bytes_read": sum(t.bytes_read for t in ts),
    }
