"""Read Spark's own event log: jobs by job group, their stages and tasks,
and the SQL execution each job ran for.

The benchmark puts every timed operation under its own job group, so the
log splits each operation into the jobs it started. Spark writes the log
when the event-log conf is on; the engine itself is not touched.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field


@dataclass
class Task:
    run_ms: float
    cpu_ns: float
    gc_ms: float
    records_read: int
    bytes_read: int
    shuffle_write_bytes: int
    failed: bool


@dataclass
class Stage:
    submit_ms: float | None = None
    complete_ms: float | None = None
    tasks: list[Task] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        if self.submit_ms is None or self.complete_ms is None:
            return 0.0
        return (self.complete_ms - self.submit_ms) / 1000


@dataclass
class Job:
    job_id: int
    group: str | None
    execution_id: int | None
    stage_ids: list[int]
    submit_ms: float
    complete_ms: float | None = None

    @property
    def wall_s(self) -> float:
        return 0.0 if self.complete_ms is None else (self.complete_ms - self.submit_ms) / 1000


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    plans: dict[int, str] = field(default_factory=dict)  # execution id -> plan text

    def group_jobs(self, group: str) -> list[Job]:
        return sorted((j for j in self.jobs.values() if j.group == group), key=lambda j: j.job_id)

    def job_stages(self, jobs: list[Job]) -> list[Stage]:
        """Stages that ran for ``jobs``. A stage listed by several jobs (a
        reused shuffle) is counted once."""
        seen: dict[int, Stage] = {}
        for j in jobs:
            for sid in j.stage_ids:
                if sid in self.stages and self.stages[sid].tasks:
                    seen.setdefault(sid, self.stages[sid])
        return list(seen.values())

    def tasks(self, jobs: list[Job]) -> list[Task]:
        return [t for s in self.job_stages(jobs) for t in s.tasks]

    def failed_tasks(self) -> int:
        return sum(t.failed for s in self.stages.values() for t in s.tasks)


def parse(lines) -> EventLog:
    """Build an :class:`EventLog` from the JSON lines of one log file."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            log.jobs[ev["Job ID"]] = Job(
                job_id=ev["Job ID"],
                group=props.get("spark.jobGroup.id"),
                execution_id=int(exec_id) if exec_id is not None else None,
                stage_ids=list(ev.get("Stage IDs") or []),
                submit_ms=float(ev["Submission Time"]),
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.complete_ms = float(ev["Completion Time"])
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = log.stages.setdefault(info["Stage ID"], Stage())
            st.submit_ms = info.get("Submission Time")
            st.complete_ms = info.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            log.stages.setdefault(ev["Stage ID"], Stage()).tasks.append(
                Task(
                    run_ms=float(m.get("Executor Run Time", 0)),
                    cpu_ns=float(m.get("Executor CPU Time", 0)),
                    gc_ms=float(m.get("JVM GC Time", 0)),
                    records_read=int((m.get("Input Metrics") or {}).get("Records Read", 0)),
                    bytes_read=int((m.get("Input Metrics") or {}).get("Bytes Read", 0)),
                    shuffle_write_bytes=int(
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    ),
                    failed=bool(info.get("Failed")) or reason != "Success",
                )
            )
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            log.plans[int(ev["executionId"])] = (
                log.plans.get(int(ev["executionId"]), "") + "\n" + ev.get("physicalPlanDescription", "")
            )
    return log


def read(path) -> EventLog:
    with open(path) as fh:
        return parse(fh)


@dataclass
class EncodeSplit:
    """One ``encode_table`` call as Spark saw it."""

    spark_jobs: int
    pre_write_jobs_s: float
    post_write_jobs_s: float
    scan_stage_s: float
    encode_stage_s: float
    encode_task_run_s: float
    encode_task_cpu_s: float
    encode_task_max_over_median: float
    shuffle_write_bytes: int
    gc_s: float


def writes_to(plan: str, path: str) -> bool:
    """Whether a physical plan's insert command targets ``path`` (a plan
    that only scans ``path`` names it on a ``Location:`` line instead)."""
    return any(
        line.startswith("Arguments:") and f"{path}," in line for line in plan.splitlines()
    )


def encode_split(log: EventLog, group: str, write_path: str) -> EncodeSplit:
    """Split the jobs of one encode into before, during and after the write.

    The write is the SQL execution that inserts into ``write_path`` (the
    chunk directory of this encode's run); with adaptive execution it runs
    as several jobs. Its stage that wrote shuffle output is the scan stage;
    its last stage to finish is the encode-and-write stage."""
    jobs = log.group_jobs(group)
    write = [j for j in jobs if j.execution_id is not None
             and writes_to(log.plans.get(j.execution_id, ""), write_path)]
    if not write:
        raise ValueError(f"no write job found in group {group!r}")
    w_start = min(j.submit_ms for j in write)
    w_end = max(j.complete_ms or j.submit_ms for j in write)
    others = [j for j in jobs if j not in write]
    stages = log.job_stages(write)
    scan = [s for s in stages if any(t.shuffle_write_bytes for t in s.tasks)]
    enc = max(stages, key=lambda s: s.complete_ms or 0)
    runs = [t.run_ms for t in enc.tasks]
    med = statistics.median(runs) if runs else 0.0
    return EncodeSplit(
        spark_jobs=len(jobs),
        pre_write_jobs_s=sum(j.wall_s for j in others if j.submit_ms < w_start),
        post_write_jobs_s=sum(j.wall_s for j in others if j.submit_ms >= w_end),
        scan_stage_s=sum(s.wall_s for s in scan),
        encode_stage_s=enc.wall_s,
        encode_task_run_s=sum(runs) / 1000,
        encode_task_cpu_s=sum(t.cpu_ns for t in enc.tasks) / 1e9,
        encode_task_max_over_median=(max(runs) / med) if med > 0 else 1.0,
        shuffle_write_bytes=sum(t.shuffle_write_bytes for t in log.tasks(write)),
        gc_s=sum(t.gc_ms for t in log.tasks(jobs)) / 1000,
    )


def scan_counts(log: EventLog, group: str) -> tuple[int, int]:
    """(records, bytes) the scans of one operation read from storage. In
    the chunk store one record is one chunk row."""
    tasks = log.tasks(log.group_jobs(group))
    return sum(t.records_read for t in tasks), sum(t.bytes_read for t in tasks)
