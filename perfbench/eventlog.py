"""Fold Spark's JSON event log into per-entry engine counters.

The traced run enables ``spark.eventLog.enabled`` with
``spark.eventLog.compress=false``; this module reads the resulting
``eventlog_v2_<app>/events_*`` files (or a single-file log) and folds
job, stage and task events into counters for each entry.

Jobs are attributed to an entry by job group when the job carries the
entry's group (``spark.jobGroup.id``), and otherwise by time: a job
submitted while an entry ran belongs to it. Streaming micro-batch jobs
need the second rule, because a stream's execution thread runs its jobs
under the query's own group.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

#: Spark 4.1's Python SQL metric names (task accumulables) → counter.
PYTHON_METRICS = {
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.run_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


@dataclass
class Job:
    job_id: int
    submit_ms: int
    group: str | None
    stage_ids: list[int]
    end_ms: int | None = None


@dataclass
class StageRun:
    stage_id: int
    num_tasks: int


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    # completed stage attempts (a stage can complete once per attempt)
    stages: list[StageRun] = field(default_factory=list)
    # per-stage task counters, summed over task-end events
    task_sums: dict[int, dict[str, float]] = field(default_factory=dict)


def log_files(log_dir: Path) -> list[Path]:
    """Event files of every application logged under ``log_dir``, in
    write order (rolling ``events_<n>_`` parts sort by their index)."""

    def part_index(p: Path) -> tuple[str, int]:
        bits = p.name.split("_")
        idx = int(bits[1]) if p.name.startswith("events_") and bits[1].isdigit() else 0
        return (str(p.parent), idx)

    files = [p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith((".", "appstatus"))]
    return sorted(files, key=part_index)


def _task_counters(ev: dict) -> dict[str, float]:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    outp = m.get("Output Metrics") or {}
    info = ev.get("Task Info") or {}
    c = {
        "tasks": 1,
        "failed_tasks": 1 if info.get("Failed") or info.get("Killed") else 0,
        "executor_run_ms": m.get("Executor Run Time", 0),
        "executor_cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "input_bytes": inp.get("Bytes Read", 0),
        "input_rows": inp.get("Records Read", 0),
        "output_bytes": outp.get("Bytes Written", 0),
    }
    for acc in info.get("Accumulables") or []:
        key = PYTHON_METRICS.get(acc.get("Name"))
        if key is not None:
            c[key] = c.get(key, 0) + float(acc.get("Update") or 0)
    return c


def read(files: list[Path]) -> EventLog:
    log = EventLog()
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a torn last line of a log still being written
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    log.jobs[jid] = Job(
                        jid,
                        ev.get("Submission Time", 0),
                        props.get("spark.jobGroup.id"),
                        list(ev.get("Stage IDs") or []),
                    )
                elif kind == "SparkListenerJobEnd":
                    job = log.jobs.get(ev["Job ID"])
                    if job is not None:
                        job.end_ms = ev.get("Completion Time")
                elif kind == "SparkListenerStageCompleted":
                    info = ev.get("Stage Info") or {}
                    log.stages.append(StageRun(info["Stage ID"], info.get("Number of Tasks", 0)))
                elif kind == "SparkListenerTaskEnd":
                    sums = log.task_sums.setdefault(ev["Stage ID"], {})
                    for k, v in _task_counters(ev).items():
                        sums[k] = sums.get(k, 0) + v
    return log


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def jobs_by_entry(
    log: EventLog, entries: dict[str, tuple[float, float]], group_of: dict[str, str]
) -> dict[str, list[Job]]:
    """Assign jobs to entries. ``entries`` maps entry name → (start, end)
    in epoch seconds; ``group_of`` maps entry name → its job group id."""
    by_group = {g: name for name, g in group_of.items()}
    out: dict[str, list[Job]] = {name: [] for name in entries}
    for job in sorted(log.jobs.values(), key=lambda j: j.job_id):
        name = by_group.get(job.group)
        if name is None:
            t = job.submit_ms / 1000.0
            name = next((n for n, (s, e) in entries.items() if s <= t <= e), None)
        if name is not None:
            out[name].append(job)
    return out


def fold_entry(log: EventLog, jobs: list[Job], wall: tuple[float, float]) -> dict[str, float]:
    """Engine counters for one entry from its jobs.

    ``job_busy_s`` is the union of the entry's job intervals (clipped to
    the entry's wall), so ``driver_gap_s`` = wall − job_busy_s is the time
    no job of the entry was running."""
    start, end = wall
    # A stage belongs to the first job that lists it; a later job that
    # lists it again reuses its output and skips it.
    owner: dict[int, int] = {}
    for j in sorted(log.jobs.values(), key=lambda j: j.job_id):
        for sid in j.stage_ids:
            owner.setdefault(sid, j.job_id)
    completed = {s.stage_id for s in log.stages}
    ran_ids: set[int] = set()
    skipped = 0
    for j in jobs:
        for sid in j.stage_ids:
            if owner.get(sid) == j.job_id and sid in completed:
                ran_ids.add(sid)
            else:
                skipped += 1
    runs = [s for s in log.stages if s.stage_id in ran_ids]
    c: dict[str, float] = {
        "jobs": len(jobs),
        "stages": len(runs),
        "skipped_stages": skipped,
        "single_task_stages": sum(1 for s in runs if s.num_tasks == 1),
    }
    for sid in ran_ids:
        for k, v in log.task_sums.get(sid, {}).items():
            c[k] = c.get(k, 0) + v
    intervals = [
        (max(start, j.submit_ms / 1000.0), min(end, (j.end_ms or j.submit_ms) / 1000.0))
        for j in jobs
    ]
    busy = union_s([(a, b) for a, b in intervals if b > a])
    c["job_busy_s"] = busy
    c["driver_gap_s"] = max(0.0, (end - start) - busy)
    return c
