"""Per-layer metrics of a traced run.

Inputs: the spans (``trace``), the folded event log (``eventlog``), the
streaming progress a ``StreamingQueryListener`` received, per-entry conf
changes and peak memory read from ``/proc``. Output: one flat dict of
per-layer metrics for the workload, plus per-entry records.

Which end-to-end metric each layer's metrics should move, on which
workload, is in perfbench/README.md.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from datetime import datetime
from pathlib import Path

from . import eventlog
from . import spans as trace
from .engine import descendants

@functools.cache
def metrics() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order, as
    BENCHMARK.json lists them."""
    bench = json.loads((Path(__file__).resolve().parents[1] / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in bench["per_layer"]}


# event-log counter → (metric, scale)
_SPARK_COUNTERS = {
    "jobs": ("spark.jobs", 1),
    "stages": ("spark.stages", 1),
    "skipped_stages": ("spark.skipped_stages", 1),
    "tasks": ("spark.tasks", 1),
    "single_task_stages": ("spark.single_task_stages", 1),
    "job_busy_s": ("spark.job_busy_s", 1),
    "executor_run_ms": ("spark.executor_run_s", 1e-3),
    "executor_cpu_ns": ("spark.executor_cpu_s", 1e-9),
    "gc_ms": ("spark.gc_s", 1e-3),
    "shuffle_read_bytes": ("spark.shuffle_read_bytes", 1),
    "shuffle_write_bytes": ("spark.shuffle_write_bytes", 1),
    "spill_bytes": ("spark.spill_bytes", 1),
    "output_bytes": ("spark.output_bytes", 1),
    "failed_tasks": ("spark.failed_tasks", 1),
    "input_bytes": ("sources.input_bytes", 1),
    "input_rows": ("sources.input_rows", 1),
    "driver_gap_s": ("plans.driver_gap_s", 1),
    "python.boot_ms": ("python.boot_s", 1e-3),
    "python.init_ms": ("python.init_s", 1e-3),
    "python.run_ms": ("python.run_s", 1e-3),
    "python.bytes_sent": ("python.bytes_sent", 1),
    "python.bytes_received": ("python.bytes_received", 1),
}


class StreamProgress:
    """Keeps every micro-batch progress report (``durationMs`` phases and
    ``stateOperators``) with the epoch time its batch started."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        reports = self.reports = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
                reports.append((ts.timestamp(), p))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()

    def settle(self, quiet_s: float = 0.5, limit_s: float = 5.0) -> None:
        """Wait until no report has arrived for ``quiet_s`` (reports are
        delivered asynchronously)."""
        deadline = time.monotonic() + limit_s
        seen = -1
        while len(self.reports) != seen and time.monotonic() < deadline:
            seen = len(self.reports)
            time.sleep(quiet_s)


def stream_metrics(reports: list[tuple[float, dict]]) -> dict[str, float]:
    m = {k: 0.0 for k in metrics() if k.startswith("streaming.") and k != "streaming.self_s"}
    data_batches = 0
    last_rows: dict[str, float] = {}
    peak_mem: dict[str, float] = {}
    for _t, p in reports:
        d = p.get("durationMs") or {}
        ops = p.get("stateOperators") or []
        m["streaming.batches"] += 1
        data_batches += 1 if (p.get("numInputRows") or 0) > 0 else 0
        m["streaming.add_batch_s"] += d.get("addBatch", 0) / 1000.0
        m["streaming.planning_s"] += d.get("queryPlanning", 0) / 1000.0
        m["streaming.commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0
        m["streaming.state_commit_s"] += sum(o.get("commitTimeMs", 0) for o in ops) / 1000.0
        run = p.get("runId")
        last_rows[run] = sum(o.get("numRowsTotal", 0) for o in ops)
        peak_mem[run] = max(peak_mem.get(run, 0), sum(o.get("memoryUsedBytes", 0) for o in ops))
    if m["streaming.batches"]:
        m["streaming.data_batch_ratio"] = data_batches / m["streaming.batches"]
    m["streaming.state_rows"] = float(sum(last_rows.values()))
    m["streaming.state_memory_bytes"] = float(sum(peak_mem.values()))
    return m


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm", encoding="ascii", errors="replace") as fh:
            return fh.read().strip()
    except OSError:
        return ""


class PeakMemory:
    """Samples ``VmHWM`` (peak resident set) of the JVM and the Python
    worker processes below this process, from ``/proc``. Python workers
    come and go, so they are sampled every ``interval_s``."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.jvm_kb = 0
        self.worker_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-rss", daemon=True)

    def __enter__(self) -> PeakMemory:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        for pid in descendants(os.getpid()):
            comm = _comm(pid)
            if comm == "java":
                self.jvm_kb = max(self.jvm_kb, _vm_hwm_kb(pid))
            elif comm.startswith("python"):
                self.worker_kb = max(self.worker_kb, _vm_hwm_kb(pid))


def fold(
    spans: list[trace.Span],
    log: eventlog.EventLog,
    walls: dict[str, tuple[float, float]],
    groups: dict[str, str],
    reports: list[tuple[float, dict]],
) -> tuple[dict[str, float], dict[str, dict]]:
    """Workload-level per-layer metrics (without session, memory and
    trace metrics, which the runner adds) and per-entry records."""
    selfs = trace.self_times(spans)
    out: dict[str, float] = {k: 0.0 for k in metrics()}
    for s in spans:
        if s.entry is None:
            continue
        if s.layer in trace.LAYERS:
            out[f"{s.layer}.self_s"] += selfs[s.span_id]
            if f"{s.layer}.calls" in out:
                out[f"{s.layer}.calls"] += 1
        elif s.layer == "plans":
            key = "plans.build_s" if s.name.endswith(".build") else "plans.action_s"
            out[key] += (s.end or s.start) - s.start
    per_entry: dict[str, dict] = {}
    jobs = eventlog.jobs_by_entry(log, walls, groups)
    for name, wall in walls.items():
        counters = eventlog.fold_entry(log, jobs[name], wall)
        per_entry[name] = {"wall_s": wall[1] - wall[0], **counters,
                           "jobs_other_group": sum(j.group != groups.get(name) for j in jobs[name])}
        for k, v in counters.items():
            metric = _SPARK_COUNTERS.get(k)
            if metric is not None:
                out[metric[0]] += v * metric[1]
        for job in jobs[name]:
            owner = trace.innermost_span(spans, job.submit_ms / 1000.0, name)
            if owner is not None and owner.layer == "operators":
                out["operators.jobs"] += 1
    by_entry: dict[str, list] = {n: [] for n in walls}
    for t, p in reports:
        name = next((n for n, (s, e) in walls.items() if s <= t <= e), None)
        if name is not None:
            by_entry[name].append((t, p))
    for name, rs in by_entry.items():
        per_entry[name]["stream_batches"] = len(rs)
    out.update(stream_metrics([r for rs in by_entry.values() for r in rs]))
    return out, per_entry


def write_trace(path: Path, spans: list[trace.Span], per_entry: dict, metrics: dict) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps({
        "metrics": metrics,
        "entries": per_entry,
        "spans": [s.__dict__ for s in spans],
    }, indent=1) + "\n")
