"""Folding a small recorded event log (see data/record_eventlog.py):
entry ``a`` ran a shuffle aggregation twice (the second job skips the
map stage), entry ``b`` ran one mapInPandas job, and one job ran
outside both entries."""

import json
from pathlib import Path

import pytest

from perfbench import eventlog, layers
from perfbench.spans import Span

DATA = Path(__file__).parent / "data"
GROUPS = {"a": "perfbench:a", "b": "perfbench:b"}


@pytest.fixture(scope="module")
def log():
    return eventlog.read([DATA / "eventlog_small.jsonl"])


@pytest.fixture(scope="module")
def walls():
    return {k: tuple(v) for k, v in json.loads((DATA / "eventlog_small_walls.json").read_text()).items()}


def test_jobs_attributed_by_group_and_by_time(log, walls):
    by_group = eventlog.jobs_by_entry(log, walls, GROUPS)
    assert [j.job_id for j in by_group["a"]] == [0, 1]
    assert [j.job_id for j in by_group["b"]] == [2]
    # without groups, submission time decides; job 3 ran after entry b
    by_time = eventlog.jobs_by_entry(log, walls, {})
    assert {k: [j.job_id for j in v] for k, v in by_time.items()} == {"a": [0, 1], "b": [2]}


def test_job_and_stage_counts(log, walls):
    jobs = eventlog.jobs_by_entry(log, walls, GROUPS)
    a = eventlog.fold_entry(log, jobs["a"], walls["a"])
    assert (a["jobs"], a["stages"], a["skipped_stages"], a["tasks"]) == (2, 3, 1, 6)
    assert a["single_task_stages"] == 0
    b = eventlog.fold_entry(log, jobs["b"], walls["b"])
    assert (b["jobs"], b["stages"], b["skipped_stages"], b["tasks"]) == (1, 1, 0, 2)


def test_executor_shuffle_and_python_sums(log, walls):
    jobs = eventlog.jobs_by_entry(log, walls, GROUPS)
    a = eventlog.fold_entry(log, jobs["a"], walls["a"])
    assert a["executor_run_ms"] == 4315
    assert a["executor_cpu_ns"] == 617904927
    assert a["shuffle_write_bytes"] == 364
    assert a["shuffle_read_bytes"] == 364
    assert "python.run_ms" not in a
    b = eventlog.fold_entry(log, jobs["b"], walls["b"])
    assert b["shuffle_write_bytes"] == 0
    assert b["python.boot_ms"] == 945 + 938
    assert b["python.init_ms"] == 281 + 234
    assert b["python.run_ms"] == 1496 + 1436
    assert b["python.bytes_sent"] == 2 * 592
    assert b["python.bytes_received"] == 2 * 576


def test_driver_gap_is_wall_minus_job_union(log, walls):
    jobs = eventlog.jobs_by_entry(log, walls, GROUPS)
    a = eventlog.fold_entry(log, jobs["a"], walls["a"])
    busy = sum((j.end_ms - j.submit_ms) / 1000.0 for j in jobs["a"])  # jobs 0 and 1 do not overlap
    assert a["job_busy_s"] == pytest.approx(busy)
    assert a["driver_gap_s"] == pytest.approx(walls["a"][1] - walls["a"][0] - busy)


def test_job_goes_to_innermost_open_span(log, walls):
    start, end = walls["b"]
    job2 = log.jobs[2].submit_ms / 1000.0
    spans = [
        Span(0, "b.build", "plans", start, end, None, "b"),
        Span(1, "operators.x.f", "operators", job2 - 0.2, job2 + 0.2, 0, "b"),
        Span(2, "functions.y.g", "functions", job2 - 0.15, job2 - 0.05, 1, "b"),
    ]
    out, per_entry = layers.fold(spans, log, walls, GROUPS, [])
    assert walls["b"][0] < job2 - 0.2  # the spans nest inside the entry
    assert out["operators.jobs"] == 1
    assert out["spark.jobs"] == 3
    assert per_entry["b"]["jobs"] == 1
    # the job ran inside the operator span, after the functions child closed;
    # when the child is still open, the job is the child's
    spans[2] = Span(2, "functions.y.g", "functions", job2 - 0.15, job2 + 0.05, 1, "b")
    out, _ = layers.fold(spans, log, walls, GROUPS, [])
    assert out["operators.jobs"] == 0
