"""Catalog benchmark: one workload, one fresh session, one JSON result.

Usage (from the repository root):

    python3 perfbench/run.py --workload chapter_pipeline --seed 42 --seconds 20 --trace 0

The run generates the input tree for ``--seed`` (cached under
``perfbench/.work``), computes the DuckDB oracle digests for the
workload's entries (cached per tree), starts the package's session on
``local[<cpus>]``, warms it up, and runs each selected entry once, in
registration order: the plan function (``QuerySpec.spark``) and a ``noop``
write are timed from outside. Each entry's rows are then collected and
compared with its oracle, outside the timed region.

``--trace 0`` reports the end-to-end metrics (``setup_s``, ``wall_s``).
``--trace 1`` runs the same work with spans, Spark's event log, a
streaming progress listener and ``/proc`` memory sampling, and reports
the per-layer metrics. The last stdout line is the JSON result; the line
before it names ``failed_ratio``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / "perfbench" / ".work"
sys.path.insert(0, str(ROOT))

from perfbench import datagen, engine, workloads  # noqa: E402


def _log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def _conf(spark) -> dict[str, str]:
    return dict(spark.conf.getAll)


def run_entries(spark, names, tree: Path, expected: dict, tracer=None, conf_changes=None):
    """Run each entry once; return {name: (start, end, error or None)}.
    Walls are epoch seconds, so the traced run can match them with the
    event log. ``conf_changes``, when given, receives each entry's changed
    session conf keys."""
    from hebrew_tutor_data_pipeline_spark.plans import CATALOG

    from perfbench import oracle

    span = tracer.span if tracer is not None else (lambda _name, _layer: nullcontext())
    sc = spark.sparkContext
    results = {}
    for name in names:
        spec = CATALOG[name]
        before = _conf(spark) if conf_changes is not None else None
        sc.setJobGroup(f"perfbench:{name}", name)
        if tracer is not None:
            tracer.entry = name
        df, error = None, None
        start = time.time()
        try:
            with span(f"{name}.build", "plans"):
                df = spec.spark(spark, str(tree))
            with span(f"{name}.action", "plans"):
                df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 — a failed entry is counted, not fatal
            error = f"{type(exc).__name__}: {str(exc).splitlines()[0] if str(exc) else ''}"[:300]
            traceback.print_exc(file=sys.stderr)
        end = time.time()
        if tracer is not None:
            tracer.entry = None
        sc.setJobGroup("perfbench:check", "output check")
        if error is None:
            try:
                rows = [tuple(r) for r in df.collect()]
                error = oracle.mismatch(expected[name], rows, df.columns)
            except Exception as exc:  # noqa: BLE001
                error = f"check failed: {type(exc).__name__}: {exc}"[:300]
        if conf_changes is not None:
            after = _conf(spark)
            conf_changes[name] = sorted(
                k for k in before.keys() | after.keys() if before.get(k) != after.get(k)
            )
        results[name] = (start, end, error)
        _log(f"{name}: {end - start:.3f}s{'' if error is None else ' FAILED ' + error}")
    return results


def failed_entries(results) -> list[str]:
    return sorted(n for n, (_, _, err) in results.items() if err is not None)


def code_digest() -> str:
    """Digest of the measured program and of the benchmark: the package,
    the committed fixtures its entries read, and perfbench's modules."""
    h = hashlib.sha256()
    for base, pattern in ((ROOT / "hebrew_tutor_data_pipeline_spark", "**/*"),
                          (ROOT / "tests" / "fixtures", "**/*"),
                          (ROOT / "perfbench", "*.py")):
        for f in sorted(base.glob(pattern)):
            if f.is_file() and "__pycache__" not in f.parts:
                h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()[:16]


def _inputs(workload: str, seed: int, seconds: int, tree: Path | None):
    """The entries of the run, their input tree and their oracle digests.
    With ``tree`` given, the inputs are read from it (and its oracle
    digests are not cached) instead of from the tree generated for
    ``seed``."""
    from perfbench import oracle

    names = workloads.select(workload, seconds)
    if tree is None:
        tree = datagen.ensure_tree(WORK / "data", seed)
        return names, tree, oracle.expected(tree, names, tree / "oracle.json")
    return names, tree, oracle.expected(tree, names, None)


def untraced(workload: str, seed: int, seconds: int, tree: Path | None) -> dict:
    code = code_digest()
    names, tree, expected = _inputs(workload, seed, seconds, tree)
    t0 = time.perf_counter()
    spark = engine.start(f"perfbench-{workload}", WORK)
    try:
        engine.warm_up(spark, WORK / "warm")
        setup_s = time.perf_counter() - t0
        results = run_entries(spark, names, tree, expected)
    finally:
        engine.stop(spark)
    wall_s = sum(e - s for s, e, _ in results.values())
    failed = failed_entries(results)
    _record_untraced(workload, {"code": code, "tree": tree.name, "seconds": seconds}, wall_s)
    return {
        "attempted": len(results),
        "failed": failed,
        "metrics": {"setup_s": (setup_s, "s"), "wall_s": (wall_s, "s")},
    }


def _record_untraced(workload: str, key: dict, wall_s: float) -> None:
    path = WORK / "results" / f"{workload}.jsonl"
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "a", encoding="utf-8") as fh:
        fh.write(json.dumps({**key, "wall_s": wall_s}) + "\n")


def _untraced_wall(workload: str, seed: int, seconds: int, tree: Path | None) -> float:
    """Untraced wall_s of the same work for the overhead figure: the
    median of the untraced runs recorded for the same code and seconds,
    on the same input tree if there are any, else on other seeds' trees;
    with none recorded, a fresh untraced run in a child process. (A child
    run costs a whole run, which with the traced run itself can pass the
    run's time limit on a slow host, so recorded runs come first.)"""
    code, name = code_digest(), (tree or datagen.ensure_tree(WORK / "data", seed)).name
    path = WORK / "results" / f"{workload}.jsonl"
    recs = []
    if path.exists():
        recs = [json.loads(line) for line in path.read_text().splitlines() if line.strip()]
    recs = [r for r in recs if r.get("code") == code and r.get("seconds") == seconds]
    same_tree = [r["wall_s"] for r in recs if r["tree"] == name]
    if recs:
        _log(f"overhead baseline: {len(same_tree or recs)} untraced run(s) of this code, "
             + ("same input tree" if same_tree else "other seeds' trees"))
        return statistics.median(same_tree or [r["wall_s"] for r in recs])
    _log("no untraced run of this code recorded; running one first")
    proc = subprocess.run(
        [sys.executable, __file__, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0", *(["--tree", str(tree)] if tree else [])],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=170, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])["metrics"]["wall_s"]["value"]


def traced(workload: str, seed: int, seconds: int, tree: Path | None) -> dict:
    from perfbench import eventlog, layers, spans as trace

    untraced_wall = _untraced_wall(workload, seed, seconds, tree)
    names, tree, expected = _inputs(workload, seed, seconds, tree)
    log_dir = WORK / "eventlog"
    shutil.rmtree(log_dir, ignore_errors=True)
    log_dir.mkdir(parents=True)
    tracer = trace.Tracer()
    conf_changes: dict[str, list[str]] = {}
    with layers.PeakMemory() as mem:
        with tracer.span("session.get_spark", "session") as start_span:
            spark = engine.start(f"perfbench-{workload}-traced", WORK, {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": log_dir.as_uri(),
            })
        try:
            with tracer.span("session.warm_up", "session") as warm_span:
                engine.warm_up(spark, WORK / "warm")
            progress = layers.StreamProgress()
            spark.streams.addListener(progress.listener)
            with trace.layers_wrapped(tracer):
                results = run_entries(spark, names, tree, expected, tracer, conf_changes)
            progress.settle()
            spark.streams.removeListener(progress.listener)
        finally:
            mem.sample()
            engine.stop(spark)
    walls = {n: (s, e) for n, (s, e, _) in results.items()}
    groups = {n: f"perfbench:{n}" for n in names}
    log = eventlog.read(eventlog.log_files(log_dir))
    metrics, per_entry = layers.fold(tracer.spans, log, walls, groups, progress.reports)
    wall_s = sum(e - s for s, e in walls.values())
    metrics.update({
        "session.start_s": start_span.end - start_span.start,
        "session.warmup_s": warm_span.end - warm_span.start,
        "session.conf_changed_keys": float(sum(len(v) for v in conf_changes.values())),
        "python.worker_peak_rss_mb": mem.worker_kb / 1024.0,
        "memory.jvm_peak_rss_mb": mem.jvm_kb / 1024.0,
        "trace.wall_s": wall_s,
        "trace.overhead_s": wall_s - untraced_wall,
    })
    for name, keys in conf_changes.items():
        per_entry[name]["conf_changed_keys"] = keys
        per_entry[name]["error"] = results[name][2]
    layers.write_trace(WORK / "traces" / f"{workload}-{tree.name}.json", tracer.spans, per_entry, metrics)
    for name, rec in per_entry.items():
        _log(f"{name}: jobs={rec['jobs']} stages={rec['stages']} tasks={rec.get('tasks', 0)} "
             f"gap={rec['driver_gap_s']:.2f}s conf_changed={rec['conf_changed_keys']}")
    failed = failed_entries(results)
    return {
        "attempted": len(results),
        "failed": failed,
        "metrics": {k: (metrics[k], unit) for k, unit in layers.metrics().items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tree", type=lambda p: Path(p).resolve(), default=None,
                    help="read the input tables from this directory instead of "
                         "generating them from --seed (to measure a reference tree)")
    args = ap.parse_args(argv)
    try:
        import hebrew_tutor_data_pipeline_spark.plans  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package to measure is not importable: {exc}", file=sys.stderr)
        return 2
    run = traced if args.trace else untraced
    res = run(args.workload, args.seed, args.seconds, args.tree)
    attempted, failed = res["attempted"], res["failed"]
    for name in failed:
        _log(f"failed: {name}")
    print(f"{args.workload}: failed_ratio {len(failed) / attempted:.4f} ratio "
          f"({len(failed)} of {attempted} entries)"
          + "".join(f" {k} {v:.4f} {u}" for k, (v, u) in res["metrics"].items() if not args.trace))
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
