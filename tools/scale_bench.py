"""Scale-evidence runner (VERDICT r04 'what's missing' #2): run the
heavy dedup/ANN tier at sf0.1 and at the ×K corpora produced by
tools/make_scale_data.py, record wall time + Spark stage metrics
(shuffle read/write bytes, spill) per query per scale, and fit a
log-log scaling exponent per query.

A query whose runtime fits t ∝ n^e with e ≈ 1 (and zero spill) is
measured evidence that its plan shape survives scale-up; e >> 1 or
growing spill flags a scale hazard. Document copies are
structure-preserving (vocabulary permutation), so superlinear growth
cannot be blamed on the data.

Usage:
  python tools/scale_bench.py [--out bench_runs/rXX_scaling.json] \
      [--queries a,b,c] [DIR ...]
  # defaults: the HEAVY tier at sf0.1 + /root/scale_data/x{1,3,10,30,100}
"""

from __future__ import annotations

import json
import math
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from hebrew_tutor_data_pipeline_spark.plans import CATALOG  # noqa: E402
from hebrew_tutor_data_pipeline_spark.session import get_spark  # noqa: E402

HEAVY = (
    # jaccard_token_pairs (the exhaustive truth arm) is deliberately
    # NOT here (r06 verdict): it is the known-steepest curve in the
    # repo and OOMs at x100 by design — measure it explicitly with
    # --queries when a recall audit needs the truth arm.
    "jaccard_token_pairs_capped",
    "minhash_dedup_pairs_corpus",
    "simhash_neardup_quotient",
    "dedup_clusters",
    "duplicate_token_spans",
    "benchmark_contamination",
    "corpus_curation_pipeline",
    "semantic_dedup_flags",
    "embedding_near_dup_lsh",
    "doc_lm_perplexity",
    "ann_bruteforce_top10",
    "ann_ivf_top10",
    "ann_ivf_kmeans_top10",
    "ann_pq_top10",
    "embedding_outlier_scores",
)


#: Extra non-catalog probes. EMPTY since round 7: the r06 `*_scaled`
#: parameterizations (SemDeDup k ∝ n, SRP-LSH bits ≈ log2(n/250)) and
#: the corpus MinHash tier are now the REGISTERED queries themselves —
#: semantic_dedup_flags / embedding_near_dup_lsh derive their blocking
#: knobs from a corpus count inside the plan (oracle-mirrored formulas),
#: and minhash_dedup_pairs_corpus is the banded tier of record — so the
#: scale evidence and the driver-validated plans are the same code path.
PROBES: dict = {}


def clear_persisted(spark) -> int:
    """Drop EVERY persisted RDD (incl. localCheckpoint blocks, which
    catalog.clearCache() does not touch) so one query's failure can't
    leak storage into the next measurement — the r06 first run showed
    x30 numbers inflated by blocks a failed query left behind."""
    sc = spark.sparkContext
    n = 0
    try:
        it = sc._jsc.sc().getPersistentRDDs().iterator()
        handles = []
        while it.hasNext():
            handles.append(it.next()._2())
        for h in handles:
            h.unpersist(False)
            n += 1
    except Exception as exc:  # noqa: BLE001 — best-effort hygiene
        print(f"# clear_persisted failed: {exc}", file=sys.stderr)
    return n


def stage_metrics(ui: str) -> dict[int, dict]:
    """All completed stages from the Spark UI REST API, by stageId+attempt."""
    try:
        apps = json.load(
            urllib.request.urlopen(f"{ui}/api/v1/applications", timeout=10)
        )
        app_id = apps[0]["id"]
        stages = json.load(
            urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app_id}/stages?status=complete",
                timeout=30,
            )
        )
    except Exception as exc:  # noqa: BLE001 — metrics are best-effort
        print(f"# stage metrics unavailable: {exc}", file=sys.stderr)
        return {}
    return {
        (s["stageId"], s["attemptId"]): s
        for s in stages
        if isinstance(s, dict)
    }


def docs_count(spark, sf_dir: str) -> int:
    import os

    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()


def events_count(spark, sf_dir: str) -> int:
    """Events-axis size for the scaled-events family (r10): in the
    regenerated x{K} trees BOTH documents and events grow ∝ K, so the
    log-log exponent fitted against n_docs is identical to one fitted
    against n_events — this is recorded so the report shows the real
    axis for event-shaped probes."""
    import os

    return spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()


def fit_exponent(points: list[tuple[float, float]]) -> float | None:
    """Least-squares slope of log(t) vs log(n) over (n, seconds) points."""
    pts = [(n, t) for n, t in points if t and t > 0]
    if len(pts) < 2:
        return None
    xs = [math.log(n) for n, _ in pts]
    ys = [math.log(t) for _, t in pts]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    den = sum((x - mx) ** 2 for x in xs)
    if den == 0:
        return None
    return round(sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den, 3)


def main() -> int:
    args = sys.argv[1:]
    out_path = "bench_runs/scaling_report.json"
    queries = HEAVY
    # order-insensitive flags: `--queries a,b --out f.json` silently
    # treated `--out` as a data DIR before (the probe then crashed on
    # file:.../--out/documents.parquet)
    while args and args[0] in ("--out", "--queries"):
        if len(args) < 2:
            sys.exit(f"missing value for {args[0]}")
        flag, val, args = args[0], args[1], args[2:]
        if flag == "--out":
            out_path = val
        else:
            queries = tuple(val.split(","))
    dirs = args or [
        "/root/testdata/sf0.1",
        "/root/scale_data/x1",
        "/root/scale_data/x3",
        "/root/scale_data/x10",
        "/root/scale_data/x30",
        "/root/scale_data/x100",
    ]

    from hebrew_tutor_data_pipeline_spark.operators.dedup import (
        cc_last_rounds,
    )

    # UI on: the REST API is where shuffle/spill stage metrics come from
    spark = get_spark("scale-bench", extra_conf={"spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl

    # JVM/Python-worker warmup (not measured)
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    report: dict = {"dirs": {}, "queries": {}, "exponents": {}, "cc_rounds": {}}
    for d in dirs:
        label = Path(d).name
        n_docs = docs_count(spark, d)
        report["dirs"][label] = {"path": d, "n_docs": n_docs}
        try:
            report["dirs"][label]["n_events"] = events_count(spark, d)
        except Exception:  # noqa: BLE001 — events are optional in a tree
            pass
        seen = set(stage_metrics(ui)) if ui else set()
        runnables = [(n, CATALOG[n].spark) for n in queries if n in CATALOG]
        runnables += [
            (n, fn)
            for n, fn in PROBES.items()
            if queries is HEAVY or n in queries
        ]
        for name, run_fn in runnables:
            t0 = time.perf_counter()
            try:
                run_fn(spark, d).write.format("noop").mode("overwrite").save()
                sec = round(time.perf_counter() - t0, 3)
                err = None
            except Exception as exc:  # noqa: BLE001 — isolate per query
                sec, err = None, f"{type(exc).__name__}: {exc}"[:300]
            leaked = clear_persisted(spark)
            if leaked:
                print(f"# {label} {name}: cleared {leaked} persisted RDDs", file=sys.stderr)
            # each query pays its FULL model cost (codebook training
            # included): without this, whichever codebook consumer runs
            # first absorbs training and the rest measure assignment
            # only — the isolated numbers here are the cost-model
            # evidence, unlike bench.py's in-catalog totals where the
            # shared-result store is the deliberate production posture
            from hebrew_tutor_data_pipeline_spark.session import clear_shared

            clear_shared()
            rec: dict = {"sec": sec}
            if err:
                rec["error"] = err
            if ui:
                after = stage_metrics(ui)
                new = [after[k] for k in after.keys() - seen]
                seen = set(after)
                rec["shuffle_write_mb"] = round(
                    sum(s.get("shuffleWriteBytes", 0) for s in new) / 1e6, 2
                )
                rec["shuffle_read_mb"] = round(
                    sum(s.get("shuffleReadBytes", 0) for s in new) / 1e6, 2
                )
                rec["spill_mb"] = round(
                    sum(
                        s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                        for s in new
                    )
                    / 1e6,
                    2,
                )
            if name == "dedup_clusters":
                report["cc_rounds"][label] = cc_last_rounds()
            report["queries"].setdefault(name, {})[label] = rec
            msg = f"# {label} {name}: {sec}s"
            if err:
                msg += f" ERROR {err.splitlines()[0]}"
            print(msg, file=sys.stderr)

    for name, by_label in report["queries"].items():
        # Fit only within the generated self-similar families (the
        # /root/scale_data trees — x* and sf*): driver testdata sf0.1 is
        # recorded as the reference point but is a different draw of the
        # process, so it would only add noise to the exponent. (The old
        # label.startswith("x") filter silently dropped sf1/sf10 probes
        # and emitted null exponents.)
        pts = [
            (report["dirs"][lbl]["n_docs"], rec["sec"])
            for lbl, rec in by_label.items()
            if rec.get("sec")
            and report["dirs"][lbl]["path"].startswith("/root/scale_data/")
        ]
        report["exponents"][name] = fit_exponent(pts)

    Path(out_path).parent.mkdir(parents=True, exist_ok=True)
    Path(out_path).write_text(json.dumps(report, indent=1))
    print(json.dumps({"out": out_path, "exponents": report["exponents"]}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
