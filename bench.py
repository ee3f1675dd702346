"""Benchmark harness: run the full query catalog at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric", "value", "unit", "queries": {name: sec}, "sf"}.

Each query executes its complete plan into Spark's `noop` sink so column
pruning cannot shortcut the measured work (a bare .count() would let
Catalyst drop every projection).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from hebrew_tutor_data_pipeline_spark.plans import (  # noqa: E402
    CATALOG,
    REGISTRATION_ORDER,
)
from hebrew_tutor_data_pipeline_spark.session import (  # noqa: E402
    get_spark,
    release_pins,
    scoped_conf,
)
from hebrew_tutor_data_pipeline_spark.streaming.sources import (  # noqa: E402
    ROCKSDB_PROVIDER,
)


def sf_of(sf_dir: str) -> float:
    name = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return -1.0


#: Scale-tier skip list (VERDICT r10 #2): queries whose semantics are
#: quadratic-by-design truth arms, adjudicated to DIE above the listed
#: sf — running them there ERRORS the artifact and (r10's disk-full
#: incident) contaminates neighbor measurements. Each has a measured
#: production-tier counterpart that DOES run at scale. The skip is
#: recorded in the output JSON with its adjudication string, so the
#: artifact is clean evidence instead of evidence-plus-footnotes.
SCALE_TIER_SKIPS: dict[str, tuple[float, str]] = {
    "jaccard_token_pairs": (
        10.0,
        "exhaustive posting-join truth arm: fills the 75 GB disk at sf10 "
        "by design (r10_sf10_143q.json); production tier = "
        "jaccard_token_pairs_capped (10.3 s at sf10)",
    ),
    "embedding_near_dup_pairs": (
        10.0,
        "exhaustive all-pairs cosine truth arm: kills the JVM at sf10 by "
        "design; production tier = embedding_near_dup_lsh (12.2 s at sf10)",
    ),
    "simhash_hamming_pairs": (
        10.0,
        "exploded pair list over equal-fingerprint cliques: the ANSWER "
        "is ~n² on homogeneous corpora (520.7 s at sf10, adjudicated "
        "r10); scale tier = simhash_neardup_quotient (multiplicity "
        "algebra, sum(implied_pairs) == exploded row count) and "
        "dedup_clusters (components)",
    ),
    "streaming_clicks_in_purchase_windows": (
        10.0,
        "unkeyed stream-stream interval join: quadratic OUTPUT by "
        "semantics on a density-growing stream (600 s cap at sf10); "
        "scale path = streaming_user_clicks_purchase_windows (keyed)",
    ),
    "clicks_in_purchase_windows": (
        10.0,
        "unkeyed batch interval join, the streaming twin's batch form: "
        "the OUTPUT is quadratic by semantics on a density-growing "
        "event table (15.9x sf1->sf10, 36.1 s, r11_sf10.json — VERDICT "
        "r11 #3); scale path = user_clicks_purchase_windows (keyed, "
        "exp ~0.19)",
    ),
}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    only = set(sys.argv[1:])
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup: exercise every engine path the catalog uses — JVM JIT,
    # parquet reader, noop sink, broadcast join, window sort, higher-
    # order functions, local-relation serializer, and the Python-worker
    # fork + Arrow channel that grouped-map pandas UDFs pay on first use
    # — so the first measured query of each kind doesn't absorb session
    # startup cost. All on tiny data; warmup time is not measured.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # Touch every input table's METADATA only (file listing, footer,
    # reader init) via limit(1) — deliberately NOT a full scan: queries
    # must pay for their own input I/O or the reported metric overstates
    # speed. (OS page cache across queries is still warm, as it would be
    # on any long-running cluster; the harness just doesn't pre-read.)
    for f in sorted(Path(sf_dir).glob("*.parquet")):
        try:
            spark.read.parquet(str(f)).limit(1).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 — warmup must never kill the run
            print(f"# warmup skip {f.name}: {exc}", file=sys.stderr)
    # guarded like the metadata loop above: a missing/corrupt warmup
    # table must degrade the warmup, never kill the run before the
    # contract's JSON line can be emitted
    try:
        warm = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
        w = Window.partitionBy("n_regionkey").orderBy("n_nationkey").rowsBetween(
            Window.unboundedPreceding, -1
        )
        region = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
        (
            warm.join(F.broadcast(region), warm["n_regionkey"] == region["r_regionkey"])
            .withColumn("run", F.sum("n_nationkey").over(w))
            .withColumn("toks", F.split(F.regexp_replace("n_name", "[^A-Z]", ""), ""))
            .withColumn(
                "h",
                F.aggregate(
                    F.col("toks"), F.lit(0).cast("long"), lambda a, c: (a * 31 + F.ascii(c)) % 997
                ),
            )
            .write.format("noop").mode("overwrite").save()
        )
        spark.createDataFrame([(1, "a")], ["id", "txt"]).write.format("noop").mode(
            "overwrite"
        ).save()
        (
            warm.select("n_regionkey", "n_nationkey")
            .groupBy("n_regionkey")
            .applyInPandas(lambda pdf: pdf, "n_regionkey long, n_nationkey long")
            .write.format("noop").mode("overwrite").save()
        )
    except Exception as exc:  # noqa: BLE001 — warmup must never kill the run
        print(f"# warmup pipeline skip: {exc}", file=sys.stderr)

    # Warm the Python DataSource machinery (Spark 4 pluggable sources):
    # the FIRST custom-source scan of a session pays ~3-5 s of one-time
    # spin-up (plan-side Python runner, reader pickling channel, task-
    # side data-source read runner + its Arrow path) that repeat scans
    # don't (measured r13: first scan 5.0 s, second 0.6 s, same plan).
    # One-row synthetic source, no input data touched — session setup,
    # not any query's work (same boundary as the numpy warmup below).
    try:
        from pyspark.sql.datasource import DataSource, DataSourceReader

        class _WarmReader(DataSourceReader):
            def __init__(self, options):
                self.options = options

            def read(self, partition):
                yield (1,)

        class _WarmSource(DataSource):
            @classmethod
            def name(cls) -> str:
                return "bench_warm_source"

            def schema(self) -> str:
                return "v int"

            def reader(self, schema) -> "_WarmReader":
                return _WarmReader(self.options)

        spark.dataSource.register(_WarmSource)
        spark.read.format("bench_warm_source").load().write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception as exc:  # noqa: BLE001 — warmup must never kill the run
        print(f"# warmup pyds skip: {exc}", file=sys.stderr)

    # The pyds WRITE path spins up separately from the read path (plan-
    # side writer pickling channel + task-side write runner): measured
    # r13, first custom-source write ~5.5 s, second ~2.2 s on identical
    # data. One-row synthetic sink — nothing touches the filesystem.
    try:
        # DataSource re-imported so this block is self-contained: if the
        # READ warmup's import failed, this one must fail with the real
        # ImportError, not a misleading NameError (ADVICE r13).
        from pyspark.sql.datasource import (
            DataSource,
            DataSourceWriter,
            WriterCommitMessage,
        )

        class _WarmWriter(DataSourceWriter):
            def write(self, iterator):
                for _ in iterator:
                    pass
                return WriterCommitMessage()

        class _WarmSink(DataSource):
            @classmethod
            def name(cls) -> str:
                return "bench_warm_sink"

            def writer(self, schema, overwrite: bool) -> "_WarmWriter":
                return _WarmWriter()

        spark.dataSource.register(_WarmSink)
        spark.createDataFrame([(1,)], ["v"]).write.format("bench_warm_sink").mode(
            "append"
        ).save()
    except Exception as exc:  # noqa: BLE001 — warmup must never kill the run
        print(f"# warmup pyds-write skip: {exc}", file=sys.stderr)

    # Warm the Structured Streaming micro-batch machinery: the first
    # stream of a session pays the py4j foreachBatch callback server,
    # StreamExecution planning and checkpoint-commit first-touch. One
    # availableNow batch over a 1-row scratch parquet, then the scratch
    # is deleted — no catalog input is pre-read.
    try:
        import shutil
        import tempfile

        warm_dir = tempfile.mkdtemp(prefix="htdp_bench_warm_")
        spark.range(1).write.mode("overwrite").parquet(f"{warm_dir}/in")
        wq = (
            spark.readStream.schema("id long")
            .parquet(f"{warm_dir}/in")
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: df.write.format("noop").mode("overwrite").save())
            .option("checkpointLocation", f"{warm_dir}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        wq.awaitTermination(120)
        wq.stop()
        # The PYTHON stateful path (applyInPandasWithState) spins up
        # separately from the stateless micro-batch machinery warmed
        # above: state-server channel, Arrow state serde, grouped-state
        # Python runner. Measured r14: the first stateful-Python batch
        # of a session pays ~3.5 s over an identical warm one (data
        # batch 5.6 s cold vs 2.0 s warm on the same 100k rows). One
        # 1-row synthetic stream — session setup, not any query's work.
        from pyspark.sql.streaming.state import GroupStateTimeout

        def _warm_state(key, pdfs, state):
            for _ in pdfs:
                pass
            yield __import__("pandas").DataFrame({"k": [key[0]]})

        # warm the same backend the catalog streams run on (RocksDB
        # native lib load + first store open) at a tiny partition count
        with scoped_conf(
            spark,
            **{
                "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
                "spark.sql.shuffle.partitions": "4",
            },
        ):
            wq2 = (
                spark.readStream.schema("id long")
                .parquet(f"{warm_dir}/in")
                .groupBy("id")
                .applyInPandasWithState(
                    _warm_state,
                    "k long",
                    "s long",
                    "append",
                    GroupStateTimeout.NoTimeout,
                )
                .writeStream.outputMode("append")
                # a real (1-row) parquet write: the catalog's foreachBatch
                # sinks write parquet, and the session's FIRST parquet write
                # pays committer/codec init that noop never touches
                .foreachBatch(
                    lambda df, bid: df.write.mode("overwrite").parquet(
                        f"{warm_dir}/sink"
                    )
                )
                .option("checkpointLocation", f"{warm_dir}/ckpt2")
                .trigger(availableNow=True)
                .start()
            )
            wq2.awaitTermination(120)
            wq2.stop()
        shutil.rmtree(warm_dir, ignore_errors=True)
    except Exception as exc:  # noqa: BLE001 — warmup must never kill the run
        print(f"# warmup stream skip: {exc}", file=sys.stderr)

    # Warm every Python worker with numpy + a mapInPandas round trip: the
    # 32-worker pool imports numpy once per process (~2-4 s wall the first
    # time a numpy-using stage runs); that is session setup, not any
    # query's own work. Tiny synthetic rows — no input data touched.
    def _np_warm(batches):
        import numpy as np

        for pdf in batches:
            pdf["x"] = np.sqrt(pdf["x"].to_numpy())
            yield pdf

    (
        spark.range(64)
        .selectExpr("CAST(id AS DOUBLE) AS x")
        .repartition(32)
        .mapInPandas(_np_warm, "x double")
        .write.format("noop").mode("overwrite").save()
    )

    # Per-query fault isolation: one broken plan must not zero the whole
    # round's performance signal — failures record an error entry and the
    # JSON line is always emitted (exit 0 so the harness records it).
    # Iterate in REGISTRATION order, not CATALOG's rotation order: the
    # rotation reshuffles the dict whenever a CORRECTNESS file lands,
    # and execution order decides which query of a compile-sharing
    # family pays the JVM's one-time codegen/JIT cost — under a
    # shifting order the same query can read 0.4 s one round and 1.4 s
    # the next with zero source change (the r06 doc_text_stats drift).
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    skipped: dict[str, str] = {}
    sf = sf_of(sf_dir)
    for name in REGISTRATION_ORDER:
        spec = CATALOG[name]
        if only and name not in only:
            continue
        lim = SCALE_TIER_SKIPS.get(name)
        # An explicitly named query wins over the scale-tier skip list
        # (ADVICE r11): an operator deliberately re-running a truth arm
        # via `python bench.py <name>` gets the run, not a skip. The
        # skip stays in force for full-catalog runs, where an errored
        # truth arm would contaminate the artifact.
        if lim is not None and name in only:
            lim = None
        if lim is not None and sf >= lim[0]:
            skipped[name] = lim[1]
            print(f"# {name}: SKIPPED at sf{sf:g} — {lim[1]}", file=sys.stderr)
            continue
        t0 = time.perf_counter()
        try:
            df = spec.spark(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - t0, 3)
            print(f"# {name}: {timings[name]:.2f}s", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001 — isolate, record, continue
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"# {name}: ERROR {errors[name].splitlines()[0]}", file=sys.stderr)
        finally:
            release_pins()

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "catalog_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if errors:
        out["errors"] = errors
    if skipped:
        out["scale_tier_skipped"] = skipped
    # Output contract vs the driver's 2000-char stdout tail (VERDICT r11
    # next #6): 148 named timings are ~4.3 KB even maximally compacted
    # (sum of query-name lengths alone is ~3.1 KB), so no single line
    # holding them all can survive the tail capture — r01 (46 queries,
    # ~1.5 KB) was the last round whose line parsed. Three-part emit:
    #   1. the FULL contract line, first on stdout (complete for any
    #      consumer that captures whole stdout);
    #   2. a complete sidecar at bench_runs/BENCH_last.json — an
    #      UNTRACKED scratch file (gitignored, ADVICE r12: ad-hoc runs
    #      must not dirty the tree or masquerade as round evidence);
    #      tools/round_close.py copies it to the committed
    #      r{N}_quiet_run_*.json artifacts that ARE the durable record;
    #   3. a compact LAST line, kept under ~1.9 KB so the driver's
    #      tail-parse always succeeds: same metric/value/unit/sf/errors/
    #      skips, plus the slowest timings that fit, explicitly flagged
    #      truncated with a pointer to the sidecar.
    print(json.dumps(out))
    # Two sidecar names: BENCH_last.json (the historical path every tool
    # reads) AND a per-core-count BENCH_last_c{N}.json — VERDICT r13 #5:
    # the driver's 8-core scaling run clobbered the 32-core full map,
    # making the canonical run's per-query record unrecoverable. With the
    # core count in the name, runs at different widths never overwrite
    # each other's full map.
    out["cpus"] = int(
        os.environ.get("SPARK_GRAFT_CPUS", spark.sparkContext.defaultParallelism)
    )
    bench_dir = Path(__file__).resolve().parent / "bench_runs"
    for fname in ("BENCH_last.json", f"BENCH_last_c{out['cpus']}.json"):
        try:
            bench_dir.mkdir(parents=True, exist_ok=True)
            (bench_dir / fname).write_text(json.dumps(out, indent=1) + "\n")
        except OSError as exc:
            print(f"# sidecar write failed ({fname}): {exc}", file=sys.stderr)
    compact = {
        "metric": out["metric"],
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "n_skipped": len(skipped),
        "queries_full": "bench_runs/BENCH_last.json",
        "queries_truncated": True,
        "queries": {},
    }
    budget = 1900 - len(json.dumps(compact, separators=(",", ":")))
    for name in sorted(timings, key=timings.get, reverse=True):
        item = len(json.dumps({name: timings[name]}, separators=(",", ":"))) - 1
        if budget - item < 0:
            break
        compact["queries"][name] = timings[name]
        budget -= item
    if len(compact["queries"]) == len(timings):
        compact["queries_truncated"] = False
        del compact["queries_full"]
    print(json.dumps(compact, separators=(",", ":")))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
