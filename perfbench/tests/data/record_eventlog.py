"""Re-record ``eventlog_small.jsonl``, the event log the fold tests read.

Usage: python3 perfbench/tests/data/record_eventlog.py OUT_DIR

Runs four small jobs on local[2]: entry ``a`` (a shuffle aggregation,
then the same aggregation again, which skips the map stage), entry ``b``
(a mapInPandas pass, which feeds the Python worker metrics), and one job
outside any group. Prints each entry's epoch interval, then keeps only
the job, stage and task events of the log, without the fields the fold
does not read.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

from pyspark.sql import SparkSession

KEEP = {
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
}


def main() -> int:
    out = Path(sys.argv[1])
    log_dir = out / "log"
    log_dir.mkdir(parents=True, exist_ok=True)
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", log_dir.as_uri())
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    walls = {}

    sc.setJobGroup("perfbench:a", "a")
    t0 = time.time()
    agg = spark.range(1000, numPartitions=2).selectExpr("id % 7 AS k").groupBy("k").count()
    rdd = agg.rdd.cache()
    rdd.count()
    rdd.count()
    walls["a"] = (t0, time.time())

    sc.setJobGroup("perfbench:b", "b")
    t0 = time.time()

    def ident(it):
        for pdf in it:
            yield pdf

    spark.range(100, numPartitions=2).mapInPandas(ident, "id long").write.format("noop").mode(
        "overwrite"
    ).save()
    walls["b"] = (t0, time.time())

    sc.setJobGroup("other", "outside every entry")
    spark.range(10).count()
    spark.stop()

    lines = []
    for f in sorted(log_dir.rglob("events_*")):
        for line in f.read_text().splitlines():
            ev = json.loads(line)
            if ev.get("Event") in KEEP:
                lines.append(json.dumps(_slim(ev)))
    (out / "eventlog_small.jsonl").write_text("\n".join(lines) + "\n")
    (out / "eventlog_small_walls.json").write_text(json.dumps(walls, indent=1) + "\n")
    return 0


def _slim(ev: dict) -> dict:
    ev.pop("Stage Infos", None)
    ev.pop("Task Executor Metrics", None)
    if "Properties" in ev:
        ev["Properties"] = {k: v for k, v in ev["Properties"].items() if k == "spark.jobGroup.id"}
    info = ev.get("Stage Info")
    if info is not None:
        ev["Stage Info"] = {k: info[k] for k in ("Stage ID", "Stage Attempt ID", "Number of Tasks")}
    task = ev.get("Task Info")
    if task is not None:
        task["Accumulables"] = [a for a in task.get("Accumulables", []) if "Python" in a["Name"]]
    return ev


if __name__ == "__main__":
    raise SystemExit(main())
