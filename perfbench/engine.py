"""Session start and warm-up for the benchmark.

``start`` points every scratch location Spark and the package use
(temp files, Spark local dirs, warehouse, JVM temp dir) into the
benchmark's work directory, then calls ``session.get_spark``. ``warm_up``
exercises the engine paths the catalog uses on tiny synthetic data, so
the first measured entry of each kind does not absorb session start-up;
it reads no input table. Every conf change it makes is undone in a
``finally``.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from pathlib import Path

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def start(app_name: str, work: Path, extra_conf: dict[str, str] | None = None):
    """Start the package's session with all scratch I/O under ``work``."""
    tmp = work / "tmp"
    local = work / "spark-local"
    shutil.rmtree(tmp, ignore_errors=True)  # the last run's stream scratch
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    tempfile.tempdir = str(tmp)
    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": str(local),
    }
    conf.update(extra_conf or {})
    from hebrew_tutor_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def descendants(root: int) -> set[int]:
    """Process ids of every live descendant of ``root``, from ``/proc``."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                    stat = fh.read()
            except OSError:
                continue
            kids.setdefault(int(stat[stat.rindex(")") + 2:].split()[1]), []).append(int(name))
    out, todo = set(), [root]
    while todo:
        for pid in kids.get(todo.pop(), []):
            out.add(pid)
            todo.append(pid)
    return out


def _running(pid: int) -> bool:
    """Whether ``pid`` exists and has not exited (a zombie has exited)."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def stop(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, end the JVM and its Python workers, and wait
    until every process the session started has exited."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + timeout_s
        alive = started
        while alive and time.monotonic() < deadline:
            alive = {p for p in alive if _running(p)}
            if alive:
                time.sleep(0.1)
        for pid in alive:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


@contextmanager
def conf_set(spark, conf: dict[str, str]):
    """Set session conf keys for the block; restore each key's previous
    value, or unset it, whatever the block does."""
    prev = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def warm_up(spark, scratch: Path) -> None:
    """Run each engine path the catalog uses once, on synthetic rows."""
    import numpy as np  # noqa: F401  (imported here so workers import it too)
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceWriter,
        WriterCommitMessage,
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def sql_paths() -> None:
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        # parquet write and read paths, on a file of our own
        (spark.range(25).selectExpr("CAST(id AS INT) AS k", "CAST(id % 5 AS INT) AS g",
                                    "concat('NATION_', id) AS name")
         .write.mode("overwrite").parquet(str(scratch / "dim")))
        dim = spark.read.parquet(str(scratch / "dim"))
        noop(dim.limit(1))
        groups = spark.createDataFrame([(i, f"G{i}") for i in range(5)], ["g", "gname"])
        w = Window.partitionBy("g").orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
        noop(
            dim.join(F.broadcast(groups), "g")
            .withColumn("run", F.sum("k").over(w))
            .withColumn("toks", F.split(F.regexp_replace("name", "[^A-Z]", ""), ""))
            .withColumn("h", F.aggregate(F.col("toks"), F.lit(0).cast("long"),
                                         lambda a, c: (a * 31 + F.ascii(c)) % 997))
        )
        noop(spark.createDataFrame([(1, "a")], ["id", "txt"]))

    def python_workers() -> None:
        # grouped-map pandas, then every Python worker imports numpy once
        noop(spark.range(25).selectExpr("id % 5 AS g", "id AS k")
             .groupBy("g").applyInPandas(lambda pdf: pdf, "g long, k long"))

        def _np_warm(batches):
            import numpy as np

            for pdf in batches:
                pdf["x"] = np.sqrt(pdf["x"].to_numpy())
                yield pdf

        noop(spark.range(64).selectExpr("CAST(id AS DOUBLE) AS x").repartition(32)
             .mapInPandas(_np_warm, "x double"))

    def python_data_source() -> None:
        class _WarmReader(DataSourceReader):
            def read(self, partition):
                yield (1,)

        class _WarmWriter(DataSourceWriter):
            def write(self, iterator):
                for _ in iterator:
                    pass
                return WriterCommitMessage()

        class _WarmSource(DataSource):
            @classmethod
            def name(cls) -> str:
                return "perfbench_warm"

            def schema(self) -> str:
                return "v int"

            def reader(self, schema):
                return _WarmReader()

            def writer(self, schema, overwrite: bool):
                return _WarmWriter()

        spark.dataSource.register(_WarmSource)
        noop(spark.read.format("perfbench_warm").load())
        spark.createDataFrame([(1,)], ["v"]).write.format("perfbench_warm").mode("append").save()

    def streams() -> None:
        # a stateless availableNow batch, then the Python stateful path on
        # the RocksDB state store the catalog streams use
        spark.range(1).write.mode("overwrite").parquet(str(scratch / "in"))
        q = (
            spark.readStream.schema("id long").parquet(str(scratch / "in"))
            .writeStream.foreachBatch(lambda df, _bid: noop(df))
            .option("checkpointLocation", str(scratch / "ckpt1"))
            .trigger(availableNow=True).start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

        def _state(key, pdfs, state):
            for _ in pdfs:
                pass
            yield pd.DataFrame({"k": [key[0]]})

        q = (
            spark.readStream.schema("id long").parquet(str(scratch / "in"))
            .groupBy("id")
            .applyInPandasWithState(_state, "k long", "s long", "append",
                                    GroupStateTimeout.NoTimeout)
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, _bid: df.write.mode("overwrite").parquet(str(scratch / "sink")))
            .option("checkpointLocation", str(scratch / "ckpt2"))
            .trigger(availableNow=True).start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    shutil.rmtree(scratch, ignore_errors=True)
    scratch.mkdir(parents=True)
    # The state-store conf is read when a stream starts, so it is set
    # around all four steps, which run concurrently.
    try:
        with conf_set(spark, {"spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER}):
            with ThreadPoolExecutor(max_workers=4) as pool:
                steps = [pool.submit(f) for f in (sql_paths, python_workers,
                                                  python_data_source, streams)]
                for step in steps:
                    step.result()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

