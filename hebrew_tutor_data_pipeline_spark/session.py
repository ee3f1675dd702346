"""SparkSession bootstrap tuned for both local testing and cluster scale.

The reference hand-rolls concurrency (asyncio semaphores, thread pools,
retry loops — SURVEY.md §2.11); here all of that belongs to the Spark
scheduler. This module owns the one place engine-wide execution knobs are
set so every entry point (tests, bench, driver contract) gets the same
behavior.

Scale posture (100 TB design point):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy demotion replace any hand-tuned partition math.
- Arrow on: every pandas UDF crosses the JVM/Python boundary in columnar
  batches, never row-at-a-time pickling.
- shuffle.partitions is a *default* for local[32]; on a real cluster AQE
  coalesces from a deliberately high initial number, so we leave
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` unset here
  and let deployments override via ``extra_conf``.

It also owns the three ways an entry may hold state beyond its own plan,
each scoped so nothing leaks into the next entry: ``pin`` (an eager
cache the runner drops through ``release_pins``), ``shared`` (results
several entries reuse, bounded and keyed by input file stats) and
``scoped_conf`` (session conf restored in ``finally``).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# Defaults sized for the local[32] test harness; cluster deployments
# override via extra_conf / spark-submit --conf.
_DEFAULT_CONF: dict[str, str] = {
    # --- Adaptive execution: the engine's answer to skew and mis-sized shuffles
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # --- Arrow for every Python<->JVM crossing
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # --- Broadcast threshold: dimensions (region/nation/book_map) are tiny;
    # 64 MB keeps even a 10M-row dim broadcastable on a big cluster.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # --- Shuffle sizing for local tests (AQE coalesces down when small)
    "spark.sql.shuffle.partitions": "32",
    # --- Heap for the single local JVM (driver == executors in local
    # mode): Spark's 1g default starves 32 task threads — posting-list
    # self-joins OOM long before they would spill — but OVERSIZING hurts
    # more than it helps here: a 48g heap measured 2-4× slower on the
    # shuffle-heavy catalog queries than 8g (first-touch page faults +
    # G1 scanning huge regions). Must be set before JVM launch, so it
    # lives here, not in SparkConf-at-runtime. Cluster deployments size
    # executors via spark-submit instead.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # --- Scans: pushdown + pruning are on by default; keep partition files
    # near the 128 MB sweet spot at scale.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # --- Session timezone pinned so timestamp semantics match the DuckDB
    # oracle regardless of host timezone.
    "spark.sql.session.timeZone": "UTC",
    # --- Parquet TIMESTAMP(NANOS) columns (events.ts) surface as LongType
    # instead of failing the scan; sources.readers converts them to
    # microsecond timestamps (same truncation DuckDB applies).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # --- Quieter local runs
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def default_parallelism() -> int:
    """Local CPU budget, overridable by the driver via SPARK_GRAFT_CPUS."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "hebrew-tutor-data-pipeline-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` resolution order: explicit argument, then the
    ``SPARK_MASTER`` env var's VALUE, then whatever spark-submit already
    configured (``spark.master`` in the loaded SparkConf — spark-submit
    communicates the master via conf, never via any env var), and only
    when none of those exist the ``local[$SPARK_GRAFT_CPUS]`` fallback —
    so a submitted cluster master is never silently overridden with
    local mode.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = os.environ.get("SPARK_MASTER")
    if master is None:
        from pyspark import SparkConf

        try:
            configured = SparkConf().contains("spark.master")
        except Exception:  # no JVM yet and no defaults — not configured
            configured = False
        if not configured:
            master = f"local[{default_parallelism()}]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def scoped_conf(spark: SparkSession, **kv: str):
    """Set session conf keys for the body of a ``with`` block and restore
    each one in ``finally`` — a key that was unset before is unset again.
    Keys contain dots, so pass them as ``**{"spark.sql.x": "v"}``."""
    prev = {k: spark.conf.get(k, None) for k in kv}
    try:
        for k, v in kv.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# Frames pinned since the last release_pins(), oldest first.
_PINS: list[DataFrame] = []


def pin(df: DataFrame) -> int:
    """Persist ``df``, materialize it with one count job and record it for
    ``release_pins()``; returns the row count.

    The count is the point: AQE submits independent query stages
    concurrently, and a lazily persisted frame read by several of them
    races — each stage recomputes the uncached subtree. One eager count
    pins the subtree to exactly one execution. Lineage stays intact, so
    an eviction degrades to recompute, never to wrong answers."""
    df.persist()
    _PINS.append(df)
    return df.count()


def release_pins() -> None:
    """Unpersist every frame pinned since the last call. Runners call it
    after an entry's last action so no cached frame leaks into the next
    entry's plans."""
    while _PINS:
        _PINS.pop().unpersist()


# Results shared between entries, keyed by (application id, input table
# path); each holds the table files' stats, the values by name and the
# frames to unpersist when the entry is dropped. Insertion order is the
# FIFO eviction order.
_SHARED: dict[tuple[str, str], dict] = {}
_SHARED_PATHS = 4


def _file_stats(path: str):
    """(path, size, mtime_ns) of every file under ``path``;
    None when the path cannot be stat-ed locally (a remote store)."""
    try:
        p = Path(path)
        files = sorted(f for f in p.rglob("*") if f.is_file()) if p.is_dir() else [p]
        stats = []
        for f in files:
            st = f.stat()
            stats.append((str(f), st.st_size, st.st_mtime_ns))
        return tuple(stats)
    except OSError:
        return None


def _drop_shared(entry: dict) -> None:
    for f in entry["frames"]:
        f.unpersist()


def shared(spark: SparkSession, sf_dir: str, table: str, name: str, build):
    """The one store for results several entries reuse (a trained
    codebook, a cluster labeling, a Bloom build): ``build()`` runs once
    per application, input table and ``name``, and later lookups return
    the stored value.

    A lookup whose table files changed size or mtime since the value was
    built rebuilds it and unpersists the stale one. At most
    ``_SHARED_PATHS`` input tables are held; adding another evicts the
    oldest (FIFO). Dropping an entry unpersists every DataFrame its
    values hold and every frame ``pin``-ned inside its builds — those
    pins belong to the store, not to the entry that happened to build
    them, so ``release_pins()`` leaves them alone."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    key = (spark.sparkContext.applicationId, path)
    stats = _file_stats(path)
    entry = _SHARED.get(key)
    if entry is not None and entry["stats"] != stats:
        _drop_shared(_SHARED.pop(key))
        entry = None
    if entry is None:
        while len(_SHARED) >= _SHARED_PATHS:
            _drop_shared(_SHARED.pop(next(iter(_SHARED))))
        entry = _SHARED[key] = {"stats": stats, "values": {}, "frames": []}
    if name not in entry["values"]:
        n_pins = len(_PINS)
        value = build()
        entry["frames"] += _PINS[n_pins:]
        del _PINS[n_pins:]
        held = value.values() if isinstance(value, dict) else [value]
        entry["frames"] += [
            v for v in held if isinstance(v, DataFrame) and v.is_cached
        ]
        entry["values"][name] = value
    return entry["values"][name]


def clear_shared() -> None:
    """Drop every shared result and unpersist its frames; the next lookup
    rebuilds."""
    while _SHARED:
        _drop_shared(_SHARED.popitem()[1])
