"""session.py's scoping helpers: ``pin``/``release_pins``, the
shared-result store, and ``scoped_conf`` — no frame or conf change an
entry makes may outlive it, and a shared result never outlives its
input files."""

from __future__ import annotations

import pyarrow.parquet as pq

from hebrew_tutor_data_pipeline_spark import session
from hebrew_tutor_data_pipeline_spark.plans import CATALOG
from hebrew_tutor_data_pipeline_spark.plans import catalog_ml as ml
from tests.conftest import SF_SMOKE


def test_shared_store_evicts_oldest_input(spark, tmp_path):
    """At most four input tables are held: a fifth evicts the OLDEST
    (FIFO) and unpersists every frame its value holds plus the frames
    pinned inside its build; the newer three survive untouched."""
    session.release_pins()
    session.clear_shared()
    frames = {}

    def build(i):
        pinned = spark.range(i + 1)
        session.pin(pinned)
        held = spark.range(100 + i).persist()
        held.count()
        frames[i] = (pinned, held)
        return {"held": held, "i": i}

    for i in range(5):
        value = session.shared(
            spark, str(tmp_path / f"sf{i}"), "t", "v", lambda i=i: build(i)
        )
        assert value["i"] == i
    # pins made inside a build belong to the store, not to release_pins
    assert not session._PINS
    live = {path for _, path in session._SHARED}
    assert live == {str(tmp_path / f"sf{i}" / "t.parquet") for i in range(1, 5)}
    assert not any(f.storageLevel.useMemory for f in frames[0])
    for i in range(1, 5):
        assert all(f.storageLevel.useMemory for f in frames[i])
    session.clear_shared()
    assert not any(f.storageLevel.useMemory for i in frames for f in frames[i])


def test_release_pins_empties_cache_manager(spark):
    """Entries that pin frames leave nothing in Spark's CacheManager once
    the runner releases their pins, so no later entry's plan can pick up
    their InMemoryRelations."""
    session.release_pins()
    session.clear_shared()
    spark.catalog.clearCache()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    for name in ("bm25_keyword_topk", "simhash_neardup_quotient", "curation_refresh_e2e"):
        CATALOG[name].spark(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
    assert not cache_manager.isEmpty()
    session.release_pins()
    assert cache_manager.isEmpty()


def test_codebook_retrains_when_embeddings_rewritten(spark, tmp_path, monkeypatch):
    """The stored k-means codebook is keyed by the embeddings files' size
    and mtime: a second run reuses it, and rewriting the table retrains."""
    table = pq.read_table(f"{SF_SMOKE}/embeddings.parquet")
    pq.write_table(table, tmp_path / "embeddings.parquet")
    trained = []
    train = ml.ann.kmeans_codebook

    def counting_train(*args, **kwargs):
        trained.append(kwargs.get("k"))
        return train(*args, **kwargs)

    monkeypatch.setattr(ml.ann, "kmeans_codebook", counting_train)

    def rows():
        entry = CATALOG["ann_ivf_kmeans_top10"].spark
        return sorted(map(tuple, entry(spark, str(tmp_path)).collect()))

    rows()
    rows()
    assert len(trained) == 1
    pq.write_table(table.slice(0, table.num_rows - 7), tmp_path / "embeddings.parquet")
    rewritten = rows()
    assert len(trained) == 2
    session.clear_shared()
    assert rows() == rewritten  # the retrained codebook, not a stale one


def test_stream_entry_restores_session_conf(spark):
    """A stateful catalog stream sets the RocksDB provider (and may size
    shuffle partitions) only around its start(): the session conf after
    the entry equals the conf before it."""
    before = dict(spark.conf.getAll)
    CATALOG["streaming_tumbling_hour_stats"].spark(spark, SF_SMOKE).collect()
    assert dict(spark.conf.getAll) == before
