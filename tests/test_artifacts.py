"""The cross-query artifact store: exact per-scale clear with unpersist,
application scope, build-once and build-failure semantics."""

from __future__ import annotations

import gc
import os
import shutil
import sys
import threading
import time
import weakref
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from pei_nwdaf_data_ingestion_spark import artifacts, catalog

from conftest import SF_DIR


def _counts(kind: str) -> tuple[int, int]:
    c = artifacts.stats().get(kind, {"hits": 0, "misses": 0})
    return c["hits"], c["misses"]


def test_clear_sf_drops_exactly_that_scale(spark, tmp_path, monkeypatch):
    """clear(sf_a) drops sf_a's table cache and memo entry and unpersists
    their frames; sf_b's entries stay and keep hitting.  sf_a's path is a
    string prefix of sf_b's, so a substring match would drop both."""
    monkeypatch.setenv("SPARK_GRAFT_CACHE", "1")
    sf_a, sf_b = str(tmp_path / "sf1"), str(tmp_path / "sf10")
    for d in (sf_a, sf_b):
        os.makedirs(d)
        shutil.copy(os.path.join(SF_DIR, "region.parquet"), d)
    frames = {}
    try:
        for sf in (sf_a, sf_b):
            table = catalog.load(spark, sf, "region")
            # a distinct plan per sf: Spark's cache is keyed by plan
            extra = artifacts.memo(
                spark, sf, "test_persisted",
                lambda: spark.range(3).withColumn("sf", F.lit(sf)).persist(),
            )
            assert table.count() == 5 and extra.count() == 3
            frames[sf] = (table, extra)
        assert all(df.is_cached for pair in frames.values() for df in pair)

        artifacts.clear(sf_a)
        for df in frames[sf_a]:
            assert not df.is_cached
            assert not df.storageLevel.useMemory
        for df in frames[sf_b]:
            assert df.is_cached and df.storageLevel.useMemory

        table_hm, extra_hm = _counts("table"), _counts("test_persisted")
        assert catalog.load(spark, sf_b, "region") is frames[sf_b][0]
        assert (
            artifacts.memo(spark, sf_b, "test_persisted", pytest.fail)
            is frames[sf_b][1]
        )
        assert _counts("table") == (table_hm[0] + 1, table_hm[1])
        assert _counts("test_persisted") == (extra_hm[0] + 1, extra_hm[1])

        assert catalog.load(spark, sf_a, "region") is not frames[sf_a][0]
        assert _counts("table") == (table_hm[0] + 1, table_hm[1] + 1)
    finally:
        artifacts.clear(sf_a)
        artifacts.clear(sf_b)


def _app(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


class _Value:
    """A weak-referenceable stored value."""

    def __init__(self, tag: str):
        self.tag = tag


@pytest.fixture
def fake_apps():
    # fake application ids evict the real session's entries; drop those
    # properly (unpersisting them) first, and the fakes afterwards
    artifacts.clear()
    yield _app("app-A"), _app("app-B")
    artifacts.clear()


def test_application_scope_without_spark(fake_apps):
    app_a, app_b = fake_apps
    calls: list[str] = []

    def build(tag: str):
        def run():
            calls.append(tag)
            return _Value(tag)

        return run

    a1 = artifacts.memo(app_a, "/sf", "fake", build("a1"), 1)
    assert artifacts.memo(app_a, "/sf", "fake", build("again"), 1) is a1
    assert artifacts.memo(app_a, "/sf", "fake", build("a2"), 2).tag == "a2"
    assert artifacts.memo(app_a, "/sf2", "fake", build("a3"), 1).tag == "a3"
    assert artifacts.memo(app_a, "/sf", "other", build("a4"), 1).tag == "a4"
    assert calls == ["a1", "a2", "a3", "a4"]  # once per (sf, kind, params)

    held = weakref.ref(a1)
    del a1
    b1 = artifacts.memo(app_b, "/sf", "fake", build("b1"), 1)
    assert b1.tag == "b1"  # rebuilt under app B, not returned from app A
    gc.collect()
    assert held() is None  # the store kept nothing of app A
    assert artifacts.memo(app_b, "/sf2", "fake", build("b3"), 1).tag == "b3"
    assert calls[-2:] == ["b1", "b3"]

    def boom():
        calls.append("boom")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        artifacts.memo(app_b, "/sf", "fake", boom, 9)
    assert artifacts.memo(app_b, "/sf", "fake", build("b9"), 9).tag == "b9"
    assert calls[-2:] == ["boom", "b9"]  # the failed build stored nothing


def test_concurrent_callers_share_one_value(fake_apps):
    """Threads racing on a few keys all get the value stored first, and
    every call is counted once as a hit or a miss."""
    app_a, _ = fake_apps
    hits0, misses0 = _counts("race")
    n_threads, n_calls, n_keys = 16, 200, 4
    seen: list[list] = [[] for _ in range(n_threads)]
    start = threading.Barrier(n_threads)

    def slow_build():
        time.sleep(0.01)  # widen the miss-to-store window
        return object()

    def worker(i: int):
        start.wait(timeout=60)
        for j in range(n_calls):
            k = j % n_keys
            seen[i].append((k, artifacts.memo(app_a, "/sf", "race", slow_build, k)))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    stored = {k: artifacts.memo(app_a, "/sf", "race", pytest.fail, k) for k in range(n_keys)}
    for calls in seen:
        assert len(calls) == n_calls
        assert all(v is stored[k] for k, v in calls)
    hits, misses = _counts("race")
    assert (hits - hits0) + (misses - misses0) == n_threads * n_calls + n_keys
