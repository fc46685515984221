"""The memo layer: per_session builds once per (application, function,
*args) — single-flight, so concurrent first callers share one build —
stores nothing for a build that raises, forget()/shared_drain.reset()
drop only the drains (their replay fixtures stay written), and
release_session_caches() empties Spark's cache registry and the memo;
scratch() names one emptied dir per (application, sf_dir, kind)."""

from __future__ import annotations

import os
import shutil
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest
from pyspark.sql.readwriter import DataFrameWriter

from mapreduceece563_spark.cachemgr import (
    per_session,
    release_session_caches,
    scratch,
    stage,
)
from mapreduceece563_spark.operators import dedup as dd
from mapreduceece563_spark.sources.catalog import TABLES, load_table
from mapreduceece563_spark.streaming import late_stream as ls
from mapreduceece563_spark.streaming import shared_drain
from mapreduceece563_spark.streaming.wordcount_stream import event_chunks
from tests.conftest import SF_DIR

BUILDS: list[str] = []


@per_session
def _nations(spark, sf_dir):
    BUILDS.append(sf_dir)
    return stage(load_table(spark, sf_dir, "nation").select("n_nationkey"))


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_builds_once_and_returns_the_same_object(spark):
    BUILDS.clear()
    first = _nations(spark, SF_DIR)
    assert _nations(spark, SF_DIR) is first
    assert BUILDS == [SF_DIR]
    assert dd.doc_shingle_hashes(spark, SF_DIR) is dd.doc_shingle_hashes(
        spark, SF_DIR
    )


def test_concurrent_first_calls_share_one_object(spark):
    """Six threads ask for one key at once: the build runs once, under
    the key's lock, and every caller gets its object."""
    n = 6
    barrier = threading.Barrier(n)
    runs: list[int] = []

    @per_session
    def together(spark, sf_dir):
        runs.append(1)
        return spark.range(3)

    def call(_):
        barrier.wait(timeout=60)
        return together(spark, SF_DIR)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(n) as pool:
            got = list(pool.map(call, range(n)))
    finally:
        sys.setswitchinterval(switch)
    assert len(runs) == 1
    assert all(df is got[0] for df in got)
    assert together(spark, SF_DIR) is got[0]


def test_a_raising_build_stores_nothing(spark):
    calls: list[int] = []

    @per_session
    def flaky(spark, sf_dir):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("first build fails")
        return len(calls)

    with pytest.raises(RuntimeError):
        flaky(spark, SF_DIR)
    assert flaky(spark, SF_DIR) == 2
    assert flaky(spark, SF_DIR) == 2


@pytest.fixture(scope="module")
def empty_dir(tmp_path_factory):
    """Empty tables: the drains below run their real queries without
    the fixture data's micro-batches, to stay inside the time budget."""
    d = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        schema = pq.read_schema(f"{SF_DIR}/{t}.parquet")
        pq.write_table(schema.empty_table(), str(d / f"{t}.parquet"))
    return str(d)


def test_reset_redrains_and_keeps_the_fixture(spark, empty_dir):
    """A re-drain after reset() writes over its own scratch dir (same
    sink, no second dir beside it) and reads the same fixture."""
    sink = ls._late_drain(spark, empty_dir)
    src = ls._late_src(spark, empty_dir)
    root = os.path.dirname(os.path.dirname(sink))
    before = sorted(os.listdir(root))
    stale = os.path.join(sink, "_stale")
    open(stale, "w").close()
    shared_drain.reset()
    assert ls._late_drain(spark, empty_dir) == sink
    assert not os.path.exists(stale)  # the drain ran again
    assert sorted(os.listdir(root)) == before
    assert ls._late_src(spark, empty_dir) == src


def test_concurrent_first_spills_write_once(spark, tmp_path, monkeypatch):
    """bench.py drains its two pools on two threads, and both pools'
    first starts ask for the events spill: six callers at once get one
    path, and the events table is spilled once."""
    shutil.copy(f"{SF_DIR}/events.parquet", tmp_path / "events.parquet")
    writes: list[str] = []
    write = DataFrameWriter.parquet

    def counted(self, path, *args, **kwargs):
        writes.append(path)
        return write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", counted)
    n = 6
    barrier = threading.Barrier(n)

    def call(_):
        barrier.wait(timeout=60)
        return event_chunks(spark, str(tmp_path))

    with ThreadPoolExecutor(n) as pool:
        paths = set(pool.map(call, range(n)))
    assert len(paths) == 1
    assert len(writes) == 1


def _app(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_scratch_is_one_emptied_dir_per_application_and_sf():
    a, b = _app("scratch-test-a"), _app("scratch-test-b")
    paths = [
        scratch(a, "/data/sf0.01", "layout"),
        scratch(a, "/data/sf0.1", "layout"),
        scratch(b, "/data/sf0.01", "layout"),
    ]
    try:
        assert len(set(paths)) == 3
        assert all(os.path.basename(p) == "layout" for p in paths)
        open(os.path.join(paths[0], "old"), "w").close()
        assert scratch(a, "/data/sf0.01", "layout") == paths[0]
        assert os.listdir(paths[0]) == []
    finally:
        for p in paths:
            shutil.rmtree(os.path.dirname(p), ignore_errors=True)


def test_concurrent_pools_restore_shuffle_partitions(spark, empty_dir):
    """bench.py drains both pools on two threads; the runner's
    reference-counted pin must hand the conf back as it found it."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        shared_drain.reset()
        with ThreadPoolExecutor(2) as pool:
            list(pool.map(
                lambda drain: drain(spark, empty_dir),
                (shared_drain.drain_event_streams,
                 shared_drain.drain_round7_streams),
            ))
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.set(key, prev)


def test_release_empties_the_registry_and_the_memo(spark):
    before = _nations(spark, SF_DIR)
    assert before.count() > 0
    assert not _cache_is_empty(spark)
    builds = len(BUILDS)
    assert release_session_caches() >= 1
    assert _cache_is_empty(spark)
    after = _nations(spark, SF_DIR)
    assert after is not before
    assert len(BUILDS) == builds + 1
