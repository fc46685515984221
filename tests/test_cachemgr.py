"""The shared-stage layer: per_session memoizes once per (application,
function, sf_dir), hands concurrent first callers one object, and
release_session_caches() empties Spark's cache registry and the memo."""

from __future__ import annotations

import sys
import threading
from concurrent.futures import ThreadPoolExecutor

from mapreduceece563_spark.cachemgr import (
    per_session,
    release_session_caches,
    stage,
)
from mapreduceece563_spark.operators import dedup as dd
from mapreduceece563_spark.sources.catalog import load_table
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
    """Six threads are held inside the build together (the build runs
    outside the lock), each builds its own frame, and every one of
    them gets back the single stored result."""
    n = 6
    barrier = threading.Barrier(n)

    @per_session
    def together(spark, sf_dir):
        barrier.wait(timeout=60)
        return spark.range(3)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(n) as pool:
            got = list(pool.map(lambda _: together(spark, SF_DIR), range(n)))
    finally:
        sys.setswitchinterval(switch)
    assert all(df is got[0] for df in got)
    assert together(spark, SF_DIR) is got[0]


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
