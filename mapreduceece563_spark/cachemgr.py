"""The one memo layer: every cache and memo in the package lives here.

Spark's SQL cache registry (``CacheManager``) is PLAN-KEYED: ``df.cache()``
registers the frame's canonicalized plan, and any later query — the
same entry next pass, or a different entry building the identical
subtree — gets the materialized data substituted by
``lookupCachedData``. The registry grows per DISTINCT PLAN, not per
call, so it is the accounting; nothing here keeps a second list.

Two rules, and no cache, memo or module-level dict keyed by
application anywhere else in the package:

- ``stage(df)`` for a per-call, multiply-referenced frame. Pass 2 of
  the bench re-caches the identical plan and hits pass 1's entry, and
  entries sharing a subtree (triangle wedges, dedup_minhash bands)
  share one materialization. An r14 experiment that unpersisted each
  entry's stages at the next entry's build regressed the steady-state
  registry total 241 -> 276 s: the reuse is the point, so stages live
  until an explicit release.
- ``@per_session`` for anything built once per application and handed
  to every consumer, as the reference engine builds each intermediate
  once: cross-entry DataFrame intermediates (shingle hashes, term
  frequencies), written layouts and replay fixtures (paths), drained
  streaming sinks (paths), and the catalog's per-table schema and
  narrowness verdicts. Never a registered entry's result.

Three lifetimes, from longest to shortest:

- **release**: ``release_session_caches()`` clears the SQL cache
  registry and the whole memo, paths included, so a cold measurement
  is fully cold. It is for cold runs and test teardown only: a release
  after the bench warmup was tried in r14 and reverted (bench.py
  records why), because the warmup's sf0.001 entries never match a
  timed build and the async uncache storm destabilized the first
  timed passes.
- **forget**: ``forget(*builds)`` drops only those builds' entries.
  ``streaming.shared_drain.reset()`` forgets the drains, so the next
  request re-drains while the replay fixtures it reads stay written.
- **memo**: everything else lives for the application; an entry of
  any other application is evicted on the next insert (pytest starts
  many sessions, and their entries died with them).
"""

from __future__ import annotations

import functools
import threading
from typing import Any, Callable, TypeVar

from py4j.protocol import Py4JError
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

# (applicationId, build function, *args) -> its result, and one lock
# per key so a build runs once however many threads ask for it.
_MEMO: dict[tuple, Any] = {}
_KEY_LOCKS: dict[tuple, threading.Lock] = {}
_LOCK = threading.Lock()


def stage(df: DataFrame) -> DataFrame:
    """``df.cache()``: serves every reference inside the returned plan
    and, through the plan-keyed registry, every later identical build
    in the session until release_session_caches()."""
    return df.cache()


def per_session(build: Callable[..., T]) -> Callable[..., T]:
    """Memoize ``build(spark, *args)`` per (application, *args).

    Single-flight: the build runs under its key's lock, so concurrent
    first callers wait for one build and all get its object (two
    threads never both write one overwrite layout — the r13 race),
    while different keys build concurrently. A build that raises
    stores nothing. The decorator never caches a DataFrame: build
    functions stage() what they materialize."""

    @functools.wraps(build)
    def memoized(spark: SparkSession, *args: Any) -> T:
        app = spark.sparkContext.applicationId
        key = (app, build, *args)
        with _LOCK:
            if key in _MEMO:
                return _MEMO[key]
            lock = _KEY_LOCKS.setdefault(key, threading.Lock())
        with lock:
            with _LOCK:
                if key in _MEMO:
                    return _MEMO[key]
            value = build(spark, *args)
            with _LOCK:
                for memo in (_MEMO, _KEY_LOCKS):
                    for stale in [k for k in memo if k[0] != app]:
                        del memo[stale]
                _MEMO[key] = value
            return value

    return memoized


def forget(*builds: Callable) -> None:
    """Drop every memoized result of these ``@per_session`` builds, in
    every application; the next call rebuilds."""
    targets = {getattr(b, "__wrapped__", b) for b in builds}
    with _LOCK:
        for key in [k for k in _MEMO if k[1] in targets]:
            del _MEMO[key]


def release_session_caches() -> int:
    """Clear the active session's SQL cache registry and the whole
    per_session memo, written paths included (the next call rewrites
    them). Returns the number of cached RDDs released. For cold
    measurements and test teardown only. Never raises: with no live
    session there is nothing cached to release."""
    with _LOCK:
        _MEMO.clear()
    try:
        spark = SparkSession.active()
        jsc = spark.sparkContext._jsc
        before = jsc.getPersistentRDDs().size()
        spark.catalog.clearCache()
        return before - jsc.getPersistentRDDs().size()
    except (PySparkRuntimeError, Py4JError):
        return 0
