"""Custom stateful streaming operator via ``applyInPandasWithState``.

The built-in streaming aggregations (groupBy().agg, window,
session_window) cover most incremental state; this module is the
pattern for state the built-ins can't express — arbitrary per-key
Python state carried across micro-batches with an explicit timeout
contract. The running per-user profile below is deliberately simple
so the harness (state schema, Arrow batch iteration, update-mode
emission, GroupStateTimeout) is the reusable part.

Scale posture: state lives in the state store partitioned by the
grouping key — the same hash partitioning as any shuffle, so 10^9
users spread across executors. Values are a fixed-width tuple (two
int64s), not unbounded collections; anything list-shaped in state is
a red flag at 100 TB. Exact money math: value accumulates integer
cents in state, divides once at emission.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..cachemgr import per_session, scratch

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        # nullable: a user whose every event has a NULL value has no
        # value_sum, exactly like the oracle's sum() over no non-null
        # rows (NULL-vintage policy)
        T.StructField("value_sum", T.DoubleType(), True),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType(), False),
        T.StructField("vc", T.LongType(), False),
        # 1 once any non-null value was seen — distinguishes an exact
        # zero sum from "no measurements yet" (SQL sum semantics)
        T.StructField("has", T.LongType(), False),
    ]
)


def _update_user_profile(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n, vc, has = state.get if state.exists else (0, 0, 0)
    for pdf in pdfs:
        # n counts EVENTS (count(*)); the cent sum skips NULL values
        # (SQL sum semantics — and a NaN would crash the int64 cast)
        n += len(pdf)
        vals = pdf["value"].dropna()
        if len(vals):
            has = 1
            # exact cents: round each double once, sum as int64
            vc += int(vals.mul(100).round(0).astype("int64").sum())
    state.update((n, vc, has))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "value_sum": [vc / 100.0 if has else None],
        }
    )


def running_user_profile(events: DataFrame) -> DataFrame:
    """Per-user running (n_events, exact value_sum) maintained across
    micro-batches; emits the key's current totals whenever the key
    appears in a batch (update-mode semantics)."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_profile,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_user_profile_batch(spark, sf_dir: str) -> DataFrame:
    """Per-user final (n_events, value_sum) computed through an ACTUAL
    ``applyInPandasWithState`` streaming run — the hard oracle signal
    for the custom-stateful-operator surface (previously pinned only
    by local parity tests).

    Pipeline: spill events into an 8-file chunk dir, stream it 2 files
    per trigger (so state genuinely carries across multiple
    micro-batches), persist every update-mode emission tagged with its
    batch_id, then reduce to each user's LAST emission — which, since
    state accumulates monotonically, is the user's final total and
    must equal the plain batch aggregate the DuckDB oracle runs.
    The last-emission reduce is ``wordcount_stream.last_emission``,
    the same partial-aggregable max(struct) shape as
    ``user_latest_state``.

    The drain itself runs through the shared concurrent harness
    (shared_drain.drain_event_streams) — this query's operator graph
    is unchanged, but its source drain overlaps the sibling hourly
    and dedup streams so a registry pass pays max(drain), not
    sum(drain)."""
    from .shared_drain import drain_event_streams
    from .wordcount_stream import last_emission, read_emissions

    out = drain_event_streams(spark, sf_dir)["profile"]
    return last_emission(read_emissions(spark, out), ["user_id"])


STREAMING_USER_PROFILE_SQL = """
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) / 100.0
         AS value_sum
FROM events GROUP BY user_id
"""


# ----------------------------------------------------------------------
# transformWithState — the Spark 4 arbitrary-state API (successor to
# applyInPandasWithState above): typed state primitives (ValueState /
# MapState / ListState, optional TTL and timers) managed by the
# RocksDB state store instead of one opaque tuple. The processor
# below keeps the running profile in a ValueState AND a per-type
# MapState so both primitive kinds are exercised; same update-mode
# emission + last-writer-wins read-back harness as the legacy entry.
# Scale posture is unchanged (fixed-width per-key state, hash
# partitioned), plus RocksDB puts state on executor disk, so per-key
# state no longer competes with execution memory at 10^9 keys.
#
# DEPENDENCY NOTE: the API's state-server protocol needs the
# `google.protobuf` runtime, which this container lacks (installs
# forbidden). vendor/protoshim.py provides a minimal clean-room
# implementation; it is installed at import of tws_processor.py — the
# module that defines the processor — so the side effect is scoped to
# the TWS code path: the driver imports it lazily in _start_tws, and
# workers import it when unpickling TwsUserProfile, both before
# pyspark's deferred StateMessage_pb2 imports run. A real protobuf
# installation, if ever present, wins. Exercised end-to-end by
# tests/test_tws.py; registry registration is deferred until the
# driver-verification backlog clears (coverage_highwater.json), per
# the round-4 growth freeze.
# ----------------------------------------------------------------------

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


def _start_tws(spark, sf_dir: str):
    """The transformWithStateInPandas query (the shared_drain.drain
    start contract)."""
    from .tws_processor import TwsUserProfile
    from .wordcount_stream import event_chunks, start_batches

    work = scratch(spark, sf_dir, "tws_profile")
    stream = (
        spark.readStream.schema(
            "user_id BIGINT, event_type STRING, value DOUBLE"
        )
        # 8 chunks / 4 per trigger = 2 micro-batches: the minimum
        # that still exercises a real cross-batch state carry (the
        # signal this entry exists for). Each extra batch re-pays
        # the state-server spin-up + per-partition RocksDB commit
        # (~1.5-2 s here), which dominates this operator's cost —
        # measured 4->2 batches: 11.1 s -> ~6 s at sf0.1. State
        # partitions stay at 8: halving them SLOWED the drain
        # (per-key Python state work loses parallelism).
        .option("maxFilesPerTrigger", 4)
        .parquet(event_chunks(spark, sf_dir))
    )
    out = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=TwsUserProfile(),
        outputStructType=(
            "user_id BIGINT, n_events BIGINT, value_sum DOUBLE,"
            " n_types BIGINT"
        ),
        outputMode="Update",
        timeMode="None",
    )
    return start_batches(out, work, os.path.join(work, "emissions"))


@per_session
def _tws_drain(spark, sf_dir: str) -> str:
    from .shared_drain import drain

    # transformWithState requires the RocksDB state store provider
    prev_provider = spark.conf.get(_PROVIDER_KEY, None)
    spark.conf.set(_PROVIDER_KEY, ROCKSDB_PROVIDER)
    try:
        (sink,) = drain(spark, sf_dir, _start_tws)
    finally:
        if prev_provider is None:
            spark.conf.unset(_PROVIDER_KEY)
        else:
            spark.conf.set(_PROVIDER_KEY, prev_provider)
    return sink


def streaming_tws_user_profile(spark, sf_dir: str) -> DataFrame:
    """Per-user final (n_events, value_sum, n_distinct_types) through
    an ACTUAL multi-micro-batch ``transformWithStateInPandas`` run
    (ValueState + MapState on RocksDB), reduced to each key's last
    update-mode emission and hash-checked against the plain batch
    aggregate."""
    from .wordcount_stream import last_emission, read_emissions

    sink = _tws_drain(spark, sf_dir)
    return last_emission(read_emissions(spark, sink), ["user_id"])


STREAMING_TWS_SQL = """
SELECT user_id, count(*) AS n_events,
       sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS value_sum,
       count(DISTINCT event_type) AS n_types
FROM events GROUP BY user_id
"""
