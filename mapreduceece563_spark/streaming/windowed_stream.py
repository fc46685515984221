"""Windowed streaming aggregation with a batch-readable hard signal.

``streaming_events_hourly`` is the windowed counterpart of the
``streaming_wordcount`` registry entry: the tumbling-hour event
aggregation (batch form: ``relational.events_hourly``) computed
through an ACTUAL incremental Structured Streaming run, then
materialized so the external driver can oracle-check it against the
identical batch SQL.

Update-mode merge semantics: each micro-batch emits the CURRENT
value of every (hour, event_type) group the batch touched; a group
spanning several micro-batches is emitted several times, and the
last emission holds the complete aggregate. The sink writes each
batch's updates under a batch_id-keyed path (idempotent on replay —
a retried batch overwrites its own directory, never double-counts),
and the final merge (``wordcount_stream.last_emission``) keeps, per
group, the row from the highest batch_id. That last-writer-wins
merge is exactly the upsert a key-value sink (Delta MERGE, HBase
put) performs at scale.

No watermark here, deliberately: this is a finite availableNow drain
where dropping "late" rows would diverge from the batch oracle, and
the file source gives no cross-file time ordering. The
watermark/late-data path is exercised by the parity tests over
``wordcount_stream.windowed_event_counts``, where arrival order is
controlled. Unbounded-state posture for a true 24/7 stream is the
same as SCALE.md documents: watermark + update mode bounds state to
open windows.

Aggregation state is int64 cents (``round(value*100)``) — partial
sums stay exact and order-free across micro-batches, so the stream
result is bit-identical to the batch plan's.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cachemgr import per_session, scratch
from ..sources.catalog import load_table
from .wordcount_stream import (
    event_chunks,
    last_emission,
    read_emissions,
    start_batches,
    time_slices,
    write_replay,
)


def streaming_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The update-mode hourly windowed aggregation runs through the
    # shared concurrent drain (shared_drain.drain_event_streams):
    # same operator graph, same per-batch_id idempotent sink — the
    # drain just overlaps the sibling profile/dedup streams so one
    # registry pass pays max(drain) instead of sum(drain).
    from .shared_drain import drain_event_streams

    updates_dir = drain_event_streams(spark, sf_dir)["hourly"]
    return last_emission(
        read_emissions(spark, updates_dir), ["hour", "event_type"]
    )


# ----------------------------------------------------------------------
# Streaming SESSION windows — the append-mode/watermark shape.
#
# Unlike the update-mode entries above, sessions are emitted exactly
# once, when the watermark passes session_end: that requires (a) a
# source whose replay is time-ordered ACROSS micro-batches, so the
# watermark only ever moves forward past data that is fully ingested,
# and (b) something to push the final watermark past the last real
# session. This harness builds both in one ``write_replay``: the event
# table's ``time_slices`` as strictly time-ranged chunk files in mtime
# order (the file source replays them oldest-first), then two
# far-future SENTINEL files (a user_id=-1 row each) that land in their
# own final micro-batches — the
# first advances the watermark past every real session, the second
# triggers the batch in which that eviction is emitted. Sentinels are
# filtered from the read-back. The watermark delay (1 hour) exceeds
# the session gap, and chunk ranges are disjoint, so no real event
# can ever arrive behind the watermark — the stream is lossless by
# construction and must equal the batch session_window oracle.
# ----------------------------------------------------------------------

SESSION_SENTINELS = ("2030-01-01 00:00:00", "2030-01-02 00:00:00")
N_SESSION_CHUNKS = 4


@per_session
def _session_src(spark: SparkSession, sf_dir: str) -> str:
    """The time-ordered chunk replay of (user_id, ts) plus the two
    sentinel files. Input data, not part of the drain: reset() keeps
    it, so a bench pass re-times the drain, not this write (~6 s of
    scans at sf0.1). Replay order is load-bearing for the watermark
    (see join_stream's module docstring)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    sentinels = [
        spark.createDataFrame([(-1, ts)], "user_id BIGINT, ts STRING")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        for ts in SESSION_SENTINELS
    ]
    return write_replay(
        scratch(spark, sf_dir, "session_win_src"),
        time_slices(ev, range(N_SESSION_CHUNKS)) + sentinels,
    )


def _start_session_windows(spark: SparkSession, sf_dir: str):
    work = scratch(spark, sf_dir, "session_win")
    stream = (
        spark.readStream.schema("user_id BIGINT, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .parquet(_session_src(spark, sf_dir))
    )
    sess = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    return start_batches(
        sess,
        work,
        os.path.join(work, "sessions"),
        mode="append",
        shape=lambda b: b.select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        ),
    )


@per_session
def _session_window_drain(spark: SparkSession, sf_dir: str) -> str:
    from .shared_drain import drain

    (sink,) = drain(spark, sf_dir, _start_session_windows)
    return sink


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows computed by an actual append-mode
    Structured Streaming run (native ``session_window`` + watermark,
    sessions emitted exactly once on finalization), oracle-checked
    against the batch lag/cumsum SQL. See the section comment above
    for why this is lossless."""
    sink = _session_window_drain(spark, sf_dir)
    return (
        read_emissions(spark, sink)
        .filter(F.col("user_id") >= 0)
        .select("user_id", "session_start", "session_end", "n_events")
    )


# ----------------------------------------------------------------------
# Streaming SLIDING windows — the overlapping-window shape.
#
# Tumbling (streaming_events_hourly), session (above), and now
# sliding: window("4 hours", slide "2 hours") assigns every event to
# exactly TWO open windows, so the state store carries overlapping
# aggregates and every update-mode emission reflects a partial of two
# window groups per event. Same idempotent batch_id-keyed sink +
# last-writer-wins merge as the hourly entry; same no-watermark
# finite-drain posture (SCALE.md documents the 24/7 watermark story).
# The oracle replays window assignment arithmetically: with duration
# 2x slide, the two starts are floor(ts/slide)*slide and that minus
# one slide — integer epoch math both engines compute identically.
# ----------------------------------------------------------------------

SLIDE_US = 7200 * 1_000_000  # 2 hours in microseconds

def _start_sliding(spark: SparkSession, sf_dir: str):
    """The sliding-window query over the shared events chunk layout
    (the shared_drain.drain start contract)."""
    work = scratch(spark, sf_dir, "sliding_win")
    stream = (
        spark.readStream.schema(
            "ts TIMESTAMP, event_type STRING, value DOUBLE"
        )
        .option("maxFilesPerTrigger", 4)
        .parquet(event_chunks(spark, sf_dir))
    )
    agg = (
        stream.groupBy(
            F.window("ts", "4 hours", "2 hours").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.round(F.col("value") * 100, 0).cast("long")
            ).alias("value_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "value_cents",
        )
    )
    return start_batches(agg, work, os.path.join(work, "updates"))


def streaming_sliding_windows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .shared_drain import drain_round7_streams

    updates_dir = drain_round7_streams(spark, sf_dir)["sliding"]
    return last_emission(
        read_emissions(spark, updates_dir), ["window_start", "event_type"]
    )


STREAMING_SLIDING_SQL = f"""
WITH starts AS (
  SELECT event_type,
         CAST(round(value * 100, 0) AS BIGINT) AS vc,
         make_timestamp(
           (epoch_us(ts) // {SLIDE_US}) * {SLIDE_US}) AS s0
  FROM events
),
expanded AS (
  SELECT event_type, vc, s0 AS window_start FROM starts
  UNION ALL
  SELECT event_type, vc, s0 - INTERVAL 2 HOUR FROM starts
)
SELECT window_start, event_type,
       count(*) AS n_events,
       CAST(sum(vc) AS BIGINT) AS value_cents
FROM expanded GROUP BY window_start, event_type
"""
