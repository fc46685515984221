"""Stream-stream interval join with watermarked state cleanup — the
last of the stateful streaming shapes (aggregation, arbitrary state,
dedup, session windows live in the sibling modules), run as a REAL
two-source Structured Streaming drain and oracle-checked against the
identical batch join.

Shape: purchases ⋈ views on the same user with the view in the 30
minutes before the purchase — the attribution join every event
pipeline runs. Both sides carry a watermark and the join condition
is event-time-bounded, so Spark derives finite state retention: a
view's state row is dropped once the watermark passes view_ts +
30min; matches for an inner join emit as soon as the later side
arrives (no sentinel flush needed, unlike append-mode session
windows).

Losslessness argument (why stream == batch here): both sources
replay the SAME time-ranged chunk boundaries (``time_slices`` over
the whole event table), written by ``write_replay`` with explicit,
strictly increasing mtimes so the file source lists them oldest
range first (the session-window harness's layout), so the two sides
advance through event time together and the query watermark — the
min across sources, lagging the newest data by 1 hour > the 30-min
join window — can never pass a row whose partner has not arrived.
A hash-partitioned replay (spill_chunks) would NOT be safe: the
watermark would jump to max-ts after the first batch and evict
state with partners still unread. That distinction — replay order
as a correctness precondition for watermarked joins — is exactly
what this entry pins.

At 100 TB the same plan holds: state is bounded by 30 minutes of
views per user partition, both inputs shuffle once on user_id, and
the foreachBatch sink appends matches idempotently by batch_id.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cachemgr import per_session
from ..sources.catalog import load_table
from .wordcount_stream import (
    _fresh_workdir,
    read_emissions,
    start_batches,
    time_slices,
    write_replay,
)

JOIN_WINDOW_MIN = 30
N_JOIN_CHUNKS = 4


def _purchase_view_chunks(
    spark: SparkSession,
    sf_dir: str,
    src_work: str,
    tail: Sequence[DataFrame] = (),
) -> tuple[str, str]:
    """Write purchases and views under ``src_work`` as time-ordered
    replays over SHARED chunk boundaries (one min/max action over the
    whole stream; each slice then splits by kind), each side followed
    by the frames in ``tail``; returns (purchases dir, views dir)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    slices = time_slices(ev, range(N_JOIN_CHUNKS))
    return tuple(
        write_replay(
            os.path.join(src_work, side),
            [
                s.filter(F.col("event_type") == kind).select(
                    "user_id", "ts", "event_id"
                )
                for s in slices
            ]
            + list(tail),
        )
        for kind, side in (("purchase", "purchases"), ("view", "views"))
    )


@per_session
def _join_src(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """The join's replay fixture. Input data, not part of the drain:
    reset() keeps it, so a bench pass re-times the drain, not the
    chunk writes."""
    return _purchase_view_chunks(
        spark, sf_dir, _fresh_workdir("stream_join_src", sf_dir)
    )


def _interval_join(spark: SparkSession, p_src: str, v_src: str, how: str):
    """Both replays as streams watermarked 1 hour, purchases joined to
    the same user's views in the 30 minutes before the purchase:
    (p_user, p_event_id, v_event_id)."""

    def side(src: str, prefix: str) -> DataFrame:
        return (
            spark.readStream.schema(
                "user_id BIGINT, ts TIMESTAMP, event_id BIGINT"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withWatermark("ts", "1 hour")
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
                F.col("event_id").alias(f"{prefix}_event_id"),
            )
        )

    return side(p_src, "p").join(
        side(v_src, "v"),
        (F.col("p_user") == F.col("v_user"))
        & (
            F.col("v_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {JOIN_WINDOW_MIN} MINUTES")
        )
        & (F.col("v_ts") <= F.col("p_ts")),
        how,
    ).select("p_user", "p_event_id", "v_event_id")


def _start_join(spark: SparkSession, sf_dir: str):
    """The inner interval join over the time-ordered replay (the
    shared_drain.drain start contract; the round-7 pool starts it
    with its siblings)."""
    work = _fresh_workdir("stream_join", sf_dir)
    joined = _interval_join(spark, *_join_src(spark, sf_dir), "inner")
    return start_batches(
        joined, work, os.path.join(work, "pairs"), mode="append"
    )


def streaming_purchase_view_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-user attribution counts off the REAL stream-stream
    interval join drain (see module docstring): matched
    (purchase, view-within-30min) pairs and the distinct purchases
    they cover, hash-checked against the identical batch join."""
    from .shared_drain import drain_round7_streams

    sink = drain_round7_streams(spark, sf_dir)["join"]
    return (
        read_emissions(spark, sink)
        .groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.count_distinct("p_event_id").alias("n_matched_purchases"),
        )
    )


STREAMING_JOIN_SQL = f"""
WITH p AS (
  SELECT user_id, epoch_us(ts) AS us, event_id
  FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT user_id, epoch_us(ts) AS us, event_id
  FROM events WHERE event_type = 'view'
)
SELECT p.user_id, count(*) AS n_pairs,
       count(DISTINCT p.event_id) AS n_matched_purchases
FROM p JOIN v
  ON v.user_id = p.user_id
 AND v.us >= p.us - {JOIN_WINDOW_MIN} * 60 * 1000000
 AND v.us <= p.us
GROUP BY p.user_id
"""
