"""Stream-stream LEFT OUTER interval join — the eviction-emission
shape the inner join (join_stream.py) never exercises.

An inner interval join emits a pair the moment the later side
arrives. A LEFT OUTER join additionally owes a null-padded row for
every unmatched left row, and that row can only be emitted when the
WATERMARK proves no matching right row can still arrive — i.e. the
null results are produced by STATE EVICTION, not by data. That makes
outer stream-stream joins the strictest test of watermark plumbing:
a watermark that advances too early emits spurious nulls (rows whose
partner was still unread), one that never advances past the data
loses the tail of unmatched rows forever.

Harness: both sources replay the session-window fixture's
time-ranged chunk layout in explicit mtime order, and BOTH receive
two far-future sentinel rows (user_id = -1) in their own final
micro-batches — the first advances the min-across-sources watermark
past every real purchase's join window, the second triggers the
micro-batch in which those evictions are emitted (outer-join nulls
flush on the batch AFTER the watermark moves). Sentinels are
filtered from the read-back. The drained result must then equal the
batch LEFT JOIN bit-for-bit — which is the losslessness claim.

At 100 TB the plan is the inner join's: state bounded by the
30-minute window per user partition, one shuffle per side on
user_id, append-mode idempotent sink keyed by batch_id. Citing the
reference: its termination sentinel (`reducer_q_empty=999`,
mpi_mapreduce.c:502-504) plays exactly this role — an in-band signal
that no more input exists, converted here into watermark advances.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cachemgr import per_session, scratch
from .join_stream import JOIN_WINDOW_MIN, _interval_join, _purchase_view_chunks
from .wordcount_stream import read_emissions, start_batches

OUTER_SENTINELS = ("2030-01-01 00:00:00", "2030-01-02 00:00:00")


@per_session
def _outer_src(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """The join's time-ordered replay plus two sentinel files per
    side. Input data, kept across reset() like the sibling drains'."""
    sentinels = [
        spark.createDataFrame(
            [(-1, ts, -1)], "user_id BIGINT, ts STRING, event_id BIGINT"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        for ts in OUTER_SENTINELS
    ]
    return _purchase_view_chunks(
        spark, sf_dir, scratch(spark, sf_dir, "stream_outer_src"), sentinels
    )


def _start_outer_join(spark: SparkSession, sf_dir: str):
    """The LEFT OUTER interval join (the shared_drain.drain start
    contract; the round-7 pool starts it with its siblings)."""
    work = scratch(spark, sf_dir, "stream_outer_join")
    joined = _interval_join(spark, *_outer_src(spark, sf_dir), "left_outer")
    return start_batches(
        joined, work, os.path.join(work, "rows"), mode="append"
    )


def streaming_outer_join_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-user attribution WITH the unmatched tail: purchase count,
    matched (purchase, view-within-30min) pairs, and the purchases no
    view preceded — the rows only a correct watermark eviction can
    produce (see module docstring). Sentinels filtered here."""
    from .shared_drain import drain_round7_streams

    sink = drain_round7_streams(spark, sf_dir)["outer"]
    rows = read_emissions(spark, sink).filter(F.col("p_user") >= 0)
    return (
        rows.groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.count_distinct("p_event_id").alias("n_purchases"),
            F.sum(
                F.col("v_event_id").isNotNull().cast("long")
            ).alias("n_pairs"),
            F.count_distinct(
                F.when(F.col("v_event_id").isNull(), F.col("p_event_id"))
            ).alias("n_unmatched"),
        )
    )


STREAMING_OUTER_JOIN_SQL = f"""
WITH p AS (
  SELECT user_id, epoch_us(ts) AS us, event_id
  FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT user_id, epoch_us(ts) AS us, event_id
  FROM events WHERE event_type = 'view'
),
j AS (
  SELECT p.user_id, p.event_id AS p_event_id, v.event_id AS v_event_id
  FROM p LEFT JOIN v
    ON v.user_id = p.user_id
   AND v.us >= p.us - {JOIN_WINDOW_MIN} * 60 * 1000000
   AND v.us <= p.us
)
SELECT user_id,
       count(DISTINCT p_event_id) AS n_purchases,
       CAST(sum(CASE WHEN v_event_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pairs,
       count(DISTINCT CASE WHEN v_event_id IS NULL THEN p_event_id END)
         AS n_unmatched
FROM j GROUP BY user_id
"""
