"""foreachBatch MERGE/upsert streaming sink — the one streaming sink
shape the engine did not cover yet (VERDICT r5 ask #3c).

``foreachBatch`` is Structured Streaming's escape hatch for sinks
Spark has no native writer for: each micro-batch arrives as a plain
DataFrame and the callback applies it to the target with batch-side
semantics — here, a keyed MERGE (upsert): counters are ADDED to the
target's row, the "last event" columns take the per-key maximum of a
deterministic (ts, event_type, cents) total order.

Exactly-once discipline: a MERGE with additive counters is NOT
naturally idempotent (replaying one micro-batch after a crash would
double-add), so the target directory carries a committed-batch
high-water mark and the callback SKIPS any batch id at or below it —
the documented foreachBatch idempotency pattern. The swap itself is
staged: the merged table is written to a fresh generation directory
and the pointer file flips last, so a reader never sees a torn
target. On a lakehouse the same callback body becomes ``MERGE INTO``
against Delta/Iceberg and the high-water mark rides the table's own
transaction log.

Scale posture (100 TB): the micro-batch is pre-aggregated per key
BEFORE touching the target (shuffle carries one row per active key,
not one per event), and the merge join is keyed on user_id — with a
bucketed target that join is exchange-free. The rewrite-the-table
merge here stands in for the log-structured merge a real table
format does; the PLAN (pre-agg, keyed join, staged commit) is the
part that transfers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cachemgr import per_session, scratch
from .wordcount_stream import event_chunks

TARGET_SCHEMA = (
    "user_id BIGINT, n_events BIGINT, value_cents BIGINT,"
    " last_ts TIMESTAMP, last_type STRING, last_cents BIGINT"
)


def _read_target(spark: SparkSession, root: str) -> DataFrame | None:
    ptr = os.path.join(root, "_current")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        gen = fh.read().strip()
    return spark.read.schema(TARGET_SCHEMA).parquet(
        os.path.join(root, gen)
    )


def _committed_batch(root: str) -> int:
    mark = os.path.join(root, "_committed_batch")
    if not os.path.exists(mark):
        return -1
    with open(mark) as fh:
        return int(fh.read().strip())


def _merge_batch(
    spark: SparkSession, root: str, batch_df: DataFrame, batch_id: int
) -> None:
    """The foreachBatch callback body: idempotency gate, per-key
    pre-aggregation, keyed merge, staged generation swap."""
    if batch_id <= _committed_batch(root):
        return  # replayed batch: already merged, skip (idempotency)
    cents = F.round(F.col("value") * 100, 0).cast("long")
    delta = (
        batch_df.select(
            "user_id",
            "ts",
            "event_type",
            cents.alias("_c"),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("_c").alias("value_cents"),
            F.max(F.struct("ts", "event_type", "_c")).alias("_last"),
        )
        .select(
            "user_id",
            "n_events",
            "value_cents",
            F.col("_last.ts").alias("last_ts"),
            F.col("_last.event_type").alias("last_type"),
            F.col("_last._c").alias("last_cents"),
        )
    )
    target = _read_target(spark, root)
    merged = delta if target is None else (
        target.unionByName(delta)
        .groupBy("user_id")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("value_cents").alias("value_cents"),
            F.max(
                F.struct("last_ts", "last_type", "last_cents")
            ).alias("_last"),
        )
        .select(
            "user_id",
            "n_events",
            "value_cents",
            F.col("_last.last_ts").alias("last_ts"),
            F.col("_last.last_type").alias("last_type"),
            F.col("_last.last_cents").alias("last_cents"),
        )
    )
    gen = f"gen_{batch_id}"
    merged.write.mode("overwrite").parquet(os.path.join(root, gen))
    # commit order: data first, then the pointer, then the high-water
    # mark — a crash between steps leaves a readable previous
    # generation and a replayable batch
    with open(os.path.join(root, "_current"), "w") as fh:
        fh.write(gen)
    with open(os.path.join(root, "_committed_batch"), "w") as fh:
        fh.write(str(batch_id))


def _start_upsert(spark: SparkSession, sf_dir: str):
    """The MERGE drain (the shared_drain.drain start contract): the
    sink is the target table root, not a batch_id-keyed dir."""
    work = scratch(spark, sf_dir, "merge_upsert")
    root = os.path.join(work, "target")
    os.makedirs(root, exist_ok=True)
    stream = (
        spark.readStream.schema(
            "user_id BIGINT, ts TIMESTAMP, event_type STRING,"
            " value DOUBLE"
        )
        .option("maxFilesPerTrigger", 2)
        .parquet(event_chunks(spark, sf_dir))
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: _merge_batch(spark, root, df, bid)
        )
        .outputMode("update")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    return q, work, root


@per_session
def _upsert_drain(spark: SparkSession, sf_dir: str) -> str:
    from .shared_drain import drain

    (root,) = drain(spark, sf_dir, _start_upsert)
    return root


def streaming_foreachbatch_upsert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Final upserted state per user after an ACTUAL multi-micro-batch
    foreachBatch MERGE drain: additive event/value counters plus the
    last event under the (ts, event_type, cents) total order. The
    oracle recomputes the same state from the batch table — the merge
    must be exactly-once for the counters to match."""
    root = _upsert_drain(spark, sf_dir)
    target = _read_target(spark, root)
    if target is None:
        return spark.createDataFrame([], TARGET_SCHEMA).select(
            "user_id",
            "n_events",
            (F.col("value_cents") / 100.0).alias("value_sum"),
            "last_ts",
            "last_type",
        )
    return target.select(
        "user_id",
        "n_events",
        (F.col("value_cents") / 100.0).alias("value_sum"),
        "last_ts",
        "last_type",
    )


STREAMING_UPSERT_SQL = """
WITH ranked AS (
  SELECT user_id, ts, event_type,
         CAST(round(value * 100, 0) AS BIGINT) AS c,
         row_number() OVER (
           PARTITION BY user_id
           ORDER BY ts DESC, event_type DESC,
                    CAST(round(value * 100, 0) AS BIGINT) DESC
         ) AS rn
  FROM events
)
SELECT user_id,
       count(*) AS n_events,
       sum(c) / 100.0 AS value_sum,
       max(CASE WHEN rn = 1 THEN ts END) AS last_ts,
       max(CASE WHEN rn = 1 THEN event_type END) AS last_type
FROM ranked GROUP BY user_id
"""
