"""One runner for every streaming drain, and the two concurrent pools.

Every streaming entry reads the sink of a DRAIN: a finite run of a
real streaming query over a replay fixture, into an idempotent
per-batch_id sink. ``drain(spark, sf_dir, *starts)`` is the one
runner. It pins ``spark.sql.shuffle.partitions`` to 8, calls each
start (which writes or reuses its fixture and starts one query),
awaits every query, drops their checkpoints and returns each start's
sink.

Shuffle partitions: a streaming query captures its state partitioning
from the session conf when it starts. The fixture state (users,
windows, event ids at test SF) doesn't need 32 state-store instances
per operator per micro-batch; 8 quarters the per-batch checkpoint and
commit I/O the concurrent queries contend on. The pin is reference
counted, so concurrent drains (bench.py drains both pools on two
threads) share one save/set/restore: the first drain saves the conf
and sets 8, and the last one restores it once every query it started
has finished. A real deployment sizes this to key cardinality.

Pools: streaming_user_profile / streaming_events_hourly /
streaming_dedup (the event trio), and the PSI monitor, stream-static
enrichment, sliding windows, stream-stream join and outer join (the
round-7 pool), are different operator graphs that cannot be one
query, but nothing forces their drains to run serially: each pool
starts its queries together, so a pass pays max(drain) instead of
sum(drain). Each query keeps its own fixture, checkpoint, sink and
the operator graph it had as a standalone run. A pool returns
``{member: sink}`` and each member reads its own sink from it.

Memo: every drain is a ``cachemgr.per_session`` build. ``reset()``
forgets the builds in ``DRAINS``, so the next request re-drains
(bench.py and perfbench call it between passes) while the replay
fixtures the drains read stay written. streaming_wordcount_batch uses
the runner without a memo and drains on every call.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import threading

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..cachemgr import forget, per_session, scratch
from ..operators.relational import _cents
from ..sources.chunktext import _stream_wc_drain
from . import (
    enrich_stream,
    join_stream,
    outer_join_stream,
    psi_stream,
    windowed_stream,
)
from .late_stream import _late_drain
from .stateful import _tws_drain, running_user_profile
from .upsert_stream import _upsert_drain
from .wordcount_stream import doubled_event_chunks, event_chunks, start_batches

_PARTS = "spark.sql.shuffle.partitions"
_PIN_LOCK = threading.Lock()
_pin_holders = 0
_pin_prev: str | None = None


@contextlib.contextmanager
def _pinned_partitions(spark: SparkSession):
    global _pin_holders, _pin_prev
    with _PIN_LOCK:
        if _pin_holders == 0:
            _pin_prev = spark.conf.get(_PARTS)
            spark.conf.set(_PARTS, "8")
        _pin_holders += 1
    try:
        yield
    finally:
        with _PIN_LOCK:
            _pin_holders -= 1
            if _pin_holders == 0:
                spark.conf.set(_PARTS, _pin_prev)


def drain(spark: SparkSession, sf_dir: str, *starts) -> list:
    """Run each ``start(spark, sf_dir) -> (query, work dir, sink)``
    under the partition pin, await every query, drop each
    ``work/ckpt`` and return the sinks in order. The pin is released
    only after the awaits: flipping the conf back any earlier could
    race a query still planning its first micro-batch."""
    with _pinned_partitions(spark):
        started = [start(spark, sf_dir) for start in starts]
        for q, _, _ in started:
            q.awaitTermination()
    for _, work, _ in started:
        shutil.rmtree(os.path.join(work, "ckpt"), ignore_errors=True)
    return [sink for _, _, sink in started]


# --- the event trio ------------------------------------------------------


def _start_profile(spark: SparkSession, sf_dir: str):
    """Custom stateful per-user profile (applyInPandasWithState),
    update-mode emissions tagged by batch_id."""
    work = scratch(spark, sf_dir, "events_profile")
    stream = (
        spark.readStream.schema("user_id BIGINT, value DOUBLE")
        .option("maxFilesPerTrigger", 2)
        .parquet(event_chunks(spark, sf_dir))
    )
    return start_batches(
        running_user_profile(stream), work, os.path.join(work, "profile")
    )


def _start_hourly(spark: SparkSession, sf_dir: str):
    """Update-mode hourly windowed aggregation."""
    work = scratch(spark, sf_dir, "events_hourly")
    stream = (
        spark.readStream.schema(
            "ts TIMESTAMP, event_type STRING, value DOUBLE"
        )
        .option("maxFilesPerTrigger", 2)
        .parquet(event_chunks(spark, sf_dir))
    )
    hourly = (
        stream.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(_cents(F.col("value"))).alias("_vc"),
        )
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            "n_events",
            (F.col("_vc") / 100.0).alias("value_sum"),
        )
    )
    return start_batches(hourly, work, os.path.join(work, "hourly"))


def _start_dedup(spark: SparkSession, sf_dir: str):
    """Watermarked exact dedup of the deliberately doubled stream."""
    work = scratch(spark, sf_dir, "events_dedup")
    stream = (
        spark.readStream.schema(
            "event_id BIGINT, ts TIMESTAMP, event_type STRING"
        )
        .option("maxFilesPerTrigger", 2)
        .parquet(doubled_event_chunks(spark, sf_dir))
    )
    deduped = stream.withWatermark(
        "ts", "3650 days"
    ).dropDuplicatesWithinWatermark(["event_id"])
    return start_batches(
        deduped,
        work,
        os.path.join(work, "dedup"),
        mode="append",
        shape=lambda b: b.groupBy("event_type").agg(F.count("*").alias("n")),
    )


@per_session
def drain_event_streams(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """The event trio's concurrent drain: {member: sink dir}."""
    sinks = drain(spark, sf_dir, _start_profile, _start_hourly, _start_dedup)
    return dict(zip(("profile", "hourly", "dedup"), sinks))


# --- the round-7 pool -----------------------------------------------------

_ROUND7 = {
    "psi": psi_stream._start_psi,
    "enrich": enrich_stream._start_enrich,
    "sliding": windowed_stream._start_sliding,
    "join": join_stream._start_join,
    "outer": outer_join_stream._start_outer_join,
}


@per_session
def drain_round7_streams(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """The round-7 pool's concurrent drain: {member: sink dir}. Each
    solo drain used to cost 2.0-6.9 s per bench pass at sf0.1; together
    a pass pays the slowest (the outer join's 10-batch drain)."""
    return dict(zip(_ROUND7, drain(spark, sf_dir, *_ROUND7.values())))


# The drains reset() forgets. The replay fixtures they read (the spill
# layouts and the time-ordered chunk sources) are per_session builds
# that stay written.
DRAINS = (
    drain_event_streams,
    drain_round7_streams,
    _tws_drain,
    _upsert_drain,
    windowed_stream._session_window_drain,
    _late_drain,
    _stream_wc_drain,
)


def reset() -> None:
    """Forget completed drains (bench.py and perfbench call this
    between passes so each pass times a real drain, not a sink
    read-back)."""
    forget(*DRAINS)
