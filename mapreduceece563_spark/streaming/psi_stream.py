"""Streaming PSI monitor — drift detection as a LIVE pipeline.

The batch entry (operators/analytics.py::psi_drift_by_type) compares
two closed epochs after the fact. Production drift monitoring runs
the other way around: the REFERENCE histogram is frozen (the training
epoch), and the CURRENT epoch arrives as a stream whose binned counts
accumulate across micro-batches; every batch the monitor re-scores
PSI against the frozen reference. This module drains exactly that
pipeline — the post-KS_SPLIT events replay through the shared chunk
fixture, an update-mode (event_type, bin) count aggregation emits per
batch into a batch_id-keyed idempotent sink (the
streaming_events_hourly merge discipline), and the read-back merges
last-writer-wins counts with the static reference to compute PSI
through the SAME _psi_from_cells rollup the batch entry uses.

The hard signal: after the drain, the streamed PSI must equal the
batch PSI_DRIFT_SQL oracle BIT FOR BIT — the incremental binned
counts, accumulated across micro-batches by Spark's streaming state
store, reproduce the closed-epoch histogram exactly.

Scale posture (100 TB/day): the stream shuffles once on
(event_type, bin) — state is bounded by |types| x PSI_N_BINS cells
forever (no watermark needed: the state IS the running histogram);
the reference is a broadcast-sized frozen frame; the per-batch sink
writes <= |cells| rows. The PSI re-score reads cell frames only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cachemgr import scratch
from ..operators.analytics import (
    KS_SPLIT,
    PSI_BIN_CENTS,
    PSI_DRIFT_SQL,
    PSI_N_BINS,
    _psi_from_cells,
)
from ..sources.catalog import load_table
from .wordcount_stream import (
    event_chunks,
    last_emission,
    read_emissions,
    start_batches,
)


def _bin_expr():
    return F.least(
        F.expr(
            f"CAST(round(value * 100, 0) AS BIGINT) div {PSI_BIN_CENTS}"
        ),
        F.lit(PSI_N_BINS - 1).cast("long"),
    )


def _start_psi(spark: SparkSession, sf_dir: str):
    """The current epoch (ts >= KS_SPLIT) streams off the shared events
    chunk layout; binned counts aggregate in update mode and sink per
    batch_id. The shared_drain.drain start contract."""
    work = scratch(spark, sf_dir, "psi_monitor")
    stream = (
        spark.readStream.schema(
            "ts TIMESTAMP, event_type STRING, value DOUBLE"
        )
        .option("maxFilesPerTrigger", 4)
        .parquet(event_chunks(spark, sf_dir))
    )
    cur = (
        stream.filter(F.col("ts") >= F.lit(KS_SPLIT).cast("timestamp"))
        .select("event_type", _bin_expr().alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("cur_n"))
    )
    return start_batches(cur, work, os.path.join(work, "updates"))


def streaming_psi_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI of the streamed current epoch against the frozen batch
    reference; must hash-equal the batch psi_drift_by_type oracle
    (see module docstring)."""
    from .shared_drain import drain_round7_streams

    sink = drain_round7_streams(spark, sf_dir)["psi"]

    mid = F.lit(KS_SPLIT).cast("timestamp")
    ref = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts") < mid)
        .select("event_type", _bin_expr().alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("ref_n"))
    )
    cur = last_emission(read_emissions(spark, sink), ["event_type", "bin"])
    cells = (
        ref.join(cur, ["event_type", "bin"], "full")
        .select(
            "event_type",
            "bin",
            F.coalesce("ref_n", F.lit(0).cast("long")).alias("ref_n"),
            F.coalesce("cur_n", F.lit(0).cast("long")).alias("cur_n"),
        )
    )
    return _psi_from_cells(cells)


# The oracle IS the batch entry's: the stream must reproduce the
# closed-epoch histogram exactly.
STREAMING_PSI_SQL = PSI_DRIFT_SQL
