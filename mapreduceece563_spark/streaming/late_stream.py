"""Late-data / out-of-order watermark stress (round-14 queue).

Every other streaming entry in this package is lossless by
construction (ordered replay, watermark delay wider than any
disorder), so the watermark's DROP path — the mechanism that bounds
state at 100 TB — was exercised only indirectly. This entry points a
deterministic out-of-order replay straight at it: the event table is
split into {N_LATE_CHUNKS} time-ranged chunks replayed in the fixed
permutation {LATE_PERM} (one chunk per micro-batch via
maxFilesPerTrigger=1 + mtime order), so chunks 1 and 2 arrive AFTER
later-ranged chunks have advanced the watermark and their old-window
rows are dropped by the engine, not by test fiat.

The drop rule the oracle reproduces was pinned EMPIRICALLY against
Spark 4 (see tests/test_queue_r14b.py::test_late_rule_pinned, a
crafted 3-batch fixture that separates the candidate rules):

* the watermark used while processing micro-batch p derives from the
  max event time over batches 0..p-2 (one batch MORE of lag than the
  docs suggest: batch p-1's stats are aggregated at its commit,
  after batch p's watermark was fixed), floored to MILLISECONDS,
  minus the delay;
* an input row is dropped iff its WINDOW END (ms) <= that watermark
  — a row whose own ts is behind the watermark but whose window is
  still open is KEPT (rule "window end", not "event time").

Update-mode tumbling-hour aggregation, batch_id-keyed idempotent
sink, last-writer-wins merge — the streaming_events_hourly
discipline; the delta is only the adversarial arrival order and the
watermark actually biting.

Scale posture (100 TB): the watermark bound IS the scale story —
state never exceeds the open-window set regardless of corpus size;
the fixture's chunk count is a replay knob, not a data-volume knob.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cachemgr import per_session
from ..sources.catalog import load_table
from .wordcount_stream import (
    _fresh_workdir,
    last_emission,
    read_emissions,
    start_batches,
    time_slices,
    write_replay,
)

N_LATE_CHUNKS = 6
# chunk k (by time range) is written at position index(PERM, k):
# chunks 1 and 2 arrive 1 and 2 batches later than their time rank,
# behind the watermark the later chunks 3 and 4 established
LATE_PERM = (0, 3, 1, 4, 2, 5)
LATE_DELAY_MS = 2 * 3600 * 1000  # withWatermark("ts", "2 hours")
HOUR_US = 3600 * 1_000_000


@per_session
def _late_src(spark: SparkSession, sf_dir: str) -> str:
    """The out-of-order chunk replay (chunk k written at position
    index(LATE_PERM, k)). Input data, kept across reset()."""
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type")
    return write_replay(
        os.path.join(_fresh_workdir("late_audit_src", sf_dir), "src"),
        time_slices(ev, LATE_PERM),
    )


def _start_late(spark: SparkSession, sf_dir: str):
    """The watermarked hourly count over the out-of-order replay (the
    shared_drain.drain start contract)."""
    work = _fresh_workdir("late_audit", sf_dir)
    stream = (
        spark.readStream.schema("ts TIMESTAMP, event_type STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(_late_src(spark, sf_dir))
    )
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    return start_batches(
        agg,
        work,
        os.path.join(work, "updates"),
        shape=lambda b: b.select(
            F.col("window.start").alias("hour"), "event_type", "n_events"
        ),
    )


@per_session
def _late_drain(spark: SparkSession, sf_dir: str) -> str:
    from .shared_drain import drain

    (sink,) = drain(spark, sf_dir, _start_late)
    return sink


def streaming_late_data_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Accepted per-(hour, type) counts of the out-of-order replay —
    what survives the watermark. The oracle recomputes the engine's
    pinned drop rule (module docstring) arithmetically, so a
    mismatch means the engine's late-data semantics moved."""
    sink = _late_drain(spark, sf_dir)
    return last_emission(read_emissions(spark, sink), ["hour", "event_type"])


def _perm_values() -> str:
    return ", ".join(
        f"({k}, {p})" for p, k in enumerate(LATE_PERM)
    )


LATE_DATA_AUDIT_SQL = f"""
WITH ev AS (
  SELECT epoch_us(ts) AS us, event_type FROM events
),
b AS (SELECT min(us) AS lo, max(us) - min(us) + 1 AS span FROM ev),
chunks AS (
  SELECT k, lo + (span * k) // {N_LATE_CHUNKS} AS a,
         lo + (span * (k + 1)) // {N_LATE_CHUNKS} AS z
  FROM b, (SELECT unnest(range(0, {N_LATE_CHUNKS})) AS k)
),
perm(k, pos) AS (VALUES {_perm_values()}),
tagged AS (
  SELECT e.us, e.event_type, p.pos
  FROM ev e JOIN chunks c ON e.us >= c.a AND e.us < c.z
  JOIN perm p ON p.k = c.k
),
batch_max AS (
  SELECT pos, max(us) // 1000 AS max_ms FROM tagged GROUP BY pos
),
-- the watermark used at position pos: max event time (ms) over
-- batches 0..pos-2, minus the delay (the empirically pinned
-- one-extra-batch lag)
wmk AS (
  SELECT pos,
         max(max_ms) OVER (ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
           - {LATE_DELAY_MS} AS w_ms
  FROM batch_max
),
accepted AS (
  SELECT t.us, t.event_type
  FROM tagged t JOIN wmk w ON t.pos = w.pos
  WHERE w.w_ms IS NULL
     OR ((t.us // {HOUR_US}) * {HOUR_US} + {HOUR_US}) // 1000 > w.w_ms
)
SELECT make_timestamp((us // {HOUR_US}) * {HOUR_US}) AS hour,
       event_type, count(*) AS n_events
FROM accepted GROUP BY 1, 2
"""
