"""Structured Streaming analogue of the reference engine.

The reference's execution is deliberately pipelined/incremental —
readers, mappers, and reducers run concurrently over bounded queues
and the reduce side consumes partials before the map side finishes
(reference /root/reference/mpi_mapreduce.c:314-338,480-494; SURVEY.md
§2.9). Structured Streaming is the principled version of that: a
file-source stream of text lines through the SAME transform chain as
the batch pipeline (single source of truth for the §2.7 semantics),
aggregated incrementally with update-mode state.

Scale posture: for an unbounded 100 TB corpus the running-vocabulary
state is itself unbounded, so the default here is ``update`` output
mode (emit changed keys per micro-batch) feeding an idempotent
foreachBatch sink — never ``complete`` mode, which re-emits the whole
state each trigger. Windowed aggregations bound their state with a
watermark, after which expired windows are dropped.

The drain contract every streaming entry uses lives here. Replay
fixtures go in through ``write_replay`` (frames in order, explicit
increasing mtimes; ``time_slices`` cuts a table into time-ranged
frames). Micro-batches come out through ``start_batches`` /
``batch_sink``: one idempotent ``batch_id=<id>`` directory per batch
plus the recorded output schema. Entries read a sink back with
``read_emissions``, which is also correct on a sink no batch reached,
and reduce update-mode output with ``last_emission``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile
from typing import Callable, Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import tokenize_lines
from ..sources.catalog import load_table

SCHEMA_FILE = "_schema.json"
REPLAY_BASE_MTIME = 946_684_800  # 2000-01-01T00:00:00Z; any fixed past instant


# One retained work dir per batch-harness tag: the returned DataFrame
# lazily reads the partials, so the CURRENT run's dir must outlive the
# call — but the PREVIOUS run's is dead weight. Reclaiming it on the
# next call caps the temp footprint at one dir per harness no matter
# how many bench passes run in one process (round-3 leak: one dir per
# pass, never removed).
_PREV_WORK: dict[str, str] = {}


def _fresh_workdir(tag: str, scope: str = "") -> str:
    """Recycle the PREVIOUS workdir for this (tag, scope) before
    minting a new one. ``scope`` (pass the sf_dir) keeps concurrent
    scale factors from clobbering each other: the drain caches key on
    (appId, sf_dir), so a drain at a SECOND sf_dir recycling a
    same-tag dir would delete fixture/sink dirs the first sf_dir's
    cache still points at (the round-10 lesson: an empty-table drain
    invalidated the sf0.001 outer-join source mid-session)."""
    key = f"{tag}@{scope}"
    old = _PREV_WORK.get(key)
    if old:
        shutil.rmtree(old, ignore_errors=True)
    work = tempfile.mkdtemp(prefix=f"stream_{tag}_")
    _PREV_WORK[key] = work
    return work


# Memoized fixture spills, keyed by (sf_dir, tag). The chunked source
# dir a streaming entry drains is FIXTURE PREP, not the streaming
# computation — the same way the 13 MB wordcount bench excludes its
# chunk-file write from the clock (and the reference excludes
# MPI_Init). Spilling once per (source, process) means bench passes
# 2..N and sibling entries sharing a source measure drain+merge only;
# dirs live for the process lifetime (a few MB at test SFs).
_SPILL_CACHE: dict[tuple[str, str], str] = {}


def spill_chunks(df: DataFrame, sf_dir: str, tag: str, n_files: int = 8) -> str:
    key = (sf_dir, tag)
    path = _SPILL_CACHE.get(key)
    if path and os.path.isdir(path):
        return path
    path = os.path.join(
        tempfile.mkdtemp(prefix=f"stream_spill_{tag}_"), "chunks"
    )
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    _SPILL_CACHE[key] = path
    return path


def event_chunks(spark: SparkSession, sf_dir: str) -> str:
    """The events spill most event streams replay (one layout shared
    by the event trio and the PSI, enrichment and sliding drains)."""
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "user_id", "value"
    )
    return spill_chunks(ev, sf_dir, "events_shared")


def batch_sink(
    stream: DataFrame,
    sink: str,
    shape: Callable[[DataFrame], DataFrame] = lambda b: b,
) -> Callable[[DataFrame, int], None]:
    """The write side of the drain contract: make ``sink``, record
    ``shape(stream)``'s schema in ``sink/_schema.json`` (analysis only,
    no Spark job; the file index skips ``_``-prefixed names) and return
    the foreachBatch function that writes each micro-batch, through
    ``shape``, to ``sink/batch_id=<id>``. Overwrite mode, so a replayed
    batch rewrites its own directory and never double-counts."""
    os.makedirs(sink, exist_ok=True)
    with open(os.path.join(sink, SCHEMA_FILE), "w") as f:
        f.write(shape(stream).schema.json())

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        shape(batch_df).write.mode("overwrite").parquet(
            os.path.join(sink, f"batch_id={batch_id}")
        )

    return sink_batch


def start_batches(
    stream: DataFrame,
    work: str,
    sink: str,
    mode: str = "update",
    shape: Callable[[DataFrame], DataFrame] = lambda b: b,
):
    """Start ``stream`` as an availableNow query into ``batch_sink``,
    checkpointed under ``work/ckpt``. Returns the
    ``shared_drain.drain`` start contract (query, work dir, sink dir)."""
    q = (
        stream.writeStream.foreachBatch(batch_sink(stream, sink, shape))
        .outputMode(mode)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    return q, work, sink


def read_emissions(spark: SparkSession, sink: str) -> DataFrame:
    """The read side of the drain contract: every row a ``batch_sink``
    wrote, with its ``batch_id``, read under the recorded schema. A
    sink no micro-batch reached (availableNow can finish an empty
    source without one foreachBatch call) reads as zero rows of the
    same schema, not as a missing path."""
    with open(os.path.join(sink, SCHEMA_FILE)) as f:
        schema = T.StructType.fromJson(json.load(f))
    return spark.read.schema(schema.add("batch_id", T.LongType())).parquet(
        sink
    )


def last_emission(emissions: DataFrame, keys: list[str]) -> DataFrame:
    """Update-mode last-writer-wins: per key, the row of the highest
    batch_id (a key's last emission holds its complete aggregate).
    One partial-aggregable ``max(struct(batch_id, ...))`` per key;
    the result is the keys, then the emitted values, without
    batch_id."""
    values = [c for c in emissions.columns if c not in keys and c != "batch_id"]
    last = emissions.groupBy(*keys).agg(
        F.max(F.struct("batch_id", *values)).alias("_last")
    )
    return last.select(*keys, *(F.col(f"_last.{c}").alias(c) for c in values))


def time_slices(df: DataFrame, order: Sequence[int]) -> list[DataFrame]:
    """``df`` cut into ``len(order)`` equal ranges of ``ts`` (one
    min/max action), returned as range filters in ``order``: range
    ``k`` goes to position ``order.index(k)``. Empty when ``df`` is."""
    lo, hi = df.agg(
        F.unix_micros(F.min("ts")), F.unix_micros(F.max("ts"))
    ).first()
    if lo is None:
        return []
    n, span = len(order), hi - lo + 1
    us = F.unix_micros(F.col("ts"))
    return [
        df.filter((us >= lo + span * k // n) & (us < lo + span * (k + 1) // n))
        for k in order
    ]


def write_replay(dest: str, frames: Iterable[DataFrame]) -> str:
    """Write a replay fixture into the new, empty ``dest``: each frame
    in order as one coalesced parquet append, each new part file
    stamped with the next strictly increasing mtime from a fixed past
    base. The file source lists files in modification-time order, so
    it replays the frames in the order given; explicit mtimes keep
    sequential writes from tying on filesystems with coarse (e.g.
    1 s) timestamps and replaying out of order, and make the
    assignment deterministic across runs. Returns ``dest``."""
    if os.path.isdir(dest) and os.listdir(dest):
        raise FileExistsError(f"replay fixture dir is not empty: {dest}")
    os.makedirs(dest, exist_ok=True)
    stamped: set[str] = set()
    for df in frames:
        df.coalesce(1).write.mode("append").parquet(dest)
        for path in sorted(
            set(glob.glob(os.path.join(dest, "*.parquet"))) - stamped
        ):
            stamped.add(path)
            mtime = REPLAY_BASE_MTIME + len(stamped)
            os.utime(path, (mtime, mtime))
    return dest


def streaming_wordcount(spark: SparkSession, input_dir: str) -> DataFrame:
    """Incremental word count over a directory of text files.

    Returns an unbounded aggregating DataFrame; callers pick the sink
    (tests use a memory sink with availableNow trigger; production
    uses update mode + foreachBatch upsert)."""
    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 16)  # backpressure ≙ bounded queue
        .load(input_dir)
        .withColumnRenamed("value", "text")
    )
    words = tokenize_lines(lines)
    return words.groupBy("word").agg(F.count("*").alias("cnt"))


def windowed_event_counts(
    spark: SparkSession,
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling (or sliding) event-time window counts with a
    watermark bounding state for late data."""
    win = (
        F.window("ts", window) if slide is None else F.window("ts", window, slide)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def _start_wc(spark: SparkSession, sf_dir: str):
    """Spill documents.text into 8 chunk files and start the drain:
    2 files per trigger (>1 micro-batch per run), each micro-batch's
    words partial-aggregated into a batch_id-keyed dir (per-batch
    partials are small, so the drain's 8 shuffle partitions suffice)."""
    work = _fresh_workdir("wc", sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("text")
    stream = (
        spark.readStream.schema("text STRING")
        .option("maxFilesPerTrigger", 2)
        .parquet(spill_chunks(docs, sf_dir, "wc_docs"))
    )
    return start_batches(
        tokenize_lines(stream),
        work,
        os.path.join(work, "partials"),
        mode="append",
        shape=lambda b: b.groupBy("word").agg(F.count("*").alias("cnt")),
    )


def streaming_wordcount_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count computed through an ACTUAL Structured Streaming run —
    the registry's hard signal for SURVEY.md §2.9 (previously the
    streaming path was pinned only by local parity tests).

    Shape mirrors the reference engine end to end
    (/root/reference/mpi_mapreduce.c):

    1. spill documents.text into an 8-file parquet dir — the chunked
       corpus (S8, generate_files.py:1-13);
    2. ``readStream`` over those chunks, 2 files per trigger, so the
       run takes multiple micro-batches (bounded-queue backpressure,
       mpi_mapreduce.c:93-101);
    3. per micro-batch, foreachBatch partial-aggregates the batch's
       words and appends the partials to a batch_id-keyed dir — the
       mapper-side combiner spilling scratch files (S6,
       mpi_mapreduce.c:258-277,314-338). Writing to a per-batch_id
       path in overwrite mode keeps the sink idempotent on retry;
    4. the returned DataFrame re-aggregates the partials — the final
       reduce over scratch files (A3, mpi_mapreduce.c:768-781).

    Scale posture: state per micro-batch is the batch's own partial
    counts only (no unbounded running-vocabulary state, which is why
    this uses foreachBatch partials instead of ``complete``-mode
    aggregation — SCALE.md); the final merge is an ordinary
    vocabulary-keyed aggregation.
    """
    from .shared_drain import drain

    (partials_dir,) = drain(spark, sf_dir, _start_wc)
    return (
        read_emissions(spark, partials_dir)
        .groupBy("word")
        .agg(F.sum("cnt").alias("cnt"))
    )


def run_to_completion(stream_df: DataFrame, query_name: str) -> DataFrame:
    """Drain all currently-available input through the stream into an
    in-memory table (availableNow trigger) and return it as a batch
    DataFrame. Used by tests to assert batch/stream parity."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)


def streaming_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact streaming deduplication through an ACTUAL Structured
    Streaming run — the streaming face of the dedup family: every
    event is fed to the stream TWICE (two full copies of the table
    spilled as chunked parquet) and watermarked
    ``dropDuplicatesWithinWatermark`` on event_id must collapse the
    doubled stream back to the batch table's per-type counts.

    Duplicate copies of a key routinely arrive in DIFFERENT
    micro-batches here (maxFilesPerTrigger=2 over 8 chunk files), so
    this exercises cross-batch dedup state, not per-batch distinct.

    Scale posture: dedup state is bounded by the watermark delay — the
    state store holds only keys younger than (max event time - delay),
    the standard at-least-once -> exactly-once repair for replayed
    sources (Kafka re-reads, file-source restarts). The delay here
    exceeds the fixture's time span so the check is exact; production
    picks the delay to match the source's replay horizon. Output goes
    through the same idempotent per-batch_id foreachBatch partials as
    streaming_wordcount_batch.

    The drain runs through the shared concurrent harness
    (shared_drain.drain_event_streams): same operator graph, but the
    source drain overlaps the sibling profile/hourly streams so one
    registry pass pays max(drain), not sum(drain)."""
    from .shared_drain import drain_event_streams

    partials_dir = drain_event_streams(spark, sf_dir)["dedup"]
    return (
        read_emissions(spark, partials_dir)
        .groupBy("event_type")
        .agg(F.sum("n").cast("long").alias("n_events"))
    )


STREAMING_DEDUP_SQL = """
SELECT event_type, count(*) AS n_events
FROM events GROUP BY event_type
"""
