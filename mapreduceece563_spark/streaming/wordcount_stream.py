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
"""

from __future__ import annotations

import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokenize_lines
from ..sources.catalog import load_table


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


def start_batches(
    stream: DataFrame,
    work: str,
    sink: str,
    mode: str = "update",
    shape: Callable[[DataFrame], DataFrame] = lambda b: b,
):
    """Start ``stream`` as an availableNow query whose foreachBatch
    writes each micro-batch, through ``shape``, to
    ``sink/batch_id=<id>`` — overwrite mode, so a replayed batch
    rewrites its own directory and never double-counts — checkpointed
    under ``work/ckpt``. Returns the ``shared_drain.drain`` start
    contract (query, work dir, sink dir)."""
    os.makedirs(sink, exist_ok=True)

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        shape(batch_df).write.mode("overwrite").parquet(
            os.path.join(sink, f"batch_id={batch_id}")
        )

    q = (
        stream.writeStream.foreachBatch(sink_batch)
        .outputMode(mode)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    return q, work, sink


class ReplayOrder:
    """Pins a time-ordered chunk replay to EXPLICIT mtimes instead of
    filesystem timestamp resolution: the file stream source lists
    files in modification-time order, and sequentially appended
    chunks can TIE on filesystems with coarse (e.g. 1 s) mtime
    granularity, replaying out of order and letting the watermark
    evict state with partners unread. Call ``mark(dest)`` after each
    chunk write: every new parquet part file gets the next strictly
    increasing mtime (a fixed past base, so the assignment is also
    deterministic across runs)."""

    BASE = 946_684_800  # 2000-01-01T00:00:00Z; any fixed past instant

    def __init__(self, dest: str | None = None) -> None:
        """Seed ``_seen`` (and the mtime counter) from ``dest``'s
        existing ``*.parquet`` files so a second ReplayOrder built
        against a directory holding a prior generation's chunks does
        NOT re-stamp them from BASE in lexical order and scramble the
        earlier replay (ADVICE r5). Call sites pass the directory they
        will mark into."""
        import glob

        self._seen: set[str] = set()
        self._n = 0
        if dest is not None:
            self._seen = set(glob.glob(os.path.join(dest, "*.parquet")))
            self._n = len(self._seen)

    def mark(self, dest: str) -> None:
        import glob

        new = sorted(
            set(glob.glob(os.path.join(dest, "*.parquet"))) - self._seen
        )
        for path in new:
            self._n += 1
            os.utime(path, (self.BASE + self._n, self.BASE + self._n))
        self._seen.update(new)


def _partial_files(partials_dir: str) -> list[str]:
    """Parquet part files under batch_id=* — empty when the stream
    completed without a single foreachBatch invocation (empty input
    under availableNow), in which case there is nothing to read. Read
    this list, not a ``batch_id=*`` glob (whose metadata probe fails)."""
    import glob

    return glob.glob(os.path.join(partials_dir, "batch_id=*", "*.parquet"))


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
    files = _partial_files(partials_dir)
    if not files:
        # Empty corpus: availableNow can finish without one
        # foreachBatch call — honor the zero-row contract instead of
        # raising path-not-found on the never-written partials.
        shutil.rmtree(os.path.dirname(partials_dir), ignore_errors=True)
        return spark.createDataFrame([], "word STRING, cnt BIGINT")
    partials = spark.read.parquet(*files)
    return partials.groupBy("word").agg(F.sum("cnt").alias("cnt"))


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
    files = _partial_files(partials_dir)
    if not files:
        # Empty events table: no micro-batch ever fired — honor the
        # zero-row contract (commit f0e3754) instead of raising on
        # the never-written partials dir.
        return spark.createDataFrame([], "event_type STRING, n_events BIGINT")
    partials = spark.read.parquet(*files)
    return partials.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n_events")
    )


STREAMING_DEDUP_SQL = """
SELECT event_type, count(*) AS n_events
FROM events GROUP BY event_type
"""
