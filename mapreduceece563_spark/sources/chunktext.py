"""Custom Spark Python Data Source for the reference's chunked text
corpus layout.

The reference engine's input is a directory of plain-text chunk
files named by index, its reader hands whole chunks to worker ranks
on demand, and its only pruning is "read the chunks you were
assigned" (reference /root/reference/mpi_mapreduce.c:133-161 chunk
reader, run_MapReduce.py chunked corpus layout; SURVEY.md §2.1
S1/S2/S3). This module re-expresses that surface through Spark's
public DataSource V2 Python API (pyspark.sql.datasource, Spark 4):

- one ``InputPartition`` per chunk file — Spark's scheduler then IS
  the task farm (S3): partitions are handed to idle executors
  dynamically, no hand-rolled assignment;
- ``pushFilters`` handles ``chunk_id`` equality/IN filters by
  PRUNING the partition list — the custom-source face of partition
  pruning: a query over one chunk opens one file, no matter how many
  chunks the directory holds;
- rows are (chunk_id, line_no, text) so downstream operators keep
  full provenance (the reference's chunk index + line order).

Scale posture: the reader never materializes a file list on the
driver beyond os.listdir (at 10^6 chunks, swap in a manifest file —
the partition-planning contract is unchanged), and each partition
streams its file as bounded Arrow RecordBatches (ARROW_BATCH_LINES
lines per batch) — the Python-source data path is Arrow-columnar,
not per-row tuple pickling, so the custom-source ingest is not a
Python-loop bottleneck at scale.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    In,
    InputPartition,
)

from ..cachemgr import per_session

CHUNK_PREFIX = "chunk_"
CHUNK_SUFFIX = ".txt"

# Arrow-batched read path: lines per RecordBatch. Bounds per-task
# memory (a batch of 64Ki lines) while amortizing the Python loop and
# the Arrow->JVM handoff over large batches.
ARROW_BATCH_LINES = 1 << 16


def _arrow_schema():
    import pyarrow as pa

    return pa.schema(
        [
            pa.field("chunk_id", pa.int32()),
            pa.field("line_no", pa.int64()),
            pa.field("text", pa.string()),
        ]
    )


def _read_chunk_batches(partition):
    """One chunk file -> bounded pyarrow RecordBatches. Shared by the
    batch reader and the distributed stream reader (same data path,
    same fidelity guarantees)."""
    import itertools

    import pyarrow as pa

    schema = _arrow_schema()
    # newline="\n": lines terminate ONLY at '\n' (the reference's
    # fgets contract and the writer's inverse). Python's default
    # universal-newlines mode also splits at bare '\r' — the round-13
    # unicode vintage caught it fabricating extra lines (and tearing
    # "word cnt" sink lines apart) for text containing \r.
    with open(partition.path, encoding="utf-8", newline="\n") as fh:
        base = 0
        while True:
            lines = list(itertools.islice(fh, ARROW_BATCH_LINES))
            if not lines:
                break
            n = len(lines)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([partition.chunk_id] * n, pa.int32()),
                    pa.array(range(base, base + n), pa.int64()),
                    pa.array(
                        [ln[:-1] if ln.endswith("\n") else ln
                         for ln in lines],
                        pa.string(),
                    ),
                ],
                schema=schema,
            )
            base += n


class ChunkFilePartition(InputPartition):
    def __init__(self, chunk_id: int, path: str):
        self.chunk_id = chunk_id
        self.path = path


class ChunkFilesPartition(InputPartition):
    """Several small chunk files bin-packed into one task (the
    packBytes read path)."""

    def __init__(self, files: list):
        self.files = files  # [(chunk_id, path), ...]


# Charged per file when bin-packing, like Spark's
# spark.sql.files.openCostInBytes: a tiny file still costs an open +
# a Python iterator spin-up, so packing by raw bytes alone would
# put thousands of 1 KB files in one bin.
PACK_OPEN_COST = 64 * 1024


class ChunkTextReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("chunktext requires .option('path', <dir>)")
        self.dir = path
        # packBytes > 0 switches partition planning from one-task-per-
        # chunk (the reference's reader-rank granularity, the default)
        # to Spark-file-source-style bin-packing: chunks fill a bin up
        # to packBytes of (size + open-cost) before a new task opens.
        # At 100 TB-scale chunk counts (millions of small files) the
        # per-chunk default pays one Python worker round-trip per
        # file; packing amortizes it ~(packBytes / chunk size)-fold.
        self.pack_bytes = int(
            options.get("packbytes") or options.get("packBytes") or 0
        )
        self._wanted: set[int] | None = None  # None = all chunks

    def pushFilters(self, filters):  # noqa: N802 (API name)
        """Absorb chunk_id equality/IN filters as partition pruning;
        everything else stays with Spark."""
        remaining = []
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("chunk_id",):
                ids = {int(f.value)}
            elif isinstance(f, In) and f.attribute == ("chunk_id",):
                ids = {int(v) for v in f.value}
            else:
                remaining.append(f)
                continue
            self._wanted = ids if self._wanted is None else (
                self._wanted & ids
            )
        return remaining

    def _chunk_files(self) -> list:
        files = []
        for name in sorted(os.listdir(self.dir)):
            if not (
                name.startswith(CHUNK_PREFIX) and name.endswith(CHUNK_SUFFIX)
            ):
                continue
            chunk_id = int(name[len(CHUNK_PREFIX): -len(CHUNK_SUFFIX)])
            if self._wanted is not None and chunk_id not in self._wanted:
                continue
            files.append((chunk_id, os.path.join(self.dir, name)))
        return files

    def partitions(self) -> Sequence[InputPartition]:
        files = self._chunk_files()
        if self.pack_bytes <= 0:
            return [ChunkFilePartition(cid, p) for cid, p in files]
        # greedy first-fit in chunk order; every bin holds at least one
        # file, so a single oversized chunk still gets its own task
        parts: list[InputPartition] = []
        bin_files: list = []
        bin_cost = 0
        for cid, p in files:
            cost = os.path.getsize(p) + PACK_OPEN_COST
            if bin_files and bin_cost + cost > self.pack_bytes:
                parts.append(ChunkFilesPartition(bin_files))
                bin_files, bin_cost = [], 0
            bin_files.append((cid, p))
            bin_cost += cost
        if bin_files:
            parts.append(ChunkFilesPartition(bin_files))
        return parts

    def read(self, partition) -> Iterator:
        """Yield pyarrow RecordBatches (not per-row tuples): Spark's
        Python data source forwards Arrow batches to the JVM without
        per-row pickling, so the read path costs one Python loop per
        ARROW_BATCH_LINES lines instead of one per line."""
        if isinstance(partition, ChunkFilesPartition):
            return self._read_packed(partition)
        return _read_chunk_batches(partition)

    @staticmethod
    def _read_packed(partition: ChunkFilesPartition) -> Iterator:
        for cid, path in partition.files:
            yield from _read_chunk_batches(ChunkFilePartition(cid, path))


class ChunkTextDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "chunktext"

    def schema(self) -> str:
        return "chunk_id INT, line_no BIGINT, text STRING"

    def reader(self, schema) -> ChunkTextReader:
        return ChunkTextReader(self.options)


_REGISTERED: set[str] = set()


def register_chunktext(spark) -> None:
    """Idempotent per-session registration of the format. Python-source
    filter pushdown is opt-in (off by default in Spark 4.1); a reader
    that implements pushFilters REQUIRES the flag, so flip it with the
    registration."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    app = spark.sparkContext.applicationId
    if app in _REGISTERED:
        return
    spark.dataSource.register(ChunkTextDataSource)
    _REGISTERED.add(app)


# --- deterministic chunk-corpus fixture -------------------------------

N_CHUNKS = 8
_CHUNK_CACHE: dict[str, str] = {}


def chunked_corpus_dir(sf_dir: str) -> str:
    """Write (once per process) the documents table as N_CHUNKS text
    chunk files, doc assigned to chunk doc_id % N_CHUNKS, docs in
    doc_id order within a chunk — the reference's generate_files.py
    corpus layout, with a deterministic assignment both engines can
    reproduce in SQL. Fixture prep (like spill_chunks), not part of
    any timed query; pyarrow keeps it off the Spark driver."""
    cached = _CHUNK_CACHE.get(sf_dir)
    if cached and os.path.isdir(cached):
        return cached
    import tempfile

    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "documents.parquet")
    # The "docs in doc_id order within a chunk" contract needs a
    # doc_id-ordered scan. Pass 1 reads ONLY the doc_id column (a few
    # bytes per row) to check sortedness; pass 2 then streams both
    # columns batch-by-batch, so the text column is never materialized
    # whole on the driver. Unsorted vintages (none so far) fall back
    # to a one-shot sorted read.
    prev = None
    sorted_scan = True
    for batch in pq.ParquetFile(src).iter_batches(columns=["doc_id"]):
        ids = batch.column("doc_id").to_pylist()
        if any(a > b for a, b in zip([prev, *ids], ids)
               if a is not None):
            sorted_scan = False
            break
        prev = ids[-1] if ids else prev

    out = tempfile.mkdtemp(prefix="chunktext_")
    handles = [
        open(
            os.path.join(out, f"{CHUNK_PREFIX}{k}{CHUNK_SUFFIX}"),
            "w",
            encoding="utf-8",
        )
        for k in range(N_CHUNKS)
    ]
    try:
        if sorted_scan:
            batches = pq.ParquetFile(src).iter_batches(
                columns=["doc_id", "text"]
            )
        else:
            tbl = pq.read_table(src, columns=["doc_id", "text"])
            batches = tbl.sort_by("doc_id").to_batches()
        for batch in batches:
            for doc_id, text in zip(
                batch.column("doc_id").to_pylist(),
                batch.column("text").to_pylist(),
            ):
                # one doc = ONE line (the generate_files.py layout
                # contract): embedded '\n' normalizes to a space at
                # ingest — a doc with interior newlines is otherwise
                # unrepresentable in a line-oriented corpus. The
                # WORDCOUNT_DS_SQL oracle applies the same replace.
                handles[doc_id % N_CHUNKS].write(
                    (text or "").replace("\n", " ") + "\n"
                )
    finally:
        for h in handles:
            h.close()
    _CHUNK_CACHE[sf_dir] = out
    return out


# --- registry faces of the custom source ------------------------------

PRUNED_CHUNK = 3


def wordcount_via_datasource(spark, sf_dir: str):
    """The reference's full pipeline with its NATIVE input layout:
    word count over the chunked text corpus read through the
    ``chunktext`` custom source (one Spark partition per chunk file,
    exactly the reference's reader-rank granularity), through the
    same tokenize chain as the parquet-backed ``wordcount``. Matching
    the same WORDCOUNT_SQL oracle certifies the source end to end —
    partition planning, per-line reads, text fidelity."""
    from pyspark.sql import functions as F

    from ..functions.text import tokenize_lines

    register_chunktext(spark)
    src = chunked_corpus_dir(sf_dir)
    lines = (
        spark.read.format("chunktext")
        .option("path", src)
        .load()
        .select("text")
    )
    words = tokenize_lines(lines)
    return words.groupBy("word").agg(F.count("*").alias("cnt"))


def chunktext_pruned_count(spark, sf_dir: str):
    """Line/token counts for ONE chunk, with the chunk_id predicate
    absorbed by the source's ``pushFilters`` as partition pruning —
    the scan opens one file out of N_CHUNKS (asserted at the reader
    level in tests/test_sources_chunktext.py). The oracle recomputes
    from the deterministic doc_id % N_CHUNKS assignment."""
    from pyspark.sql import functions as F

    from ..functions.text import normalized_words_array

    register_chunktext(spark)
    src = chunked_corpus_dir(sf_dir)
    df = (
        spark.read.format("chunktext")
        .option("path", src)
        .load()
        .filter(F.col("chunk_id") == PRUNED_CHUNK)
    )
    return df.agg(
        F.lit(PRUNED_CHUNK).cast("long").alias("chunk_id"),
        F.count("*").alias("n_lines"),
        F.coalesce(
            F.sum(F.size(normalized_words_array(F.col("text")))), F.lit(0)
        ).cast("long").alias("n_words"),
    )


def chunktext_pruned_sql() -> str:
    from ..operators.textstats import _words_sql

    return f"""
WITH sel AS (
  -- same embedded-newline normalization as the corpus writer
  SELECT replace(text, chr(10), ' ') AS text
  FROM documents WHERE doc_id % {N_CHUNKS} = {PRUNED_CHUNK}
)
SELECT CAST({PRUNED_CHUNK} AS BIGINT) AS chunk_id,
       count(*) AS n_lines,
       CAST(coalesce(sum(len({_words_sql()})), 0) AS BIGINT) AS n_words
FROM sel
"""


# --- the write path: the reference's S4 sink as a custom writer -------

from dataclasses import dataclass  # noqa: E402

from pyspark.sql.datasource import (  # noqa: E402
    DataSourceWriter,
    WriterCommitMessage,
)


@dataclass
class ChunkCommit(WriterCommitMessage):
    tmp_path: str
    chunk_id: int
    n_rows: int


class ChunkTextWriter(DataSourceWriter):
    """Partitioned space-separated text sink — the reference's S4
    output contract (`"word cnt\\n"` per row, one file per reducer,
    /root/reference/mpi_mapreduce.c:278-289) behind the public
    Python DataSource write API, WITH the commit protocol the
    reference lacks: each task writes a uniquely-named temp file and
    reports it in its commit message; only the driver-side commit()
    renames temps to their final ``chunk_<pid>.txt`` names, so a
    failed/speculative task attempt can never leave a half-written
    chunk visible (the reference's writer would). Overwrite mode is
    staged the same way: the PRIOR generation's chunk files are left
    untouched until commit() — new-generation renames land first
    (same-name chunks replaced atomically), then stale old-generation
    files are removed — so a failed or aborted job leaves the previous
    generation intact instead of an empty sink."""

    def __init__(self, options: dict, overwrite: bool = False):
        path = options.get("path")
        if not path:
            raise ValueError("chunktext requires .option('path', <dir>)")
        self.dir = path
        self.overwrite = overwrite

    def write(self, rows) -> ChunkCommit:
        import uuid

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.dir, exist_ok=True)
        tmp = os.path.join(self.dir, f".tmp_{uuid.uuid4().hex}")
        n = 0
        with open(tmp, "w", encoding="utf-8") as fh:
            for row in rows:
                fh.write(" ".join(str(v) for v in row) + "\n")
                n += 1
        return ChunkCommit(tmp, pid, n)

    def commit(self, messages) -> None:
        committed = set()
        for m in messages:
            final = f"{CHUNK_PREFIX}{m.chunk_id}{CHUNK_SUFFIX}"
            os.replace(m.tmp_path, os.path.join(self.dir, final))
            committed.add(final)
        if self.overwrite:
            # only AFTER the new generation landed: sweep stale
            # old-generation chunks the renames didn't replace
            for name in os.listdir(self.dir):
                if (
                    name.startswith(CHUNK_PREFIX)
                    and name.endswith(CHUNK_SUFFIX)
                    and name not in committed
                ):
                    os.remove(os.path.join(self.dir, name))

    def abort(self, messages) -> None:
        for m in messages:
            try:
                os.remove(m.tmp_path)
            except OSError:
                pass


def _writer(self, schema, overwrite: bool) -> ChunkTextWriter:
    return ChunkTextWriter(self.options, overwrite=overwrite)


ChunkTextDataSource.writer = _writer


def wordcount_sink_roundtrip(spark, sf_dir: str):
    """S4 certified end to end through the CUSTOM WRITE PATH: the
    word-count result is written as space-separated chunk files by
    ChunkTextWriter (task-temp + driver-commit protocol), read back
    through the chunktext reader, parsed, and re-aggregated — the
    result must hash-equal the WORDCOUNT_DS_SQL oracle, so a
    serialization or commit defect (lost partition, torn line,
    double-committed attempt) breaks the value hash.

    The counts come from the chunked-corpus READ path (not the
    parquet wordcount): the "word cnt\\n" sink line format cannot
    represent a token containing '\\n', and only the line-oriented
    corpus guarantees no token ever does (its ingest normalizes
    embedded newlines — see chunked_corpus_dir). The round-13
    unicode vintage caught the parquet-sourced variant writing torn
    lines for newline-bearing tokens."""
    import tempfile

    from pyspark.sql import functions as F

    register_chunktext(spark)
    out = os.path.join(
        tempfile.gettempdir(),
        "chunktext_sink",
        spark.sparkContext.applicationId,
        os.path.basename(sf_dir.rstrip("/")),
    )
    counts = wordcount_via_datasource(spark, sf_dir)
    (
        counts.write.format("chunktext")
        .option("path", out)
        .mode("overwrite")
        .save()
    )
    back = (
        spark.read.format("chunktext")
        .option("path", out)
        .load()
        .select(F.split("text", " ").alias("_p"))
        .select(
            F.element_at("_p", 1).alias("word"),
            F.element_at("_p", 2).cast("long").alias("cnt"),
        )
    )
    return back.groupBy("word").agg(F.sum("cnt").alias("cnt"))


# --- the STREAMING read path: chunk files as a custom micro-batch
# source. The offset is just {"next": <chunk_id>} — the reference's
# "which chunk index is next" counter (mpi_mapreduce.c:577-603 task
# farm) recast as a streaming offset, which also makes
# replay/recovery exact: a batch's partition list is derived from its
# (start, end) offsets alone.
#
# TWO implementations of the same offset contract:
# - ChunkTextStreamReader (DataSourceStreamReader, the one the source
#   EXPOSES): plans one InputPartition per chunk per micro-batch, so
#   chunk reads run ON EXECUTORS in parallel through the same
#   Arrow-batched read path as the batch reader — the shape that
#   scales (the driver only does offset arithmetic).
# - ChunkTextSimpleStreamReader (SimpleDataSourceStreamReader): the
#   driver-side prefetch variant, kept as API-parity coverage of the
#   simplified reader surface (unit-tested directly; pyspark prefers
#   streamReader when both exist).

from pyspark.sql.datasource import (  # noqa: E402
    DataSourceStreamReader,
    SimpleDataSourceStreamReader,
)

CHUNKS_PER_MICROBATCH = 2


def _dir_chunk_ids(path: str) -> list[int]:
    out = []
    for name in os.listdir(path):
        if name.startswith(CHUNK_PREFIX) and name.endswith(CHUNK_SUFFIX):
            out.append(int(name[len(CHUNK_PREFIX): -len(CHUNK_SUFFIX)]))
    return sorted(out)


class ChunkTextStreamReader(DataSourceStreamReader):
    """Distributed micro-batch reader: the driver plans offsets and
    per-chunk InputPartitions; executors read their chunk through the
    same Arrow-batched path as the batch reader.

    RESTART CORRECTNESS over rate limiting: ``latestOffset()`` is a
    PURE function of the (immutable, append-only) chunk directory —
    {"next": max chunk id + 1} — never a mutable reader-side cursor.
    The Python stream API has no admission control (latestOffset takes
    no start offset), so a rate-limiting cursor cannot learn the
    restored checkpoint offset before the first post-restart
    latestOffset call; a fresh cursor would report an offset BEHIND
    the committed one, Spark would log that regressed offset, and the
    following batch would re-plan already-processed chunks (duplicate
    counts under update mode). A monotone offset derived from the
    directory alone can never regress, so exactly-once replay holds
    across restarts: partitions(start, end) is a pure function of the
    offsets and the directory. Bounded-batch doling (the reference's
    task-farm cadence) lives in the ``driver-prefetch`` reader below,
    whose read(start) is handed the checkpointed start offset by the
    engine and is therefore restart-safe WITH rate limiting."""

    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("chunktext requires .option('path', <dir>)")
        self.dir = path

    def initialOffset(self) -> dict:
        return {"next": 0}

    def latestOffset(self) -> dict:
        ids = _dir_chunk_ids(self.dir)
        return {"next": (ids[-1] + 1) if ids else 0}

    def partitions(self, start: dict, end: dict):
        ids = [
            c
            for c in _dir_chunk_ids(self.dir)
            if start["next"] <= c < end["next"]
        ]
        return [
            ChunkFilePartition(
                cid,
                os.path.join(self.dir, f"{CHUNK_PREFIX}{cid}{CHUNK_SUFFIX}"),
            )
            for cid in ids
        ]

    def read(self, partition: ChunkFilePartition):
        # same Arrow RecordBatch generator as the batch reader
        return _read_chunk_batches(partition)

    def commit(self, end: dict) -> None:
        pass  # chunks are immutable files — nothing to clean up


class ChunkTextSimpleStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("chunktext requires .option('path', <dir>)")
        self.dir = path

    def _chunk_ids(self) -> list[int]:
        return _dir_chunk_ids(self.dir)

    def _rows(self, ids) -> list[tuple]:
        # a LIST, not a generator: the prefetching wrapper deep-copies
        # and pickles the record cache across the driver/executor
        # boundary, and generators aren't picklable. Bounded by
        # CHUNKS_PER_MICROBATCH chunks per call.
        out: list[tuple] = []
        for cid in ids:
            path = os.path.join(
                self.dir, f"{CHUNK_PREFIX}{cid}{CHUNK_SUFFIX}"
            )
            # newline="\n" + strip-one-terminator: the exact inverse
            # of the writer's `text + "\n"` (see _read_chunk_batches)
            with open(path, encoding="utf-8", newline="\n") as fh:
                for line_no, line in enumerate(fh):
                    out.append((
                        cid,
                        line_no,
                        line[:-1] if line.endswith("\n") else line,
                    ))
        return out

    def initialOffset(self) -> dict:
        return {"next": 0}

    def read(self, start: dict):
        ids = [c for c in self._chunk_ids() if c >= start["next"]]
        ids = ids[:CHUNKS_PER_MICROBATCH]  # bounded batch = backpressure
        if not ids:
            return iter([]), start
        # iter(list): the wrapper needs an iterator AND pickles its
        # record cache — a list_iterator satisfies both (generators
        # don't pickle; bare lists aren't iterators).
        return iter(self._rows(ids)), {"next": ids[-1] + 1}

    def readBetweenOffsets(self, start: dict, end: dict):
        ids = [
            c
            for c in self._chunk_ids()
            if start["next"] <= c < end["next"]
        ]
        return self._rows(ids)


def _stream_reader(self, schema) -> ChunkTextStreamReader:
    if self.options.get("reader") == "driver-prefetch":
        # explicit opt-in to the SimpleDataSourceStreamReader path:
        # raising here makes pyspark's _streamReader helper fall back
        # to simpleStreamReader(). That variant IS restart-safe with
        # bounded batches because its read(start) receives the
        # checkpointed start offset from the engine.
        from pyspark.errors import PySparkNotImplementedError

        raise PySparkNotImplementedError(
            errorClass="NOT_IMPLEMENTED",
            messageParameters={"feature": "streamReader"},
        )
    return ChunkTextStreamReader(self.options)


def _simple_stream_reader(self, schema) -> ChunkTextSimpleStreamReader:
    return ChunkTextSimpleStreamReader(self.options)


# pyspark prefers streamReader over simpleStreamReader when both are
# defined (datasource_internal._streamReader) - the distributed
# executor-side reader is the one real drains use; the simple
# driver-side variant stays as API-parity coverage, unit-tested in
# tests/test_sources_chunktext.py.
ChunkTextDataSource.streamReader = _stream_reader
ChunkTextDataSource.simpleStreamReader = _simple_stream_reader


def _start_stream_wc(spark, sf_dir: str):
    """The shared_drain.drain start contract for a custom source: it
    has no availableNow trigger, so the start also drives the query
    until its offset stops advancing (processAllAvailable, the
    multi-batch drain) and stops it; the runner's await then returns
    at once."""
    from pyspark.sql import functions as F

    from ..functions.text import tokenize_lines
    from ..streaming.wordcount_stream import _fresh_workdir, batch_sink

    src = chunked_corpus_dir(sf_dir)
    work = _fresh_workdir("chunktext_stream", sf_dir)
    sink = os.path.join(work, "partials")
    lines = (
        spark.readStream.format("chunktext")
        .option("path", src)
        # the rate-limited driver-prefetch reader: its read(start) is
        # handed the checkpointed offset by the engine, so bounded
        # 2-chunk batches (the reference's task-farm doling, >1
        # micro-batch per drain) are restart-safe. The default
        # distributed reader takes everything available per trigger
        # (restart-correct by pure-function offsets; see
        # ChunkTextStreamReader).
        .option("reader", "driver-prefetch")
        .load()
        .select(F.col("text"))
    )
    counts = tokenize_lines(lines).groupBy("word").agg(
        F.count("*").alias("cnt")
    )
    q = (
        counts.writeStream.foreachBatch(batch_sink(counts, sink))
        .outputMode("update")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q, work, sink


@per_session
def _stream_wc_drain(spark, sf_dir: str) -> str:
    from ..streaming.shared_drain import drain

    (sink,) = drain(spark, sf_dir, _start_stream_wc)
    return sink


def streaming_wordcount_via_datasource(spark, sf_dir: str):
    """The reference pipeline END TO END on its native layout under
    Structured Streaming: the chunked corpus read INCREMENTALLY
    through the custom source's micro-batch reader (2 chunks per
    batch — the reference's task-farm doling, now with exact
    replay), the same tokenize chain, update-mode counts persisted
    per batch_id and reduced last-writer-wins — hash-equal to the
    batch WORDCOUNT_SQL oracle."""
    from ..streaming.wordcount_stream import last_emission, read_emissions

    register_chunktext(spark)
    sink = _stream_wc_drain(spark, sf_dir)
    return last_emission(read_emissions(spark, sink), ["word"])


def wordcount_via_datasource_packed(spark, sf_dir: str):
    """The same end-to-end custom-source wordcount as
    ``wordcount_via_datasource``, but through the bin-packed partition
    planner (``packBytes``, round 6) — the small-files scale path.
    Matching the same WORDCOUNT_SQL oracle certifies that packing
    changes the TASK LAYOUT only, never the bytes: same tokenize
    chain, same counts, ~n_chunks/bin fewer Python worker
    round-trips (the 10x probe in SCALE.md: 1300 chunks 10.03 s ->
    1.92 s)."""
    from pyspark.sql import functions as F

    from ..functions.text import tokenize_lines

    register_chunktext(spark)
    src = chunked_corpus_dir(sf_dir)
    lines = (
        spark.read.format("chunktext")
        .option("path", src)
        .option("packBytes", str(1 << 20))
        .load()
        .select("text")
    )
    words = tokenize_lines(lines)
    return words.groupBy("word").agg(F.count("*").alias("cnt"))
