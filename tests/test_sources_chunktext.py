"""Custom chunktext Python Data Source: partition planning, filter
pushdown as partition pruning, and line fidelity. The value-level
correctness of both registry faces is pinned by test_registry_oracle;
these tests assert the READER-level contracts the oracle can't see."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, In

from mapreduceece563_spark.sources.chunktext import (
    N_CHUNKS,
    PRUNED_CHUNK,
    ChunkTextReader,
    chunked_corpus_dir,
    register_chunktext,
)
from tests.conftest import SF_DIR


def test_one_partition_per_chunk_file(spark):
    src = chunked_corpus_dir(spark, SF_DIR)
    reader = ChunkTextReader({"path": src})
    parts = reader.partitions()
    assert len(parts) == N_CHUNKS
    assert sorted(p.chunk_id for p in parts) == list(range(N_CHUNKS))


def test_pushdown_prunes_partitions(spark):
    src = chunked_corpus_dir(spark, SF_DIR)
    reader = ChunkTextReader({"path": src})
    remaining = reader.pushFilters([EqualTo(("chunk_id",), PRUNED_CHUNK)])
    assert list(remaining) == []  # fully absorbed
    parts = reader.partitions()
    assert [p.chunk_id for p in parts] == [PRUNED_CHUNK]


def test_pushdown_in_filter_and_foreign_filter_kept(spark):
    src = chunked_corpus_dir(spark, SF_DIR)
    reader = ChunkTextReader({"path": src})
    foreign = EqualTo(("text",), "x")
    remaining = reader.pushFilters(
        [In(("chunk_id",), (1, 5)), foreign]
    )
    assert list(remaining) == [foreign]  # text filter stays with Spark
    assert sorted(p.chunk_id for p in reader.partitions()) == [1, 5]


def test_reader_round_trips_every_line(spark):
    register_chunktext(spark)
    src = chunked_corpus_dir(spark, SF_DIR)
    df = spark.read.format("chunktext").option("path", src).load()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert df.count() == n_docs
    # chunk assignment is doc_id % N_CHUNKS with in-chunk doc_id order,
    # so per-chunk line counts must match the modular census
    got = {
        r["chunk_id"]: r["n"]
        for r in df.groupBy("chunk_id").agg(F.count("*").alias("n")).collect()
    }
    exp = {
        r["c"]: r["n"]
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select((F.col("doc_id") % N_CHUNKS).cast("int").alias("c"))
        .groupBy("c")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == exp


def test_writer_commit_protocol_leaves_no_temps(spark, tmp_path):
    """The custom write path must commit atomically: final chunk_*.txt
    files only, no .tmp_* residue, and a re-write (overwrite mode)
    replaces the previous generation completely."""
    import os

    register_chunktext(spark)
    out = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [("alpha", 2), ("beta", 3), ("gamma", 1)], "word STRING, cnt LONG"
    ).repartition(2)
    for _ in range(2):  # second pass exercises overwrite cleanup
        df.write.format("chunktext").option("path", out).mode(
            "overwrite"
        ).save()
    names = sorted(os.listdir(out))
    assert all(n.startswith("chunk_") and n.endswith(".txt") for n in names)
    back = spark.read.format("chunktext").option("path", out).load()
    got = sorted(r["text"] for r in back.collect())
    assert got == ["alpha 2", "beta 3", "gamma 1"]

def test_reader_yields_arrow_batches(spark):
    """The batch read path must hand Spark pyarrow RecordBatches, not
    per-row tuples — the Arrow-columnar contract that keeps the
    custom-source ingest off the per-line Python/pickle path."""
    import pyarrow as pa

    src = chunked_corpus_dir(spark, SF_DIR)
    reader = ChunkTextReader({"path": src})
    part = reader.partitions()[0]
    batches = list(reader.read(part))
    assert batches and all(isinstance(b, pa.RecordBatch) for b in batches)
    assert batches[0].schema.names == ["chunk_id", "line_no", "text"]
    with open(part.path, encoding="utf-8") as fh:
        n_lines = sum(1 for _ in fh)
    assert sum(b.num_rows for b in batches) == n_lines
    # line_no is contiguous across batches; chunk_id constant
    first = batches[0]
    assert first.column("line_no").to_pylist()[0] == 0
    assert set(first.column("chunk_id").to_pylist()) == {part.chunk_id}


def test_overwrite_stages_deletion_until_commit(spark, tmp_path):
    """A failed overwrite job must leave the PRIOR generation intact:
    stale-chunk deletion happens inside commit() after the new
    generation's renames, never at writer construction."""
    import os

    register_chunktext(spark)
    out = str(tmp_path / "sink")
    gen1 = spark.createDataFrame(
        [("old", 1)], "word STRING, cnt LONG"
    ).coalesce(1)
    gen1.write.format("chunktext").option("path", out).mode(
        "overwrite"
    ).save()
    assert sorted(os.listdir(out)) == ["chunk_0.txt"]

    # constructing the overwrite writer (what a starting job does
    # before any task runs) must not touch the existing generation
    from mapreduceece563_spark.sources.chunktext import ChunkTextDataSource

    ds = ChunkTextDataSource({"path": out})
    ds.writer(None, True)
    assert sorted(os.listdir(out)) == ["chunk_0.txt"]

    # a aborted attempt (temp written, then abort) leaves gen1 visible
    w = ds.writer(None, True)
    tmp = os.path.join(out, ".tmp_dead")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write("new 9\n")

    class _M:
        tmp_path = tmp

    w.abort([_M()])
    assert sorted(os.listdir(out)) == ["chunk_0.txt"]
    with open(os.path.join(out, "chunk_0.txt"), encoding="utf-8") as fh:
        assert fh.read() == "old 1\n"

    # a successful overwrite with FEWER partitions sweeps the stale
    # old-generation files only after the new ones land
    gen2 = spark.createDataFrame(
        [("a", 1), ("b", 2)], "word STRING, cnt LONG"
    ).repartition(3)
    gen2.write.format("chunktext").option("path", out).mode(
        "overwrite"
    ).save()
    gen3 = spark.createDataFrame(
        [("solo", 7)], "word STRING, cnt LONG"
    ).coalesce(1)
    gen3.write.format("chunktext").option("path", out).mode(
        "overwrite"
    ).save()
    assert sorted(os.listdir(out)) == ["chunk_0.txt"]
    with open(os.path.join(out, "chunk_0.txt"), encoding="utf-8") as fh:
        assert fh.read() == "solo 7\n"


def test_stream_reader_offset_and_partition_planning(spark):
    """Distributed micro-batch reader: latestOffset is a PURE function
    of the chunk directory (the full frontier — restart-correct by
    construction, see the class docstring); partitions(start, end) is
    a pure function of the offsets; read() yields the same Arrow
    batches as the batch path."""
    import pyarrow as pa

    from mapreduceece563_spark.sources.chunktext import (
        ChunkTextStreamReader,
    )

    src = chunked_corpus_dir(spark, SF_DIR)
    r = ChunkTextStreamReader({"path": src})
    assert r.initialOffset() == {"next": 0}
    assert r.latestOffset() == {"next": N_CHUNKS}
    # pure: a FRESH reader (as after a checkpoint restart) reports the
    # same frontier — it can never regress behind a committed offset
    assert ChunkTextStreamReader({"path": src}).latestOffset() == {
        "next": N_CHUNKS
    }
    parts = r.partitions({"next": 2}, {"next": 4})
    assert [p.chunk_id for p in parts] == [2, 3]
    assert r.partitions({"next": 4}, {"next": 4}) == []
    batches = list(r.read(parts[0]))
    assert batches and isinstance(batches[0], pa.RecordBatch)
    assert set(batches[0].column("chunk_id").to_pylist()) == {2}


def test_stream_reader_mode_option_selects_simple_reader(spark):
    """.option('reader', 'driver-prefetch') must route the query
    through the SimpleDataSourceStreamReader fallback (streamReader
    raises PySparkNotImplementedError), which rate-limits safely
    because its read(start) receives the checkpointed offset."""
    import pytest as _pytest
    from pyspark.errors import PySparkNotImplementedError

    from mapreduceece563_spark.sources.chunktext import (
        ChunkTextDataSource,
        ChunkTextStreamReader,
    )

    src = chunked_corpus_dir(spark, SF_DIR)
    ds = ChunkTextDataSource({"path": src, "reader": "driver-prefetch"})
    with _pytest.raises(PySparkNotImplementedError):
        ds.streamReader(None)
    assert ds.simpleStreamReader(None) is not None
    default_ds = ChunkTextDataSource({"path": src})
    assert isinstance(default_ds.streamReader(None), ChunkTextStreamReader)


def test_simple_stream_reader_parity(spark):
    """The SimpleDataSourceStreamReader variant (driver-side prefetch
    API) must agree with the distributed reader chunk for chunk."""
    from mapreduceece563_spark.sources.chunktext import (
        ChunkTextSimpleStreamReader,
        ChunkTextStreamReader,
    )

    src = chunked_corpus_dir(spark, SF_DIR)
    simple = ChunkTextSimpleStreamReader({"path": src})
    dist = ChunkTextStreamReader({"path": src})
    it, end = simple.read({"next": 0})
    rows = list(it)
    assert end["next"] > 0
    replay = simple.readBetweenOffsets({"next": 0}, end)
    assert rows == replay  # exact replay contract
    # distributed read of the same offset range yields the same rows
    got = []
    for p in dist.partitions({"next": 0}, end):
        for b in dist.read(p):
            got.extend(zip(
                b.column("chunk_id").to_pylist(),
                b.column("line_no").to_pylist(),
                b.column("text").to_pylist(),
            ))
    assert got == rows


def test_chunk_fixture_unsorted_vintage_fallback(spark, tmp_path):
    """chunked_corpus_dir streams sorted parquet batch-wise; an
    UNSORTED vintage must fall back to the sorted one-shot read and
    still produce the doc_id-ordered per-chunk layout."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduceece563_spark.cachemgr import forget

    ids = [7, 2, 9, 0, 5, 1, 8, 3, 6, 4]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array([f"doc {i}" for i in ids]),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    out = chunked_corpus_dir(spark, str(tmp_path))
    try:
        got = {}
        for name in sorted(os.listdir(out)):
            with open(os.path.join(out, name), encoding="utf-8") as fh:
                got[name] = fh.read().splitlines()
        # doc i -> chunk i % 8, ascending doc_id within each chunk
        assert got["chunk_0.txt"] == ["doc 0", "doc 8"]
        assert got["chunk_1.txt"] == ["doc 1", "doc 9"]
        assert got["chunk_7.txt"] == ["doc 7"]
        assert sum(len(v) for v in got.values()) == len(ids)
    finally:
        forget(chunked_corpus_dir)


def test_arrow_batching_splits_large_chunks(tmp_path):
    """A chunk longer than ARROW_BATCH_LINES must stream as multiple
    bounded RecordBatches with contiguous line numbers — the branch
    that bounds per-task memory on big files."""
    from mapreduceece563_spark.sources.chunktext import (
        ARROW_BATCH_LINES,
        ChunkFilePartition,
        _read_chunk_batches,
    )

    n_lines = ARROW_BATCH_LINES + 1234
    path = tmp_path / "chunk_0.txt"
    with open(path, "w", encoding="utf-8") as fh:
        for i in range(n_lines):
            fh.write(f"line {i}\n")
    batches = list(_read_chunk_batches(ChunkFilePartition(0, str(path))))
    assert len(batches) == 2
    assert batches[0].num_rows == ARROW_BATCH_LINES
    assert batches[1].num_rows == 1234
    assert batches[1].column("line_no").to_pylist()[0] == ARROW_BATCH_LINES
    assert batches[1].column("text").to_pylist()[-1] == f"line {n_lines - 1}"


def test_default_distributed_stream_reader_end_to_end(spark, tmp_path):
    """The DEFAULT streaming path (no reader option) goes through the
    distributed ChunkTextStreamReader: executors read Arrow batches
    per chunk partition. Drain it and check the full corpus arrives
    exactly once (same rows as the batch reader)."""
    from pyspark.sql import functions as F

    register_chunktext(spark)
    src = chunked_corpus_dir(spark, SF_DIR)
    sink = str(tmp_path / "out")
    q = (
        spark.readStream.format("chunktext")
        .option("path", src)
        .load()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = spark.read.parquet(sink)
    batch = spark.read.format("chunktext").option("path", src).load()
    assert streamed.count() == batch.count()
    # exactly-once per (chunk, line): no duplicates, no gaps
    assert (
        streamed.groupBy("chunk_id", "line_no")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") != 1)
        .count()
        == 0
    )
    got = {
        r["chunk_id"]: r["n"]
        for r in streamed.groupBy("chunk_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    exp = {
        r["chunk_id"]: r["n"]
        for r in batch.groupBy("chunk_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == exp


def test_stream_reader_checkpoint_restart_no_duplicates(spark, tmp_path):
    """Checkpoint-restart correctness for the distributed reader: a
    second run against the same checkpoint must process ONLY chunks
    appended after the first drain — the rate-limited-cursor bug this
    replaced would regress the offset log and re-plan processed
    chunks into duplicates."""
    from pyspark.sql import functions as F

    register_chunktext(spark)
    src = tmp_path / "chunks"
    src.mkdir()

    def write_chunk(cid, lines):
        with open(src / f"chunk_{cid}.txt", "w", encoding="utf-8") as fh:
            fh.writelines(f"{ln}\n" for ln in lines)

    for cid in range(4):
        write_chunk(cid, [f"c{cid} l{i}" for i in range(3)])

    sink = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("chunktext")
            .option("path", str(src))
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    first = spark.read.parquet(sink)
    assert first.count() == 12

    for cid in (4, 5):
        write_chunk(cid, [f"c{cid} l{i}" for i in range(3)])
    drain()

    final = spark.read.parquet(sink)
    assert final.count() == 18  # 12 old + 6 new, nothing re-read
    dupes = (
        final.groupBy("chunk_id", "line_no")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") != 1)
        .count()
    )
    assert dupes == 0
    assert sorted(
        r["chunk_id"]
        for r in final.select("chunk_id").distinct().collect()
    ) == [0, 1, 2, 3, 4, 5]


def test_packed_partitions_cover_all_chunks_once(spark):
    """packBytes bin-packing (round 6): every chunk appears in exactly
    one bin, bins respect the size+open-cost cap, order is preserved,
    and packBytes=0 keeps the per-chunk default."""
    import os

    from mapreduceece563_spark.sources.chunktext import (
        PACK_OPEN_COST,
        ChunkFilesPartition,
    )

    src = chunked_corpus_dir(spark, SF_DIR)
    pack = 256 * 1024
    reader = ChunkTextReader({"path": src, "packbytes": str(pack)})
    parts = reader.partitions()
    assert all(isinstance(p, ChunkFilesPartition) for p in parts)
    seen = [cid for p in parts for cid, _ in p.files]
    assert seen == list(range(N_CHUNKS))  # all chunks, chunk order
    assert 1 <= len(parts) < N_CHUNKS  # actually packed something
    for p in parts:
        if len(p.files) > 1:
            cost = sum(
                os.path.getsize(path) + PACK_OPEN_COST
                for _, path in p.files
            )
            assert cost <= pack


def test_packed_read_matches_per_chunk_read(spark):
    """The packed path must be byte-identical to the per-chunk path —
    same (chunk_id, line_no, text) multiset."""
    src = chunked_corpus_dir(spark, SF_DIR)
    base = (
        spark.read.format("chunktext").option("path", src).load()
    )
    packed = (
        spark.read.format("chunktext")
        .option("path", src)
        .option("packBytes", str(256 * 1024))
        .load()
    )
    a = sorted(map(tuple, base.collect()))
    b = sorted(map(tuple, packed.collect()))
    assert a == b


def test_packed_read_composes_with_pushdown(spark):
    """chunk_id pruning applies BEFORE packing: a pruned packed scan
    plans bins over the single surviving file."""
    src = chunked_corpus_dir(spark, SF_DIR)
    reader = ChunkTextReader({"path": src, "packbytes": str(1 << 20)})
    reader.pushFilters([EqualTo(("chunk_id",), PRUNED_CHUNK)])
    parts = reader.partitions()
    files = [cid for p in parts for cid, _ in p.files]
    assert files == [PRUNED_CHUNK]
