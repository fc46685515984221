"""Structured Streaming: batch/stream parity for wordcount (SURVEY.md
§2.9 — the reference's pipelined execution restated as a stream) and
watermarked window aggregation over events."""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mapreduceece563_spark.functions.text import tokenize_lines
from mapreduceece563_spark.sources.catalog import load_table
from mapreduceece563_spark.streaming.wordcount_stream import (
    read_emissions,
    run_to_completion,
    start_batches,
    streaming_wordcount,
    streaming_wordcount_batch,
    windowed_event_counts,
    write_replay,
)
from tests.conftest import SF_DIR


@pytest.fixture()
def text_dir(spark):
    """Chunked text files like the reference's file_chunks/ input."""
    tmp = tempfile.mkdtemp(prefix="wc_stream_")
    docs = load_table(spark, SF_DIR, "documents").select("text")
    docs.repartition(4).write.mode("overwrite").text(tmp)
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


def test_stream_equals_batch_wordcount(spark, text_dir):
    stream_counts = run_to_completion(
        streaming_wordcount(spark, text_dir), "wc_stream"
    )
    batch_counts = (
        tokenize_lines(
            spark.read.text(text_dir).withColumnRenamed("value", "text")
        )
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    s = {(r["word"], r["cnt"]) for r in stream_counts.collect()}
    b = {(r["word"], r["cnt"]) for r in batch_counts.collect()}
    assert s == b and len(s) > 0


def test_streaming_wordcount_batch_matches_batch(spark):
    """The registry's streaming hard-signal entry: a real readStream +
    foreachBatch partial-aggregation run must equal the batch
    wordcount on the documents table."""
    from mapreduceece563_spark.operators.wordcount import wordcount

    got = {
        (r["word"], r["cnt"])
        for r in streaming_wordcount_batch(spark, SF_DIR).collect()
    }
    want = {
        (r["word"], r["cnt"]) for r in wordcount(spark, SF_DIR).collect()
    }
    assert got == want and len(got) > 0


def test_windowed_event_counts_matches_batch(spark):
    events = load_table(spark, SF_DIR, "events")
    # stream the same rows through a file stream
    tmp = tempfile.mkdtemp(prefix="ev_stream_")
    try:
        events.write.mode("overwrite").parquet(tmp)
        schema = spark.read.parquet(tmp).schema
        stream = spark.readStream.schema(schema).parquet(tmp)
        windowed = windowed_event_counts(
            spark, stream, window="1 hour", watermark="2 hours"
        )
        got = run_to_completion(windowed, "ev_win")
        expected = (
            events.groupBy(
                F.date_trunc("hour", "ts").alias("window_start"), "event_type"
            )
            .agg(F.count("*").alias("n_events"))
        )
        g = {
            (r["window_start"], r["event_type"], r["n_events"])
            for r in got.collect()
        }
        e = {
            (r["window_start"], r["event_type"], r["n_events"])
            for r in expected.collect()
        }
        assert g == e and len(g) > 100
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_sliding_window_runs(spark):
    events = load_table(spark, SF_DIR, "events")
    tmp = tempfile.mkdtemp(prefix="ev_slide_")
    try:
        events.write.mode("overwrite").parquet(tmp)
        schema = spark.read.parquet(tmp).schema
        stream = spark.readStream.schema(schema).parquet(tmp)
        windowed = windowed_event_counts(
            spark, stream, window="2 hours", slide="1 hour", watermark="4 hours"
        )
        got = run_to_completion(windowed, "ev_slide")
        # each event lands in exactly 2 sliding windows
        total = got.agg(F.sum("n_events")).collect()[0][0]
        assert total == 2 * events.count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stateful_running_profile_matches_batch(spark):
    """applyInPandasWithState across multiple micro-batches must end
    at the same totals as the batch aggregate (final state parity)."""
    from mapreduceece563_spark.streaming.stateful import running_user_profile

    events = load_table(spark, SF_DIR, "events")
    tmp = tempfile.mkdtemp(prefix="ev_state_")
    try:
        # 4 files -> maxFilesPerTrigger=1 forces 4 micro-batches, so
        # state genuinely carries across batches
        events.repartition(4).write.mode("overwrite").parquet(tmp)
        schema = spark.read.parquet(tmp).schema
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(tmp)
        q = (
            running_user_profile(stream)
            .writeStream.format("memory")
            .queryName("user_profile")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # update mode emits one row per key per touching batch; the
        # LAST emission per key is the final state
        got_df = spark.sql(
            """
            SELECT user_id, n_events, value_sum FROM (
              SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY n_events DESC) AS rn
              FROM user_profile
            ) WHERE rn = 1
            """
        )
        expected = events.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 100, 0).cast("long")) / 100.0
            ).alias("value_sum"),
        )
        g = {(r[0], r[1], r[2]) for r in got_df.collect()}
        e = {(r[0], r[1], r[2]) for r in expected.collect()}
        assert g == e and len(g) == events.select("user_id").distinct().count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_session_window_matches_batch(spark):
    """Native session_window running INCREMENTALLY over a stream must
    produce the same closed sessions as the batch expression."""
    from mapreduceece563_spark.operators.sessions import session_window_counts
    from tests.conftest import SF_DIR as _SF

    events = load_table(spark, _SF, "events").select("user_id", "ts")
    tmp = tempfile.mkdtemp(prefix="ev_sess_stream_")
    try:
        events.repartition(4).write.mode("overwrite").parquet(tmp)
        schema = spark.read.parquet(tmp).schema
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(tmp)
        # files arrive in arbitrary order, so the watermark must cover
        # the full data span or "late" events get dropped and split
        # sessions appear; real pipelines have in-order arrival and a
        # tight watermark
        agg = (
            stream.withWatermark("ts", "35 days")
            .groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count("*").alias("n_events"))
            .select(
                "user_id",
                F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "n_events",
            )
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("sess_stream")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {tuple(r) for r in spark.table("sess_stream").collect()}
        want = {tuple(r) for r in session_window_counts(spark, _SF).collect()}
        assert got == want and len(got) > 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_foreach_batch_idempotent_upsert(spark):
    """Update-mode wordcount through a foreachBatch parquet upsert —
    the production sink shape for unbounded running state (never
    'complete' mode at scale). The sink keyed by word overwrites
    per-batch deltas; final table must equal the batch answer."""
    docs = load_table(spark, SF_DIR, "documents").select("text")
    src = tempfile.mkdtemp(prefix="wc_fb_src_")
    out = tempfile.mkdtemp(prefix="wc_fb_out_")
    state: dict[str, int] = {}
    try:
        docs.repartition(4).write.mode("overwrite").text(src)
        counts = streaming_wordcount(spark, src)

        def upsert(batch_df, batch_id):
            for r in batch_df.collect():  # test-sized; real sinks write per-partition
                state[r["word"]] = r["cnt"]

        q = (
            counts.writeStream.outputMode("update")
            .foreachBatch(upsert)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        batch = (
            tokenize_lines(
                spark.read.text(src).withColumnRenamed("value", "text")
            )
            .groupBy("word")
            .agg(F.count("*").alias("cnt"))
        )
        want = {(r["word"], r["cnt"]) for r in batch.collect()}
        assert set(state.items()) == want and len(want) > 0
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


def test_stream_stream_interval_join(spark):
    """Stream-stream inner join with an event-time interval condition
    (purchase -> same-user events within the following hour), checked
    against the batch range join. Both sides carry watermarks so the
    join state is bounded — the streaming form of the hour-bucket
    range join in operators/temporal.py."""
    events = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    tmp = tempfile.mkdtemp(prefix="ev_ssj_")
    try:
        events.write.mode("overwrite").parquet(tmp)
        schema = spark.read.parquet(tmp).schema

        def src():
            return spark.readStream.schema(schema).parquet(tmp)

        purchases = src().filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        ).withWatermark("p_ts", "35 days")
        others = src().select(
            F.col("event_id").alias("other_id"),
            F.col("user_id").alias("o_user"),
            F.col("ts").alias("o_ts"),
        ).withWatermark("o_ts", "35 days")
        joined = purchases.join(
            others,
            (F.col("p_user") == F.col("o_user"))
            & (F.col("o_ts") > F.col("p_ts"))
            & (F.col("o_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR")),
        ).select("purchase_id", "other_id")
        q = (
            joined.writeStream.format("memory")
            .queryName("ssj")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {tuple(r) for r in spark.table("ssj").collect()}

        p = events.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        o = events.select(
            F.col("event_id").alias("other_id"),
            F.col("user_id").alias("o_user"),
            F.col("ts").alias("o_ts"),
        )
        want = {
            tuple(r)
            for r in p.join(
                o,
                (F.col("p_user") == F.col("o_user"))
                & (F.col("o_ts") > F.col("p_ts"))
                & (F.col("o_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR")),
            ).select("purchase_id", "other_id").collect()
        }
        assert got == want and len(got) > 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_events_hourly_matches_batch(spark):
    """The windowed streaming hard-signal entry: a real update-mode
    readStream run with last-writer-wins merge must equal the batch
    tumbling-hour aggregation (including the int64-cents value sums)."""
    from mapreduceece563_spark.operators.relational import events_hourly
    from mapreduceece563_spark.streaming.windowed_stream import (
        streaming_events_hourly,
    )

    got = {
        (r["hour"], r["event_type"], r["n_events"], round(r["value_sum"], 6))
        for r in streaming_events_hourly(spark, SF_DIR).collect()
    }
    want = {
        (r["hour"], r["event_type"], r["n_events"], round(r["value_sum"], 6))
        for r in events_hourly(spark, SF_DIR).collect()
    }
    assert got == want and len(got) > 0


def test_write_replay_stamps_increasing_mtimes_in_order(spark, tmp_path):
    """Each frame becomes one part file whose mtime is strictly later
    than the previous frame's, in the order given (not lexical or
    value order), so the file source replays the frames in order."""
    dest = str(tmp_path / "replay")
    order = [3, 1, 2]
    write_replay(
        dest, [spark.range(k, k + 1).withColumnRenamed("id", "k") for k in order]
    )
    files = sorted(
        (os.stat(p).st_mtime, p)
        for p in (os.path.join(dest, f) for f in os.listdir(dest))
        if p.endswith(".parquet")
    )
    mtimes = [m for m, _ in files]
    assert len(files) == 3 and mtimes == sorted(set(mtimes))
    assert [pq.read_table(p)["k"].to_pylist() for _, p in files] == [
        [k] for k in order
    ]


def test_write_replay_refuses_non_empty_dest(tmp_path):
    """A fixture dir that already holds files would interleave a
    second generation with the first's mtimes: refuse it."""
    (tmp_path / "old.parquet").write_text("x")
    with pytest.raises(FileExistsError):
        write_replay(str(tmp_path), [])


def test_read_emissions_on_never_written_sink(spark, tmp_path):
    """An availableNow drain of an empty source fires no micro-batch;
    its sink still reads back as zero rows of the shaped schema plus
    batch_id."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    stream = spark.readStream.schema("word STRING").parquet(src)
    q, _, sink = start_batches(
        stream,
        str(tmp_path),
        str(tmp_path / "sink"),
        mode="append",
        shape=lambda b: b.groupBy("word").agg(F.count("*").alias("cnt")),
    )
    q.awaitTermination()
    got = read_emissions(spark, sink)
    assert got.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in got.schema] == [
        ("word", "string"),
        ("cnt", "bigint"),
        ("batch_id", "bigint"),
    ]
