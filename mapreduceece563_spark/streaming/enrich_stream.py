"""Stream-STATIC broadcast enrichment — the one streaming JOIN shape
not yet covered (join_stream is stream-stream; upsert_stream's merge
joins the sink target, not a dimension).

Enriching a fact stream with a slowly-changing dimension is the
canonical production streaming join: the dimension (customer market
segment) is a bounded batch DataFrame joined into every micro-batch
with a BROADCAST hash join — stateless, no watermark, no join state
store, because only the stream side is unbounded. That statelessness
is the point of the shape: a stream-static join never accumulates
state, so it scales with the micro-batch, not the stream history.
The update-mode segment aggregate downstream then carries exact
int64 cents so the drained result is bit-identical to the batch
oracle (same last-writer-wins batch_id merge as
streaming_events_hourly).

Scale posture (100 TB): the dimension is re-read per micro-batch by
Structured Streaming's contract (picking up dimension updates); at
cluster scale it stays a broadcast as long as the dim fits (segment
dims do), and the fallback is the bucketed shuffle join. The stream
side shuffles once, keyed by the 5-value segment — the aggregate
state is segment-cardinality-bounded forever.

Queue status: round-7 queue (implemented + oracle-tested ahead of
registration; see SURVEY.md "Round-7 queue").
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.relational import _cents
from ..sources.catalog import load_table
from .wordcount_stream import (
    _fresh_workdir,
    event_chunks,
    last_emission,
    read_emissions,
    start_batches,
)


def _start_enrich(spark: SparkSession, sf_dir: str):
    """Start the enrichment query over the shared events chunk layout
    (the shared_drain.drain start contract; the round-7 pool starts
    it together with its siblings)."""
    work = _fresh_workdir("enrich", sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    stream = (
        spark.readStream.schema("user_id BIGINT, value DOUBLE")
        .option("maxFilesPerTrigger", 4)
        .parquet(event_chunks(spark, sf_dir))
    )
    enriched = stream.join(
        F.broadcast(dim), stream["user_id"] == dim["c_custkey"]
    )
    agg = enriched.groupBy(
        F.col("c_mktsegment").alias("segment")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(_cents(F.col("value"))).alias("value_cents"),
    )
    return start_batches(agg, work, os.path.join(work, "updates"))


def streaming_static_enrichment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .shared_drain import drain_round7_streams

    updates_dir = drain_round7_streams(spark, sf_dir)["enrich"]
    return last_emission(read_emissions(spark, updates_dir), ["segment"])


STREAMING_ENRICH_SQL = """
SELECT c.c_mktsegment AS segment,
       count(*) AS n_events,
       CAST(sum(CAST(round(e.value * 100, 0) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
"""
