"""Round-6 operator semantics that the registry-wide oracle compare
cannot see: foreachBatch MERGE idempotency and the IVF tuning
curve's monotonicity."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_upsert_merge_batch_is_idempotent(spark, tmp_path):
    """Replaying an already-committed batch id must be a no-op: the
    additive counters would double without the committed-batch gate."""
    from mapreduceece563_spark.streaming.upsert_stream import (
        _merge_batch,
        _read_target,
    )

    root = str(tmp_path / "target")
    os.makedirs(root, exist_ok=True)
    batch = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", "view", 1.50),
            (1, "2024-01-01 01:00:00", "purchase", 2.25),
            (2, "2024-01-01 02:00:00", "view", 4.00),
        ],
        "user_id BIGINT, ts STRING, event_type STRING, value DOUBLE",
    ).select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        "value",
    )
    _merge_batch(spark, root, batch, 0)
    first = {
        r["user_id"]: (r["n_events"], r["value_cents"], r["last_type"])
        for r in _read_target(spark, root).collect()
    }
    assert first[1] == (2, 375, "purchase")
    assert first[2] == (1, 400, "view")
    # replay the same batch id: must be skipped entirely
    _merge_batch(spark, root, batch, 0)
    again = {
        r["user_id"]: (r["n_events"], r["value_cents"], r["last_type"])
        for r in _read_target(spark, root).collect()
    }
    assert again == first
    # the NEXT batch id merges additively
    _merge_batch(spark, root, batch, 1)
    merged = {
        r["user_id"]: r["n_events"]
        for r in _read_target(spark, root).collect()
    }
    assert merged == {1: 4, 2: 2}


def test_ivf_recall_monotone_in_nprobe(spark):
    """Probing more cells can only add candidates, so recall@k must be
    non-decreasing in nprobe (and within [0, 1])."""
    from mapreduceece563_spark.operators.similarity import (
        ivf_recall_tuning,
    )

    rows = sorted(
        ivf_recall_tuning(spark, SF_DIR).collect(),
        key=lambda r: r["nprobe"],
    )
    recalls = [r["recall_at_k"] for r in rows]
    assert all(0.0 <= r <= 1.0 for r in recalls)
    assert recalls == sorted(recalls)
