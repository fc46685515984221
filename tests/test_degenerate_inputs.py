"""Degenerate-input regressions from the round-12 adversarial-vintage
audits (tools/fuzz_vintage.py values, rel): data shapes the
committed fixtures never produce but real feeds can. Each pin is a
crash-vs-NULL hazard where Spark's ANSI arithmetic raised while the
DuckDB oracle quietly returned NULL — the fix makes the NULL explicit
on BOTH engines.
(The zero-token-source mixture pins live in test_trainprep.py.)"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from tests.conftest import SF_DIR, assert_frames_match


def test_q2_zero_quantity_lines_null_unit_cost(spark, tmp_path):
    """A zero-quantity lineitem row has no defined unit cost: it must
    contribute NULL (skipped by min) on both engines instead of a
    DIVIDE_BY_ZERO, and the rest of the q2 result must be unchanged
    by its presence."""
    from mapreduceece563_spark.operators import relational as rel
    from mapreduceece563_spark.sources.catalog import TABLES

    d = tmp_path / "zq_sf"
    d.mkdir()
    for t in TABLES:
        if t == "lineitem":
            continue
        pq.write_table(
            pq.read_table(f"{SF_DIR}/{t}.parquet"), str(d / f"{t}.parquet")
        )
    li = pq.read_table(f"{SF_DIR}/lineitem.parquet").to_pandas()
    li.loc[li.index[: len(li) // 5], "l_quantity"] = 0
    li.to_parquet(str(d / "lineitem.parquet"))

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    assert_frames_match(
        rel.q2_min_cost_supplier(spark, str(d)),
        con.execute(rel.Q2_SQL),
        ctx="zero-quantity:q2_min_cost_supplier",
    )
