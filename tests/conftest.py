from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduceece563_spark.session import get_spark
from mapreduceece563_spark.sources.catalog import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("mapreduceece563_spark-tests", cpus=8, shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="module")
def fresh_round7_pool():
    """Forget the round-7 pool's drain once per requesting module: the
    module's first pool member re-drains, the others read that drain's
    sinks, and no other drain is forgotten."""
    from mapreduceece563_spark.cachemgr import forget
    from mapreduceece563_spark.streaming import shared_drain

    forget(shared_drain.drain_round7_streams)


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS "
            f"SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()


def _canon(v):
    """Canonicalize a cell to a sortable, TYPE-STRICT string.

    The driver fetches both engines' results through Arrow, where a
    DuckDB HUGEINT (e.g. un-cast ``sum(bigint)``) surfaces as
    decimal128 -> Python Decimal, NOT int — so an oracle whose sum is
    not wrapped in CAST(... AS BIGINT) hash-mismatches even when the
    numeric value is equal.  Mirror that here: Decimal, int, and float
    each canonicalize with a distinct prefix so the local suite fails
    exactly where the driver would (VERDICT r1 defect #2).
    """
    import datetime
    import decimal
    import math

    if v is None:
        return "\x00null"
    if isinstance(v, bool):
        return f"b:{v!r}"
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{round(v, 9)!r}"
    if isinstance(v, int):
        return f"i:{v!r}"
    if isinstance(v, datetime.datetime):
        return f"t:{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "l:" + ",".join(str(_canon(x)) for x in v)
    return f"{type(v).__name__[0]}:{v!r}"


def assert_frames_match(spark_df, duck_rel, ctx=""):
    """Mimic the driver's t2 compare: column names (sorted), row count,
    and order-insensitive multiset of values.  The oracle side is
    fetched THROUGH ARROW (like the driver), not fetchall(): the native
    fetchall() path collapses HUGEINT to Python int and masks integer-
    width divergence."""
    scols = sorted(spark_df.columns)

    atable = duck_rel.fetch_arrow_table()
    dcols = sorted(atable.column_names)
    assert scols == dcols, f"{ctx}: columns differ: spark={scols} duck={dcols}"

    srows = spark_df.collect()
    dcolumns = [atable.column(c).to_pylist() for c in dcols]
    n_drows = atable.num_rows
    assert len(srows) == n_drows, (
        f"{ctx}: row count differs: spark={len(srows)} duck={n_drows}"
    )

    sidx = [spark_df.columns.index(c) for c in scols]
    sset = sorted(
        tuple(_canon(r[i]) for i in sidx) for r in srows
    )
    dset = sorted(
        tuple(_canon(col[j]) for col in dcolumns) for j in range(n_drows)
    )
    for i, (a, b) in enumerate(zip(sset, dset)):
        assert a == b, f"{ctx}: first row mismatch at {i}: spark={a} duck={b}"


def pytest_terminal_summary(terminalreporter):
    """Report the 15 slowest test modules by summed call time (setup
    and teardown excluded), so the suite's time budget shows which
    modules dominate. Reporting only: no test is skipped or reordered."""
    totals: dict[str, float] = {}
    for reports in terminalreporter.stats.values():
        for rep in reports:
            if getattr(rep, "when", None) == "call":
                module = rep.nodeid.split("::", 1)[0]
                totals[module] = totals.get(module, 0.0) + rep.duration
    if not totals:
        return
    terminalreporter.write_sep("=", "15 slowest modules (summed call time)")
    for module, secs in sorted(totals.items(), key=lambda kv: -kv[1])[:15]:
        terminalreporter.write_line(f"{secs:9.1f}s  {module}")
