"""The adversarial-vintage tool (tools/fuzz_vintage.py) writes each
vintage without Spark: every table present with the source's schema,
the vintage's signature shape planted, and foreign keys still valid
where the vintage rewrites keys."""

from __future__ import annotations

import unicodedata

import pyarrow.parquet as pq
import pytest

from mapreduceece563_spark.sources.catalog import TABLES
from tests.conftest import SF_DIR
from tools import fuzz_vintage


def _has_nfd(text) -> bool:
    return isinstance(text, str) and any(map(unicodedata.combining, text))


SIGNATURES = {
    "values": lambda t: (
        (t["documents"]["text"] == "").any()
        and (t["events"]["value"] == 1.005).any()
    ),
    # the source already repeats some (l_orderkey, l_linenumber)
    # pairs; the vintage clones whole rows, which the source never does
    "rel": lambda t: t["lineitem"].duplicated().any(),
    "skew": lambda t: (
        t["events"]["user_id"].value_counts().iloc[0] * 2
        >= len(t["events"])
    ),
    "unicode": lambda t: (
        t["documents"]["text"].map(lambda s: not s.isascii()).any()
        and t["documents"]["text"].map(_has_nfd).any()
    ),
    "null": lambda t: (
        t["documents"]["text"].isna().any()
        and t["documents"]["lang"].isna().any()
        and t["events"]["value"].isna().any()
    ),
}


@pytest.mark.parametrize("vintage", sorted(fuzz_vintage.VINTAGES))
def test_vintage_keeps_schema_and_plants_its_shape(vintage, tmp_path):
    fuzz_vintage.write_vintage(vintage, SF_DIR, str(tmp_path))
    tables = {}
    for name in TABLES:
        written = pq.read_table(tmp_path / f"{name}.parquet")
        source = pq.read_schema(f"{SF_DIR}/{name}.parquet")
        assert written.schema.names == source.names, name
        assert written.schema.types == source.types, name
        tables[name] = written.to_pandas()

    assert SIGNATURES[vintage](tables)
    if vintage in ("rel", "skew"):
        assert tables["orders"]["o_custkey"].isin(
            tables["customer"]["c_custkey"]
        ).all()
        assert tables["lineitem"]["l_orderkey"].isin(
            tables["orders"]["o_orderkey"]
        ).all()
