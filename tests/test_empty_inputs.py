"""Zero-row robustness: a representative slice of the registry must
run — and still agree with its DuckDB oracle — when every table is
EMPTY. This exercises exactly the paths the fixture data never does:
sum-over-nothing NULLs, 0/0 ratio guards (lsh_precision/recall),
empty-candidate joins, sequence() over NULL min/max bounds.

The slice spans one operator per family shape (agg, window, self-join,
broadcast-scalar ratio, spine generation, full outer); running the
whole registry against empty tables would mostly re-test the same
guards.
"""

from __future__ import annotations

import duckdb
import pyarrow.parquet as pq
import pytest

from mapreduceece563_spark import registry
from mapreduceece563_spark.sources.catalog import TABLES
from tests.conftest import SF_DIR, assert_frames_match

CASES = [
    "wordcount",
    "dedup_exact_stats",
    "lsh_precision",
    "lsh_recall",
    "events_heavy_hitters",
    "events_value_outliers",
    "daily_gap_fill",
    "rolling_7d_revenue",
    "global_doc_ids",
    "sentence_stats",
    "order_lineitem_reconciliation",
    # ADVICE r3: availableNow may finish with zero foreachBatch calls
    # on an empty source — the partials fallback path.
    "streaming_dedup",
    # ADVICE r3: all-empty-text sources must be REPORTED with zero
    # output, not dropped (exercised properly by the fixture test
    # below; the empty-table run here pins the all-NULL factor path).
    "token_balanced_mixture",
    # round 8: sequence()+islands windows over an empty doc set, and
    # the band CASE classifying zero rows (the queue ops' empty-table
    # behavior is pinned in tests/test_round9_queue.py until they are
    # registered)
    "substring_dup_spans",
    "orders_price_band",
    # round 9: the AUC histogram windows over zero (lang, score) rows,
    # and RRF's full-outer fusion of two EMPTY candidate rankings
    # (which also exercises the BM25 CTE chain's NULL avgdl path on a
    # zero-doc corpus)
    "roc_auc_by_lang",
    "rrf_rank_fusion",
    # one streaming entry per drain read-back form over a sink no
    # micro-batch reached: summed partials, last emission, sentinel
    # filter, and a full join onto the reference histogram
    "streaming_wordcount",
    "streaming_events_hourly",
    "streaming_session_windows",
    "streaming_psi_monitor",
]


@pytest.fixture(scope="module")
def empty_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        schema = pq.read_schema(f"{SF_DIR}/{t}.parquet")
        pq.write_table(schema.empty_table(), str(d / f"{t}.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def empty_duck(empty_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{empty_dir}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", CASES)
def test_query_on_empty_tables_matches_oracle(name, spark, empty_dir, empty_duck):
    sdf = registry.queries()[name](spark, empty_dir)
    rel = empty_duck.execute(registry.oracle_sql()[name])
    assert_frames_match(sdf, rel, ctx=f"empty:{name}")
