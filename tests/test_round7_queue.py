"""Round-7 QUEUE operators — implemented and oracle-checked ahead of
registration (the round-6 freeze arithmetic left zero registry slots;
see coverage_highwater.json). Each test drives the operator against
its DuckDB oracle exactly the way the driver will once the entry is
registered, plus the semantic pin the oracle compare cannot see.

Threshold note for allpairs_prefix_filter: tau is 0.9, not the
textbook 0.6, because the synthetic corpus is template-generated and
extremely self-similar — at sf0.001 over half of ALL doc pairs clear
unigram cosine 0.6 (histogram: ~72.8k of ~125k pairs), which would
make the "similarity join avoids the cross product" demonstration
vacuous. The operator runs in 3-word-shingle TF-IDF space for the
same reason (the unigram space is 31-dimensional here and defeats
prefix pruning outright — measured numbers in
operators/ngrams.py::_shingle_tf_stage)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR, assert_frames_match


def test_cmsketch_matches_oracle_and_never_undercounts(spark, duck):
    from mapreduceece563_spark.operators import skew as sk

    sdf = sk.cmsketch_heavy_hitters(spark, SF_DIR)
    assert_frames_match(
        sdf, duck.execute(sk._cm_sql()), ctx="cmsketch_heavy_hitters"
    )
    rows = sdf.collect()
    assert len(rows) == 10
    # the count-min invariant: estimates never undercount
    assert all(r["overcount"] >= 0 for r in rows)
    assert all(r["cm_estimate"] >= r["n_exact"] for r in rows)


def test_bloom_join_prune_matches_oracle_no_false_negatives(spark, duck):
    from mapreduceece563_spark.operators import skew as sk

    sdf = sk.bloom_join_prune(spark, SF_DIR)
    assert_frames_match(
        sdf, duck.execute(sk._bloom_sql()), ctx="bloom_join_prune"
    )
    row = sdf.collect()[0]
    # a Bloom filter may pass extra rows but can never drop a match
    assert row["no_false_negatives"] is True
    assert row["n_bloom_pass"] >= row["n_true_match"]
    assert (
        row["n_false_positive"] == row["n_bloom_pass"] - row["n_true_match"]
    )


def test_ivm_refresh_equals_full_recompute(spark, duck):
    from mapreduceece563_spark.operators import mining as mn

    sdf = mn.ivm_incremental_agg(spark, SF_DIR)
    assert_frames_match(
        sdf, duck.execute(mn.IVM_INCREMENTAL_SQL), ctx="ivm_incremental_agg"
    )
    # the second refresh must reuse the materialized base view, not
    # rebuild it (the memo is the "stored view" the refresh maintains)
    first_path = mn._ivm_base_view(spark, SF_DIR)
    mn.ivm_incremental_agg(spark, SF_DIR)
    assert mn._ivm_base_view(spark, SF_DIR) == first_path


def test_session_concurrency_matches_oracle_and_invariants(spark, duck):
    from mapreduceece563_spark.operators import sessions as ss

    sdf = ss.session_concurrency_peak(spark, SF_DIR)
    assert_frames_match(
        sdf,
        duck.execute(ss.SESSION_CONCURRENCY_SQL),
        ctx="session_concurrency_peak",
    )
    rows = sdf.collect()
    assert rows, "no days"
    # peak can never be below the day-start concurrency
    assert all(r["peak_concurrency"] >= r["carry_in"] for r in rows)
    # every session that starts also ends (somewhere): global balance
    tot = sdf.agg(
        F.sum("n_starts").alias("s"), F.sum("n_ends").alias("e")
    ).collect()[0]
    assert tot["s"] == tot["e"]


def test_pps_sample_matches_oracle_one_doc_per_slot(spark, duck):
    from mapreduceece563_spark.operators import trainprep as tp

    sdf = tp.pps_systematic_sample(spark, SF_DIR)
    assert_frames_match(
        sdf, duck.execute(tp.PPS_SYSTEMATIC_SQL), ctx="pps_systematic_sample"
    )
    # each (lang, sample position) is covered by EXACTLY one document:
    # positions are midpoints of equal weight slices and the cumulative
    # intervals partition [0, W)
    n_langs = sdf.select("lang").distinct().count()
    assert sdf.count() == n_langs * tp.PPS_SAMPLES_PER_LANG
    assert (
        sdf.groupBy("lang", "sample_idx").count().filter("count != 1").count()
        == 0
    )


def test_allpairs_prefix_filter_is_exact(spark, duck):
    """The whole point: prefix-filtered candidates + verify equals the
    brute-force similarity join — no false negatives (a dropped pair
    would fail the frame compare)."""
    from mapreduceece563_spark.operators import ngrams as ng

    sql = ng.ALLPAIRS_PREFIX_SQL.format(words_cte=ng._words_cte().lstrip())
    sdf = ng.allpairs_prefix_filter(spark, SF_DIR)
    assert_frames_match(sdf, duck.execute(sql), ctx="allpairs_prefix_filter")
    # and the threshold is honest: every surviving pair clears tau
    assert sdf.filter(F.col("cosine") < 0.9).count() == 0


def test_bfs_hop_distance_matches_recursive_cte(spark, duck):
    """The frontier loop's fixpoint equals DuckDB's recursive-CTE
    min-dist evaluation — a genuinely different strategy for the same
    definition. Plus the BFS invariants the compare can't see."""
    from mapreduceece563_spark.operators import graph as gp

    sdf = gp.bfs_hop_distance(spark, SF_DIR)
    assert_frames_match(sdf, duck.execute(gp.BFS_HOP_SQL), ctx="bfs_hop")
    rows = {r["dist"]: r for r in sdf.collect()}
    assert rows[0]["n_parts"] == 1  # the seed alone at distance 0
    # distances are contiguous from 0 (an empty frontier ends the walk)
    assert sorted(rows) == list(range(len(rows)))
    assert all(r["n_parts"] >= 1 for r in rows.values())


def test_phrase_search_matches_oracle_and_counts_real_adjacency(
    spark, duck
):
    from mapreduceece563_spark.operators import graph as gp
    from mapreduceece563_spark.operators import ngrams as ng

    sdf = gp.phrase_search(spark, SF_DIR)
    sql = gp.PHRASE_SEARCH_SQL.format(words_cte=ng._words_cte().lstrip())
    assert_frames_match(sdf, duck.execute(sql), ctx="phrase_search")
    rows = sdf.collect()
    assert rows, "top bigram must occur somewhere"
    assert all(r["n_occurrences"] >= 1 for r in rows)
    # one phrase, one row per matching doc
    assert len({r["phrase"] for r in rows}) == 1
    assert len({r["doc_id"] for r in rows}) == len(rows)


def test_weighted_median_matches_oracle_and_mass_invariant(spark, duck):
    from pyspark.sql import functions as SF

    from mapreduceece563_spark.operators import analytics as an
    from mapreduceece563_spark.sources.catalog import load_table

    sdf = an.weighted_median_by_segment(spark, SF_DIR)
    assert_frames_match(
        sdf, duck.execute(an.WEIGHTED_MEDIAN_SQL), ctx="weighted_median"
    )
    # independent mass check: for each segment, the weight at or
    # below the reported median reaches half the total
    med = {r["segment"]: r for r in sdf.collect()}
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey",
        SF.round(SF.col("o_totalprice") * 100, 0).cast("long").alias("c"),
    )
    cust = load_table(spark, SF_DIR, "customer")
    wts = (
        load_table(spark, SF_DIR, "lineitem")
        .groupBy("l_orderkey").agg(SF.count("*").alias("w"))
    )
    base = orders.join(
        wts, orders["o_orderkey"] == wts["l_orderkey"]
    ).join(cust, orders["o_custkey"] == cust["c_custkey"])
    for seg, r in med.items():
        below = (
            base.filter(
                (SF.col("c_mktsegment") == seg)
                & (SF.col("c") <= r["w_median_cents"])
            ).agg(SF.sum("w")).collect()[0][0]
        )
        assert 2 * below >= r["total_weight"]


def test_benford_audit_matches_oracle_and_shares_sum(spark, duck):
    from mapreduceece563_spark.operators import analytics as an

    sdf = an.benford_digit_audit(spark, SF_DIR)
    assert_frames_match(sdf, duck.execute(an.BENFORD_SQL), ctx="benford")
    rows = sdf.collect()
    assert len(rows) == 9 and sorted(r["digit"] for r in rows) == list(
        range(1, 10)
    )
    # floor-divided shares sum to at most one million and lose at
    # most 8 ppm of rounding mass
    s = sum(r["obs_ppm"] for r in rows)
    assert 1_000_000 - 8 <= s <= 1_000_000
    # the Benford expectation itself is a distribution (ppm)
    assert sum(r["expected_ppm"] for r in rows) == 1_000_000


def test_streaming_static_enrichment_matches_batch_oracle(
    spark, duck, fresh_round7_pool
):
    """The drained stream-static broadcast join + update-mode segment
    aggregate equals the batch join — the stateless streaming-join
    shape (no watermark, no join state). Every event's user exists in
    customer, so the enriched totals must cover the whole table."""
    from pyspark.sql import functions as SF

    from mapreduceece563_spark.sources.catalog import load_table
    from mapreduceece563_spark.streaming import enrich_stream as es

    sdf = es.streaming_static_enrichment(spark, SF_DIR)
    assert_frames_match(
        sdf, duck.execute(es.STREAMING_ENRICH_SQL), ctx="stream_enrich"
    )
    total = sdf.agg(SF.sum("n_events")).collect()[0][0]
    n_events = load_table(spark, SF_DIR, "events").count()
    assert total == n_events
