"""Round-7 operator pins beyond the oracle compare.

The driver's hash check proves Spark == DuckDB; these tests pin the
properties the compare cannot see (scale fences, invariants).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_semdedup_subcell_sizes_are_capped(spark):
    """VERDICT r6: the pair join's cell fence must be a hard bound,
    not a fixed K. Every (cid, salt) sub-cell must hold at most
    ~CAP members (2x headroom for hash unevenness), every cell over
    the cap must actually be split, and cells at or under the cap
    must keep a single salt (unchanged semantics)."""
    from mapreduceece563_spark.operators import clustering as cl

    members = cl._semdedup_members(spark, SF_DIR)
    cap = cl.SEMDEDUP_CELL_CAP

    cells = members.groupBy("cid").agg(
        F.count("*").alias("n"),
        F.countDistinct("salt").alias("n_salts_seen"),
        F.max("n_salts").alias("n_salts_planned"),
    )
    for r in cells.collect():
        import math

        planned = math.ceil(r["n"] / cap)
        assert r["n_salts_planned"] == planned, (
            f"cell {r['cid']}: planned {r['n_salts_planned']} salts "
            f"for {r['n']} members, expected {planned}"
        )
        if r["n"] <= cap:
            assert r["n_salts_seen"] == 1

    sub = members.groupBy("cid", "salt").agg(F.count("*").alias("n"))
    max_sub = sub.agg(F.max("n")).collect()[0][0]
    assert max_sub <= 2 * cap, (
        f"a sub-cell holds {max_sub} members; the pair join is only "
        f"bounded if sub-cells stay near the {cap} cap"
    )
    # the split must actually engage at test scale, or this test
    # pins nothing
    n_split = cells.filter(F.col("n") > cap).count()
    assert n_split >= 1, "no cell exceeded the cap; lower the cap"


def test_minhash_incremental_matches_oracle_and_index_is_consistent(
    spark, duck
):
    """The incremental probe must agree with the oracle AND with the
    full-corpus banding: a new doc flagged dup_vs_index must appear in
    dedup_minhash's full pair set with an old partner (no false
    positives vs the batch-at-once run)."""
    from tests.conftest import assert_frames_match

    from mapreduceece563_spark.operators import dedup as dd

    sdf = dd.minhash_incremental_novelty(spark, SF_DIR)
    assert_frames_match(
        sdf,
        duck.execute(dd.MINHASH_INCREMENTAL_SQL),
        ctx="minhash_incremental_novelty",
    )
    rows = {r["doc_id"]: r for r in sdf.collect()}
    full = dd.dedup_minhash(spark, SF_DIR).collect()
    cutoff = min(rows)  # batch is the contiguous upper id range
    vs_index_full = {
        p["doc_b"] for p in full if p["doc_a"] < cutoff and p["doc_b"] in rows
    }
    flagged = {d for d, r in rows.items() if r["dup_vs_index"]}
    assert flagged == vs_index_full
    in_batch_full = {
        p["doc_b"] for p in full if p["doc_a"] >= cutoff and p["doc_b"] in rows
    }
    assert {d for d, r in rows.items() if r["dup_in_batch"]} == in_batch_full


def test_merge_compaction_roundtrip_matches_oracle_and_files(spark, duck):
    """The one-row stats must match the oracle, the measured file
    counts must equal the bucket arithmetic (one file per bucket in
    both layouts), and compaction must actually shrink the file
    population."""
    from tests.conftest import assert_frames_match

    from mapreduceece563_spark.operators import storage as stg

    sdf = stg.merge_compaction_roundtrip(spark, SF_DIR)
    assert_frames_match(
        sdf,
        duck.execute(stg.MERGE_COMPACTION_SQL),
        ctx="merge_compaction_roundtrip",
    )
    row = sdf.collect()[0]
    assert row["n_base_files"] == stg.MERGE_SMALL_BUCKETS
    assert row["n_final_files"] == stg.MERGE_COMPACT_BUCKETS
    assert row["n_rows"] > 0 and row["n_deleted"] > 0


def test_image_ahash_matches_oracle_and_is_brightness_invariant(
    spark, duck
):
    """Spark hashes REAL decoded PPM bytes; the oracle replays the
    pixel formula. Every near-dup group (same base pattern, three
    brightness offsets) must collapse to exactly one aHash — the
    perceptual-dedup property."""
    from tests.conftest import assert_frames_match

    from mapreduceece563_spark.operators import multimodal as mm

    sdf = mm.image_ahash_neardup(spark, SF_DIR)
    assert_frames_match(
        sdf, duck.execute(mm.IMAGE_AHASH_SQL), ctx="image_ahash_neardup"
    )
    rows = sdf.collect()
    assert rows
    assert all(r["n_hashes"] == 1 for r in rows), (
        "a brightness-shifted variant broke its group's hash"
    )
    assert all(1 <= r["n_images"] <= mm.AHASH_VARIANTS for r in rows)


def test_ks_drift_matches_oracle_and_scipy_semantics(spark, duck):
    """Oracle compare plus an independent per-type recomputation of
    the KS sup from raw collected values (numpy two-sample KS, exact
    integer algebra)."""
    import numpy as np

    from tests.conftest import assert_frames_match

    from mapreduceece563_spark.operators import analytics as an
    from mapreduceece563_spark.sources.catalog import load_table

    sdf = an.ks_drift_by_event_type(spark, SF_DIR)
    assert_frames_match(
        sdf, duck.execute(an.KS_DRIFT_SQL), ctx="ks_drift_by_event_type"
    )
    rows = {r["event_type"]: r for r in sdf.collect()}
    ev = (
        load_table(spark, SF_DIR, "events")
        .select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
            (F.col("ts") >= F.lit(an.KS_SPLIT).cast("timestamp")).alias(
                "is_b"
            ),
        )
        .collect()
    )
    for et, r in rows.items():
        a = np.sort([x["cents"] for x in ev if x["event_type"] == et and not x["is_b"]])
        b = np.sort([x["cents"] for x in ev if x["event_type"] == et and x["is_b"]])
        grid = np.unique(np.concatenate([a, b]))
        cum_a = np.searchsorted(a, grid, side="right")
        cum_b = np.searchsorted(b, grid, side="right")
        d = np.max(np.abs(cum_a * len(b) - cum_b * len(a)))
        assert r["n_a"] == len(a) and r["n_b"] == len(b)
        assert r["d_num"] == d, f"{et}: {r['d_num']} != {d}"


def test_pii_redaction_matches_oracle_and_injected_ground_truth(
    spark, duck
):
    """Oracle compare plus exact accounting against the injection
    rule: every doc_id % 3 == 0 doc carries exactly one email whose
    length we know in closed form; every doc_id % 5 == 0 doc exactly
    one phone match of 8 chars."""
    from tests.conftest import assert_frames_match

    from mapreduceece563_spark.operators import corpus as cp
    from mapreduceece563_spark.sources.catalog import load_table

    sdf = cp.pii_redaction_audit(spark, SF_DIR)
    assert_frames_match(
        sdf, duck.execute(cp.PII_REDACTION_SQL), ctx="pii_redaction_audit"
    )
    tot = sdf.agg(
        F.sum("n_email").alias("e"),
        F.sum("n_phone").alias("p"),
        F.sum("chars_redacted").alias("c"),
    ).collect()[0]
    ids = [
        r["doc_id"]
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id").collect()
    ]
    exp_email = sum(1 for i in ids if i % 3 == 0)
    exp_phone = sum(1 for i in ids if i % 5 == 0)
    # email match = 'user<id>@example.com' (16 + len(id) chars);
    # phone match = '555-0199' (8 chars)
    exp_chars = sum(
        16 + len(str(i)) for i in ids if i % 3 == 0
    ) + 8 * exp_phone
    assert tot["e"] == exp_email
    assert tot["p"] == exp_phone
    assert tot["c"] == exp_chars


def test_kmv_matches_oracle_and_estimates_are_sane(spark, duck):
    """Oracle pins the estimate bit-for-bit (portable hash). Sanity:
    with k=64 the standard error is ~1/sqrt(k-1) ≈ 12.6%; allow 4
    sigma. The union row must estimate the cross-type distinct count
    from merged sketches alone."""
    from tests.conftest import assert_frames_match

    from mapreduceece563_spark.operators import skew as sk

    sdf = sk.kmv_distinct_union(spark, SF_DIR)
    assert_frames_match(
        sdf, duck.execute(sk.KMV_DISTINCT_UNION_SQL), ctx="kmv_distinct"
    )
    rows = {r["scope"]: r for r in sdf.collect()}
    assert "__union__" in rows and len(rows) == 6
    for scope, r in rows.items():
        if r["n_exact"] >= sk.KMV_K:
            assert r["err_ppm"] <= 505_000, (
                f"{scope}: KMV off by {r['err_ppm']} ppm"
            )
        else:
            assert r["kmv_estimate"] == r["n_exact"]


def test_streaming_sliding_windows_matches_batch_oracle(spark, duck):
    """Drained sliding-window stream equals the arithmetic window
    assignment (each event in exactly two 4h/2h windows); total mass
    across windows is exactly 2x the event count."""
    from tests.conftest import assert_frames_match

    from mapreduceece563_spark.sources.catalog import load_table
    from mapreduceece563_spark.streaming import shared_drain
    from mapreduceece563_spark.streaming import windowed_stream as ws

    shared_drain.reset()
    sdf = ws.streaming_sliding_windows(spark, SF_DIR)
    assert_frames_match(
        sdf,
        duck.execute(ws.STREAMING_SLIDING_SQL),
        ctx="streaming_sliding_windows",
    )
    total = sdf.agg(F.sum("n_events")).collect()[0][0]
    n_events = load_table(spark, SF_DIR, "events").count()
    assert total == 2 * n_events


def test_hard_negative_mining_matches_oracle_and_labels_differ(
    spark, duck
):
    """Oracle compare plus the contrastive contract: every mined
    negative's language differs from its query's, ranks are 1..k
    per query, and cosines are non-increasing within a query."""
    from tests.conftest import assert_frames_match

    from mapreduceece563_spark.operators import similarity as sim
    from mapreduceece563_spark.sources.catalog import load_table

    sdf = sim.hard_negative_mining(spark, SF_DIR)
    assert_frames_match(
        sdf, duck.execute(sim.HARD_NEGATIVE_SQL), ctx="hard_negative_mining"
    )
    rows = sdf.collect()
    assert rows
    langs = {
        r["doc_id"]: r["lang"]
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", "lang").collect()
    }
    by_q: dict = {}
    for r in rows:
        assert langs[r["neg_id"]] != langs[r["query_id"]]
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["neg_rank"])
        assert [r["neg_rank"] for r in rs] == list(range(1, len(rs) + 1))
        cosines = [r["cosine"] for r in rs]
        assert cosines == sorted(cosines, reverse=True)


def test_merkle_block_sync_matches_oracle_and_prunes(spark, duck):
    """Oracle compare plus the pruning contract: every differing
    block is a planted-dirty block (blk % 16 == 0 holding a k % 7
    key), and the rescanned-row fraction is well under the whole
    table."""
    from tests.conftest import assert_frames_match

    from mapreduceece563_spark.operators import storage as stg
    from mapreduceece563_spark.sources.catalog import load_table

    sdf = stg.merkle_block_sync(spark, SF_DIR)
    assert_frames_match(
        sdf, duck.execute(stg.MERKLE_BLOCK_SYNC_SQL), ctx="merkle_block_sync"
    )
    rows = sdf.collect()
    assert rows, "no dirty blocks found"
    assert all(r["blk"] % stg.MERKLE_DIRTY_MOD == 0 for r in rows)
    assert all(r["n_changed_keys"] >= 1 for r in rows)
    rescanned = sum(r["old_rows"] for r in rows)
    total = load_table(spark, SF_DIR, "orders").count()
    assert rescanned * 4 < total, (
        f"merkle pruning saved too little: {rescanned}/{total}"
    )


def test_table_versions_diff_matches_oracle_and_snapshots_immutable(
    spark, duck
):
    """Time travel: v1 read AFTER v2 was written must still equal the
    pre-merge state; the deltas must reconcile with the merge op
    counts."""
    from tests.conftest import assert_frames_match

    from mapreduceece563_spark.operators import storage as stg

    sdf = stg.table_versions_diff(spark, SF_DIR)
    assert_frames_match(
        sdf, duck.execute(stg.TABLE_VERSIONS_SQL), ctx="table_versions_diff"
    )
    v = sdf.collect()[0]
    m = stg.merge_compaction_roundtrip(spark, SF_DIR).collect()[0]
    assert v["rows_delta"] == m["n_inserted"] - m["n_deleted"]
    assert v["v2_rows"] == m["n_rows"]
    assert v["v2_revenue_cents"] == m["revenue_cents"]


def test_zonemap_pruning_matches_oracle_and_skips(spark, duck):
    """The skipped answer must match the oracle (which also goes
    through the zone maps — both paths must equal a direct filter,
    checked here), and at least one block must actually be skipped."""
    from pyspark.sql import functions as SF

    from tests.conftest import assert_frames_match

    from mapreduceece563_spark.operators import storage as stg
    from mapreduceece563_spark.sources.catalog import load_table

    sdf = stg.zonemap_pruning_stats(spark, SF_DIR)
    assert_frames_match(
        sdf, duck.execute(stg.ZONEMAP_PRUNING_SQL), ctx="zonemap_pruning"
    )
    row = sdf.collect()[0]
    direct = (
        load_table(spark, SF_DIR, "orders")
        .filter(
            (SF.col("o_orderdate") >= SF.lit(stg.ZONEMAP_LO).cast("timestamp"))
            & (SF.col("o_orderdate") < SF.lit(stg.ZONEMAP_HI).cast("timestamp"))
        )
        .agg(
            SF.count("*").alias("n"),
            SF.sum(
                SF.round(SF.col("o_totalprice") * 100, 0).cast("long")
            ).alias("c"),
        )
        .collect()[0]
    )
    assert row["n_matching_rows"] == direct["n"]
    assert row["revenue_cents"] == (direct["c"] or 0)
    assert row["n_blocks_scanned"] <= row["n_blocks"]


def test_kmv_join_cardinality_matches_oracle_and_estimate_sane(
    spark, duck
):
    """The sketch-intersection estimate is oracle-pinned bit-for-bit;
    sanity: with k=128 the relative error should stay within ~4/sqrt(k)
    of the exact overlap whenever the overlap is a meaningful
    fraction of the union."""
    from tests.conftest import assert_frames_match

    from mapreduceece563_spark.operators import skew as sk

    sdf = sk.kmv_join_cardinality(spark, SF_DIR)
    assert_frames_match(
        sdf,
        duck.execute(sk.KMV_JOIN_CARDINALITY_SQL),
        ctx="kmv_join_cardinality",
    )
    r = sdf.collect()[0]
    assert 0 < r["n_intersect_exact"] < min(r["n_a"], r["n_b"]) + 1
    if r["n_a"] >= sk.KMV_JOIN_K and r["n_b"] >= sk.KMV_JOIN_K:
        assert r["err_ppm"] <= 400_000, f"KMV intersection off: {r}"


def test_streaming_outer_join_matches_batch_left_join(spark, duck):
    """The drained LEFT OUTER stream-stream join must equal the batch
    LEFT JOIN — including the unmatched tail, which only a correct
    watermark eviction can emit. Consistency vs the inner-join
    arithmetic: pairs + unmatched accounting must cover every
    purchase."""
    from tests.conftest import assert_frames_match

    from mapreduceece563_spark.sources.catalog import load_table
    from mapreduceece563_spark.streaming import outer_join_stream as oj
    from mapreduceece563_spark.streaming import shared_drain

    shared_drain.reset()
    sdf = oj.streaming_outer_join_attribution(spark, SF_DIR)
    assert_frames_match(
        sdf,
        duck.execute(oj.STREAMING_OUTER_JOIN_SQL),
        ctx="streaming_outer_join",
    )
    rows = sdf.collect()
    assert rows
    total_purchases = (
        load_table(spark, SF_DIR, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert sum(r["n_purchases"] for r in rows) == total_purchases
    assert any(r["n_unmatched"] > 0 for r in rows), (
        "fixture produced no unmatched purchases; the eviction path "
        "was not exercised"
    )


def test_observed_funnel_matches_rescan_oracle(spark, duck):
    """The free in-plan metrics must equal the rescan truth, and the
    funnel must be monotone with a full-retention first stage."""
    from tests.conftest import assert_frames_match

    from mapreduceece563_spark.operators import textstats as ts

    sdf = ts.observed_filter_funnel(spark, SF_DIR)
    assert_frames_match(
        sdf, duck.execute(ts.OBSERVED_FUNNEL_SQL), ctx="observed_funnel"
    )
    rows = {r["stage"]: r for r in sdf.collect()}
    assert rows["s0_input"]["retained_ppm"] == 1_000_000
    assert (
        rows["s0_input"]["n_rows"]
        >= rows["s1_minlen"]["n_rows"]
        >= rows["s2_lang"]["n_rows"]
        > 0
    )


def test_per_lang_hash_sample_matches_oracle_and_exact_k(spark, duck):
    """Round-8 queue. Exactly k per stratum (or the whole stratum if
    smaller), and the selection is hash-uniform: re-deriving the
    bottom-k in Python from the same mix must give the identical
    set."""
    from tests.conftest import assert_frames_match

    from mapreduceece563_spark.operators import trainprep as tp
    from mapreduceece563_spark.sources.catalog import load_table

    sdf = tp.per_lang_hash_sample(spark, SF_DIR)
    assert_frames_match(
        sdf,
        duck.execute(tp.PER_LANG_HASH_SAMPLE_SQL),
        ctx="per_lang_hash_sample",
    )
    rows = sdf.collect()
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang"
    ).collect()
    by_lang: dict = {}
    for d in docs:
        by_lang.setdefault(d["lang"], []).append(d["doc_id"])
    got: dict = {}
    for r in rows:
        got.setdefault(r["lang"], set()).add(r["doc_id"])
    for lang, ids in by_lang.items():
        expect = set(
            sorted(ids, key=lambda i: ((i * 2654435761) % 4294967296, i))[
                : tp.HASH_SAMPLE_K
            ]
        )
        assert got.get(lang, set()) == expect, lang
