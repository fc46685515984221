#!/usr/bin/env python
"""Benchmark harness: run the engine's query registry at a scale
factor and print ONE JSON line with per-query and total wall times.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 python bench.py

Methodology mirrors the reference's own timing (BASELINE.md): the
clock starts after session/JVM startup (the reference starts after
MPI_Init, /root/reference/mpi_mapreduce.c:534-535), and each query is
fully materialized to a noop sink (all compute, no result transfer).
A small warmup query JIT-compiles codegen paths first.

Since round 3, per-query numbers are the MIN over N_PASSES full
registry sweeps in fixed registry order, and the headline "value" is
the sum of those minima (steady-state registry total). Rounds 1-2
reported a single sweep, whose per-query numbers moved 3x with page
-cache/AQE/GC timing (the r2 "q3 regression" was exactly that).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mapreduceece563_spark.registry import queries
from mapreduceece563_spark.session import get_spark
from mapreduceece563_spark.streaming import shared_drain

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPO_DIR = os.path.dirname(os.path.abspath(__file__))

# The consumer of the JSON line keeps only the tail of stdout (observed:
# last 2000 chars), so the line must stay well under that. The full
# per-query matrix goes to BENCH_DETAIL.json; the line itself carries the
# totals plus this headline subset (one per operator family + every query
# that has ever been slow).
MAX_LINE = 1900
HEADLINE = (
    "wordcount", "q1_pricing_summary", "q3_top_unshipped",
    "q5_region_revenue", "q6_forecast_revenue", "q8_market_share",
    "q9_profit_by_nation", "q18_large_orders", "sql_supplier_argmax",
    "dedup_minhash", "dedup_groups", "ngram_jaccard_pairs",
    "winnow_fingerprints", "tfidf_cosine_pairs", "tfidf_top_terms",
    "corpus_stats", "multimodal_features", "ivf_ann", "knn_brute_force",
    "sessionize", "user_gap_stats", "events_hourly_anomalies",
    "training_data_filter", "simhash_hamming_pairs", "user_trailing_value",
    "doc_repetition_stats", "semdedup_prune_stats",
)


# Per-query wall-time budgets at sf0.1 (seconds). A query exceeding its
# budget is reported in "budget_violations" on the JSON line and fails
# tests/test_bench_budget.py, so a q3-style silent 3x regression fails
# the round instead of surfacing in the judge's diff. Budgets are
# ~2.5x the observed best-of-3 steady state (ratcheted to the r5
# bench after the catalog-DataFrame cache sped most entries up) —
# loose enough for machine noise, tight enough to catch a plan
# regression. Shared-drain streaming entries keep wide budgets: the
# drain cost lands on whichever sibling runs first in registry order.
BUDGET_DEFAULT = 2.0
BUDGETS = {
    # round-13 registrations: budgets from SCALE.md "Round-13 queue
    # probes (round 12)" (~2.5x the worst two-scale steady reading);
    # entries probing at/below the 2.0 default carry no explicit row
    "g2_keyness_by_source": 2.5,
    "cliffs_delta_quality": 4.0,
    "kendall_tau_quality_length": 3.5,
    "degree_assortativity": 5.5,  # basket self-join + degree attach
    "bloom_filter_plan": 3.5,
    # round-12 registrations: in-sweep steady readings from the first
    # registered-context bench (BENCH_r12) run ~2x the isolated
    # two-scale probes (registry cache churn + heap pressure), so the
    # heavier entries get explicit budgets at ~2x in-sweep steady
    # instead of the 2.0 default sized off the isolated probe.
    "kcore_decomposition": 6.0,  # 2.4-2.8s steady: 3 unrolled peels + chains
    "theil_sen_hourly_trend": 5.0,  # 2.7-3.1s in-sweep (1.4s standalone)
    "bh_fdr_drift_control": 3.0,  # 1.3s: MWU scaffold + probit grid
    "brier_decomposition": 2.5,  # 1.0s: ECE bins + (lang, qp, label) cells
    "t_closeness_audit": 2.5,  # 1.0s: per-class ordered-EMD grid
    "ngram_jaccard_pairs": 5.0,
    "orders_price_band": 1.0,  # r8: map-side CASE, no join (VERDICT r7 #3)
    "orders_price_band_overlap": 5.0,  # genuinely-overlapping band BNLJ
    "substring_dup_spans": 5.0,  # L-gram explode + gram/doc windows

    "dedup_groups": 4.0,
    "tfidf_cosine_pairs": 4.0,
    "user_gap_stats": 2.0,
    "wordcount_by_lang": 2.0,
    "q3_top_unshipped": 2.0,
    "q9_profit_by_nation": 3.0,  # five-table join: ~1.1s r5 steady state
    "sessionize": 2.0,
    "session_window_counts": 2.0,
    "minhash_jaccard_estimate": 2.5,
    "dedup_edit_distance": 2.0,
    "streaming_wordcount": 6.0,
    "streaming_events_hourly": 10.0,  # shared drain: cost lands on whichever sibling drains first (registry-order dependent)
    "wordcount": 2.0,
    "topk_words": 2.0,
    "distinct_vocab": 2.0,
    "contamination_check": 2.5,
    "doc_repetition_stats": 2.0,
    "boilerplate_fraction": 2.5,
    "kmeans_2iter": 3.0,
    "pagerank_2iter": 3.0,  # two join+agg rounds over the edge list
    "inverted_index": 3.0,
    "funnel_conversion": 2.0,
    "bucketed_join_revenue": 2.0,  # includes the once-per-session bucketed write
    "partition_pruned_purchases": 2.0,  # includes the once-per-session layout write
    "event_transition_matrix": 2.0,
    "user_latest_state": 2.0,
    "events_value_histogram": 2.0,
    "part_name_match_stats": 2.0,  # collapse-first blocked levenshtein
    "doc_lm_surprisal": 3.5,  # corpus bigram LM + score-back join
    "doc_chunk_manifest": 2.0,
    "streaming_user_profile": 12.0,  # shared drain: cost lands on whichever sibling drains first (registry-order dependent)
    "oov_rate": 2.0,
    "word_freq_spectrum": 2.0,
    # bigram_pmi_top: 1.5-1.6s standalone; its r7 8.0 budget carried
    # drain-neighborhood interference that the phased sweep (streaming
    # drains in their own phase) + standalone re-run now remove —
    # re-ratcheted to ~2x steady state (VERDICT r7 ask #4).
    "bigram_pmi_top": 3.0,
    "embedding_covariance": 2.5,  # d^2 map-side explode, tiny shuffle
    "quality_percentile_by_source": 2.0,
    "per_source_holdout": 2.0,
    "table_checksum": 2.0,  # poly-hash fold over every char
    "fk_integrity_audit": 2.0,  # three anti-join edges
    "events_profile": 2.0,  # single-pass multi-distinct Expand
    "events_hourly_incremental": 2.0,
    "lang_confusion_matrix": 2.0,
    "triangle_count": 3.0,  # oriented wedge self-join + closure check
    "part_price_size_skyline": 2.0,
    "purchase_attribution": 2.0,
    "lsh_precision": 5.5,  # shared shingle stage + candidate-only verify join
    "events_value_outliers": 2.0,  # two percentile passes + outlier count
    "events_heavy_hitters": 2.0,
    "rolling_7d_revenue": 2.0,
    "daily_gap_fill": 2.0,
    "global_doc_ids": 2.0,
    "sentence_stats": 2.0,
    "lsh_recall": 5.0,  # ground-truth jaccard side shares the shingle stage
    "streaming_dedup": 10.0,  # shared drain: cost lands on whichever sibling drains first (registry-order dependent)
    "order_lineitem_reconciliation": 2.0,
    "zorder_bucket_stats": 2.0,
    "bm25_search": 3.0,  # query-term posting lists off the shared TF stage
    "token_balanced_mixture": 3.0,
    "user_reach_curve": 2.0,
    "basket_brand_lift": 5.0,  # per-order basket self-join
    # Python-boundary decode budgets hold ~2.5x their r8 phased steady
    # state (1.9 / 0.67 / 0.61 s) instead of the old 1.05x squeeze —
    # the r7 driver run blew exactly these with unchanged plans
    # (variance-aware budgets, VERDICT r7 ask #1); the standalone
    # re-run is the second line of defense.
    "image_decode_stats": 4.5,
    "image_decode_resize": 2.5,
    "audio_decode_energy": 2.5,  # WAV synth + decode round-trip in Arrow
    "video_frame_decode": 2.5,  # VF1 synth + frame-seek decode in Arrow
    "quarter_revenue_overlap": 5.5,  # fact x orders join + quarter explode: 2.4s r6
    "ngram_containment_pairs": 5.0,  # shares the shingle stage + df-cap join
    "vocab_growth_curve": 2.0,  # min-fold over the shared TF stage
    "embedding_power_iteration": 5.5,  # d^2 gram pass + two int mat-vec rounds
    "copurchase_pairs": 4.0,  # basket self-join on the orderkey
    "wordcount_via_datasource": 3.5,  # Python-source scan + full tokenize
    "rolling_7d_active_users": 2.0,  # x7 bounded explode of user-days
    "session_event_trigrams": 2.0,  # one user-keyed exchange, 3 windows
    "scd2_event_state": 2.0,
    "shingle_novelty_rate": 2.0,  # shares the persisted shingle stage
    "pq_codebook_assign": 3.0,  # 8x subvector explode x 16-code probe
    "csv_roundtrip_stats": 2.0,  # includes the once-per-session CSV write
    "jsonl_roundtrip_stats": 2.0,  # includes the once-per-session JSON write
    "schema_evolution_read": 2.0,  # includes the two-batch layout write
    "bucket_prefilter_revenue": 2.0,
    "winsorized_revenue_stats": 6.5,  # two exact-percentile passes: ~2.5s r5
    "streaming_session_windows": 10.0,  # 6 sequential micro-batches + layout; 3.6-3.9s r5
    "streaming_purchase_view_join": 14.5,  # two-source watermarked drain
    "js_divergence_langs": 2.0,
    "source_overlap_jaccard": 2.0,  # vocab self-join across sources
    "embedding_drift_l2": 2.0,  # 64x posexplode of the vector table
    "wordcount_sink_roundtrip": 5.0,  # custom write path + read-back
    "copurchase_degree_distribution": 5.0,  # basket self-join + Expand
    "embedding_linear_scores": 2.0,
    "customer_order_window_profile": 2.0,
    "orc_roundtrip_stats": 2.0,  # includes the once-per-session ORC write
    "table_expectations_audit": 2.0,  # six pruned 1-row aggregates
    "cogroup_bucket_reconciliation": 2.0,  # two-sided Arrow grouped map
    "streaming_wordcount_via_datasource": 10.5,  # Python-source micro-batches
    "bpe_merge_candidates": 2.0,  # tokenize + vocab pair stats
    "bpe_second_merge": 2.5,  # two pair-count rounds + merge apply
    "streaming_tws_user_profile": 15.0,  # RocksDB TWS drain: 6.0s r8 phased (was 9-12.4s interleaved)
    "semdedup_prune_stats": 5.0,  # cached assignment + cell pairs: ~1.2s
    "ivf_recall_tuning": 4.5,  # brute-force GT + 3-probe IVF rank: ~2.0s
    "rle_compression_estimate": 6.5,  # 3x unpivot + block windows: ~3.2s
    "streaming_foreachbatch_upsert": 8.0,  # multi-batch MERGE drain: ~3.8s
    "domain_quality_rollup": 2.5,  # tokenize + digest pass: ~1.2s
    "binaryfile_manifest": 3.0,  # first pass writes the 64-file layout
    "wordcount_via_datasource_packed": 3.5,  # packed-bin Python source scan
    "label_propagation_2iter": 6.0,  # 2 mode rounds over min-support edges
    "dedup_cascade_accounting": 4.0,  # exact + banded stages, shared frames
    "udtf_word_chunks": 2.5,  # Arrow UDTF lateral fan-out: ~1.0s
    "q21_waiting_suppliers": 3.0,  # 2x-headroom ratchet, r6 steady state ~1.1-1.2s
    "vocab_overlap_setops": 3.0,  # 2x-headroom ratchet, r6 steady state ~1.1-1.2s
    "ship_rate_try_divide": 3.0,  # 2x-headroom ratchet, r6 steady state ~1.1-1.2s
    "q16_supplier_counts": 3.0,  # 2x-headroom ratchet, r6 steady state ~1.1-1.2s
    "price_percentiles_sketch": 2.5,  # sketch + exact certification pass
    # --- round-7 registrations (budgets >= 2x the worst clean r7 pass) ---
    "allpairs_prefix_filter": 6.5,  # shingle TF-IDF + prefix join: 2.6s r8 phased
    "streaming_static_enrichment": 14.0,  # first of the four round-7 entries in registry order: pays the CONCURRENT round-7 drain (max of enrich/sliding/join/outer ~ the outer join's 10-batch drain) per pass; siblings become sink read-backs
    "merge_compaction_roundtrip": 7.0,  # two REAL table writes per call: 2.7-2.8s steady
    "session_concurrency_peak": 3.0,  # boundary sweep + carry-in: ~1.1s
    "weighted_median_by_segment": 3.0,  # RANGE-frame cumulative mass: ~1.2s
    "benford_digit_audit": 3.0,  # digit rollup + spine join: ~1.2s
    "phrase_search": 3.0,  # positional adjacency self-join: ~1.0s
    "image_ahash_neardup": 3.0,  # PPM encode+decode+hash in Arrow: ~1.0s
    "bfs_hop_distance": 2.5,  # 4 frontier rounds: ~0.85s
    "ks_drift_by_event_type": 2.5,  # per-type cumulative windows: ~0.85s
    "minhash_incremental_novelty": 2.5,  # batch bands vs frozen index: ~0.85s
    "bloom_join_prune": 2.5,  # bitmap build + probe: ~0.82s
    # source_blocklist_survivors: 0.7-1.0s standalone; its r7 8.0
    # budget covered deterministic GC/broadcast-cleanup interference
    # from the in-pass streaming drains, which the phased sweep
    # removes — re-ratcheted to ~3x steady state (VERDICT r7 ask #4).
    "source_blocklist_survivors": 3.0,
    "hard_negative_mining": 2.5,  # broadcast query side + label-filtered scan
    "merkle_block_sync": 3.0,  # two digest rollups + dirty-block key join
    "table_versions_diff": 7.0,  # first call may pay the version writes
    "zonemap_pruning_stats": 3.0,  # zone rollup + broadcast survivor probe
    "kmv_join_cardinality": 3.0,  # two bottom-k sketches + exact tier
    "streaming_outer_join_attribution": 25.0,  # 10-batch two-source watermarked drain + eviction flush, re-drained per pass (source fixture cached)
    "observed_filter_funnel": 2.5,  # round-8 queue: one observed pass + scalar assembly
    "streaming_sliding_windows": 9.0,  # re-drained per pass; 3.4s r8 phased
    # --- round-9 registrations: ~2.5x the worst best-of-3 steady
    # state seen across the SCALE.md probes and the in-registry bench
    # (the r7 lesson: budgets near 1.5x steady blow up on the
    # driver's contended box with unchanged plans) ---
    "quality_quantile_normalize": 2.5,  # histogram CDF: 0.80-0.99s steady
    "ivf_incremental_assign": 3.5,  # cached split + frozen quantizer: 0.98-1.49s
    "roc_auc_by_lang": 2.5,  # histogram+window, ks_drift shape: 1.0-1.4s
    "rrf_rank_fusion": 5.0,  # TF-stage aggs + vector rank + fusion: 1.7-2.0s
    # --- round-10 registrations: the full rounds-10..19 queue. Every
    # budget below is the ~2.5x-steady figure recorded with its
    # two-scale probe in SCALE.md ("Round-N queue probes" sections)
    # when the entry was implemented and probed in round 9 ---
    "srp_signature": 3.5,  # codegen of literal hyperplane folds: 1.4-1.5s
    "domain_cap_survivors": 2.5,
    "cusum_drift_scan": 2.0,
    "temperature_mixture_weights": 2.0,
    "srp_hamming_neardup": 4.5,  # banded self-join; pairs track true dup mass
    "ndcg_at_k": 2.5,
    "quality_calibration_ece": 2.5,
    "token_gini_by_source": 2.0,
    "simpson_vocab_diversity": 2.0,
    "mann_whitney_drift": 2.0,
    "spearman_quality_length": 4.0,  # two cell-to-marginal equi-joins
    "video_scene_cuts": 3.0,  # Arrow decode boundary, linear in clip bytes
    "quality_mad_outliers": 3.0,
    "l_diversity_audit": 1.5,
    "audio_silence_segmentation": 2.0,
    "hourly_autocorrelation": 1.5,
    "vacuum_orphan_scan": 5.0,  # warm merge fixture (merge entries run first)
    "bootstrap_ci_revenue": 3.5,  # 64 replicates in ONE hash aggregate
    "cuped_ab_readout": 1.5,
    "lang_id_cohens_kappa": 4.5,  # map-only lang_id scoring pass: 0.9-1.7s
    "conformal_event_value_interval": 2.5,
    "ann_rank_quality": 4.0,  # rides the ivf_recall_tuning scaffold
    "image_phash_dct": 2.5,
    "link_prediction_jaccard": 3.0,
    "seasonal_naive_backtest": 1.5,
    "filter_disparate_impact": 2.0,
    "token_weighted_quality": 2.5,
    "aa_test_calibration": 1.5,
    "template_dedup_stats": 1.5,
    "cdc_chunk_stats": 3.5,  # codegen'd trailing-window folds: 0.7-1.3s
    "markov_next_event_accuracy": 5.0,  # lead() per user + argmax joins: 1.6-2.0s
    "neardup_transitivity_audit": 4.0,  # wedge counts on banded pairs: 1.5-1.6s
    "salt_plan_advisor": 1.0,
    "audio_quality_audit": 2.0,
    "ewma_control_chart": 1.5,
    "image_exposure_audit": 2.0,
    "session_gap_sensitivity": 1.5,
    "jaccard_threshold_sweep": 2.5,
    "df_cap_sensitivity": 3.5,  # df-capped shingle join at 3 caps: 1.2-1.5s
    # --- round-11 registrations: the full rounds-11..17 queue. Every
    # budget below is the ~2.5x-steady figure recorded with its
    # two-scale probe in SCALE.md ("Round-N queue probes (round 10)"
    # sections) when the entry was implemented and probed in round 10 ---
    "lsh_band_plan": 5.0,  # shared shingle stage + 5-row literal grid
    "psi_drift_by_type": 1.0,
    "dedup_canonical_pick": 4.5,  # rides dedup_groups' CC rounds
    "contamination_overlap_fraction": 2.5,
    "dim_truncation_recall": 4.0,  # 4 truncation widths ~ 2x full-width kNN
    "pq_codebook_stats": 3.5,  # 4-subspace explode, 2 Lloyd rounds
    "trimmed_mean_by_segment": 2.5,
    "zipf_slope_by_source": 2.5,
    "pack_len_sensitivity": 1.5,
    "quantization_bits_sweep": 4.0,  # map-only |bits| explode of embeddings
    "silhouette_by_cell": 3.0,
    "heaps_law_fit": 2.5,
    "cross_source_duplicate_matrix": 1.0,
    "burstiness_by_type": 1.0,
    # streaming_psi_monitor sits FIRST of the shared-drain pool in the
    # round-11 registry order, so in each phase-2 pass it pays the
    # whole CONCURRENT round-7 pool drain (the cost streaming_static_
    # enrichment carried in round 10 at 10.8 s steady); its solo drain
    # is 1.4 s. Sweep budgets for shared-drain members must cover the
    # first-of-pool worst case regardless of rotation — the tight
    # per-member gate is POST_DRAIN_BUDGETS below.
    "streaming_psi_monitor": 16.0,
    "mrr_at_k": 4.0,  # rides the ivf_recall_tuning scaffold
    "event_entropy_rate": 1.5,
    "customer_value_gini": 1.0,
    "attribution_model_compare": 1.5,
    "seasonality_strength_by_type": 1.5,
    "embedding_anisotropy": 4.0,  # map-only; growth is the raw embedding scan
    "dedup_cluster_size_histogram": 4.0,  # re-runs dedup_groups' CC rounds
    "global_clustering_coefficient": 3.5,  # shares triangle_count's wedge plan
    "changepoint_binary_split": 1.5,
    "surprisal_filter_curve": 5.5,  # rides doc_lm_surprisal's scoring pass
    "minhash_perm_sensitivity": 6.0,  # signature join onto banded candidates
    "split_leakage_audit": 3.5,
    "chunk_dedup_stats": 1.5,
    "conformal_alpha_sweep": 2.5,
}

# Per-member POST-DRAIN budgets for the streaming family (VERDICT r10
# ask #3): the wide sweep budgets above absorb the shared-drain cost,
# which lands on whichever sibling runs first in registry order — so a
# per-stream regression (a sink read-back growing a shuffle, a memoized
# layout rebuilt per call) could hide under the drain line. After the
# phased sweep, bench re-times every streaming entry against WARM sinks
# (no drain reset, min of 2 attempts) and gates each against the tight
# figures below (~2.5x the post-drain steady state measured at sf0.1:
# all members are sub-second read-backs once drained, except
# streaming_wordcount's full tokenize of the drained sink at 1.6 s).
POST_DRAIN_BUDGETS = {
    "streaming_psi_monitor": 2.0,  # 0.63s: cell-frame read + PSI fold
    "streaming_user_profile": 1.0,
    "streaming_static_enrichment": 1.0,
    "streaming_sliding_windows": 1.0,
    "streaming_outer_join_attribution": 1.5,
    "streaming_tws_user_profile": 1.0,
    "streaming_foreachbatch_upsert": 1.0,
    "streaming_session_windows": 1.0,
    "streaming_purchase_view_join": 1.0,
    "streaming_wordcount_via_datasource": 1.0,
    "streaming_dedup": 1.0,
    "streaming_wordcount": 4.0,  # 1.64s: re-tokenizes the drained sink
    "streaming_events_hourly": 1.5,
}
POST_DRAIN_DEFAULT = 2.0  # a new streaming entry gets this until probed

# Budget for the synthetic "__drain__" line (VERDICT r11 ask #4): the
# explicit concurrent drain of BOTH shared pools (event-stream trio +
# round-7 five, overlapped in two threads so the line is max(pool),
# not sum). Historical carrier costs: 10.8 s (r10) and 11.8 s (r11)
# for the round-7 pool alone plus ~7 s for the event trio — the same
# work, now timed on its own instead of landing on whichever member
# ran first in registry order. The budget is judged on min-of-passes
# (first pass also writes the sf0.1 stream fixtures, ~+15 s).
DRAIN_BUDGET = 25.0

# Steady-state measurement: each timed pass runs the whole registry in
# fixed (registry) order; per-query time is the MIN across passes. The
# first sf0.1 pass is 2-3x slower than steady state (AQE replans at the
# real sizes, parquet footers enter the page cache, codegen JITs the
# bigger hash tables) and any single pass can catch a GC spike — r2's
# phantom "q3 regression" (0.96 -> 2.77 s, code unchanged) was exactly
# this. Best-of-3 reproduces q3 at ~0.8 s.
N_PASSES = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))

# Dedicated standalone attempts granted to any entry over budget after
# the phased sweep, before a violation is recorded (see main()).
N_RERUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RERUNS", "3"))

# Entries whose hot path crosses the Python/Arrow boundary (mapInPandas
# decode, pandas UDF scoring, Python data source, UDTF, cogroup). These
# swing 3-14x pass-to-pass under box contention (BENCH r7: 2.1->30.8 s
# on audio_decode_energy with an unchanged plan), so they get a second
# warmup pass and are the primary beneficiaries of the standalone
# re-run escape hatch.
PY_BOUNDARY = (
    "knn_pandas_udf",
    "image_decode_stats",
    "image_decode_resize",
    "image_ahash_neardup",
    "audio_decode_energy",
    "video_frame_decode",
    "multimodal_features",
    "cogroup_bucket_reconciliation",
    "udtf_word_chunks",
    "wordcount_via_datasource",
    "wordcount_via_datasource_packed",
    "chunktext_pruned_count",
    # round-10 registrations with an Arrow decode boundary
    "video_scene_cuts",
    "audio_silence_segmentation",
    "audio_quality_audit",
    "image_exposure_audit",
    "image_phash_dct",
)


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def emit(payload: dict, real_stdout_fd: int) -> None:
    """Print the one-line JSON contract onto the REAL stdout fd, compactly,
    trimming headline entries — and, after those are exhausted, rescued
    names — if the line would overflow the consumer's tail buffer (a
    truncated HEAD would corrupt the JSON; BENCH_DETAIL.json always
    carries the full lists)."""
    line = json.dumps(payload, separators=(",", ":"))
    while len(line) > MAX_LINE and (
        payload.get("queries") or payload.get("rescued")
    ):
        if payload.get("queries"):
            payload["queries"].popitem()
        else:
            payload["rescued"].pop()
        line = json.dumps(payload, separators=(",", ":"))
    os.write(real_stdout_fd, (line + "\n").encode())


def main() -> None:
    # Anything the JVM or a library prints on fd 1 would corrupt the
    # one-JSON-line stdout contract — route fd 1 to stderr for the whole
    # run and keep a private dup of the real stdout for the final line.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    spark = get_spark("mapreduceece563_spark-bench", cpus=CPUS)

    # Warmup: JIT-compile the hot codegen paths (parquet scan, regex
    # tokenize, hash agg, joins) on the tiny sf before timing — the
    # reference's clock also starts after engine init (BASELINE.md).
    # Warm EVERY query once at the tiny sf: each query has its own
    # codegen/JIT paths, and we're measuring the engine's steady-state
    # throughput at SF_DIR, not JVM compilation.
    # Warmup is UNTIMED, so batch entries warm CONCURRENTLY (6 threads
    # — Spark schedules the jobs; py4j releases the GIL) to keep the
    # whole bench inside the driver's wall-clock envelope as the
    # registry grows. Streaming entries stay SEQUENTIAL: the shared
    # drain memos are check-then-act caches, and two threads racing
    # the same pool would double-write its fixtures.
    import concurrent.futures as _cf

    qs_all = queries()
    batch_warm = [
        fn for n, fn in qs_all.items() if not n.startswith("streaming_")
    ]
    with _cf.ThreadPoolExecutor(max_workers=6) as pool:
        futures = [
            pool.submit(materialize, fn(spark, "/root/testdata/sf0.001"))
            for fn in batch_warm
        ]
        for f in futures:
            f.result()
    for n, fn in qs_all.items():
        if n.startswith("streaming_"):
            materialize(fn(spark, "/root/testdata/sf0.001"))
    # Pre-warm the Python/Arrow worker pool a SECOND time (VERDICT r7
    # ask #1): the first call per entry above creates daemon workers
    # and JITs the codegen, but the driver's contended box showed the
    # Python-boundary entries paying worker/Arrow setup again inside
    # the timed passes. A second pass over exactly those entries
    # certifies the pool is warm and reusable before any clock runs.
    for name in PY_BOUNDARY:
        if name in qs_all:
            materialize(qs_all[name](spark, "/root/testdata/sf0.001"))
    # NOTE (r14, measured): a release_session_caches() here — dropping
    # the sf0.001 warmup caches before the timed passes — was tried
    # and REVERTED. The r13 pass-1 spikes it targeted (phrase_search
    # 13.7 s, bfs 20.3 s) do not reproduce on a quiet box re-running
    # the identical r13 code (1.11 / 5.39 s) — they were driver-box
    # contention, not cache-registry structure — while the release's
    # async uncache storm destabilized the first timed passes
    # (allpairs_prefix_filter erratic 5.1/18.9/2.5 s with it,
    # 6.6/2.1/1.6 s without). The warmup's sf0.001 cache entries are
    # plan-keyed and never match an SF_DIR build, so leaving them is
    # inert; cachemgr.release_session_caches() remains the tool for
    # cold measurements and test teardown.

    # Baseline-comparable wordcount FIRST, right after warmup: the
    # registry passes that follow persist shingle/TF caches and churn
    # the heap across 100+ queries, which taxes this measurement by
    # 20-25% (r3: 0.54 s after the loop vs 0.43 s steady state). The
    # reference's 0.7 s is likewise a dedicated run of one query.
    wc13 = baseline_comparable_wordcount(spark)

    qs = queries()
    # PHASED sweep (VERDICT r7 ask #4): the batch registry and the
    # streaming drains used to interleave in one pass, and SCALE.md
    # documents 1.5-6x in-pass slowdowns on innocent batch queries
    # sitting downstream of a drain (GC/broadcast-cleanup pressure)
    # — which forced inflated budgets that then still blew up on the
    # driver box. Phase 1 times every batch entry with no drain in
    # flight; phase 2 re-drains the streaming entries per pass (the
    # first sibling of a pass pays max(drain), as in production).
    batch_qs = {n: f for n, f in qs.items() if not n.startswith("streaming_")}
    stream_qs = {n: f for n, f in qs.items() if n.startswith("streaming_")}
    passes: dict[str, list[float]] = {n: [] for n in qs}
    for _ in range(N_PASSES):
        for name, fn in batch_qs.items():
            t0 = time.perf_counter()
            materialize(fn(spark, SF_DIR))
            passes[name].append(round(time.perf_counter() - t0, 3))
    # Synthetic __drain__ line (VERDICT r11 ask #4): the shared-pool
    # drain cost used to land on whichever streaming entry ran FIRST
    # in registry order, so every window rotation moved a ~10 s
    # accounting artifact between innocent members
    # (streaming_static_enrichment 10.8 s in r10 -> streaming_psi_
    # monitor 11.8 s in r11) and polluted round-over-round per-query
    # comparison. Each pass now times the two concurrent pool drains
    # EXPLICITLY as "__drain__" — still a real end-to-end drain, same
    # operator graphs, same memo/reset discipline — and the member
    # timings that follow are each member's own cost (pool members
    # become sink read-backs + their own post-source work; non-pool
    # members still pay their own solo drains, which genuinely ARE
    # their cost).
    drain_passes: list[float] = []
    for _ in range(N_PASSES):
        shared_drain.reset()
        t0 = time.perf_counter()
        # the two pools are independent query sets on one session —
        # drain them CONCURRENTLY (threads only start/await streaming
        # queries; the JVM does the work), so the __drain__ line is
        # max(pool), not sum(pool) — the same overlap a production
        # deployment of independent continuous queries gets
        import threading

        errs: list[BaseException] = []

        def _run(fn):
            try:
                fn(spark, SF_DIR)
            except BaseException as e:  # noqa: BLE001
                errs.append(e)

        # hold ONE shuffle.partitions pin around the whole two-thread
        # block (ADVICE r12): the helpers see the pin and skip their
        # own save/set/restore, so no thread can capture the other's
        # transient "8" as prev or flip the conf mid-start
        threads = [
            threading.Thread(target=_run, args=(f,))
            for f in (
                shared_drain.drain_event_streams,
                shared_drain.drain_round7_streams,
            )
        ]
        with shared_drain.pin_shuffle_partitions(spark):
            for th in threads:
                th.start()
            for th in threads:
                th.join()
        if errs:
            raise errs[0]
        drain_passes.append(round(time.perf_counter() - t0, 3))
        for name, fn in stream_qs.items():
            t0 = time.perf_counter()
            materialize(fn(spark, SF_DIR))
            passes[name].append(round(time.perf_counter() - t0, 3))
    timings = {n: min(ts) for n, ts in passes.items()}
    drain_sec = min(drain_passes) if drain_passes else 0.0
    # Cold-pass accounting (VERDICT r13 ask #1): the sum-of-mins
    # headline is a steady-state number — shared-stage memos build on
    # pass 1 and serve passes 2-3, so the min is a warm-consumer
    # figure. sum_pass1 is the honest cold cost of one full registry
    # sweep (the number a fresh production run would pay); the judge
    # tracks it round-over-round alongside the min-based total.
    sum_pass1 = round(
        sum(ts[0] for ts in passes.values() if ts)
        + (drain_passes[0] if drain_passes else 0.0),
        3,
    )

    # Per-member post-drain gate (VERDICT r10 ask #3): with the sinks
    # still warm from the last pass, time each streaming member's own
    # read-back path (min of 2 so one GC spike can't false-positive)
    # and gate it against POST_DRAIN_BUDGETS — the rotation-independent
    # per-stream regression signal the wide sweep budgets can't give.
    post_drain: dict[str, float] = {}
    for name, fn in stream_qs.items():
        attempts = []
        for _ in range(2):
            t0 = time.perf_counter()
            materialize(fn(spark, SF_DIR))
            attempts.append(round(time.perf_counter() - t0, 3))
        post_drain[name] = min(attempts)
    post_drain_violations = {
        n: {"sec": t, "budget": POST_DRAIN_BUDGETS.get(n, POST_DRAIN_DEFAULT)}
        for n, t in post_drain.items()
        if t > POST_DRAIN_BUDGETS.get(n, POST_DRAIN_DEFAULT)
    }

    def _violations() -> dict[str, dict]:
        return {
            n: {"sec": t, "budget": BUDGETS.get(n, BUDGET_DEFAULT)}
            for n, t in timings.items()
            if t > BUDGETS.get(n, BUDGET_DEFAULT)
        }

    # Standalone re-run of violators (VERDICT r7 ask #1): min-of-N
    # inside a full sweep cannot distinguish "plan regressed" from
    # "the box was busy while this entry ran" — the driver's round-7
    # bench recorded 6 violations whose clean standalone times were
    # 2-9x lower, all but one on Python-worker/Arrow entries whose
    # pass-to-pass spread is 3-14x under contention. Before recording
    # a violation, give the entry N_RERUNS dedicated attempts on an
    # otherwise idle registry and accept the overall min. A genuine
    # plan regression stays over budget no matter how quiet the box
    # is. Streaming entries reset the drain memos before EVERY
    # attempt (round-9 ADVICE): a rerun against warm sinks would be a
    # memoized read-back taking near-zero time, erasing any real
    # drain regression — instead each attempt re-measures a full solo
    # drain, so its budget is judged against a drain the entry itself
    # paid (<= the in-pass max(drain) its budget already assumes).
    sweep_violations = _violations()
    reruns: dict[str, list[float]] = {}
    for name in sorted(sweep_violations):
        fn = qs[name]
        spark.sparkContext._jvm.System.gc()
        attempts = []
        for _ in range(N_RERUNS):
            if name.startswith("streaming_"):
                shared_drain.reset()
            t0 = time.perf_counter()
            materialize(fn(spark, SF_DIR))
            attempts.append(round(time.perf_counter() - t0, 3))
        reruns[name] = attempts
        timings[name] = min(timings[name], *attempts)
    # registry_total_wall stays comparable across rounds: the pool
    # drain used to be inside the carrier member's time, now it is
    # its own line — include it in the total either way.
    total = round(sum(timings.values()) + drain_sec, 3)
    violations = _violations()
    if drain_sec > DRAIN_BUDGET:
        violations["__drain__"] = {"sec": drain_sec, "budget": DRAIN_BUDGET}
    # Rescue accounting (round-9 ADVICE): an entry that blew its
    # budget in the phased sweep but was saved by the standalone
    # re-run is recorded as "rescued" — still green for the gate, but
    # visible, so the same entry being rescued round after round reads
    # as a trend (box-sensitivity or a creeping plan cost) instead of
    # silently green.
    rescued = {
        n: {
            "sweep_sec": min(passes[n]),
            "rescued_sec": timings[n],
            "budget": sweep_violations[n]["budget"],
        }
        for n in sweep_violations
        if n not in violations
    }
    # Escalation rule (VERDICT r9 ask #7): a rescue is a one-time
    # benefit of the doubt. If the SAME entry was already rescued in
    # the previously committed BENCH_DETAIL (i.e. two consecutive
    # rounds needed the standalone re-run to stay green), the trend is
    # the signal — record it as a budget violation, not a rescue.
    prior_rescued: set[str] = set()
    detail_path = os.path.join(REPO_DIR, "BENCH_DETAIL.json")
    if os.path.exists(detail_path):
        try:
            with open(detail_path) as fh:
                prior_rescued = set(json.load(fh).get("rescued", {}))
        except (json.JSONDecodeError, OSError):
            prior_rescued = set()
    repeat_rescues = sorted(set(rescued) & prior_rescued)
    for n in repeat_rescues:
        violations[n] = {
            "sec": rescued[n]["sweep_sec"],
            "budget": rescued[n]["budget"],
            "repeat_rescue": True,
        }
        del rescued[n]

    sweep = conf_sweep(spark, qs)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    detail = {
        "metric": "registry_total_wall",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "passes": N_PASSES,
        "sum_pass1": sum_pass1,
        "queries": timings,
        "drain_sec": drain_sec,
        "drain_passes": drain_passes,
        "query_passes": passes,
        "standalone_reruns": reruns,
        "budget_violations": violations,
        "rescued": rescued,
        "post_drain": post_drain,
        "post_drain_violations": post_drain_violations,
        **wc13,
        "conf_sweep": sweep,
    }
    with open(os.path.join(REPO_DIR, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(detail, fh, indent=1)

    # Keep the window-rotation audit trail fresh: COVERAGE.json is
    # regenerated on every bench run (VERDICT r3 ask #5 — it had gone
    # stale after the round-3 snapshot landed).
    try:
        import coverage_map

        coverage_map.main()
    except Exception as exc:  # never let bookkeeping kill the bench line
        print(f"coverage_map regeneration failed: {exc}", file=sys.stderr)

    headline = {
        n: round(timings[n], 2) for n in HEADLINE if n in timings
    }
    sweep_best = {
        n: min(per.values()) for n, per in sweep.items()
    }
    emit(
        {
            "metric": "registry_total_wall",
            "value": total,
            "unit": "sec",
            "queries": headline,
            "sf": sf_val,
            "n_queries": len(timings),
            "passes": N_PASSES,
            "sum_pass1": sum_pass1,
            "drain_sec": drain_sec,
            "budget_violations": sorted(violations),
            "rescued": sorted(rescued),
            "post_drain_violations": sorted(post_drain_violations),
            **wc13,
            "sweep_best": sweep_best,
            "detail_file": "BENCH_DETAIL.json",
        },
        real_stdout,
    )
    spark.stop()
    sys.stderr.flush()
    # Hard-exit so no atexit/shutdown hook can write after the JSON line.
    os._exit(0)


# The reference's own harness is a config sweep — run_MapReduce.py:28-70
# times every (mappers, reducers) combination and its source comments
# record the per-config table (mpi_mapreduce.c:8-14). The Spark
# analogue: shuffle partitions x AQE over the headline queries PLUS
# the 10 most expensive non-streaming registry entries (per the last
# BENCH_DETAIL), so budget updates for the slow tail are
# evidence-based rather than eyeballed. Streaming entries are
# excluded: their drains are memoized per (app, sf) and a sweep would
# time the cache, not the config.
SWEEP_PARTITIONS = (16, 32, 64)
SWEEP_QUERIES = (
    "wordcount", "q1_pricing_summary", "q5_region_revenue",
    "dedup_minhash",
    # slow tail, descending r4 cost
    "winsorized_revenue_stats", "lsh_recall", "basket_brand_lift",
    "ngram_jaccard_pairs", "wordcount_sink_roundtrip",
    "quarter_revenue_overlap", "copurchase_degree_distribution",
    "lsh_precision", "embedding_power_iteration",
    "ngram_containment_pairs",
)


def conf_sweep(spark, qs) -> dict:
    orig_sp = spark.conf.get("spark.sql.shuffle.partitions")
    orig_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    out: dict[str, dict[str, float]] = {}
    try:
        for name in SWEEP_QUERIES:
            per: dict[str, float] = {}
            for sp in SWEEP_PARTITIONS:
                for aqe in (True, False):
                    spark.conf.set("spark.sql.shuffle.partitions", str(sp))
                    spark.conf.set(
                        "spark.sql.adaptive.enabled", str(aqe).lower()
                    )
                    t0 = time.perf_counter()
                    materialize(qs[name](spark, SF_DIR))
                    per[f"sp{sp}_aqe_{'on' if aqe else 'off'}"] = round(
                        time.perf_counter() - t0, 3
                    )
            out[name] = per
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig_sp)
        spark.conf.set("spark.sql.adaptive.enabled", orig_aqe)
    return out


def baseline_comparable_wordcount(spark) -> dict:
    """Apples-to-apples vs BASELINE.md: the reference's best number is
    word count over 130 chunk files / ~13 MB of text in 0.7 s (16
    ranks x 10 threads). Replicate the documents text to ~13 MB,
    write 130 chunk files like the reference's file_chunks_130/, and
    time the same read->tokenize->normalize->count pipeline (data
    prep excluded from the clock, as is the reference's MPI_Init)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from mapreduceece563_spark.functions.text import tokenize_lines

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("text")
    n_bytes = docs.select(
        F.sum(F.length("text")).alias("b")
    ).collect()[0]["b"] or 1
    reps = max(1, round(13_000_000 / n_bytes))
    tmp = tempfile.mkdtemp(prefix="bench_wc13_")
    try:
        big = spark.range(reps).crossJoin(docs).select("text")
        big.repartition(130).write.mode("overwrite").text(tmp)
        # The 130 chunk files are ~100 KB each; at the default 4 MB
        # openCostInBytes Spark schedules one task per file (130 tiny
        # tasks, ~40% scheduling overhead at this size). 64 KB packs
        # them into ~core-count partitions. Scoped to this measurement
        # and restored after.
        open_cost = spark.conf.get("spark.sql.files.openCostInBytes")
        orig_sp = spark.conf.get("spark.sql.shuffle.partitions")
        orig_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.files.openCostInBytes", "65536")

        def run_once() -> None:
            materialize(
                tokenize_lines(
                    spark.read.text(tmp).withColumnRenamed("value", "text")
                )
                .groupBy("word")
                .agg(F.count("*").alias("cnt"))
            )

        # The headline number is its own mini config sweep, mirroring
        # the reference's harness (run_MapReduce.py times every
        # (mappers, reducers) combination and reports the best): pin
        # the best (shuffle partitions, AQE) for THIS plan instead of
        # inheriting the registry-wide default — r3's headline drifted
        # 0.437 -> 0.669 s while its own sweep still found 0.442, i.e.
        # the default conf was the variance, not the engine. One
        # untimed warm pass absorbs codegen + data-prep GC churn.
        elapsed = float("inf")
        best_conf = None
        try:
            spark.sparkContext._jvm.System.gc()
            run_once()
            for sp in (8, 16, 32):
                for aqe in ("true", "false"):
                    spark.conf.set("spark.sql.shuffle.partitions", str(sp))
                    spark.conf.set("spark.sql.adaptive.enabled", aqe)
                    for _ in range(3):
                        t0 = time.perf_counter()
                        run_once()
                        dt = time.perf_counter() - t0
                        if dt < elapsed:
                            elapsed = dt
                            best_conf = f"sp{sp}_aqe_{aqe}"
        finally:
            spark.conf.set("spark.sql.files.openCostInBytes", open_cost)
            spark.conf.set("spark.sql.shuffle.partitions", orig_sp)
            spark.conf.set("spark.sql.adaptive.enabled", orig_aqe)
        mb = n_bytes * reps / 1e6
        return {
            "wordcount_13mb_sec": round(elapsed, 3),
            "wordcount_13mb_mb_per_sec": round(mb / elapsed, 1),
            "wordcount_13mb_conf": best_conf,
            "baseline_best_sec": 0.7,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
