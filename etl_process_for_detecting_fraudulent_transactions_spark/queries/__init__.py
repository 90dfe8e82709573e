"""Driver-contract query registry.

Each submodule exposes ``QUERIES: dict[str, Callable[[SparkSession, str],
DataFrame]]`` and ``ORACLES: dict[str, str]`` (DuckDB ANSI SQL over the same
parquet views). Keys are shared; a key present in QUERIES but not ORACLES
gets the driver's weaker rows-only check (reserved for genuinely
non-SQL-expressible ops).

Column-name discipline: every computed column is aliased identically in the
Spark plan and the oracle SQL — the driver sorts columns by name before
value-hashing. Float discipline: aggregates over doubles go through exact
decimal arithmetic and are cast back to double at the end, so both engines
produce bit-identical results regardless of partitioning/order.
"""

from __future__ import annotations

from . import (
    dedup,
    extra,
    graph,
    multimodal,
    quality,
    relational,
    sampling,
    similarity,
    stats,
    text,
    timeseries,
    tpch_more,
    tpch_rest,
)

# Order matters: the driver's correctness budget covers the first ~50
# registered queries (r1-r11 each checked exactly the first 50). Round-12
# rotation executes the committed r11 plan AMENDED by the r11 verdict's
# systemic finding: *edited-since-last-green-driver-check* outranks *merely
# old* (json_props_stats was edited r9, sat outside the r9-r10 windows, and
# failed its first post-edit driver check in r11). tools/rotation_check.py
# now derives that class from git at function+oracle+helper granularity;
# the window below is its output:
#   1     json_props_stats — the r11 red, fixed this round (k_sum
#         DECIMAL(38,0) → double, VARCHAR-routed oracle; VERDICT r11 #1);
#   2-4   keys edited THIS round (dedup_simhash 64-bit shingle rework,
#         dedup_recall_audit, domain_mix_reweight — advice NULL guard);
#   5-27  every other edited-since-check key, stalest first: the r11
#         verdict's explicit shortlist (ann_recall_audit, knn_ivf,
#         knn_ivf_pq, knn_pq_adc, pq_encode — VERDICT r11 #2) plus the
#         keys the new tool surfaced beyond it (crosslingual_dedup,
#         dedup_minhash_mllib .. window_lag_seq);
#   28-31 the 4 round-12 additions (knn_ivf_pq_rerank — VERDICT r11 #6;
#         url_host_dedup — VERDICT r11 #7; dedup_cluster_sizes — the
#         dup-multiplicity spectrum; source_overlap_matrix — cross-source
#         duplicate containment), in-window per precedent;
#   32-48 the 17 remaining never-edited r7-stale keys (data_skew_profile
#         .. join_residual_ineq) — clears r7 debt entirely;
#   49-50 the first 2 r8-stale keys (approx_distinct_kmv,
#         zscore_outliers).
# After position 50: the next r8-stale keys in rotation_check order, so
# any budget overflow lands next-stalest, then family order. Staleness
# floor after r12 is r8 (~40 keys carry).
#
# Round-12 additions used 4 of the 5 throttled slots — registry 231 at
# close (<= 232 per the standing <=5-per-round convention).
#
# ROUND-13 ROTATION executed the plan: r12 had zero reds; rotation_check's
# *edited* classes fill positions 1-40 (see the window comment below) and
# the first 10 r7-stale keys take 41-50.
# ROUND-14 ROTATION PLAN (same recipe): (1) any r13 reds, fixed, first;
# (2) whatever rotation_check marks *edited* at r14 open (run it, don't
# guess); (3) the remaining 12 r7-stale keys (per_source_cap ..
# join_residual_ineq), then r8-stale in rotation order (positions 51+
# below hold the first 21); (4) r9-stale with remaining budget.
_MODULES = (
    relational,
    extra,
    graph,
    tpch_more,
    tpch_rest,
    stats,
    sampling,
    timeseries,
    quality,
    dedup,
    similarity,
    text,
    multimodal,
)

# Keys verified first this round (edited-since-check first, then stalest;
# new gates in-window).
# ROUND-13 WINDOW (executes VERDICT r12 #3 + the rotation plan): no key is
# driver-unchecked at r13 open (all 231 have evidence; the r12 window was
# 50/50 green). tools/rotation_check.py's ranking at r13 close:
#   1-8   the 8 keys edited in r12-opt whose last green evidence is r10
#         (lang_id_markers .. tokenizer_fertility — the fan_out/explode
#         reshaping stragglers the r12 window could not fit);
#   9-24  the 16 r11-evidence keys edited since (dedup_simhash 64-bit
#         rework, dedup_recall_audit, the explode_outer text family,
#         fuzzy_name_pairs, sssp_weighted, golden_record_merge,
#         multimodal_gif_features, ...) — VERDICT r12 #3's explicit list;
#   25-45 the 21 keys re-edited THIS round on top of r12 evidence (the
#         r13 optimization batch: band-candidates memo + prefix rewrite
#         consumers, scored-frame memo consumers across the PQ/IVF/LSH
#         families, triangle revert, assoc_rules checkpoint removal);
#   46-50 the 5 stalest never-edited r7-evidence keys
#         (data_skew_profile .. domain_mix_sample) — starts clearing the
#         r7 debt the r12-opt amendment had to postpone.
# Since then scd2_snapshot_diff and pit_join_events went to the front:
# operators/scd2.py, which both use, changed after their r10 evidence,
# which pushed merge_upsert and domain_mix_sample past position 50.
# After position 50: the remaining r7 keys, then r8 in rotation_check
# order — any budget overflow lands next-stalest.
_PRIORITY_KEYS = (
    # -- operators/scd2.py rewritten (one keyed window pass) after r10 evidence --
    "scd2_snapshot_diff",
    "pit_join_events",
    # -- edited in r12-opt, r10 evidence (stalest edited tier) --
    "lang_id_markers",
    "doc_fingerprint",
    "text_bpe_tokens",
    "curation_pipeline",
    "doc_chunk_windows",
    "doc_repetition_ratio",
    "quality_classifier_nb",
    "tokenizer_fertility",
    # -- edited in r12-opt, r11 evidence --
    "dedup_simhash",
    "dedup_recall_audit",
    "domain_mix_reweight",
    "seq_packing",
    "eval_contamination",
    "substring_dedup",
    "gopher_quality_filter",
    "tfidf_keywords",
    "bigram_lm_counts",
    "phrase_search",
    "sssp_weighted",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "fuzzy_name_pairs",
    "golden_record_merge",
    "multimodal_gif_features",
    # -- edited THIS round (r13), r12 evidence --
    "knn_ivf_pq_rerank",
    "dedup_cluster_sizes",
    "dedup_minhash_mllib",
    "dedup_prefix_jaccard",
    "dedup_clusters",
    "dedup_canonical_pick",
    "bfs_distance",
    "minhash_containment",
    "pq_encode",
    "knn_pq_adc",
    "knn_ivf_pq",
    "triangle_stats",
    "pagerank_copurchase",
    "linkpred_common_neighbors",
    "kcore_peel",
    "ann_recall_audit",
    "assoc_rules",
    "knn_ivf",
    "knn_lsh",
    "knn_lsh_multiprobe",
    "hybrid_search_rrf",
    # -- stalest never-edited keys (r7 evidence) --
    "data_skew_profile",
    "k_anonymity_profile",
    "l_diversity_events",
    # ---- window boundary (the first 50 keys are checked each round) ----
    "merge_upsert",
    "domain_mix_sample",
    # -- overflow: remaining r7-stale, then r8-stale in rotation order --
    "per_source_cap",
    "range_join_events",
    "funnel_steps",
    "retention_cohorts",
    "pricing_summary",
    "groupby_having_countdistinct",
    "groupby_max",
    "join_3hop_agg",
    "left_join_count",
    "anti_join",
    "semi_join",
    "join_residual_ineq",
    "approx_distinct_kmv",
    "zscore_outliers",
    "equidepth_histogram",
    "incremental_join_view",
    "drift_ks_test",
    "trend_slope_ols",
    "wasserstein_1d",
    "top_value_share",
    "max_concurrent_events",
    "event_path_trigrams",
    "gap_islands",
    "ewma_anomaly",
    "ohlc_bars",
    "twap_daily",
    "interval_union",
    "t_closeness_profile",
    "weighted_sample",
    "cohort_overlap_jaccard",
    "window_lead_gap",
    "concat_null",
    "prefix_int_cast",
    "between_filter",
    "order_by_report",
    "sessionize_2phase",
)

# Family order after the priority keys: remaining r2-stale families first
# so any budget beyond 50 lands on the next-stalest evidence.
_FAMILY_ORDER = (
    stats,
    text,
    graph,
    timeseries,
    quality,
    sampling,
    dedup,
    extra,
    similarity,
    multimodal,
    relational,
    tpch_more,
    tpch_rest,
)


def _ordered(attr: str) -> dict:
    merged = {}
    for m in _MODULES:
        merged.update(getattr(m, attr))
    out = {k: merged[k] for k in _PRIORITY_KEYS if k in merged}
    for m in _FAMILY_ORDER:
        for k in getattr(m, attr):
            if k in merged and k not in out:
                out[k] = merged[k]
    return out


def all_queries():
    return _ordered("QUERIES")


def all_oracles():
    return _ordered("ORACLES")
