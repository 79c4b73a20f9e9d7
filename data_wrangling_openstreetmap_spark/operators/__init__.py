"""Graded operator implementations (SURVEY.md §2 inventory).

Importing this package imports every query module, firing their
``@register`` decorators, then reorders the registry so the driver's
grading window sees full capability coverage. ``ALL_MODULES`` exists so
the registry can trigger that side effect explicitly.

Why the reorder: the round-1 driver graded exactly the FIRST 50 registry
entries in iteration order, which (with alphabetical module imports)
ended mid-``relational`` — windows, streaming, set-ops, and the UDF
surface got no correctness signal at all (VERDICT.md round 1, finding
#1). ``DRIVER_WINDOW`` pins the first 50 entries to a covering set: at
least one representative query for every SURVEY §2 capability row.
Everything else keeps its module order after the window.
"""

from . import (
    composites,
    functions_sweep,
    llm,
    multimodal,
    osm_demo,
    quality,
    relational,
    scale,
    sql_frontend,
    streaming_ops,
    udfs,
    windows,
)
from ..registry import REGISTRY

ALL_MODULES = (
    relational,
    composites,
    windows,
    functions_sweep,
    llm,
    multimodal,
    streaming_ops,
    osm_demo,
    scale,
    udfs,
    quality,
    sql_frontend,
)

# First 50 registry entries = the driver's grading window. Every window
# entry carries a full DuckDB oracle — the driver's 50 slots are all
# value-hash-graded, none rows-only. Order within the window is
# thematic, not significance-ranked — only membership matters.
#
# ROUND-13 ROTATION — built by the standing policy below (verbatim from
# round 11; second majority-sentinel window):
#
# AUTOMATIC picks (38) — every ORACLED name whose body changed this
# optimization round (policy 1a/1b; the rows-only l3_ann_lsh/l3_ann_ivf
# carry ADVICE-r12 and r13 rewrites but cannot enter an all-oracled
# window — their oracled image l3_ann_recall_contract stands in):
#   - ANN/kernel tiling + min-agg dedup + ADVICE r12 #1/#2:
#     q10_cosine_topk, l3_knn_block_matmul, l2_embedding_neardup,
#     l3_ann_recall_contract, l2_semdedup
#   - symmetric halving (r13) + the shared top-k window helper, ADVICE
#     r13 (policy 1b): l3_cosine_topk_hof
#   - composed shingle fold / prefix filter / long-format winnow packs
#     / spread (VERDICT r12 §Next #2/#4): l2_minhash_lsh,
#     l2_incremental_minhash_dedup, l2_minhash_recall, l2_bbit_minhash,
#     l2_lsh_bucket_health, l4_winnow_fingerprint, l2_simhash
#   - dense-mask probe/ckpt (VERDICT r12 §Next #7, ADVICE r12 #3):
#     l2_jaccard_pairs, l2_containment_join, x2_similarity_sql
#   - NTZ epoch migration (VERDICT r12 §Next #3, the st14 class):
#     j7_asof_join, w3_lag_lead, w13_time_weighted_avg,
#     w16_ohlc_resample, w21_ewma_irregular, j15_nearest_event_join,
#     j17_error_free_attribution, dq9_duplicate_payments,
#     dq10_freshness_audit, q50_max_concurrency, q51_rfm_segmentation,
#     q59_capped_sessions, q61_attribution_lasttouch,
#     st4_late_data_policy, st19_session_stats_rollup,
#     st20_watermark_survivors, st23_gap_monitor,
#     st26_sliding_watermark_extrema, st40_segment_session_dwell,
#     x1_asof_sql, x1b_asof_left_sql, x1c_asof_multikey_sql
#
# CHURN SENTINELS (12), staleness-ranked per the policy (grade round
# from the checked-in CORRECTNESS ledgers vs last file churn = r12/r13):
#   - rewritten r12, never regraded since: j9_fuzzy_name_join (r3),
#     j13_trajectory_similarity (r4), l6_covariance_matrix (r3), and
#     st14_lateness_profile (r4 grade; its r12 session-TZ FIX has never
#     been driver-graded — the highest-priority sentinel in the repo)
#   - oldest grades (r1) in files churned this round:
#     l2_fingerprint_dupsets, l4_word_freq, l6_centroid_distances,
#     q14_promo_share, q15_top_supplier, q18_large_volume_customers,
#     q19_disjunctive_revenue, f4_math — 12 sentinels total
#     (l4_trigram_novelty, rewritten r12 and graded r9, was the
#     lowest-ranked and gave its slot to l3_cosine_topk_hof)
#
# ROUND-13+ WINDOW POLICY (standing, decided round 11 per VERDICT r10
# §Next 4 — kept verbatim so the next rotation follows it):
#   1. AUTOMATIC picks, in order: (a) any name whose oracle or operator
#      body an ADVICE finding touched this round; (b) any name REWRITTEN
#      this round (the j7/j15 precedent); (c) never-graded new names.
#   2. CHURN-RANKED sentinels fill the rest: for each graded name,
#      compute (last round its defining file was touched) − (round of
#      its latest grade); pick the largest-staleness names first,
#      tie-broken toward (a) names whose tags have the OLDEST freshest
#      grade anywhere (tag-level staleness), then (b) headline bench
#      queries. ~5 slots should stay reserved for brand-new twins minted
#      by capability work (never-graded names always outrank sentinels).
#   3. The tag-coverage invariant (window ∪ graded-green must span every
#      tag) and the all-oracled rule (no rows-only names in the window)
#      are unchanged and remain machine-checked.
DRIVER_WINDOW = (
    # automatic picks — r13 rewrites (kernels/hashing/masks):
    "q10_cosine_topk",
    "l3_knn_block_matmul",
    "l2_embedding_neardup",
    "l3_ann_recall_contract",
    "l2_semdedup",
    "l3_cosine_topk_hof",
    "l2_minhash_lsh",
    "l2_incremental_minhash_dedup",
    "l2_minhash_recall",
    "l2_bbit_minhash",
    "l2_lsh_bucket_health",
    "l4_winnow_fingerprint",
    "l2_simhash",
    "l2_jaccard_pairs",
    "l2_containment_join",
    "x2_similarity_sql",
    # automatic picks — NTZ epoch migration sites:
    "j7_asof_join",
    "w3_lag_lead",
    "w13_time_weighted_avg",
    "w16_ohlc_resample",
    "w21_ewma_irregular",
    "j15_nearest_event_join",
    "j17_error_free_attribution",
    "dq9_duplicate_payments",
    "dq10_freshness_audit",
    "q50_max_concurrency",
    "q51_rfm_segmentation",
    "q59_capped_sessions",
    "q61_attribution_lasttouch",
    "st4_late_data_policy",
    "st19_session_stats_rollup",
    "st20_watermark_survivors",
    "st23_gap_monitor",
    "st26_sliding_watermark_extrema",
    "st40_segment_session_dwell",
    "x1_asof_sql",
    "x1b_asof_left_sql",
    "x1c_asof_multikey_sql",
    # churn sentinels (staleness-ranked):
    "st14_lateness_profile",
    "j9_fuzzy_name_join",
    "j13_trajectory_similarity",
    "l6_covariance_matrix",
    "l2_fingerprint_dupsets",
    "l4_word_freq",
    "l6_centroid_distances",
    "q14_promo_share",
    "q15_top_supplier",
    "q18_large_volume_customers",
    "q19_disjunctive_revenue",
    "f4_math",
)

assert len(DRIVER_WINDOW) == 50, len(DRIVER_WINDOW)


def _reorder_registry() -> None:
    missing = [n for n in DRIVER_WINDOW if n not in REGISTRY]
    assert not missing, f"DRIVER_WINDOW names not registered: {missing}"
    ordered = {n: REGISTRY[n] for n in DRIVER_WINDOW}
    for name, spec in REGISTRY.items():
        if name not in ordered:
            ordered[name] = spec
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder_registry()
