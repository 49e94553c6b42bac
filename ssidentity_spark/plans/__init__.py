"""Driver-facing query plans. Importing this package registers every query.

Modules (one per SURVEY.md §2 family):
- analytics  — aggregations / windows / set ops over ``events`` (A*, W*, O*)
- tpch       — join-heavy queries over the star schema (J*)
- scalars    — scalar-function surface incl. FSPL math (D1, D7)
- dedup      — exact + MinHash-LSH + SimHash + Jaccard + embedding near-dup
- similarity — ANN / top-k cosine over ``embeddings`` (U5)
- text       — language-ID, quality, tokens, fingerprints over ``documents`` (U6)
- multimodal — binary-column plumbing (decode stubs, typed metadata)

Registration ORDER is part of the driver contract: the driver's correctness
gate records the first 50 ``queries()`` entries in insertion order, so
``DRIVER_WINDOW`` below pins an explicit 50-query priority set chosen to
cover every module and every SURVEY §2 row (round 1 shipped 32 queries —
the whole tpch/similarity/text surface — outside the window because modules
registered alphabetically). Queries past the window stay registered: they
are still part of the public surface and the local oracle harness
(tests/test_queries_oracle.py, tools/check_correctness.py) runs all of
them; they are redundant *variants* of rows already driver-verified by a
windowed query (tests/test_registry_window.py enforces exactly that).
"""

from ssidentity_spark.plans import (  # noqa: F401
    analytics,
    dedup,
    extras,
    graph,
    multimodal,
    pipeline,
    reference_pipeline,
    scalars,
    similarity,
    sources,
    sqlapi,
    text,
    timeseries,
    tpch,
    tpch2,
    tpch3,
    tpch4,
)
from ssidentity_spark.registry import REGISTRY

# The 50 queries the driver's correctness gate will record, in order.
# r12 ROTATION (executes the queue staged at the end of r11 + VERDICT r11
# asks #1/#6/#8): bench headliners stay windowed and the set GROWS by one
# — graph_kcore is benched from r12 (ask #6: give the r11 graph family
# regression tracking; floor seeds this round). THEN the r12 first-timers
# (id_linkage_banded claims ID2 — the linkage index tier, ask #1;
# ts_acf_windowed claims TS8b — the streamed-sufficient-statistics hatch,
# ask #3). THEN the ten r11-displaced queries the r12 queue comment
# listed, in queue order. THEN the stalest history-green member of every
# module the above leaves unwindowed. THEN pure staleness: the whole
# remaining r4 vintage (tpch2 + pipeline, oldest driver records in the
# registry) — 27 re-verification slots at rotation time. MID-ROUND:
# the three r12 additions (id_linkage_clusters ID3,
# graph_degree_assortativity G5, ts_holt_linear TS10) each displaced
# one r4-vintage tail slot per the house one-for-one rule, and the new
# freshness guard (ask #7) re-queued the round's six source-edited
# parked entries (three flagged by --stale, incl. the NB shared-CTE
# oracle refactor; three more edited before the stamp bootstrap,
# caught by the same policy applied manually) and the E5 eval joined
# as a sixth first-timer — final shape: 21 bench + 6 first-timers + 23
# re-verifications (10 displaced + 7 anchors + 6 guard re-queues),
# still well past the >=8 floor (ask #8).
DRIVER_WINDOW: tuple[str, ...] = (
    # bench headliners (window rule: every bench=True query stays windowed)
    "flagship_hourly_top_types",
    "tpch_q1_pricing_summary",
    "tpch_q6_forecast_revenue",
    "j1_region_revenue",
    "j9_q3_top_orders",
    "j4_range_join_funnel",
    "dedup_exact",
    "dedup_minhash_lsh_pairs",
    "sim_topk_bruteforce",
    "sim_ivfpq_pinned_topk",
    "text_token_stats",
    "pipe_decontaminate",
    "mm_png_decode",
    "ts_gapfill_interpolate",
    "graph_pagerank",
    "j10_bloom_pruned_join",
    "w5_max_concurrency",
    "pipe_pack_sequences",
    "dedup_semantic_cells",
    "w7_event_pattern",
    "graph_kcore",  # benched from r12 (VERDICT r11 ask #6)
    # r12 first-timers
    # NEW in r12: the linkage INDEX tier (ID2) — ID1 answered through
    # the 512-bit signature top-K candidate generator with exact
    # in-bucket verify; geometry measured past the >=0.9 @ <=0.3 corner
    # (SCALE.md r12, tools/linkage_sweep.py) — VERDICT r11 ask #1
    "id_linkage_banded",
    # NEW in r12: windowed ACF (TS8b) — the bounded-tail
    # sufficient-statistics hatch TS8's docstring promised, never
    # materializing a key's full series — VERDICT r11 ask #3
    "ts_acf_windowed",
    # re-queued by the r12 freshness guard (tools/driver_history.py
    # --stale): graph_triangles was source-edited in the r12 optimization
    # pass (edge-set materialization), voiding its parked r6 stamp; it
    # displaces j9_q5_local_supplier_volume (r4 vintage, head of the
    # displaced block -> r13 queue head) per the one-for-one rule:
    "graph_triangles",
    # r13 freshness-guard re-queues (VERDICT r12 item 5): the star-CC
    # prologue (operators/graph.connected_components_star) was edited in
    # r12 (33989ad) while these three consumers were PARKED — the
    # name-keyed stamp could not see the shared-helper edit, so their
    # standing evidence is void until the driver re-greens them. They
    # displace j9_q10_returned_revenue / j8_cross_region_nation /
    # j3_customers_without_orders (all hash-green in CORRECTNESS_r12,
    # freshest evidence in the window -> r14 queue tail). The stamp now
    # hashes the transitive helper closure (driver_history.plan_hash v2)
    # so future shared-operator edits flip staleness automatically.
    "dedup_cc_clusters",
    "dedup_cluster_keep_best",
    "pipe_cluster_safe_split",
    # r13 late re-queues, found by the v3 closure-hash sweep (pre-round
    # tree vs final tree, tools/driver_history.py): these five PARKED
    # queries' executing closures changed this round — connected_
    # components' fixpoint flag reaches ref_companion_clusters, and the
    # assign_cells §4.4 non-determinism fence reaches the four sim_*
    # index tiers through their function-local operator imports (the
    # very gap the v3 walk closes). All five re-verified vs the oracle
    # at sf0.001+sf0.01 on the final tree before windowing; they
    # displace w3_rolling_avg_rows / text_quality / text_langid /
    # pivot_user_type_matrix / dedup_embedding_cosine (all hash-green
    # in CORRECTNESS_r12 — freshest evidence in the window → r14
    # queue tail; per-module coverage unaffected).
    "ref_companion_clusters",
    "sim_ivf_topk",
    "sim_ivf_topk_distributed",
    # freshness-guard re-queues (tools/driver_history.py --stale): the
    # fixpoint-loop rewrite of operators/graph.py reaches these two
    # PARKED consumers through label_propagation and
    # connected_components_star. Each displaces one r13-green sim_* slot
    # (freshest evidence in the window; similarity stays covered by its
    # bench headliners) -> rotation queue tail:
    "graph_label_propagation",  # displaced sim_ivfpq_rerank_topk
    "pipe_split_leakage_eval",  # displaced sim_ivfpq_topk
    # late-r12 first-timer: BFS hop distance (G6) — displaced
    # dedup_simhash_pairs (r10-green, least stale of this block) to
    # the r13 queue head
    "graph_bfs_hops",
    # per-module anchors: stalest history-green member of each module the
    # above leaves unwindowed (last-green rounds in parens)
    "d7_array_manipulation",  # extras (r7)
    "ref_watchlist_alerts",  # reference_pipeline (r6)
    "d7_math_funcs",  # scalars (r7)
    "s5_cdc_apply",  # sources (r6)
    "sql_api_nation_order_stats",  # sqlapi (r8)
    "tpch_q22_global_sales_opportunity",  # tpch3 (r8)
    "tpch_q17_small_quantity_revenue",  # tpch4 (r7)
    # staleness rotation: the whole remaining r4 vintage, oldest first
    # (pipe_split_assign, pipe_stratified_sample were displaced late in
    # r12 by the E5 first-timer + the NB re-queue below -> r13 queue)
    # late-r12: text_classifier_eval (E5, first-timer) + its shared-CTE
    # refactor flipped text_nb_classifier stale (--stale flagged it) —
    # both window per the guard policy:
    "text_classifier_eval",  # E5 — NB confusion matrix + margins
    "text_nb_classifier",  # re-queued: oracle now built from shared CTEs
    # re-queued by the r12 freshness-guard POLICY (stamp-bootstrap gap:
    # these three were source-edited this round BEFORE tools/
    # driver_history.py --stamp first ran, so their stamps reflect the
    # edited source and --stale cannot flag them; same rule applies —
    # edited parked evidence is void until the driver re-greens it.
    # Each displaced one r4-vintage slot: tpch_q14_promo_share,
    # tpch_q18_big_orders, tpch_q4_priority_count -> the r13 queue):
    "pipe_quality_fusion",  # single grouped-assigner rewrite (r12)
    "id_behavior_linkage",  # _exact_linkage extraction (r12)
    "ts_acf",  # _acf_events/_acf_body split (r12)
    # re-queued by the r12 freshness guard (tools/driver_history.py
    # --stale): both were source-edited this round after their stamps
    # (shared-prof refactor + persist-accretion notes), so their parked
    # history evidence is void until the driver re-greens them — each
    # displaced one more r4-vintage slot (tpch_q7_volume_shipping,
    # tpch_q8_market_share move to the r13 queue head):
    "id_linkage_lsh_recall_eval",
    "ts_sax_discords",
    # r12 mid-round first-timers (each displaced one r4-vintage
    # staleness slot — tpch_q9_profit_by_nation, unpivot_customer_metrics,
    # w1_distribution_ranks move to the r13 queue head):
    "id_linkage_clusters",  # ID3 — mutual-kNN identity resolution
    "graph_degree_assortativity",  # G5 — wiring-pattern descriptor
    "ts_holt_linear",  # TS10 — trend-aware EMA sibling
)

# r13 NOTE (optimization round — no new queries, no staleness rotation):
# the only r13 window changes are the three freshness-guard re-queues
# above (star-CC consumers; they displaced the three CORRECTNESS_r12-
# freshest entries j9_q10/j8/j3 to the r14 queue TAIL). The r12-staged
# staleness rotation below was deliberately NOT executed — rotating 20+
# parked queries in the same round that re-times every bench headliner
# would confound the perf comparison — so it carries over verbatim as
# the r14 ROTATION QUEUE, with the freshness stamps now on the v2
# closure-hash basis (run tools/driver_history.py --stale at r14 start;
# anything it flags jumps the queue).
#
# r14 ROTATION QUEUE (carried from r12 staging): regenerate
# DRIVER_VERIFIED_HISTORY and the freshness stamps
# (tools/driver_history.py, then --stamp). Any r14-new queries window
# first (one displaced staleness slot each), then staleness order —
# FIRST the twelve the r12 mid-round additions displaced
# (j9_q5_local_supplier_volume by graph_triangles — freshness-guard
# re-queue after its optimization-pass edit,
# dedup_simhash_pairs by graph_bfs_hops,
# pipe_split_assign by text_classifier_eval,
# pipe_stratified_sample by text_nb_classifier,
# tpch_q14_promo_share by pipe_quality_fusion,
# tpch_q18_big_orders by id_behavior_linkage,
# tpch_q4_priority_count by ts_acf,
# tpch_q7_volume_shipping by id_linkage_lsh_recall_eval,
# tpch_q8_market_share by ts_sax_discords — all five re-queues forced
# by the freshness guard / its bootstrap-gap policy —
# tpch_q9_profit_by_nation by id_linkage_clusters,
# unpivot_customer_metrics by graph_degree_assortativity,
# w1_distribution_ranks by ts_holt_linear) —
# then the r5 vintage (a8_exact_percentiles, agg_percentiles,
# corpus_length_profile, dedup_cc_clusters, j1_brand_pricing,
# j2_supplier_volume, j3_active_customer_nations, j5_asof_last_login,
# j5_asof_payload, mm_frame_sample, ...), oldest-first, with the
# per-module coverage rule outranking strict age as usual, and any
# entry tools/driver_history.py --stale flags jumping the queue
# (its standing evidence is void). Queue tail: sim_ivfpq_rerank_topk and
# sim_ivfpq_topk, displaced by the fixpoint-rewrite re-queues above.
# Queries hash-verified green by the driver in at least one prior round
# (union of CORRECTNESS_r01..r09.json rows with hash_match=true). A query
# may be parked past the window ONLY if it appears here — its green row is
# the standing evidence — so rotation strictly grows the cumulative
# driver-verified set. Regenerate via tools/driver_history.py.
DRIVER_VERIFIED_HISTORY: frozenset[str] = frozenset(
    {
        "a10_heavy_hitters",
        "a11_type_correlation",
        "a12_equidepth_histogram",
        "a13_analyze_profile",
        "a1_user_interests",
        "a2_active_hours",
        "a2_habitual_hour",
        "a3_network_tree",
        "a4_distinct_pairs",
        "a4_mac_key_rollup",
        "a6_value_stats",
        "a8_countmin_estimates",
        "a8_exact_percentiles",
        "a8_hll_distinct",
        "a8_hll_set_algebra",
        "a9_cube_type_dow",
        "a9_rollup_type_hour",
        "agg_min_max_by",
        "agg_ordered_listagg",
        "agg_percentiles",
        "corpus_length_profile",
        "d1_fspl_distance",
        "d7_array_funcs",
        "d7_array_manipulation",
        "d7_date_funcs",
        "d7_from_json_struct",
        "d7_json_extract",
        "d7_math_funcs",
        "d7_string_funcs",
        "dedup_cc_clusters",
        "dedup_cdc_chunks",
        "dedup_cluster_keep_best",
        "dedup_containment_pairs",
        "dedup_embedding_cosine",
        "dedup_exact",
        "dedup_image_neardup_pairs",
        "dedup_incremental_maintained",
        "dedup_incremental_pairs",
        "dedup_jaccard_topk",
        "dedup_lsh_recall_eval",
        "dedup_minhash_lsh_pairs",
        "dedup_minhash_signatures",
        "dedup_semantic_cells",
        "dedup_semantic_trained",
        "dedup_simhash",
        "dedup_simhash_pairs",
        "dedup_span_exact",
        "dedup_span_trim",
        "dedup_stopgram_remove",
        "flagship_hourly_top_types",
        "graph_bfs_hops",
        "graph_degree_assortativity",
        "graph_kcore",
        "graph_label_propagation",
        "graph_pagerank",
        "graph_triangles",
        "id_behavior_linkage",
        "id_linkage_banded",
        "id_linkage_clusters",
        "id_linkage_lsh_recall_eval",
        "ivm_daily_rollup",
        "j10_bloom_pruned_join",
        "j11_fuzzy_part_match",
        "j11_fuzzy_symspell",
        "j1_brand_pricing",
        "j1_region_revenue",
        "j2_supplier_volume",
        "j3_active_customer_nations",
        "j3_customers_without_orders",
        "j4_range_join_funnel",
        "j5_asof_last_login",
        "j5_asof_payload",
        "j8_cross_region_nation",
        "j9_above_nation_avg",
        "j9_q10_returned_revenue",
        "j9_q16_supplier_variety",
        "j9_q2_min_cost_supplier",
        "j9_q3_top_orders",
        "j9_q5_local_supplier_volume",
        "mm_audio_features",
        "mm_avi_frames",
        "mm_binary_metadata",
        "mm_decoded_features",
        "mm_flac_decode",
        "mm_frame_sample",
        "mm_gif_decode",
        "mm_image_dhash",
        "mm_png_decode",
        "mm_video_keyframe_dedup",
        "mm_wav_decode",
        "o1_global_sort_top",
        "o3_union_split",
        "o4_except_users",
        "o4_intersect_users",
        "pipe_chunk_documents",
        "pipe_cluster_safe_split",
        "pipe_cross_source_leakage",
        "pipe_dataset_card",
        "pipe_decontaminate",
        "pipe_docs_clean",
        "pipe_domain_mix",
        "pipe_dp_counts",
        "pipe_embed_quantize",
        "pipe_end_to_end",
        "pipe_expectations_quarantine",
        "pipe_global_row_ids",
        "pipe_k_anonymity",
        "pipe_mixture_select",
        "pipe_pack_nosplit",
        "pipe_pack_sequences",
        "pipe_pii_redact",
        "pipe_quality_fusion",
        "pipe_shard_export",
        "pipe_split_assign",
        "pipe_split_leakage_eval",
        "pipe_stratified_sample",
        "pipe_temperature_mix",
        "pipe_token_budget",
        "pipe_tokenize_pack",
        "pipe_weighted_sample",
        "pipe_winsorize",
        "pivot_status_by_priority",
        "pivot_user_type_matrix",
        "ref_companion_clusters",
        "ref_parse_pipeline",
        "ref_trilateration",
        "ref_trilateration_inputs",
        "ref_visit_sessions",
        "ref_watchlist_alerts",
        "s5_cdc_apply",
        "s5_merge_upsert",
        "s5_scd2_history",
        "sim_ann_recall_eval",
        "sim_filtered_ivf_topk",
        "sim_filtered_topk",
        "sim_ivf_pinned_topk",
        "sim_ivf_probe_curve",
        "sim_ivf_topk",
        "sim_ivf_topk_distributed",
        "sim_ivfpq_pinned_topk",
        "sim_ivfpq_rerank_topk",
        "sim_ivfpq_topk",
        "sim_label_centroids",
        "sim_lsh_bucketed",
        "sim_lsh_multiprobe",
        "sim_mmr_diversify",
        "sim_pq_adc_topk",
        "sim_probe_batch",
        "sim_retrieval_eval",
        "sim_topk_bruteforce",
        "sql_api_daily_type_summary",
        "sql_api_grouping_sets",
        "sql_api_nation_order_stats",
        "sql_api_source_quality_rank",
        "src_avro_roundtrip",
        "src_change_feed",
        "src_change_feed_deletes",
        "src_change_feed_updates",
        "src_clone_shallow",
        "src_compacted_timetravel",
        "src_constraint_reject",
        "src_datasource_scan",
        "src_delete_dv",
        "src_delete_where",
        "src_in_pushdown_scan",
        "src_interchange_roundtrip",
        "src_layout_optimize",
        "src_managed_lookup",
        "src_merge_versioned",
        "src_minmax_range_scan",
        "src_range_pushdown_scan",
        "src_restore_timetravel",
        "src_schema_evolution",
        "src_update_where",
        "src_versioned_timetravel",
        "text_bigram_logprob",
        "text_bigram_profile",
        "text_bm25_scores",
        "text_bpe_tokenize",
        "text_bpe_train",
        "text_classifier_eval",
        "text_fingerprint",
        "text_inverted_postings",
        "text_langid",
        "text_logreg_train",
        "text_nb_classifier",
        "text_ngram_novelty",
        "text_quality",
        "text_repetition_scores",
        "text_source_kl_divergence",
        "text_sparse_cosine_pairs",
        "text_tfidf_top_terms",
        "text_token_stats",
        "text_unigram_logprob",
        "text_winnow_fingerprints",
        "text_wordpiece_tokenize",
        "text_wordpiece_train",
        "tpch_q11_important_value",
        "tpch_q12_late_priority",
        "tpch_q13_custdist",
        "tpch_q14_promo_share",
        "tpch_q15_top_supplier",
        "tpch_q17_small_quantity_revenue",
        "tpch_q18_big_orders",
        "tpch_q19_disjunctive_revenue",
        "tpch_q1_pricing_summary",
        "tpch_q20_excess_suppliers",
        "tpch_q21_waiting_suppliers",
        "tpch_q22_global_sales_opportunity",
        "tpch_q4_priority_count",
        "tpch_q6_forecast_revenue",
        "tpch_q7_volume_shipping",
        "tpch_q8_market_share",
        "tpch_q9_profit_by_nation",
        "ts_acf",
        "ts_acf_windowed",
        "ts_anomaly_mad",
        "ts_changepoint_amoc",
        "ts_ema",
        "ts_gapfill_interpolate",
        "ts_gapfill_locf",
        "ts_holt_linear",
        "ts_leadlag_correlation",
        "ts_m4_downsample",
        "ts_sax_discords",
        "ts_sax_motifs",
        "ts_sax_symbols",
        "ts_seasonal_strength",
        "unpivot_customer_metrics",
        "w1_distribution_ranks",
        "w2_event_gaps",
        "w2_transitions",
        "w2_value_functions",
        "w3_rolling_avg_rows",
        "w3_rolling_count_10min",
        "w4_sessionize",
        "w5_max_concurrency",
        "w6_funnel_progression",
        "w7_event_pattern",
        "zorder_key",
    }
)
# §2 rows whose only evidence is pytest (streaming semantics the batch
# oracle gate cannot exercise) — exempt from the window-coverage invariant.
PYTEST_ONLY_SURVEY_ROWS = frozenset({"J6"})


def _apply_window_order() -> None:
    missing = [n for n in DRIVER_WINDOW if n not in REGISTRY]
    if missing:
        raise RuntimeError(f"DRIVER_WINDOW names unknown queries: {missing}")
    windowed = set(DRIVER_WINDOW)
    tail = [n for n in REGISTRY if n not in windowed]
    ordered = {n: REGISTRY[n] for n in (*DRIVER_WINDOW, *tail)}
    REGISTRY.clear()
    REGISTRY.update(ordered)


_apply_window_order()
