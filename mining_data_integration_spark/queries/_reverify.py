"""AUTOGENERATED by tools/gen_reverify.py — do not edit by hand.

Driver re-verification head for the registry (see queries/__init__.py):
new-this-round queries first, then queries whose code (or any symbol
their call chain references) changed since the round boundary, then the
longest-unverified tail. Regenerate each round AFTER the last code
change:

    python tools/gen_reverify.py

Derived against boundary 394ee508e5ce (round 14: verdict/advice/correctness/bench).
"""

_REVERIFY_FIRST = (
    "dd9_semantic_dedup",
    "dd15_persisted_lsh_probe",
    "dd19_lsh_bucket_audit",
    "dd16_lsh_index_append_probe",
    "dd18_index_tombstone_probe",
    "st13_stream_index_delete",
    "dl1_delta_time_travel",
    "dl2_delta_table_changes",
    "dl3_delta_snapshot_diff",
    "st18_stream_delta_ingest",
    "dl4_delta_pruned_read",
    "dl5_delta_optimize_invariance",
    "dl6_delta_zorder_read",
    "e1_miner_info",
    "e1_mining_info",
    "a4_win_totals",
    "st11_stream_components",
    "j20_bucketed_colocated_join",
    "u6_format_roundtrip",
    "u7_schema_evolution",
    "sim8_random_projection",
    "sim7_quantized_topk",
    "sim11_int_ivf_topk",
    "sim27_int_range_search",
    "sim28_nsw_beam_search",
    "sim29_nsw_persisted_probe",
    "sim30_nsw_delete",
    "sim31_nsw_recall_eval",
    "sim32_nsw_distributed_build",
    "sim33_nsw_append_probe",
    "st17_stream_graph_append",
    "sim34_nsw_sequential_append",
    "sim35_int_ivf_bigc_topk",
    "sim14_mmr_rerank",
    "sim15_knn_graph",
    "sim16_int_pq_topk",
    "sim17_int_ivfpq_topk",
    "sim19_ivfpq_persisted_topk",
    "sim20_ivfpq_append_probe",
    "sim21_ivfpq_recall_eval",
    "sim22_ivfpq_refined_topk",
    "sim23_ivfpq_filtered_topk",
    "st10_stream_index_append",
    "sim24_ivfpq_cell_occupancy",
    "sim25_ivfpq_rebalanced_probe",
    "sim26_ivfpq_delete",
    "st12_stream_ann_probe",
    "st14_stream_ann_delete",
    "st16_stream_graph_delete",
    "st15_stream_ann_append",
    "w6_lag_delta",
    "w16_funnel",
    "w26_linear_interpolation",
    "st9_stream_ingest_dedup",
    "w19_rolling_active_users",
    "w20_zscore_outliers",
    "j18_salted_skew_join",
    "j19_null_safe_join",
    "mm5_ppm_decode",
    "mm6_png_decode",
    "mm7_wav_decode",
    "dp5_sequence_pack",
    "dp8_global_shuffle",
    "dp14_length_buckets",
)
