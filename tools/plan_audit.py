"""Physical-plan audit across the whole query inventory.

For every `queries()` entry, builds the DataFrame at a small sf and
scans the formatted physical plan for scale red flags:

* `CartesianProduct` / `BroadcastNestedLoopJoin` — an inequality or
  accidental cross join that explodes at scale.
* `BatchEvalPython` — row-at-a-time Python in the plan (the slow path;
  Arrow variants are allowed only where listed).
* `ArrowEvalPython` / `MapInPandas` / `FlatMapGroupsInPandas` and the
  Arrow forms `MapInArrow` / `FlatMapGroupsInArrow` /
  `FlatMapCoGroupsInArrow` — Python boundaries; allowed only in the
  queries whose operator IS a Python stage (multimodal decode, crypto
  codecs, Arrow pre-reduce).
* `Exchange SinglePartition` — a global single-partition shuffle;
  allowed only where the flowing rows are provably bounded (final
  top-k of k rows, per-shard summary tables, single-row aggregates).

Queries may carry a whitelist entry with the justification; an
un-whitelisted flag fails the audit (exit 1). Run:

    python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

# flag -> {query: reason} exceptions
ALLOWED: dict[str, dict[str, str]] = {
    "BroadcastNestedLoopJoin": {
        # a BNLJ whose build side is O(1) rows IS the right plan —
        # these are scalar/tiny-set broadcast enrichments, not joins
        "j10_scalar_enrichment": "1-row price/gas scalars (J10 semantics)",
        "f8_prefix_until_sentinel": "1-row sentinel cut position",
        "w4_forward_fill": "1-row global tip for the spine bound",
        "e2_burn_fee_area": "1-row global tip for the spine bound",
        "tx7_tf_rarity_topk": "1-row corpus total for rarity weights",
        "sim1_cosine_topk": "3-row query-vector set broadcast (the "
                            "standard ANN probe pattern)",
        "sim6_scalable_topk": "3-row query-vector set broadcast",
        "sim7_quantized_topk": "3-row query-vector set broadcast",
        "sim9_pq_topk": "3-row query LUT broadcast (ADC probe pattern)",
        "sim31_nsw_recall_eval": "8-row query-vector broadcast (the "
                                 "exact side of the recall report — "
                                 "sim1's probe pattern) + 1-row "
                                 "recall-total broadcast",
        "sim4_ivf_topk": "3-row query-vector set broadcast (IVF probe "
                         "+ brute-force verdict companion) and 1-row "
                         "verdict aggregates",
        "g2_triangle_census": "1-row census-total broadcasts joined "
                              "into the single output row",
        "sim24_ivfpq_cell_occupancy": "1-row code-total broadcast into "
                                      "the n_cells-row occupancy table",
        "a4_win_totals": "two 1-row global win counters cross-joined "
                         "into the single output row (g2 pattern)",
        "tx21_heaps_growth": "O(points) threshold-range joins: the "
                             "4-row prefix table broadcast against "
                             "first-occurrence/doc-size tables",
        "a28_ddsketch_quantiles": "1-row corpus-total broadcast + "
                                  "range joins against the O(buckets) "
                                  "sketch / value-histogram tables",
        "sim10_centroid_classify": "n_labels-row centroid table broadcast",
        "sim35_int_ivf_bigc_topk": "1-row broadcast of the folded "
                                   "centroid-set column (the df "
                                   "quantizer engine: centroids as "
                                   "data, zero plan literals) + 3-row "
                                   "query-vector broadcast",
        # round-13 optimization: quantizer='auto' now resolves to the
        # df engine at EVERY cell count (literal plans cost seconds of
        # codegen per stage), so the whole int-IVF / IVF-PQ family
        # carries sim35's 1-row folded-centroid broadcast; the IVF-PQ
        # probe additionally rides a 1-row codebook-set broadcast
        # (ADC codewords as data, zero plan literals). All build
        # sides are single-row by construction.
        "sim11_int_ivf_topk": "1-row folded centroid-set broadcast "
                              "(df quantizer engine) + 3-row "
                              "query-vector broadcast",
        "sim27_int_range_search": "1-row folded centroid-set "
                                  "broadcast (df quantizer engine) + "
                                  "3-row query-vector broadcast",
        "sim17_int_ivfpq_topk": "1-row centroid-set + 1-row "
                                "codebook-set broadcasts (df-engine "
                                "ADC probe) + 3-row query broadcast",
        "sim19_ivfpq_persisted_topk": "1-row centroid-set + 1-row "
                                      "codebook-set broadcasts "
                                      "(df-engine ADC probe)",
        "sim20_ivfpq_append_probe": "1-row centroid-set + 1-row "
                                    "codebook-set broadcasts "
                                    "(df-engine ADC probe)",
        "sim22_ivfpq_refined_topk": "1-row centroid-set + 1-row "
                                    "codebook-set broadcasts "
                                    "(df-engine ADC probe)",
        "sim23_ivfpq_filtered_topk": "1-row centroid-set + 1-row "
                                     "codebook-set broadcasts "
                                     "(df-engine ADC probe)",
        "sim25_ivfpq_rebalanced_probe": "1-row centroid-set + 1-row "
                                        "codebook-set broadcasts "
                                        "(df-engine ADC probe)",
        "sim26_ivfpq_delete": "1-row centroid-set + 1-row "
                              "codebook-set broadcasts (df-engine "
                              "ADC probe)",
        "dp9_source_mix": "1-row corpus token total broadcast",
        "a21_hll_distinct": "1-row register fold x 1-row exact-distinct "
                            "audit column",
        "tx12_heavy_hitter_langs": "1-row stream total broadcast (the "
                                   "> n/s threshold)",
        "dp13_token_budget_mix": "1-row corpus-total broadcast into the "
                                 "O(strata) allocation table",
        "tx15_surprisal_score": "1-row corpus doc-count broadcast for "
                                "the N/df surprisal base",
        "sim13_recall_eval": "3-row query-vector set broadcast (both "
                             "the exact and LSH probe sides)",
        "sim14_mmr_rerank": "3-row query-vector set broadcast (the "
                            "candidate-pool probe)",
        "tx18_collocations": "1-row corpus-totals broadcast (Nu, Nb "
                             "for the lift denominator)",
        "a25_hll_merge": "1-row harmonic-sum broadcast (merged vs "
                         "global register folds)",
        "sim16_int_pq_topk": "3-row query-vector set broadcast (the "
                             "ADC probe)",
        "sim18_binary_hamming_topk": "3-row packed-signature query "
                                     "broadcast (two int64 lanes)",
        "sim21_ivfpq_recall_eval": "3-row query-vector set broadcast "
                                   "(the exact integer-dot ground-"
                                   "truth side of the recall report)",
    },
    "ArrowEvalPython": {
        "j8_computed_key_join": "sha512/256 key: Arrow-batched codec in a "
                                "final projection (O-R3 placement)",
        "j9_chain_walk": "c32 address codec on the final result rows",
        "mm1_feature_extract": "binary decode IS the operator",
    },
    "MapInPandas": {
        "mm1_feature_extract": "binary decode IS the operator",
        "mm5_ppm_decode": "real from-scratch PPM pixel decode IS the "
                          "operator",
        "mm2_frame_sample": "1->N frame fan-out IS the operator",
        "mm3_resize_plan": "thumbnail resize IS the operator",
        "mm4_audio_windows": "overlap frame windowing IS the operator",
        "sim6_scalable_topk": "partition-local Arrow top-k pre-reduce",
        "tx12_heavy_hitter_langs": "Misra-Gries partition summaries ARE "
                                   "the operator (<= s rows out per "
                                   "partition)",
        "mm6_png_decode": "real PNG encode + inflate/unfilter decode "
                          "ARE the operator (two Arrow stages)",
        "mm7_wav_decode": "real WAV encode + RIFF-walk decode ARE the "
                          "operator (two Arrow stages)",
        "mm8_dhash_clusters": "real PPM decode -> perceptual dHash IS "
                              "the operator",
        "mm9_jpeg_decode": "real baseline-JPEG encode + entropy/IDCT "
                           "decode ARE the operator (two Arrow stages "
                           "through the injectable codec slot)",
        "mm10_gif_decode": "real GIF87a/LZW encode + decode ARE the "
                           "operator (two Arrow stages through the "
                           "injectable codec slot)",
        "mm11_adpcm_decode": "real IMA-ADPCM encode + predictive "
                             "decode ARE the operator (two Arrow "
                             "stages)",
        "mm12_codec_dispatch": "mixed-format encode + sniff-and-"
                               "dispatch decode ARE the operator "
                               "(two Arrow stages over all four "
                               "codec families)",
        "mm13_mjpeg_avi_decode": "real AVI mux + demux/frame-sample/"
                                 "JPEG decode ARE the operator (two "
                                 "Arrow stages through the "
                                 "injectable codec slot)",
    },
    "Exchange SinglePartition": {
        # bounded-row global sorts/windows: the rows reaching the
        # single partition are O(k), O(groups) or O(shards), never O(n)
        "sim4_ivf_topk": "1-row recall/total verdict aggregates "
                         "(broadcast back over O(queries) rows)",
        "sim9_pq_topk": "1-row recall/total verdict aggregates "
                        "(broadcast back over O(queries) rows)",
        "sim31_nsw_recall_eval": "1-row recall_milli total aggregate "
                                 "(broadcast back over O(queries) "
                                 "rows — the sim9 verdict pattern)",
        "sim35_int_ivf_bigc_topk": "the centroid-set fold "
                                   "(_cents_column): rows reaching "
                                   "the single partition are the "
                                   "CELL count (32 here), never the "
                                   "corpus",
        # df-engine default (round-13): the int-IVF family shares
        # sim35's bounded centroid-set fold
        "sim11_int_ivf_topk": "the centroid-set fold (_cents_column): "
                              "rows reaching the single partition are "
                              "the CELL count (4), never the corpus",
        "sim27_int_range_search": "the centroid-set fold "
                                  "(_cents_column): rows reaching the "
                                  "single partition are the CELL "
                                  "count (4), never the corpus",
        "dl1_delta_time_travel": "four 1-row per-version global "
                                 "aggregates unioned into the 4-row "
                                 "time-travel report",
        "o3_argmax": "single max row",
        "s12_filtered_top1": "top-1",
        "f8_prefix_until_sentinel": "top-10 prefix scan",
        "s9_topk_scan": "top-10",
        "a8_global_scaled_sum": "single-row global aggregate",
        "a7_group_count_sum": "single-row global aggregate",
        "x13_sentinel_filter": "single-row global aggregate",
        "w16_funnel": "single-row funnel summary aggregate",
        "dp9_source_mix": "single-row corpus token total aggregate",
        "j17_bloom_prune": "single-row stats aggregate",
        "w14_scalable_cumsum": "per-shard offset table (O(shards) rows)",
        "o6_tail_slice": "per-shard offset table (O(shards) rows)",
        "o7_offset_pagination": "per-shard offset table (O(shards) rows)",
        "o8_range_slice": "per-shard offset table (O(shards) rows)",
        "dp5_sequence_pack": "per-shard token-cumsum offsets (O(shards))",
        "dp21_chunked_pack": "per-shard token-cumsum offsets (O(shards); "
                             "same sharded engine as dp5, chunk-level)",
        "g2_triangle_census": "1-row census aggregates (nodes/edges/"
                              "wedges/triangles totals)",
        "sim24_ivfpq_cell_occupancy": "1-row code-total aggregate + "
                                      "n_cells-row (4) final sort",
        "a4_win_totals": "two 1-row global count aggregates",
        "tx20_zipf_octaves": "per-shard offset table (O(shards) rows; "
                             "the vocab rank uses the sharded "
                             "global_row_number engine)",
        "tx21_heaps_growth": "1-row max-doc-id aggregate",
        "u6_format_roundtrip": "1-row (count, digest) report "
                               "aggregate per format; NOTE u6 runs "
                               "its IO EAGERLY at construction, so "
                               "this audit sees only the 4-row "
                               "LocalTableScan result (vacuous by "
                               "design — see the query docstring)",
        "a28_ddsketch_quantiles": "cumulative windows over O(buckets) "
                                  "sketch rows and O(value domain) "
                                  "distinct prices (a20 engine) — "
                                  "audit column only, droppable at "
                                  "fleet scale",
        "dp8_global_shuffle": "per-shard offset table (O(shards) rows)",
        "dp11_curriculum_epochs": "per-shard offset table (O(shards) rows)",
        "w7_ranking": "per-shard offset table (O(shards) rows; the "
                      "data-sized rank window was replaced by "
                      "global_rank in round 4)",
        "w15_range_frame": "single-key demo series (bounded fixture); "
                           "partitioned variant is w2/w16",
        "e1_miner_info": "O(shards) boundary table of the sharded A2 "
                         "global_lag — visible only now that the audit "
                         "builds the pre-checkpoint DAG (round-10 fix); "
                         "the data-sized global window it replaced is "
                         "gone (window orders pinned in "
                         "tests/test_plans.py)",
        "e1_mining_info": "O(shards) boundary table of the sharded A2 "
                          "global_lag (same as e1_miner_info)",
        "w6_lag_delta": "per-shard boundary tables (O(shards) rows) of "
                        "the sharded global_cumsum/global_lag engines — "
                        "the same machinery core.with_actual_burn runs "
                        "for the E1 A2 delta (narrowed in round 10: the "
                        "data-sized global window is gone)",
        "e2_burn_fee_area": "trailing-1000 slice upstream bounds rows",
        "w1_trailing_mean": "trailing-20 slice",
        "w3_keep_last": "trailing slice upstream",
        "w4_forward_fill": "trailing-1000 spine",
        "tx7_tf_rarity_topk": "global rarity ranking over the distinct-"
                              "term table (vocab-bounded, not corpus)",
        "u2_unpivot": "tiny unpivoted summary",
        "dp7_temperature_sample": "per-stratum cap table (O(strata))",
        "a21_hll_distinct": "m=256-row register table folds to one row",
        "tx12_heavy_hitter_langs": "single-row stream total aggregate",
        "dp13_token_budget_mix": "O(strata)-row mass table folds to the "
                                 "single-row global budget",
        "tx15_surprisal_score": "single-row corpus doc-count aggregate",
        "dp14_length_buckets": "per-shard offset table (O(shards) rows) "
                               "+ O(buckets) min-rank rebase table",
        "dp15_dataset_card": "single-row dataset-card aggregate",
        "dp16_shard_writer_plan": "per-shard offset table (O(shards) "
                                  "rows) + O(langs) rebase table",
        "dp17_pipeline_funnel": "six single-row stage-count aggregates",
        "tx18_collocations": "two single-row corpus-total aggregates",
        "a25_hll_merge": "two m=256-row register tables fold to one "
                         "row each",
        "j19_null_safe_join": "two single-row match-count aggregates",
        "dp20_pack_fill_report": "per-shard token-cumsum offsets "
                                 "(O(shards)) — inherited from dp5",
        "a27_gini_concentration": "rank window over the O(sources) "
                                  "mass rollup, then a single-row "
                                  "summary aggregate",
        "x18_json_shred_stats": "single-row malformed-count audit "
                                "aggregate",
    },
}


def main() -> int:
    # Build the DAGs WITHOUT localCheckpoints (core._ckpt honors this):
    # a checkpoint truncates lineage, so anything upstream of it is
    # invisible to every plan API — the round-9 audit passed the e1_*
    # queries as plain `ok` while the A2 single-partition window hid
    # behind core.prepare's eager checkpoint. With the flag set, the
    # audit sees the FULL logical DAG. tests/test_plans.py pins both
    # directions (blind behind a checkpoint, sighted with the flag).
    os.environ["SPARK_GRAFT_NO_CHECKPOINT"] = "1"

    import __spark_entry__ as e
    from mining_data_integration_spark import plans
    from mining_data_integration_spark.session import get_spark

    spark = get_spark("plan-audit")
    # flag -> substring that actually occurs in FORMATTED explain output.
    # "Exchange SinglePartition" is the simple-mode rendering and never
    # appears in formatted mode (operator line is just "Exchange (n)");
    # the partitioning is in the detail body as "Arguments:
    # SinglePartition, ..." — the round-3 ADVICE vacuous-detector bug.
    flags_to_check = {
        "CartesianProduct": "CartesianProduct",
        "BroadcastNestedLoopJoin": "BroadcastNestedLoopJoin",
        "BatchEvalPython": "BatchEvalPython",
        "ArrowEvalPython": "ArrowEvalPython",
        "MapInPandas": "MapInPandas",
        "FlatMapGroupsInPandas": "FlatMapGroupsInPandas",
        "MapInArrow": "MapInArrow",
        "FlatMapGroupsInArrow": "FlatMapGroupsInArrow",
        "FlatMapCoGroupsInArrow": "FlatMapCoGroupsInArrow",
        "Exchange SinglePartition": "Arguments: SinglePartition",
    }
    name_filters = sys.argv[2:]
    failures = []
    audited = 0
    registry = e.queries()
    for name, fn in sorted(registry.items()):
        if name_filters and not any(f in name for f in name_filters):
            continue
        audited += 1
        try:
            plan = plans.formatted_plan(fn(spark, SF_DIR))
        except Exception as ex:
            print(f"ERROR {name}: {ex}")
            failures.append(name)
            continue
        hits = [f for f, pat in flags_to_check.items() if pat in plan]
        bad = [f for f in hits if name not in ALLOWED.get(f, {})]
        status = "FAIL" if bad else ("ok*" if hits else "ok")
        note = "; ".join(
            f"{f} ({ALLOWED[f][name]})" if name in ALLOWED.get(f, {}) else f
            for f in hits)
        print(f"{status:4} {name}" + (f": {note}" if note else ""))
        if bad:
            failures.append(name)
    # count-parity gate (round-12 judge hygiene #1): an UNFILTERED run
    # must have audited every registry entry — a query registered after
    # the audit ran (sim29's r12 slip, st13's before it) cannot pass
    # the net silently. Filtered runs are iteration tooling, exempt.
    if not name_filters and audited < len(registry):
        print(f"FAIL audit-count-parity: audited {audited} < "
              f"{len(registry)} registered")
        failures.append("audit-count-parity")
    print(f"\naudited {audited}/{len(registry)}; "
          f"{len(failures)} failures"
          + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
