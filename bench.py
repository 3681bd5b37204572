"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric", "value", "unit", "queries", "sf"}.

The headline set spans the engine's operator families (scan, join, agg,
window, dedup, similarity, text) so the number tracks whole-engine
throughput, not one hot path. Execution is forced with a count() of the
result DataFrame — same as the driver's consumption pattern.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "a1_pricing_summary",     # flagship hash aggregate (TPC-H Q1 shape)
    "a6_order_rollup",        # groupBy + collect_list(struct)
    "j1_equi_join_chain",     # multi-table equi-join chain
    "j6_composite_key_join",  # composite-key broadcast join
    "j8_computed_key_join",   # join on computed key
    "w2_cumulative_sum",      # partitioned running window
    "w10_sessionize",         # session windows over events
    "o7_offset_pagination",   # global row_number slice (range-sharded)
    "w14_scalable_cumsum",    # global running sum, two-phase sharded
    "j14_band_join",          # bucketed range join on events
    "a15_salted_group_agg",   # skew-salted two-stage aggregate
    "dd1_exact_dedup",        # content-hash dedup
    "dd3_minhash_lsh",        # MinHash LSH candidate pairs
    "sim1_cosine_topk",       # brute-force cosine top-k
    "tx2_quality_score",      # text quality scoring
]


# round-5/6 additions, timed separately so the HEADLINE series stays
# comparable round-over-round (frozen at the same 15 queries since
# round 1). One warm + MEDIAN OF 3 timed runs each (round 8): the
# single-run values produced phantom x2-x5 swings on untouched code
# in rounds 6-7 — box noise, indistinguishable from real regressions
# without a median.
EXTENDED = [
    "g1_pagerank",             # iterative graph analytics
    "w25_interval_coverage",   # sweep-line interval union
    "dd12_incremental_dedup",  # ingest-batch dedup vs corpus
    "w27_mad_outliers",        # exact rank medians x2
    "mm8_dhash_clusters",      # real decode -> perceptual hash
    "st6_stream_sessionize",   # genuine streaming session windows
    "mm9_jpeg_decode",         # r6: real baseline-JPEG encode+decode
    "e1_mining_info",          # r6: full E1 DAG on the synth world
    "sim22_ivfpq_refined_topk",  # r8: persisted-index probe + refine
    "mm13_mjpeg_avi_decode",     # r8: AVI demux + per-frame JPEG
    "j20_bucketed_colocated_join",  # r8: shuffle-free bucketed SMJ
    "g3_label_components",       # r8: 6-round BSP label propagation
    "g4_star_components",        # r9: O(log n) star contraction CC
    "dd16_lsh_index_append_probe",  # r9: index append+compact+probe
    "sim24_ivfpq_cell_occupancy",   # r9: occupancy audit off index
    "dd18_index_tombstone_probe",   # r11: delete lifecycle, band index
    "sim26_ivfpq_delete",           # r11: delete lifecycle, IVF-PQ
    "st12_stream_ann_probe",        # r11: streaming ANN ingest probe
    "g5_bfs_hops",                  # r11: multi-source frontier BFS
    "sim27_int_range_search",       # r11: IVF radius search, no rank
    "sim28_nsw_beam_search",        # r12: graph ANN, BSP beam search
    "sim29_nsw_persisted_probe",    # r12: persisted-graph probe side
    "sim30_nsw_delete",             # r13: graph delete lifecycle
    "sim31_nsw_recall_eval",        # r13: high-recall point report
    "sim32_nsw_distributed_build",  # r13: k-NN graph build, c=32
    "sim33_nsw_append_probe",       # r13: graph append (search+relink)
    "sim35_int_ivf_bigc_topk",      # r13: query-side IVF at 32 cells
    "dl2_delta_table_changes",      # r13: delta CDC (file-level)
    "dp22_importance_weights",      # r13: DSIR importance weighting
]


def e1_refresh_bench(spark, n_blocks: int, cpb: int = 10) -> dict:
    """Operational-parity number (BASELINE.md: the reference recomputes
    its whole dashboard every 120 s, server.js:444-446): time the full
    E1 gold recompute and the steady-state incremental tick against
    height-bucketed bronze, on a synthetic chain of n_blocks burn
    blocks. Round 8: both are MEDIAN OF 3 warm runs (one discarded
    warm-up first — rounds 6-7 proved single runs swing +-40% on this
    box). Round 10: cold, warm and tick all run refresh machinery
    INCLUDING writes, so the three numbers compare like-for-like.
    Each timed call runs inside a root span, and its stage breakdown
    is spans.stages() of the run record the refresh itself produces
    (cold: walk/gold_writes and the gw_* writers; warm and tick:
    walk/gold_writes/merge, the same windowed path).
    tools/bench_e1.py is the standalone/larger-scale variant."""
    import shutil

    from mining_data_integration_spark import spans
    from mining_data_integration_spark.incremental import incremental_refresh
    from mining_data_integration_spark.io import write_bronze_commits
    from mining_data_integration_spark.synthworld import (
        land_as_parquet, synth_mining_world)

    # clean slate: stale gold state from a previous invocation would
    # silently change which refresh path the timed calls take
    for d in ("/tmp/bench_e1_bronze", "/tmp/bench_e1_bronze_commits",
              "/tmp/bench_e1_gold_bb", "/tmp/bench_e1_gold_cold",
              "/tmp/bench_e1_gold_warm"):
        shutil.rmtree(d, ignore_errors=True)

    tables = synth_mining_world(spark, n_blocks, cpb, n_miners=200)
    tables = land_as_parquet(tables, "/tmp/bench_e1_bronze", spark)

    # round-10 symmetry fix (round-9 VERDICT "what's wrong #3"): cold
    # and warm refreshes measure THE SAME WORK — one refresh_once
    # including all gold + state writes — so the two numbers compare
    # like-for-like. (Previously cold only .count()ed the outputs while
    # warm included writes, which read as "warm is a regression".)
    from mining_data_integration_spark.streaming import refresh_once

    gold_c = "/tmp/bench_e1_gold_cold"

    def timed(fn) -> tuple[float, dict, object]:
        """(wall, stage map, result) of one call under a root span."""
        with spans.span("e1") as s:
            out = fn()
        return (round(s.record["spans"]["wall_s"], 2),
                spans.stages(s.record), out)

    def one_cold() -> tuple[float, dict]:
        shutil.rmtree(gold_c, ignore_errors=True)  # no state -> cold
        wall, st, mode = timed(
            lambda: refresh_once(tables, gold_c, reuse_gold=True))
        assert mode == "cold", mode
        return wall, st

    # steady state of a long-lived refresh process (the reference
    # recomputes on a 120 s timer in one warm process, server.js:444):
    # discard one warm-up run (one-off JIT / codegen / scan-metadata
    # costs no periodic tick repays), then median-of-3
    one_cold()
    full_runs = sorted((one_cold() for _ in range(3)),
                       key=lambda x: x[0])
    full, full_stages = full_runs[1]

    bronze = "/tmp/bench_e1_bronze_commits"
    write_bronze_commits(tables["block_commits"], tables["snapshots"], bronze)
    tables["block_commits"] = spark.read.parquet(bronze)
    gold = "/tmp/bench_e1_gold_bb"
    incremental_refresh(spark, tables, gold, reorg_depth=10 ** 12)

    def one_tick() -> tuple[float, dict, dict]:
        return timed(lambda: incremental_refresh(
            spark, tables, gold, reorg_depth=1000))

    one_tick()  # warm-up (first windowed tick pays its own JIT)
    tick_runs = sorted((one_tick() for _ in range(3)),
                       key=lambda x: x[0])
    tick, tick_stages, r = tick_runs[1]
    assert r["mode"] == "windowed", r  # the tick must not silently go full

    # WARM full refresh: the windowed tick over the state the cold
    # bootstrap maintained (O(reorg window), not from-genesis). Cold
    # bootstrap, then median-of-3 warm runs with stage breakdowns.
    gold_w = "/tmp/bench_e1_gold_warm"
    shutil.rmtree(gold_w, ignore_errors=True)
    refresh_once(tables, gold_w, reuse_gold=True)

    def one_warm() -> tuple[float, dict]:
        wall, st, mode = timed(lambda: refresh_once(
            tables, gold_w, reuse_gold=True, reorg_depth=1000))
        assert mode == "warm", mode
        return wall, st

    one_warm()
    warm_runs = sorted((one_warm() for _ in range(3)),
                       key=lambda x: x[0])
    warm, warm_stages = warm_runs[1]
    return {"n_blocks": n_blocks, "commits_per_block": cpb,
            "full_refresh_sec": full, "full_stages": full_stages,
            "warm_full_refresh_sec": warm, "warm_stages": warm_stages,
            "incremental_tick_sec": tick, "tick_stages": tick_stages,
            "runs": 3, "budget_sec": 120}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)

    from mining_data_integration_spark.session import get_spark
    import __spark_entry__ as entry_mod

    spark = get_spark("bench")
    queries = entry_mod.queries()

    per_query: dict[str, float] = {}
    for name in HEADLINE:
        fn = queries[name]
        fn(spark, sf_dir).count()  # warm: parquet footer + JIT paths
        # median of 5 timed runs: GC pauses / Python-worker churn on
        # this box can spike a single run 3-5x; with 3 runs one spike
        # still lands in the median about one run in nine
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            times.append(time.perf_counter() - t0)
        per_query[name] = round(sorted(times)[2], 3)

    total = round(sum(per_query.values()), 3)

    # plan hygiene: total single-partition exchanges across the headline
    # plans (detector fixed round 4 per ADVICE — formatted explain puts
    # the partitioning on an `Arguments: SinglePartition` detail line,
    # so the old `Exchange SinglePartition` substring never matched and
    # reported a false 0). True steady-state value is 2: the O(shards)
    # per-shard offset-table prefix scans in o7 and w14, both bounded
    # and whitelisted (tools/plan_audit.py); per-query counts pinned in
    # tests/test_driver_contract.py.
    from mining_data_integration_spark import plans
    sp_exchanges = sum(
        plans.single_partition_exchanges(queries[n](spark, sf_dir))
        for n in HEADLINE)

    out = {
        "metric": "headline_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "single_partition_exchanges": sp_exchanges,
        "sf": sf,
    }

    # round-5 extension ops (skippable: SPARK_GRAFT_EXTENDED=0);
    # median-of-3 since round 8 — see the EXTENDED comment
    if os.environ.get("SPARK_GRAFT_EXTENDED", "1") != "0":
        from mining_data_integration_spark import spans

        ext: dict[str, float] = {}
        splits: dict[str, dict] = {}
        for name in EXTENDED:
            fn = queries[name]
            fn(spark, sf_dir).count()  # warm
            times = []
            for _ in range(3):
                with spans.span(name) as s:
                    fn(spark, sf_dir).count()
                times.append(s.record["spans"]["wall_s"])
            med = round(sorted(times)[1], 3)
            ext[name] = med
            last_stages = spans.stages(s.record)
            if last_stages:
                # round-12 VERDICT #5: lifecycle queries pay their
                # artifact's train/build/maintain inside the query —
                # split those EAGER stages out so r-over-r compares
                # probe-to-probe. probe_residual = the lazy query side
                # (the last run's time outside every top-level stage,
                # so a nested train is not subtracted twice).
                last_stages["probe_residual"] = \
                    s.record["spans"]["self_s"]
                splits[name] = last_stages
        out["extended_queries"] = ext
        if splits:
            out["extended_stage_splits"] = splits

        # round-14 (VERDICT #6): the persisted ANN index artifacts
        # under /tmp/sg_{nsw,ivfpq}_index survive across bench runs by
        # design (build-once/probe-many lifecycle), so the steady-state
        # numbers above report build_index: 0.0 once a prior run built
        # them. Record ONE cold-build sample per round — delete the
        # two untagged artifacts these queries build, run each
        # lifecycle query once, keep its stage snapshot — so the build
        # path's cost stays measured. Additions-only: runs AFTER the
        # extended medians (their series stays comparable) and
        # rebuilds exactly what it deleted; the tagged artifacts other
        # queries own stay in place.
        import shutil as _shutil

        from mining_data_integration_spark.queries.similarity import (
            _ivfpq_index_path, _nsw_index_path)

        for d in (_nsw_index_path(sf_dir), _ivfpq_index_path(sf_dir)):
            _shutil.rmtree(d, ignore_errors=True)
        cold: dict[str, dict] = {}
        for name in ("sim29_nsw_persisted_probe", "st12_stream_ann_probe"):
            with spans.span(name) as s:
                queries[name](spark, sf_dir).count()
            snap = spans.stages(s.record)
            snap["cold_total"] = s.record["spans"]["wall_s"]
            cold[name] = snap
        out["build_cold"] = cold

    # mining-domain operational parity (skippable: SPARK_GRAFT_E1_BLOCKS=0)
    e1_blocks = int(os.environ.get("SPARK_GRAFT_E1_BLOCKS", "50000"))
    if e1_blocks > 0:
        out["e1_refresh"] = e1_refresh_bench(spark, e1_blocks)

    # UNIFIED stage schema (round-13 VERDICT #8): one
    # {scenario: {stage: sec}} map covering the extended lifecycle
    # splits AND the e1 refresh stages — tools/bench_e1.py emits the
    # same key, so gen_summary renders both from one structure and
    # round-over-round stage diffs are mechanical. The legacy keys
    # (extended_stage_splits, e1_refresh.*_stages) stay for driver
    # continuity.
    unified: dict[str, dict] = dict(out.get("extended_stage_splits",
                                            {}))
    e1 = out.get("e1_refresh", {})
    for scen, key in (("e1_cold", "full_stages"),
                      ("e1_warm", "warm_stages"),
                      ("e1_tick", "tick_stages")):
        if e1.get(key):
            unified[scen] = e1[key]
    if unified:
        out["stages"] = unified

    print(json.dumps(out))


if __name__ == "__main__":
    main()
