"""Plan-property tests (SURVEY §4): pin pushdown, column pruning and
broadcast choices on the hot queries so Catalyst-visible regressions
(a filter hidden behind a UDF, a lost broadcast) fail CI."""

from __future__ import annotations

import pytest

from mining_data_integration_spark import plans

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as e
    return e.queries()


class TestCheckpointBlindSpot:
    """Round-9 VERDICT #2: core.prepare's eager localCheckpoint
    truncated lineage, so the plan audit could not see the A2
    single-partition window upstream of it. The fix is two-sided:
    the E1 lag has no global window (now a parent-row join), AND the
    audit builds the DAG with SPARK_GRAFT_NO_CHECKPOINT=1 so nothing
    hides."""

    def test_detector_blind_behind_checkpoint_sighted_with_flag(
            self, spark, monkeypatch):
        """Self-test: an intentionally-injected global window upstream
        of a core._ckpt is INVISIBLE with checkpoints on (the round-9
        blind spot, pinned) and FAILS the detector when the audit flag
        disables them."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from mining_data_integration_spark import core

        df = spark.range(50).withColumn("v", F.col("id") * 3)
        bad = df.withColumn(
            "p", F.lag("v").over(Window.orderBy("id")))

        hidden = core._ckpt(bad)            # checkpoints ON
        assert plans.unpartitioned_window_orders(hidden) == []

        monkeypatch.setenv("SPARK_GRAFT_NO_CHECKPOINT", "1")
        visible = core._ckpt(bad)           # audit flag: no truncation
        orders = plans.unpartitioned_window_orders(visible)
        assert any("id" in o for o in orders)

    def test_e1_lag_is_sharded_in_the_pre_checkpoint_dag(
            self, spark, monkeypatch):
        """The A2 lag-delta of the full-history prep, and of
        with_actual_burn over any row set, must show no unpartitioned
        window in the un-truncated DAG: it is a join onto each row's
        parent row."""
        from mining_data_integration_spark import core, fixtures
        from mining_data_integration_spark.chain import canonical_snapshots

        monkeypatch.setenv("SPARK_GRAFT_NO_CHECKPOINT", "1")
        tables = fixtures.mining_tables(spark)
        snap = core.with_actual_burn(
            canonical_snapshots(tables["snapshots"]))
        assert plans.unpartitioned_window_orders(snap) == []
        # with_actual_burn directly, over rows no walk has filtered
        direct = core.with_actual_burn(
            tables["snapshots"].filter("pox_valid != 0"))
        assert plans.unpartitioned_window_orders(direct) == []

    def test_e1_registered_queries_have_only_shard_windows(
            self, spark, monkeypatch, queries):
        """The registered flagship queries, built exactly as the plan
        audit builds them (pre-checkpoint DAG): no unpartitioned
        window at all."""
        monkeypatch.setenv("SPARK_GRAFT_NO_CHECKPOINT", "1")
        for name in ("e1_miner_info", "e1_mining_info"):
            df = queries[name](spark, SF)
            assert plans.unpartitioned_window_orders(df) == [], name


class TestPlanProperties:
    def test_f3_filter_pushed_to_scan(self, spark, queries):
        df = queries["f3_range_filter"](spark, SF)
        pushed = " ".join(plans.pushed_filters(df))
        assert "l_shipdate" in pushed and "l_quantity" in pushed

    def test_a1_scan_pruned(self, spark, queries):
        df = queries["a1_pricing_summary"](spark, SF)
        (cols,) = plans.scan_columns(df)
        # lineitem has 16 columns; Q1 needs 7 at most
        assert len(cols) <= 7
        assert "l_comment" not in cols

    def test_j1_broadcasts_dimensions(self, spark, queries):
        df = queries["j1_equi_join_chain"](spark, SF)
        assert plans.has_broadcast_join(df)

    def test_j6_composite_key_join_shape(self, spark, queries):
        df = queries["j6_composite_key_join"](spark, SF)
        assert plans.count_operator(df, "Join") >= 1
        assert plans.pushed_filters(df)   # IsNotNull on join keys

    def test_trailing_n_is_distributed_topk(self, spark, queries):
        """w1 and monitor.trailing are trailing-N slices: they must
        plan as TakeOrderedAndProject (per-partition top-K merged on
        the driver), never as a global row_number window that drags
        the whole table onto one partition."""
        from mining_data_integration_spark.monitor import trailing

        df = queries["w1_trailing_mean"](spark, SF)
        plan = plans.formatted_plan(df)
        assert "TakeOrderedAndProject" in plan
        assert plans.count_operator(df, "Window") == 0

        base = spark.range(1000).withColumnRenamed("id", "h")
        tdf = trailing(base, 20, "h")
        tplan = plans.formatted_plan(tdf)
        assert "TakeOrderedAndProject" in tplan
        assert plans.count_operator(tdf, "Window") == 0

    def test_dedup_stays_jvm_side(self, spark, queries):
        # dd1's digest/groupBy path must not contain a Python UDF eval
        df = queries["dd1_exact_dedup"](spark, SF)
        assert plans.count_operator(df, "BatchEvalPython") == 0
        assert plans.count_operator(df, "ArrowEvalPython") == 0

    def test_band_join_is_equi_not_nested_loop(self, spark, queries):
        """The whole point of the bucketed band join: an inequality
        join must NOT plan as a nested-loop/cartesian product."""
        for name in ("j14_band_join", "j15_interval_overlap_join"):
            plan = plans.formatted_plan(queries[name](spark, SF))
            assert "NestedLoop" not in plan, name
            assert "CartesianProduct" not in plan, name

    def test_scalable_rownum_queries_shard_the_window(self, spark, queries):
        """o6/o7/o8 pagination must shard on the literal-bucketed shard
        id (a pure row expression — never spark_partition_id); the only
        allowed single-partition window runs over per-shard summary
        rows."""
        for name in ("o6_tail_slice", "o7_offset_pagination",
                     "o8_range_slice"):
            plan = plans.formatted_plan(queries[name](spark, SF))
            assert "windowspecdefinition(_sc_pid" in plan, name
            assert "hashpartitioning(_sc_pid" in plan.lower(), name
            assert "spark_partition_id" not in plan.lower(), name

    def test_bucketed_join_has_no_shuffle(self, spark, tmp_path):
        """Two tables bucketed on the join key join without a shuffle
        exchange — the co-located layout big fact-fact joins need."""
        from pyspark.sql import functions as F
        from mining_data_integration_spark.io import write_bucketed

        a = spark.range(10000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
        b = spark.range(10000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
        write_bucketed(a, "bkt_a", "k", 8, path=str(tmp_path / "a"))
        write_bucketed(b, "bkt_b", "k", 8, path=str(tmp_path / "b"))
        thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
            plan = plans.formatted_plan(joined)
            assert "SortMergeJoin" in plan
            n_shuffle = plan.count("Exchange") \
                - plan.count("BroadcastExchange")
            assert n_shuffle == 0, \
                f"bucketed join still shuffles:\n{plan[:500]}"
            assert joined.count() == 10000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)

    def test_j20_join_below_all_exchanges(self, spark, queries):
        """j20: the bucketed fact-fact join itself must be
        exchange-free — both SMJ inputs read co-located buckets
        straight off the scan; the only exchanges sit ABOVE the join
        (the O(groups) aggregate + the 5-row final sort). In the
        formatted tree that means every Exchange line precedes the
        SortMergeJoin line, and no broadcast was silently substituted."""
        df = queries["j20_bucketed_colocated_join"](spark, SF)
        tree = plans.formatted_plan(df).split("\n\n")[0]
        assert "SortMergeJoin" in tree
        assert "BroadcastExchange" not in tree
        assert tree.rindex("Exchange") < tree.index("SortMergeJoin"), \
            f"exchange below the bucketed join:\n{tree}"

    def test_mm1_prunes_before_decode(self, spark, queries):
        # metadata width-filter must run before the mapInPandas decode
        df = queries["mm1_feature_extract"](spark, SF)
        plan = plans.formatted_plan(df)
        decode = plan.find("MapInPandas")
        filt = plan.find("Filter")
        assert decode != -1 and filt != -1


class TestNewOpPlans:
    def test_tx8_repetition_no_python_and_two_aggs(self, spark, queries):
        # repetition metrics must stay JVM-side (explode + two hash aggs)
        df = queries["tx8_repetition"](spark, SF)
        assert plans.count_operator(df, "BatchEvalPython") == 0
        assert plans.count_operator(df, "ArrowEvalPython") == 0
        assert plans.count_operator(df, "HashAggregate") >= 2

    def test_dp8_shuffle_shards_the_window(self, spark, queries):
        # the epoch-shuffle global rank must go through the two-phase
        # sharded row_number, not one single-partition window over the
        # corpus (_sc_pid marks the sharded path; the shard id must be
        # a pure row expression, never spark_partition_id)
        plan = plans.formatted_plan(queries["dp8_global_shuffle"](spark, SF))
        assert "windowspecdefinition(_sc_pid" in plan
        assert "spark_partition_id" not in plan.lower()

    def test_tx9_pii_scrub_is_map_side_only(self, spark, queries):
        # redaction is one projection over the scan: no joins, no aggs
        df = queries["tx9_pii_scrub"](spark, SF)
        assert plans.count_operator(df, "Join") == 0
        assert plans.count_operator(df, "HashAggregate") == 0

    def test_sim7_quantized_no_python(self, spark, queries):
        df = queries["sim7_quantized_topk"](spark, SF)
        assert plans.count_operator(df, "BatchEvalPython") == 0
        assert plans.count_operator(df, "ArrowEvalPython") == 0

    def test_dp6_decontaminate_single_shingle_shuffle_join(self, spark, queries):
        # overlap must be an equi join (shuffle or broadcast picked by
        # AQE at this size), never a nested loop over shingle pairs
        plan = plans.formatted_plan(queries["dp6_decontaminate"](spark, SF))
        assert "NestedLoop" not in plan
        assert "CartesianProduct" not in plan

    def test_dd7_edit_distance_is_blocked_equi_join(self, spark, queries):
        # the levenshtein self-join must ride the block equi-key, never
        # a cartesian product, and stay JVM-side (levenshtein builtin)
        df = queries["dd7_edit_distance_nn"](spark, SF)
        plan = plans.formatted_plan(df)
        assert "NestedLoop" not in plan
        assert "CartesianProduct" not in plan
        assert plans.count_operator(df, "BatchEvalPython") == 0

    def test_j17_bloom_filter_broadcasts_not_shuffles(self, spark, queries):
        # the bitmap words and the key set are broadcast; the fact side
        # must reach the bloom test without a fact-sized shuffle join
        df = queries["j17_bloom_prune"](spark, SF)
        assert plans.has_broadcast_join(df)
        assert plans.count_operator(df, "SortMergeJoin") == 0

    def test_a19_histogram_partial_aggregates(self, spark, queries):
        # binning must map-side combine: two HashAggregates (partial +
        # final), no join, no window
        df = queries["a19_histogram"](spark, SF)
        assert plans.count_operator(df, "HashAggregate") >= 2
        assert plans.count_operator(df, "Join") == 0

    def test_sim8_projection_is_map_side_jvm(self, spark, queries):
        # the projection must be shuffle-free column math: no joins,
        # no aggregates, no Python eval (signs fold in as literals)
        df = queries["sim8_random_projection"](spark, SF)
        assert plans.count_operator(df, "Join") == 0
        assert plans.count_operator(df, "HashAggregate") == 0
        assert plans.count_operator(df, "BatchEvalPython") == 0
        assert plans.count_operator(df, "ArrowEvalPython") == 0

    def test_dd5_simhash_candidates_equi_not_nested_loop(self, spark, queries):
        # the half-collision OR condition must be band-stacked into an
        # equi join; BNLJ here would be all-pairs at scale
        plan = plans.formatted_plan(queries["dd5_simhash_near_dups"](spark, SF))
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_tx10_boilerplate_jvm_side_equi_joins(self, spark, queries):
        df = queries["tx10_boilerplate"](spark, SF)
        plan = plans.formatted_plan(df)
        assert "CartesianProduct" not in plan
        assert plans.count_operator(df, "BatchEvalPython") == 0
        assert plans.count_operator(df, "ArrowEvalPython") == 0


class TestIvfpqPersistedPlan:
    def test_sim19_probe_scans_only_index_partitions(self, spark,
                                                     queries):
        """sim19's probe plan must read ONLY the persisted index: the
        codes scan carries a static _cell IN (...) PartitionFilter
        (the probed q rows were materialized driver-side, so pruning
        happens at planning time), the embeddings source table never
        appears (queries were localized with them), and no Python
        boundary exists — the probe is pure JVM scan+join+window."""
        df = queries["sim19_ivfpq_persisted_topk"](spark, SF)
        plan = plans.formatted_plan(df)
        assert "sg_ivfpq_index" in plan                 # index scan
        assert "PartitionFilters" in plan
        import re
        assert re.search(r"PartitionFilters:.*_cell#\d+ IN \(", plan)
        assert "embeddings.parquet" not in plan         # index only
        for py in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
            assert py not in plan


class TestCosineTopkRewrite:
    """SURVEY §4's named custom-rewrite surface: brute-force cosine
    top-k over an LSH-bucketable corpus rewrites into the bucket-
    pruned equi-join. Asserted as before/after PHYSICAL plans, the way
    a Catalyst rule's golden test would pin it."""

    def _frames(self, spark):
        import __spark_entry__  # noqa: F401 (path setup)
        from mining_data_integration_spark.queries._util import spread, t
        from pyspark.sql import functions as F

        emb = spread(t(spark, SF, "embeddings"), "vec_id")
        q = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"))
        return emb, q

    def test_before_brute_force_is_bnlj(self, spark):
        from mining_data_integration_spark.planner import plan_cosine_topk

        emb, q = self._frames(spark)
        df, strategy = plan_cosine_topk(emb, q, k=5, approx_ok=False)
        assert strategy == "bruteforce"
        plan = plans.formatted_plan(df)
        assert "BroadcastNestedLoopJoin" in plan  # the N x Q shape

    def test_after_rewrite_is_pruned_hash_join(self, spark):
        from mining_data_integration_spark.planner import plan_cosine_topk

        emb, q = self._frames(spark)
        df, strategy = plan_cosine_topk(
            emb, q, k=5, approx_ok=True, corpus_rows=10 ** 9)
        assert strategy == "lsh_pruned"
        plan = plans.formatted_plan(df)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan        # equi-join on bucket
        assert "bucket" in plan

    def test_rewrite_gates_are_conjunctive(self, spark):
        """No stats -> no rewrite (CBO discipline); stats below the
        threshold -> no rewrite; approximation never fires silently."""
        from mining_data_integration_spark.planner import plan_cosine_topk

        emb, q = self._frames(spark)
        _, s1 = plan_cosine_topk(emb, q, approx_ok=True)          # no stats
        _, s2 = plan_cosine_topk(emb, q, approx_ok=True,
                                 corpus_rows=10)                  # tiny
        _, s3 = plan_cosine_topk(emb, q, approx_ok=False,
                                 corpus_rows=10 ** 9)             # no opt-in
        assert (s1, s2, s3) == ("bruteforce",) * 3

    def test_rewrite_keeps_self_hit(self, spark):
        """Sanity on results, not just plans: each query's own vector
        is in its bucket, so rank-1 of the pruned plan is the query
        itself with cos_sim 1."""
        from pyspark.sql import functions as F

        from mining_data_integration_spark.planner import plan_cosine_topk

        emb, q = self._frames(spark)
        df, _ = plan_cosine_topk(
            emb, q, k=3, approx_ok=True, corpus_rows=10 ** 9)
        top1 = {(r.q_id, r.vec_id)
                for r in df.filter(F.col("rk") == 1).collect()}
        assert top1 == {(i, i) for i in range(3)}


class TestTombstonedProbePlan:
    def test_tombstoned_probe_keeps_partition_pruning(self, spark,
                                                      tmp_path):
        """The delete lifecycle must not pay for itself at probe time:
        the tombstone anti-join is a BROADCAST of the bounded takedown
        set, and the static _cell IN (...) PartitionFilter still
        reaches the codes scan THROUGH the anti-join (a left-side
        deterministic filter pushes through left_anti), so a probe of
        a tombstoned index reads n_probe cells, not the whole index."""
        import re

        from pyspark.sql import functions as F

        from mining_data_integration_spark.operators import (
            similarity as S)

        rows = [(i, [float(((i * 7 + j * 3) % 11) - 5)
                     for j in range(8)]) for i in range(40)]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")
        path = str(tmp_path / "idx")
        S.save_ivfpq_index(emb, path, n_cells=2, m=2, kc=2, iters=2,
                           dim=8)
        S.delete_from_ivfpq_index(
            emb.filter("vec_id % 5 = 0").select("vec_id"), path)
        idx = S.load_ivfpq_index(spark, path)
        q = emb.filter("vec_id < 2").select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"))
        df = S.ivfpq_probe_topk(idx, q, k=3, n_probe=1)
        plan = plans.formatted_plan(df)
        assert re.search(r"PartitionFilters:.*_cell#\d+ IN \(", plan)
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        assert "SortMergeJoin" not in plan
