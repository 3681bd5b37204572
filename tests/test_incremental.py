"""Incremental gold refresh: partition-overwrite refresh must produce
byte-identical results to the reference-faithful full recompute, both
at bootstrap and after new blocks land (with a reorg-depth window)."""

from __future__ import annotations

import json
import logging

import pytest
from pyspark.sql import Row

from mining_data_integration_spark import (core, fixtures, incremental,
                                           spans)
from mining_data_integration_spark import schemas as S
from mining_data_integration_spark.fixtures import BH, CH, MINER_B, TX, _h


@pytest.fixture(scope="module")
def tables(spark):
    return fixtures.mining_tables(spark)


def canon_rows(df, drop=("hbucket",)):
    cols = [c for c in df.columns if c not in drop]
    return sorted(tuple(str(v) for v in r) for r in df.select(cols).collect())


def extended_tables(spark, tables):
    """Fixture world + one new burn block 107 / stacks block 6->7."""
    new_snap = Row(
        block_height=107, burn_header_hash=_h("ab", 107),
        parent_burn_header_hash=BH[106], consensus_hash=_h("cc", 107),
        pox_valid=1, total_burn="25000", winning_block_txid=TX[4],
        stacks_block_height=7)
    new_commit = Row(
        burn_header_hash=_h("ab", 107), txid=TX[4], burn_fee="4000",
        key_block_ptr=100, key_vtxindex=2, apparent_sender="s")
    new_header = Row(
        burn_header_hash=_h("ab", 107), block_hash=_h("5b", 6),
        parent_block=_h("5b", 5), consensus_hash=_h("cc", 107),
        block_height=6)
    t = dict(tables)
    t["snapshots"] = S.cast_amounts("snapshots", tables["snapshots"].unionByName(
        tables["snapshots"].sparkSession.createDataFrame(
            [new_snap], S.SNAPSHOTS)))
    t["block_commits"] = S.cast_amounts(
        "block_commits", tables["block_commits"].unionByName(
            tables["block_commits"].sparkSession.createDataFrame(
                [new_commit], S.BLOCK_COMMITS)))
    t["block_headers"] = tables["block_headers"].unionByName(
        tables["block_headers"].sparkSession.createDataFrame(
            [new_header], S.BLOCK_HEADERS))
    return t


class TestIncremental:
    def test_bootstrap_equals_full(self, spark, tables, tmp_path):
        gold = str(tmp_path / "gold")
        with spans.span("caller") as rec:
            incremental.incremental_refresh(
                spark, tables, gold, reorg_depth=10**9)
        # no state yet: the tick runs full and says so in its record
        assert rec.record["mode"] == "full"
        assert [f["kind"] for f in rec.record["fallbacks"]] == \
            ["full_tick"]
        assert set(spans.stages(rec.record)) == {
            "walk", "gold_writes", "merge"}
        for name, builder in (("mining_info", core.mining_info),
                              ("block_info", core.block_info),
                              ("miner_info", core.miner_info)):
            got = canon_rows(spark.read.parquet(f"{gold}/{name}"))
            want = canon_rows(builder(tables))
            assert got == want, f"{name} diverged at bootstrap"

    @pytest.mark.slow
    def test_append_then_incremental_equals_full(self, spark, tables,
                                                 tmp_path):
        gold = str(tmp_path / "gold2")
        incremental.incremental_refresh(
            spark, tables, gold, reorg_depth=10**9)    # bootstrap
        ext = extended_tables(spark, tables)
        info = incremental.incremental_refresh(
            spark, ext, gold, reorg_depth=3)           # narrow window
        assert info["tip"] == 7
        for name, builder in (("mining_info", core.mining_info),
                              ("block_info", core.block_info),
                              ("miner_info", core.miner_info)):
            got = canon_rows(spark.read.parquet(f"{gold}/{name}"))
            want = canon_rows(builder(ext))
            assert got == want, f"{name} diverged after increment"
        # the new winner (TX4 -> miner B) is credited exactly once
        mi = {r.stx_address: r for r in
              spark.read.parquet(f"{gold}/miner_info").collect()}
        assert int(mi[MINER_B]["total_win"]) == 3
        assert int(mi[MINER_B]["actual_win"]) == 3

    @pytest.mark.slow
    def test_refresh_once_warm_equals_cold(self, spark, tables,
                                           tmp_path):
        """A warm full refresh (the windowed tick over the state a cold
        refresh maintained) must produce gold byte-identical to the
        from-scratch compute, across a chain extension."""
        from mining_data_integration_spark.streaming import refresh_once

        gold = str(tmp_path / "goldw")
        assert refresh_once(tables, gold, reuse_gold=True) == "cold"
        ext = extended_tables(spark, tables)
        with spans.span("caller") as rec:
            mode = refresh_once(ext, gold, reuse_gold=True,
                                reorg_depth=3)
        assert mode == "warm" == rec.record["mode"]
        # the tick's stages: no O(history) materialize, no per-table
        # cold writers
        assert set(spans.stages(rec.record)) == {
            "walk", "gold_writes", "merge"}
        for name, builder in (("mining_info", core.mining_info),
                              ("block_info", core.block_info),
                              ("miner_info", core.miner_info)):
            got = canon_rows(spark.read.parquet(f"{gold}/{name}"))
            want = canon_rows(builder(ext))
            assert got == want, f"{name} diverged on warm refresh"
        # a second warm tick off the warm-maintained state also holds
        assert refresh_once(ext, gold, reuse_gold=True,
                            reorg_depth=3) == "warm"
        got = canon_rows(spark.read.parquet(f"{gold}/miner_info"))
        assert got == canon_rows(core.miner_info(ext))

    def test_refresh_once_warm_equals_cold_smoke(self, spark, tables,
                                                 tmp_path, monkeypatch,
                                                 caplog):
        """The default run's warm-refresh equivalence check (the deeper
        variants are `slow`): a warm refresh_once across a one-block
        extension writes the same gold as a cold refresh_once of the
        extended world. Two-height buckets and reorg_depth=1 put the
        window floor at stacks height 6, so heights 0-5 come from the
        persisted chain state. With no caller span open, each refresh
        logs its run record as one JSON line."""
        from mining_data_integration_spark.streaming import refresh_once

        caplog.set_level(logging.INFO, logger=spans.__name__)
        monkeypatch.setattr(incremental, "HEIGHTS_PER_BUCKET", 2)
        warm, cold = str(tmp_path / "warm"), str(tmp_path / "cold")
        assert refresh_once(tables, warm, reuse_gold=True) == "cold"
        ext = extended_tables(spark, tables)
        assert refresh_once(ext, warm, reuse_gold=True,
                            reorg_depth=1) == "warm"
        assert refresh_once(ext, cold) == "cold"
        recs = [json.loads(r.getMessage()) for r in caplog.records
                if r.name == spans.__name__]
        assert [r["mode"] for r in recs] == ["cold", "warm", "cold"]
        assert [f["kind"] for f in recs[0]["fallbacks"]] == \
            ["cold_refresh"]
        assert recs[1]["fallbacks"] == recs[2]["fallbacks"] == []
        assert set(spans.stages(recs[1])) == {
            "walk", "gold_writes", "merge"}
        assert recs[1]["spans"]["jobs"]
        for name in ("mining_info", "block_info", "miner_info"):
            got = canon_rows(spark.read.parquet(f"{warm}/{name}"))
            want = canon_rows(spark.read.parquet(f"{cold}/{name}"))
            assert got == want, f"{name} diverged on warm refresh"

    def test_warm_prepare_outlives_chain_state_dirs(
            self, spark, tables, tmp_path, monkeypatch):
        """Checkpoint-before-overwrite: write_window rewrites the
        chain-state dirs while the gold frames it writes are still
        lazy over the prepared dict, so nothing _windowed_prepare
        returns may read those dirs after it returns. Once it returns,
        the state dirs can go without changing snap, winners or
        enriched: each equals core.prepare's rows for the window. The
        floor sits at stacks height 6 (two-height buckets,
        reorg_depth=1), so the boundary probe reads both state dirs."""
        import os
        import shutil

        from pyspark.sql import functions as F

        from mining_data_integration_spark.streaming import refresh_once

        monkeypatch.setattr(incremental, "HEIGHTS_PER_BUCKET", 2)
        gold = str(tmp_path / "gold")
        assert refresh_once(tables, gold, reuse_gold=True) == "cold"
        ext = extended_tables(spark, tables)
        got = incremental._windowed_prepare(spark, ext, gold, reorg_depth=1)
        assert got is not None and got["aligned_floor"] == 6
        for d in ("canonical_chain", "canonical_stacks"):
            shutil.rmtree(os.path.join(gold, d))
        want = core.prepare(ext)
        window = got["snap"].select("burn_header_hash")
        in_window = {
            "snap": want["snap"].join(window, "burn_header_hash", "semi"),
            "enriched": want["enriched"].join(window, "burn_header_hash",
                                              "semi"),
            "winners": want["winners"].filter(F.col("stacks_height") >= 6)}
        try:
            for key, w in in_window.items():
                cols = sorted(w.columns)
                rows = canon_rows(w.select(cols))
                assert rows, key
                assert canon_rows(got[key].select(cols)) == rows, key
        finally:
            got["enriched"].unpersist()
            want["enriched"].unpersist()

    def test_warm_refresh_runs_the_tick(self, spark, tables, tmp_path,
                                        monkeypatch):
        """A warm refresh is the windowed tick: over the same world and
        window its run record has the tick's stages, and it runs no
        more Spark jobs than the tick."""
        from mining_data_integration_spark.streaming import refresh_once

        monkeypatch.setattr(incremental, "HEIGHTS_PER_BUCKET", 2)
        warm, tick = str(tmp_path / "warm"), str(tmp_path / "tick")
        assert refresh_once(tables, warm, reuse_gold=True) == "cold"
        incremental.incremental_refresh(spark, tables, tick,
                                        reorg_depth=10**9)
        ext = extended_tables(spark, tables)
        with spans.span("caller") as w:
            assert refresh_once(ext, warm, reuse_gold=True,
                                reorg_depth=1) == "warm"
        with spans.span("caller") as t:
            info = incremental.incremental_refresh(spark, ext, tick,
                                                   reorg_depth=1)
        assert info["mode"] == "windowed"
        assert w.record["fallbacks"] == t.record["fallbacks"] == []
        assert set(spans.stages(w.record)) == \
            set(spans.stages(t.record)) == {"walk", "gold_writes", "merge"}
        assert 0 < len(w.record["spans"]["jobs"]) \
            <= len(t.record["spans"]["jobs"])
        for name in ("mining_info", "block_info", "miner_info"):
            assert canon_rows(spark.read.parquet(f"{warm}/{name}")) == \
                canon_rows(spark.read.parquet(f"{tick}/{name}")), name

    @pytest.mark.slow
    def test_warm_refresh_skips_subfloor_gold_partitions(
            self, spark, tables, tmp_path, monkeypatch):
        """round-9 VERDICT #4: the WARM full refresh must not rewrite
        full mining_info/block_info history every refresh — sub-floor
        hbucket partitions are byte-stable and stay untouched, while
        the merged view still equals the full recompute."""
        import glob
        import os

        from mining_data_integration_spark.streaming import refresh_once

        monkeypatch.setattr(incremental, "HEIGHTS_PER_BUCKET", 2)
        gold = str(tmp_path / "goldp")
        assert refresh_once(tables, gold, reuse_gold=True) == "cold"
        low = sorted(glob.glob(f"{gold}/mining_info/hbucket=0/*.parquet"))
        assert low, "cold refresh must write the partitioned layout"
        mtimes = {p: os.path.getmtime(p) for p in low}

        ext = extended_tables(spark, tables)
        assert refresh_once(ext, gold, reuse_gold=True,
                            reorg_depth=1) == "warm"
        after = sorted(glob.glob(f"{gold}/mining_info/hbucket=0/*.parquet"))
        assert after == low
        assert all(os.path.getmtime(p) == mtimes[p] for p in after), \
            "sub-floor gold partition rewritten by a warm full refresh"
        for name, builder in (("mining_info", core.mining_info),
                              ("block_info", core.block_info),
                              ("miner_info", core.miner_info)):
            got = canon_rows(spark.read.parquet(f"{gold}/{name}"))
            assert got == canon_rows(builder(ext)), name

    @pytest.mark.slow
    def test_warm_write_falls_back_full_on_flat_layout(
            self, spark, tables, tmp_path):
        """A gold dir whose outputs were last written FLAT (a
        reuse_gold=False refresh on the same dir) cannot take a
        partition-scoped warm write: the refresh runs cold, says so in
        its run record, and rewrites the layout whole instead of
        mixing layouts."""
        from mining_data_integration_spark.streaming import refresh_once

        gold = str(tmp_path / "goldmix")
        assert refresh_once(tables, gold, reuse_gold=True) == "cold"
        # clobber the partitioned outputs with a flat write
        refresh_once(tables, gold)
        ext = extended_tables(spark, tables)
        with spans.span("caller") as rec:
            assert refresh_once(ext, gold, reuse_gold=True,
                                reorg_depth=3) == "cold"
        assert [f["kind"] for f in rec.record["fallbacks"]] == \
            ["cold_refresh"]
        got = canon_rows(
            spark.read.parquet(f"{gold}/mining_info"))
        assert got == canon_rows(core.mining_info(ext))

    @pytest.mark.slow
    def test_reorg_shrink_prunes_stale_high_buckets(
            self, spark, tables, tmp_path, monkeypatch):
        """A reorg that LOWERS the tip leaves the old tip's buckets
        unrewritten by dynamic overwrite (no new rows land there):
        without the prune, gold serves phantom rows from the abandoned
        fork and stale miner_partials silently corrupt the merged
        miner_info. The tick must end with gold == full recompute on
        the shrunken chain."""
        monkeypatch.setattr(incremental, "HEIGHTS_PER_BUCKET", 1)
        gold = str(tmp_path / "gold")
        ext = extended_tables(spark, tables)      # tip stacks 7
        incremental.incremental_refresh(
            spark, ext, gold, reorg_depth=10**9)
        # "reorg": the world WITHOUT the extension block (tip stacks 6)
        info = incremental.incremental_refresh(
            spark, tables, gold, reorg_depth=3)
        assert info["mode"] == "windowed"
        for name, builder in (("mining_info", core.mining_info),
                              ("block_info", core.block_info),
                              ("miner_info", core.miner_info)):
            got = canon_rows(spark.read.parquet(f"{gold}/{name}"))
            assert got == canon_rows(builder(tables)), \
                f"{name} kept phantom rows above the shrunken tip"

    @pytest.mark.slow
    def test_refresh_once_reorg_shrink_prunes_warm_gold(
            self, spark, tables, tmp_path, monkeypatch):
        from mining_data_integration_spark.streaming import refresh_once

        monkeypatch.setattr(incremental, "HEIGHTS_PER_BUCKET", 1)
        gold = str(tmp_path / "goldw")
        ext = extended_tables(spark, tables)
        assert refresh_once(ext, gold, reuse_gold=True) == "cold"
        assert refresh_once(tables, gold, reuse_gold=True,
                            reorg_depth=3) == "warm"
        for name, builder in (("mining_info", core.mining_info),
                              ("block_info", core.block_info),
                              ("miner_info", core.miner_info)):
            got = canon_rows(spark.read.parquet(f"{gold}/{name}"))
            assert got == canon_rows(builder(tables)), \
                f"{name} kept phantom rows above the shrunken tip"

    @pytest.mark.slow
    def test_mixed_warm_refresh_and_tick_keep_partials_consistent(
            self, spark, tables, tmp_path, monkeypatch):
        """The tick's merge assumes every sub-floor bucket holds
        correct miner_partials. A warm refresh that advances the chain
        WITHOUT maintaining partials breaks that invariant: a later
        tick whose floor sits above the skipped blocks merges partials
        that never saw them, silently dropping their stats from
        miner_info. The reuse_gold refresh family therefore writes
        partials under the same warm/cold split."""
        monkeypatch.setattr(incremental, "HEIGHTS_PER_BUCKET", 1)

        from mining_data_integration_spark.streaming import refresh_once

        def extend(t, n):
            """Append blocks 107..106+n (burn 106+k / stacks 6+k /
            header 5+k) — extended_tables generalized."""
            snaps, commits, headers = [], [], []
            for k in range(1, n + 1):
                tx = TX[4 - (k % 3)]
                snaps.append(Row(
                    block_height=106 + k,
                    burn_header_hash=_h("ab", 106 + k),
                    parent_burn_header_hash=(
                        BH[106] if k == 1 else _h("ab", 105 + k)),
                    consensus_hash=_h("cc", 106 + k), pox_valid=1,
                    total_burn=str(25000 + 1000 * k),
                    winning_block_txid=tx,
                    stacks_block_height=6 + k))
                commits.append(Row(
                    burn_header_hash=_h("ab", 106 + k), txid=tx,
                    burn_fee=str(4000 + 100 * k), key_block_ptr=100,
                    key_vtxindex=2, apparent_sender="s"))
                headers.append(Row(
                    burn_header_hash=_h("ab", 106 + k),
                    block_hash=_h("5b", 5 + k),
                    parent_block=_h("5b", 4 + k),
                    consensus_hash=_h("cc", 106 + k),
                    block_height=5 + k))
            out = dict(t)
            out["snapshots"] = S.cast_amounts(
                "snapshots", t["snapshots"].unionByName(
                    spark.createDataFrame(snaps, S.SNAPSHOTS)))
            out["block_commits"] = S.cast_amounts(
                "block_commits", t["block_commits"].unionByName(
                    spark.createDataFrame(commits, S.BLOCK_COMMITS)))
            out["block_headers"] = t["block_headers"].unionByName(
                spark.createDataFrame(headers, S.BLOCK_HEADERS))
            return out

        gold = str(tmp_path / "gold")
        # bootstrap via the TICK (partials current to stacks tip 6)
        incremental.incremental_refresh(
            spark, tables, gold, reorg_depth=10**9)
        # a WARM refresh advances the chain by TWO blocks (stacks 7, 8)
        assert refresh_once(extend(tables, 2), gold, reuse_gold=True,
                            reorg_depth=3) == "warm"
        # a TICK consumes a third block with a window floor at stacks
        # 8 — ABOVE the warm refresh's first block (stacks 7): if the
        # warm refresh skipped partials, that block's stats are gone
        ext3 = extend(tables, 3)
        info = incremental.incremental_refresh(
            spark, ext3, gold, reorg_depth=1)
        assert info["mode"] == "windowed"
        assert info["lo_height"] == 8    # the gap (7) is sub-floor
        got = canon_rows(spark.read.parquet(f"{gold}/miner_info"))
        assert got == canon_rows(core.miner_info(ext3)), \
            "a block advanced past by the warm refresh vanished " \
            "from the tick's partials merge"

    def test_state_and_partials_scans_take_footer_schemas(
            self, spark, tables, tmp_path, monkeypatch, jobs_of):
        """The tick re-reads its chain state and miner_partials every
        run: io.parquet_scan over their hbucket= layouts gives what
        spark.read.parquet gives (schema with the int partition
        column, and rows) without Spark's schema-inference job."""
        from mining_data_integration_spark.io import parquet_scan

        monkeypatch.setattr(incremental, "HEIGHTS_PER_BUCKET", 2)
        gold = str(tmp_path / "gold")
        incremental.incremental_refresh(spark, tables, gold,
                                        reorg_depth=10**9)
        for name in ("canonical_chain", "canonical_stacks",
                     "miner_partials"):
            path = f"{gold}/{name}"
            df, n = jobs_of(lambda: parquet_scan(spark, path))
            assert n == 0, name
            want = spark.read.parquet(path)
            assert df.schema == want.schema, name
            assert "hbucket" in df.columns, name
            assert canon_rows(df, drop=()) == canon_rows(want, drop=()), \
                name

    def test_merged_miner_info_is_sorted_without_range_sampling(
            self, spark, tables, tmp_path, monkeypatch, jobs_of):
        """The partials merge writes ONE file in stx_address order, the
        rows of core.miner_info, in two Spark jobs: the partials scan
        with the aggregate's map side, then the single sorted
        partition's write. A global orderBy would add a range-sampling
        job."""
        import glob

        import pyarrow.parquet as pq

        monkeypatch.setattr(incremental, "HEIGHTS_PER_BUCKET", 1)
        gold = str(tmp_path / "gold")
        incremental.incremental_refresh(spark, tables, gold,
                                        reorg_depth=10**9)
        _, n = jobs_of(
            lambda: incremental.write_merged_miner_info(spark, gold))
        assert n == 2
        files = glob.glob(f"{gold}/miner_info/*.parquet")
        assert len(files) == 1
        got = pq.read_table(files[0]).to_pylist()
        # stx_address is the group key, so Spark's ascending order
        # (NULL first) fixes one row order
        want = core.miner_info(tables).orderBy("stx_address").collect()
        assert len(got) == len(want) > 1
        assert [tuple(str(v) for v in r.values()) for r in got] == \
            [tuple(str(v) for v in r) for r in want]

    def test_refresh_once_default_stays_reference_faithful(
            self, spark, tables, tmp_path):
        """Without reuse_gold the body is the reference's full
        recompute and writes ONLY the three gold tables — no state
        dirs appear."""
        import os

        from mining_data_integration_spark.streaming import refresh_once

        gold = str(tmp_path / "goldc")
        assert refresh_once(tables, gold) == "cold"
        assert sorted(os.listdir(gold)) == [
            "block_info", "miner_info", "mining_info"]

    @pytest.mark.slow
    def test_distributed_walk_fallback_equals_full(self, spark, tables,
                                                   tmp_path, monkeypatch):
        """Forcing the driver-walk cap to zero routes the tick through
        the distributed segmented-walk fallback — results must be
        byte-identical to the full recompute either way."""
        monkeypatch.setattr(incremental, "WALK_COLLECT_CAP", 0)
        gold = str(tmp_path / "gold_fb")
        incremental.incremental_refresh(
            spark, tables, gold, reorg_depth=10**9)    # bootstrap
        ext = extended_tables(spark, tables)
        info = incremental.incremental_refresh(
            spark, ext, gold, reorg_depth=3)
        assert info["mode"] == "windowed"
        for name, builder in (("mining_info", core.mining_info),
                              ("miner_info", core.miner_info)):
            got = canon_rows(spark.read.parquet(f"{gold}/{name}"))
            want = canon_rows(builder(ext))
            assert got == want, f"{name} diverged on fallback walk"

    def test_walk_collect_cap_gives_the_collected_frames(
            self, spark, tables, tmp_path, monkeypatch):
        """Above WALK_COLLECT_CAP (patched to 0) both canonical walks
        run distributed: core.prepare's frames equal the collected
        walks' (types included), the tips are left to the aggregate
        jobs, and the refresh's run record names the fall-back."""
        from mining_data_integration_spark.streaming import refresh_once

        def frames(p):
            return {k: (p[k].dtypes, canon_rows(p[k], drop=()))
                    for k in ("snap", "stacks_chain", "enriched",
                              "winners")}

        collected = core.prepare(tables)
        want = frames(collected)
        collected["enriched"].unpersist()
        assert (collected["tip_stacks"], collected["tip_headers"]) == (6, 5)

        monkeypatch.setattr(incremental, "WALK_COLLECT_CAP", 0)
        with spans.span("caller") as rec:
            distributed = core.prepare(tables)
        assert frames(distributed) == want
        distributed["enriched"].unpersist()
        assert distributed["tip_stacks"] is distributed["tip_headers"] \
            is None
        distributed["wstacks"] = distributed["stacks_chain"]  # as callers do
        assert incremental.chain_tips(distributed) == (6, 5)
        assert [f["kind"] for f in rec.record["fallbacks"]] == \
            ["walk_collect_cap"] * 2

        gold = str(tmp_path / "gold_cap")
        with spans.span("caller") as rec:
            assert refresh_once(tables, gold, reuse_gold=True) == "cold"
        assert sorted(f["kind"] for f in rec.record["fallbacks"]) == \
            ["cold_refresh", "walk_collect_cap", "walk_collect_cap"]
        for name, builder in (("mining_info", core.mining_info),
                              ("miner_info", core.miner_info)):
            got = canon_rows(spark.read.parquet(f"{gold}/{name}"))
            assert got == canon_rows(builder(tables)), name

    def test_stream_refresh_incremental_mode(self, spark, tables,
                                             tmp_path):
        """The streaming trigger in incremental mode bootstraps on the
        first tick and produces the full-recompute result."""
        from mining_data_integration_spark import streaming

        bronze = str(tmp_path / "bronze")
        gold = str(tmp_path / "gold_s")
        tables["snapshots"].write.parquet(f"{bronze}/snapshots")
        q = streaming.stream_refresh(
            spark, bronze, gold, lambda s: tables,
            interval="1 seconds", checkpoint=str(tmp_path / "ckpt"),
            mode="incremental", reorg_depth=2)
        try:
            import time
            deadline = time.time() + 90
            while time.time() < deadline:
                try:
                    got = canon_rows(spark.read.parquet(f"{gold}/miner_info"))
                    if got == canon_rows(core.miner_info(tables)):
                        break
                except Exception:
                    pass
                time.sleep(2)
            else:
                raise AssertionError("incremental stream never converged")
        finally:
            q.stop()

    def test_state_layout_marker_gates_warm_anchor(self, spark, tables,
                                                   tmp_path):
        """round-10 ADVICE: state written on a different bucket axis
        (or by a build that predates the marker) must never anchor a
        warm path — the tick goes full, DELETES the stale state dirs
        (dynamic overwrite alone would leave foreign-axis buckets in
        place) and re-marks the layout."""
        import os

        gold = str(tmp_path / "gold")
        incremental.incremental_refresh(
            spark, tables, gold, reorg_depth=10**9)
        marker = os.path.join(gold, "STATE_LAYOUT")
        assert os.path.exists(marker)
        with open(marker) as f:
            assert int(f.read()) == incremental.STATE_LAYOUT_VERSION

        # simulate a previous-build gold_dir: no marker, plus one
        # bucket that only an old axis could have produced
        os.remove(marker)
        stale = os.path.join(gold, "canonical_chain", "hbucket=999")
        (spark.read.parquet(os.path.join(gold, "canonical_chain"))
         .drop("hbucket").limit(1).write.parquet(stale))
        assert incremental._window_chain_state(
            spark, tables, gold, 3) is None      # gate fires

        info = incremental.incremental_refresh(
            spark, tables, gold, reorg_depth=3)
        assert info["mode"] == "full"            # warm anchor refused
        assert not os.path.exists(stale)         # stale axis deleted
        assert os.path.exists(marker)            # layout re-marked
        # and with the marker restored the next tick anchors warm
        info = incremental.incremental_refresh(
            spark, extended_tables(spark, tables), gold, reorg_depth=3)
        assert info["mode"] == "windowed"

    def test_refresh_once_cold_restores_layout_marker(
            self, spark, tables, tmp_path):
        import os

        from mining_data_integration_spark.streaming import refresh_once

        gold = str(tmp_path / "gold")
        assert refresh_once(tables, gold, reuse_gold=True) == "cold"
        marker = os.path.join(gold, "STATE_LAYOUT")
        assert os.path.exists(marker)
        assert refresh_once(tables, gold, reuse_gold=True,
                            reorg_depth=3) == "warm"
        os.remove(marker)                         # previous-build dir
        assert refresh_once(tables, gold, reuse_gold=True,
                            reorg_depth=3) == "cold"
        assert os.path.exists(marker)
        assert refresh_once(tables, gold, reuse_gold=True,
                            reorg_depth=3) == "warm"

    def test_untouched_partitions_not_rewritten(self, spark, tables,
                                                tmp_path, monkeypatch):
        """Dynamic overwrite must leave out-of-window buckets' files
        untouched — the point of the incremental path."""
        import glob
        import os

        monkeypatch.setattr(incremental, "HEIGHTS_PER_BUCKET", 2)
        gold = str(tmp_path / "gold3")
        incremental.incremental_refresh(
            spark, tables, gold, reorg_depth=10**9)
        low = sorted(glob.glob(f"{gold}/mining_info/hbucket=0/*.parquet"))
        assert low, "expected a low bucket after bootstrap"
        mtimes = {p: os.path.getmtime(p) for p in low}

        ext = extended_tables(spark, tables)
        incremental.incremental_refresh(spark, ext, gold, reorg_depth=1)
        after = sorted(glob.glob(f"{gold}/mining_info/hbucket=0/*.parquet"))
        assert after == low
        assert all(os.path.getmtime(p) == mtimes[p] for p in after), \
            "low bucket rewritten despite being outside the reorg window"
        # and the merged view still matches the full recompute
        got = canon_rows(spark.read.parquet(f"{gold}/mining_info"))
        assert got == canon_rows(core.mining_info(ext))

    @pytest.mark.slow
    def test_bucketed_bronze_commits_prune_and_match(
            self, spark, tables, tmp_path, monkeypatch):
        """Height-bucketed bronze commits (io.write_bronze_commits):
        the windowed tick must prune out-of-window commit partitions
        at the scan AND still produce the full-recompute result."""
        from mining_data_integration_spark.io import write_bronze_commits

        monkeypatch.setattr(incremental, "HEIGHTS_PER_BUCKET", 2)
        bronze = str(tmp_path / "commits_bronze")
        write_bronze_commits(
            tables["block_commits"], tables["snapshots"], bronze,
            heights_per_bucket=2)
        bucketed = spark.read.parquet(bronze)
        assert "hbucket" in bucketed.columns
        # pruning is real: the floor filter lands in PartitionFilters
        # (metadata-only partition elimination, not a data filter)
        from mining_data_integration_spark.plans import formatted_plan
        plan = formatted_plan(bucketed.filter("hbucket >= 53"))
        assert "PartitionFilters" in plan
        filt_line = next(l for l in plan.splitlines()
                         if "PartitionFilters" in l)
        assert "hbucket" in filt_line and "53" in filt_line

        gold = str(tmp_path / "gold_bb")
        t2 = dict(tables)
        t2["block_commits"] = bucketed
        incremental.incremental_refresh(
            spark, t2, gold, reorg_depth=10**9)        # bootstrap (full)

        ext = extended_tables(spark, tables)
        bronze2 = str(tmp_path / "commits_bronze2")
        write_bronze_commits(
            ext["block_commits"], ext["snapshots"], bronze2,
            heights_per_bucket=2)
        t3 = dict(ext)
        t3["block_commits"] = spark.read.parquet(bronze2)
        info = incremental.incremental_refresh(
            spark, t3, gold, reorg_depth=3)
        assert info["mode"] == "windowed"
        for name, builder in (("mining_info", core.mining_info),
                              ("block_info", core.block_info),
                              ("miner_info", core.miner_info)):
            got = canon_rows(spark.read.parquet(f"{gold}/{name}"))
            want = canon_rows(builder(ext))
            assert got == want, f"{name} diverged with bucketed bronze"
