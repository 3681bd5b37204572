"""Golden-output tests for the E1 core DAG on the hand-built mining
fixture (fixtures.py). Expected values are hand-computed from the
fixture definition; they pin the reference semantics from SURVEY §3 E1:
F1/F2 canonical snapshots, A2 lag-delta, J2/J6/J7 enrichment, A1 stats,
J9 fork walk, A3 actual wins, A6 block rollup, F12 mining_info."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mining_data_integration_spark import core, fixtures
from mining_data_integration_spark.chain import (
    canonical_snapshots, canonical_stacks_chain, chain_members, deepest_tip,
)
from mining_data_integration_spark.fixtures import (
    BH, BH_FORK103, BH_INVALID104, MINER_A, MINER_B, MINER_C, SH, SH_ORPHAN,
)

A, B, C = MINER_A, MINER_B, MINER_C


@pytest.fixture(scope="module")
def tables(spark):
    return fixtures.mining_tables(spark)


def rows_by(df, key):
    return {r[key]: r.asDict() for r in df.collect()}


class TestChainWalk:
    def test_canonical_snapshots_drops_fork_and_invalid(self, tables):
        canon = canonical_snapshots(tables["snapshots"])
        hashes = {r.burn_header_hash for r in canon.collect()}
        assert hashes == {BH[h] for h in range(100, 107)}
        assert BH_FORK103 not in hashes          # duplicate-height fork row
        assert BH_INVALID104 not in hashes       # pox-invalid twin

    def test_deepest_tip_and_orphan_exclusion(self, tables):
        tip = deepest_tip(tables["block_headers"]).collect()
        assert [r.block_hash for r in tip] == [SH[5]]
        chain = canonical_stacks_chain(tables["block_headers"])
        hashes = {r.block_hash for r in chain.collect()}
        assert hashes == {SH[i] for i in range(6)}
        assert SH_ORPHAN not in hashes

    def test_segmented_equals_doubling(self, spark):
        # 500-block chain + fork twins at every 50th height; tiny
        # bucket span forces many segments and cross-bucket stitching
        from mining_data_integration_spark.chain import (
            chain_members_segmented,
        )
        n = 500
        rows = [(f"n{i:04d}", f"n{i-1:04d}" if i else "0" * 64, i)
                for i in range(n)]
        rows += [(f"f{i:04d}", f"n{i-1:04d}", i)
                 for i in range(49, n, 50)]          # fork twins
        edges = spark.createDataFrame(
            rows, "id string, parent string, h long")
        tips = spark.createDataFrame([(f"n{n-1:04d}",)], "id string")
        doubling = {r.id for r in
                    chain_members(edges, tips, "id", "parent").collect()}
        segmented = {r.id for r in chain_members_segmented(
            edges, f"n{n-1:04d}", "id", "parent", "h", bucket_span=64
        ).collect()}
        assert segmented == doubling == {f"n{i:04d}" for i in range(n)}

    @pytest.mark.slow
    def test_rcte_walk_matches_pointer_doubling(self, spark):
        """Spark 4 WITH RECURSIVE walk = pointer-doubling walk on a
        chain with a dead branch."""
        from mining_data_integration_spark.chain import (
            chain_members,
            chain_members_rcte,
        )
        Z = "0" * 64
        rows = [(f"n{i:03d}", f"n{i-1:03d}" if i else Z) for i in range(60)]
        rows += [(f"d{i}", f"d{i-1}" if i else "elsewhere")
                 for i in range(15)]
        edges = spark.createDataFrame(rows, "id string, parent string")
        tips = spark.createDataFrame([("n059",)], "id string")
        doubling = {r.id for r in
                    chain_members(edges, tips, "id", "parent").collect()}
        rcte = {r.id for r in chain_members_rcte(
            edges, "n059", "id", "parent").collect()}
        assert rcte == doubling == {f"n{i:03d}" for i in range(60)}

    @staticmethod
    def _hidden_entry_edges(spark):
        """Adversarial non-contiguous chain: the bucket entry n10 has an
        in-bucket fork child AND sits below the bucket's top height, so
        the segmented walk's candidate rule misses it."""
        Z = "0" * 64
        rows = [(f"n{i:02d}", f"n{i-1:02d}" if i else Z, i)
                for i in range(11)]              # chain heights 0..10
        rows += [("fork_g", "n10", 11)]          # in-bucket child of n10
        rows += [("fork_f", "nowhere", 15)]      # bucket-top decoy
        rows += [(f"m{i:02d}", f"m{i-1:02d}" if i > 50 else "n10", i)
                 for i in range(50, 61)]         # gap: 50's parent = n10
        return spark.createDataFrame(
            rows, "id string, parent string, h long")

    def test_segmented_fallback_on_hidden_entry(self, spark):
        """The walk must detect the broken stitch and fall back to
        pointer doubling."""
        from mining_data_integration_spark.chain import (
            chain_members_segmented,
        )
        got = {r.id for r in chain_members_segmented(
            self._hidden_entry_edges(spark), "m60", "id", "parent", "h",
            bucket_span=16).collect()}
        want = {f"m{i:02d}" for i in range(50, 61)} | \
               {f"n{i:02d}" for i in range(11)}
        assert got == want

    def test_segmented_fallback_is_in_the_run_record(self, spark):
        """The pointer-doubling fall-back is not silent: it appears in
        the run record of the span it ran under, and a walk that needs
        no fall-back notes nothing."""
        from mining_data_integration_spark import spans
        from mining_data_integration_spark.chain import (
            chain_members_segmented,
        )
        edges = self._hidden_entry_edges(spark)
        with spans.span("walk") as s:
            chain_members_segmented(edges, "m60", "id", "parent", "h",
                                    bucket_span=16)
            # without the fork child n10 is a bucket entry again
            chain_members_segmented(edges.filter("id != 'fork_g'"), "m60",
                                    "id", "parent", "h", bucket_span=16)
        (fb,) = s.record["fallbacks"]
        assert fb["kind"] == "segmented_walk_fallback"
        assert fb["span"] == "walk" and "n10" in fb["detail"]

    def test_auto_selects_segmented_with_height(self, spark, monkeypatch):
        """chain_members_auto branch 1: a height column routes to the
        segmented engine (pinned by poisoning the other two)."""
        from mining_data_integration_spark import chain as C

        def boom(*a, **k):
            raise AssertionError("wrong engine selected")

        monkeypatch.setattr(C, "chain_members_rcte", boom)
        monkeypatch.setattr(C, "chain_members", boom)
        Z = "0" * 64
        rows = [(f"n{i:02d}", f"n{i-1:02d}" if i else Z, i)
                for i in range(20)]
        edges = spark.createDataFrame(
            rows, "id string, parent string, h long")
        got = {r.id for r in C.chain_members_auto(
            edges, "n19", "id", "parent", height_col="h").collect()}
        assert got == {f"n{i:02d}" for i in range(20)}

    def test_auto_defaults_to_doubling_without_height(
            self, spark, monkeypatch):
        """No height column -> pointer doubling EVEN on Spark 4 (the
        round-8 verdict fix): depth is unknown without a height
        column, and WITH RECURSIVE's per-level materialization cliffs
        around depth ~3000, so it must never be the blind default."""
        from mining_data_integration_spark import chain as C

        def boom(*a, **k):
            raise AssertionError("wrong engine selected")

        monkeypatch.setattr(C, "chain_members_segmented", boom)
        monkeypatch.setattr(C, "chain_members_rcte", boom)
        assert C._spark_major(spark) >= 4  # env invariant this pin rides on
        Z = "0" * 64
        rows = [(f"n{i:02d}", f"n{i-1:02d}" if i else Z) for i in range(20)]
        edges = spark.createDataFrame(rows, "id string, parent string")
        got = {r.id for r in C.chain_members_auto(
            edges, "n19", "id", "parent").collect()}
        assert got == {f"n{i:02d}" for i in range(20)}

    def test_auto_rcte_is_explicit_opt_in(self, spark, monkeypatch):
        """prefer_rcte=True + Spark 4 + no height -> WITH RECURSIVE
        (the only path into the depth-cliffed engine via auto)."""
        from mining_data_integration_spark import chain as C

        def boom(*a, **k):
            raise AssertionError("wrong engine selected")

        monkeypatch.setattr(C, "chain_members_segmented", boom)
        monkeypatch.setattr(C, "chain_members", boom)
        assert C._spark_major(spark) >= 4
        Z = "0" * 64
        rows = [(f"n{i:02d}", f"n{i-1:02d}" if i else Z) for i in range(20)]
        edges = spark.createDataFrame(rows, "id string, parent string")
        got = {r.id for r in C.chain_members_auto(
            edges, "n19", "id", "parent", prefer_rcte=True).collect()}
        assert got == {f"n{i:02d}" for i in range(20)}

    def test_auto_non_casting_tip_errors_loudly(self, spark):
        """A tip that does not cast into a non-string id column must
        raise (round-9 ADVICE), not silently walk to an empty result
        from a NULL tip."""
        from mining_data_integration_spark import chain as C

        rows = [(i, i - 1) for i in range(1, 6)]
        edges = spark.createDataFrame(rows, "id long, parent long")
        # ANSI mode: the CAST itself raises; non-ANSI: the cast
        # yields NULL and the raise_error branch fires — loud either way
        with pytest.raises(Exception,
                           match="does not cast|cannot be cast"):
            C.chain_members_auto(edges, "xyz", "id", "parent").collect()

    def test_auto_non_casting_tip_errors_loudly_ansi_off(self, spark):
        """round-10 ADVICE: with ANSI OFF the CAST yields NULL instead
        of raising, and the previous dropped-assert_true guard was
        PRUNED by Catalyst — the walk silently returned [Row(id=None)].
        The guard is now folded into the kept column (when/raise_error)
        so it cannot be pruned; this pins the non-ANSI path."""
        from mining_data_integration_spark import chain as C

        rows = [(i, i - 1) for i in range(1, 6)]
        edges = spark.createDataFrame(rows, "id long, parent long")
        old = spark.conf.get("spark.sql.ansi.enabled")
        spark.conf.set("spark.sql.ansi.enabled", "false")
        try:
            with pytest.raises(Exception, match="does not cast"):
                C.chain_members_auto(
                    edges, "xyz", "id", "parent").collect()
            # and the happy path still walks under ANSI off
            got = {r.id for r in C.chain_members_auto(
                edges, "5", "id", "parent").collect()}
            assert got == {1, 2, 3, 4, 5}
        finally:
            spark.conf.set("spark.sql.ansi.enabled", old)

    def test_auto_falls_back_to_doubling_pre_spark4(
            self, spark, monkeypatch):
        """Branch 3: no height column + pre-4 Spark -> pointer doubling."""
        from mining_data_integration_spark import chain as C

        def boom(*a, **k):
            raise AssertionError("wrong engine selected")

        monkeypatch.setattr(C, "chain_members_segmented", boom)
        monkeypatch.setattr(C, "chain_members_rcte", boom)
        monkeypatch.setattr(C, "_spark_major", lambda s: 3)
        Z = "0" * 64
        rows = [(f"n{i:02d}", f"n{i-1:02d}" if i else Z) for i in range(20)]
        edges = spark.createDataFrame(rows, "id string, parent string")
        got = {r.id for r in C.chain_members_auto(
            edges, "n19", "id", "parent").collect()}
        assert got == {f"n{i:02d}" for i in range(20)}

    def test_auto_doubling_accepts_bigint_keyed_chain(
            self, spark, monkeypatch):
        """Branch 3 with a NON-STRING id column (round-7 ADVICE): the
        str tip is built as a string column and CAST to the edge id
        type, so a bigint-keyed chain walks ("19" -> 19L) instead of
        raising TypeError from createDataFrame schema verification."""
        from mining_data_integration_spark import chain as C

        monkeypatch.setattr(C, "chain_members_segmented",
                            lambda *a, **k: (_ for _ in ()).throw(
                                AssertionError("wrong engine")))
        monkeypatch.setattr(C, "chain_members_rcte",
                            lambda *a, **k: (_ for _ in ()).throw(
                                AssertionError("wrong engine")))
        monkeypatch.setattr(C, "_spark_major", lambda s: 3)
        # ids start at 1 and genesis points at 0: the ZERO64 genesis
        # sentinel casts to 0L on a bigint column, so 0 IS the
        # sentinel value (the walk terminates there, and an id of 0
        # would collide with it)
        rows = [(i, i - 1) for i in range(1, 21)]
        edges = spark.createDataFrame(rows, "id long, parent long")
        got = {r.id for r in C.chain_members_auto(
            edges, "20", "id", "parent").collect()}
        assert got == set(range(1, 21))

    def test_chain_members_long_chain(self, spark):
        # 300-link chain + 50-node dead branch: pointer doubling must
        # cover length ≫ 2^#rounds-naive and exclude the branch
        n = 300
        rows = [(f"n{i:04d}", f"n{i-1:04d}" if i else "0" * 64)
                for i in range(n)]
        rows += [(f"b{i:04d}", f"b{i-1:04d}" if i else "n0100")
                 for i in range(50)]
        edges = spark.createDataFrame(rows, "id string, parent string")
        tips = spark.createDataFrame([(f"n{n-1:04d}",)], "id string")
        got = {r.id for r in
               chain_members(edges, tips, "id", "parent").collect()}
        assert got == {f"n{i:04d}" for i in range(n)}


Z = "0" * 64


def _chain(n, lo=0, prefix="n"):
    """(id, parent, height, pox_valid) rows of a chain prefix{lo}..{n-1},
    each the parent of the next; the first row's parent is ZERO64."""
    return [(f"{prefix}{h:03d}", f"{prefix}{h - 1:03d}" if h > lo else Z,
             h, 1) for h in range(lo, n)]


def _with(rows, **changed):
    """`rows` with the parent of the named ids replaced."""
    return [(i, changed.get(i, p), h, v) for i, p, h, v in rows]


# every input the collected walk must agree with pointer doubling and
# the distributed (segmented) walk on: (id, parent, height, pox_valid)
WALK_CASES = {
    "pox_invalid_and_dead_fork_twins": _chain(30) + [
        ("x010", "n009", 10, 0),          # pox-invalid twin ...
        ("x011", "x010", 11, 1),          # ... with a valid child
        ("d015", "n014", 15, 1),          # dead fork twin
        ("d016", "d015", 16, 1),
        ("x030", "n029", 30, 0)],         # pox-invalid row above the tip
    "tie_at_tip_height": _chain(30) + [("a029", "n028", 29, 1)],
    "missing_parent": _with(_chain(30), n012="gone"),
    # heights 0..10 and 200..210 with n010 hidden behind an in-bucket
    # fork child and a bucket-top decoy: the segmented walk's fallback
    "height_gap": _chain(11) + _chain(211, lo=200, prefix="m")[1:] + [
        ("m200", "n010", 200, 1), ("fork_g", "n010", 11, 1),
        ("fork_f", "nowhere", 15, 1)],
    "zero64_genesis": _chain(20) + [(Z, None, -1, 1)],
    "cycle": _with(_chain(20), n003="n007") + [
        ("c001", "c002", 5, 1), ("c002", "c001", 6, 1)],
    "null_parent_or_height": _with(_chain(20), n005=None) + [
        ("f007", "n006", None, 1)],
    "null_height_on_chain": [(i, p, None if i == "n018" else h, v)
                             for i, p, h, v in _chain(20)],
    "exact_duplicate_id": _chain(20) + [("n004", "n003", 4, 1)],
    "empty": [],
}


class TestCollectedWalk:
    """The collected walk (one bounded Arrow collect, a driver walk and
    a broadcast anti-join of the non-members) against the general
    definition (pointer doubling from the same tip) and against the
    distributed walk that runs above the collect cap."""

    SNAP = ("burn_header_hash string, parent_burn_header_hash string, "
            "block_height long, pox_valid int, stacks_block_height long")
    HEAD = "block_hash string, parent_block string, block_height long"

    @staticmethod
    def _rows(df):
        from collections import Counter
        return df.columns, Counter(tuple(r) for r in df.collect())

    def _sides(self, spark, rows):
        snaps = spark.createDataFrame(
            [(i, p, h, v, h) for i, p, h, v in rows], self.SNAP)
        heads = spark.createDataFrame(
            [(i, p, h) for i, p, h, _ in rows], self.HEAD)
        valid = snaps.filter("pox_valid != 0")
        burn_tip = valid.orderBy(F.desc("block_height"),
                                 "burn_header_hash").limit(1).collect()
        return (
            (canonical_snapshots, snaps, valid, burn_tip,
             "burn_header_hash", "parent_burn_header_hash"),
            (canonical_stacks_chain, heads, heads,
             deepest_tip(heads).collect(), "block_hash", "parent_block"))

    @pytest.mark.parametrize("case", sorted(WALK_CASES))
    def test_equals_doubling_and_distributed(self, spark, monkeypatch,
                                             case):
        from mining_data_integration_spark import incremental

        for walk, table, rows, tip, id_col, parent_col in self._sides(
                spark, WALK_CASES[case]):
            got = self._rows(walk(table))
            want = rows
            if tip:
                tips = spark.createDataFrame([(tip[0][0],)],
                                             f"{id_col} string")
                want = rows.join(chain_members(rows, tips, id_col,
                                               parent_col), id_col)
            assert got == self._rows(want), (case, id_col)
            with monkeypatch.context() as m:
                m.setattr(incremental, "WALK_COLLECT_CAP", 0)
                assert self._rows(walk(table)) == got, (case, id_col)

    def test_expected_members(self, spark):
        """Spot checks of the definition on the cases above."""
        def ids(case, side=0):
            walk, table = self._sides(spark, WALK_CASES[case])[side][:2]
            return sorted(r[0] for r in walk(table).collect())

        assert ids("tie_at_tip_height")[:2] == ["a029", "n000"]
        assert ids("missing_parent") == [f"n{h:03d}" for h in range(12, 30)]
        assert ids("cycle") == [f"n{h:03d}" for h in range(3, 20)]
        assert ids("cycle", side=1) == [f"n{h:03d}" for h in range(3, 20)]
        assert ids("null_parent_or_height") == \
            [f"n{h:03d}" for h in range(5, 20)]
        assert Z not in ids("zero64_genesis", side=1)
        assert ids("exact_duplicate_id").count("n004") == 2

    def test_conflicting_duplicate_id_names_it(self, spark):
        rows = _chain(20) + [("n006", "other", 6, 1)]
        for walk, table, *_ in self._sides(spark, rows):
            with pytest.raises(ValueError, match="n006"):
                walk(table)

    def test_walk_tips_are_the_max_definitions(self, spark):
        """`top` of each walk is max(stacks_block_height) on the burn
        chain and max(block_height) on the Stacks chain — the values
        the refresh's prune step used to aggregate."""
        from mining_data_integration_spark.chain import (snapshots_walk,
                                                         stacks_walk)

        tables = fixtures.mining_tables(spark)
        for walk, src, col in (
                (snapshots_walk, tables["snapshots"], "stacks_block_height"),
                (stacks_walk, tables["block_headers"], "block_height")):
            w = walk(src)
            assert w.top == w.rows.agg(F.max(col)).collect()[0][0]


class TestActualBurnLag:
    """with_actual_burn's parent-row join equals the ordered-lag
    formulation (operators/scalable.global_lag over block_height) on a
    canonical chain, values and types."""

    @staticmethod
    def _by_lag(canon):
        from mining_data_integration_spark.operators.scalable import (
            global_lag,
        )
        lagged = global_lag(canon, [F.col("block_height")],
                            F.col("total_burn"), out_col="_prev_burn")
        return lagged.withColumn(
            "actual_burn", F.col("total_burn")
            - F.coalesce(F.col("_prev_burn"), F.lit(0))).drop("_prev_burn")

    def _check(self, canon):
        got, want = core.with_actual_burn(canon), self._by_lag(canon)
        assert got.dtypes == want.dtypes
        assert sorted(got.collect()) == sorted(want.collect())

    def test_golden_fixture(self, tables):
        self._check(canonical_snapshots(tables["snapshots"]))

    def test_synth_world(self, spark):
        from mining_data_integration_spark.synthworld import (
            synth_mining_world,
        )
        world = synth_mining_world(spark, 3000, 2)
        canon = canonical_snapshots(world["snapshots"])
        assert canon.count() == 3000
        self._check(canon)


class TestMinerInfo:
    def test_golden(self, tables):
        got = rows_by(core.miner_info(tables, bonus_height=3), "stx_address")
        assert int(got[A]["total_mined"]) == 6
        assert int(got[A]["miner_burned"]) == 9700
        assert int(got[A]["total_win"]) == 3
        assert int(got[A]["actual_win"]) == 3
        assert int(got[A]["actual_win_bonus"]) == 2
        assert int(got[B]["total_mined"]) == 4
        assert int(got[B]["miner_burned"]) == 5600
        assert int(got[B]["total_win"]) == 2
        assert int(got[B]["actual_win"]) == 2
        assert int(got[B]["actual_win_bonus"]) == 1
        assert int(got[C]["total_mined"]) == 2
        assert int(got[C]["miner_burned"]) == 4800
        assert int(got[C]["total_win"]) == 1
        assert int(got[C]["actual_win"]) == 1
        assert int(got[C]["actual_win_bonus"]) == 0
        # commit with unregistered leader key: kept under NULL address
        # (reference keys it under `undefined`, rpc.js:253)
        assert int(got[None]["total_mined"]) == 1
        assert int(got[None]["miner_burned"]) == 2400
        assert int(got[None]["total_win"]) == 0

    def test_actual_burn_lag_delta(self, tables):
        snap = core.with_actual_burn(
            canonical_snapshots(tables["snapshots"]))
        got = {r.block_height: int(r.actual_burn) for r in snap.collect()}
        assert got == {100: 1000, 101: 2000, 102: 3000, 103: 4000,
                       104: 5000, 105: 0, 106: 6000}

    def test_total_burn_attribution(self, tables):
        # A1's total_burn = sum of the commit's block's actual_burn
        # (rpc.js:266) — computed in stats, excluded from F11 projection
        snap = core.with_actual_burn(
            canonical_snapshots(tables["snapshots"]))
        enriched = core.commits_enriched(
            snap, tables["block_commits"], tables["leader_keys"])
        got = rows_by(core.miner_stats(enriched), "leader_key_address")
        assert int(got[A]["total_burn"]) == 16000   # 1+2+3+4+0+6 (k sat)
        assert int(got[B]["total_burn"]) == 11000
        assert int(got[C]["total_burn"]) == 10000
        assert int(got[None]["total_burn"]) == 5000

    def test_range_restriction(self, tables):
        # stacks heights 1..3 only (burn blocks 100-102)
        got = rows_by(
            core.miner_info(tables, start_height=1, end_height=3,
                            bonus_height=3),
            "stx_address")
        assert int(got[A]["total_mined"]) == 3      # TX1, TX3, TX6
        assert int(got[A]["miner_burned"]) == 3000
        assert int(got[B]["total_mined"]) == 3      # TX2, TX4, TX5
        assert C not in got


class TestMiningAndBlockInfo:
    def test_mining_info_tip_first(self, tables):
        rows = core.mining_info(tables).collect()
        assert [int(r.stacks_block_height) for r in rows] == [5, 4, 3, 2, 1, 0]
        assert [r.stx_address for r in rows] == [A, B, C, B, A, A]
        assert [int(r.burn_fee) for r in rows] == [
            3300, 2600, 2100, 1700, 1100, 600]

    def test_canonical_winners_walks_without_a_chain(self, tables):
        """Without `chain_full`, canonical_winners walks the headers
        itself and gets prepare()'s winners."""
        p = core.prepare(tables)
        got = core.canonical_winners(tables["block_headers"], p["snap"],
                                     p["enriched"])
        assert sorted(got.collect()) == sorted(p["winners"].collect())
        p["enriched"].unpersist()

    def test_block_info_rollup(self, tables):
        got = rows_by(core.block_info(tables), "stacks_block_height")
        assert int(got[1]["sum_burn_fees"]) == 1000
        assert got[1]["sum_miner_amount"] == 2
        assert int(got[4]["sum_burn_fees"]) == 4000   # fork TX9 excluded
        # burn heights 104+105 share stacks height 5 -> one group
        assert int(got[5]["sum_burn_fees"]) == 6500
        assert got[5]["sum_miner_amount"] == 3
        assert int(got[6]["sum_burn_fees"]) == 6000
        # A6 invariant: nested list sums match the rollup (SURVEY §5.5)
        for h, row in got.items():
            fees = sum(int(c.burn_fee) for c in row["commit_value_list"])
            assert fees == int(row["sum_burn_fees"])
            assert len(row["commit_value_list"]) == row["sum_miner_amount"]

    def test_burn_blocks_with_feeds_j3_j4(self, tables):
        """J3/J4 (rpc.js:206-229): payments + staging arrays attached
        per canonical burn block by consensus_hash; misses become EMPTY
        arrays (the reference pre-initializes `.payments = []`); rows
        whose consensus_hash matches no canonical block are dropped
        (the `continue` miss-skip)."""
        canon = canonical_snapshots(tables["snapshots"])
        got = rows_by(
            core.burn_blocks_with_feeds(
                canon, tables["payments"], tables["staging_blocks"]),
            "block_height")
        assert sorted(got) == list(range(100, 107))
        # payments: (stacks_block_height, address) per block
        pays = {h: [(p.stacks_block_height, p.address)
                    for p in got[h]["payments"]] for h in got}
        assert pays == {100: [(1, A)], 101: [(2, A)], 102: [(3, B)],
                        103: [(4, C)], 104: [(5, B)],
                        105: [],                       # no payment row
                        106: [(6, A)]}
        # staging: the unprocessed fork candidate rides along at 105,
        # the orphaned flag at 106
        stag = {h: [(s.height, s.processed, s.orphaned)
                    for s in got[h]["staging_blocks"]] for h in got}
        assert stag[105] == [(5, 0, 0)]
        assert stag[106] == [(6, 1, 1)]
        assert all(stag[h] == [(h - 99, 1, 0)] for h in range(100, 105))
