"""E2 monitor shapers + serving semantics on the mining fixture,
including the reference's off-by-one / ordering quirks, plus the
streaming layer (gold refresh + event-time ops in batch mode)."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from mining_data_integration_spark import (
    core, fixtures, monitor, serving, streaming,
)
from mining_data_integration_spark.fixtures import MINER_A, MINER_B, MINER_C

A, B, C = MINER_A, MINER_B, MINER_C


# --- reference formulations -------------------------------------------
# burn_fee_area as the plain window chain (dedup window, spine cross
# join, left join, forward-fill) and the slices as row_number filters.
# The one-pass / top-K forms in the package must match them row for row
# and in order.

def ref_burn_fee_area(block_info, n=1000):
    """W1 tail -> explode -> W2 running sum -> W3 duplicate-height
    keep-last -> W4/W5 spine cross join, left join and forward-fill."""
    h = "stacks_block_height"
    tail = block_info.orderBy(F.desc(h)).limit(n)
    pts = tail.select(h, F.explode("commit_value_list").alias("c")).select(
        h, F.col("c.leader_key_address").alias("address"),
        F.col("c.burn_fee").alias("burn_fee"),
    ).filter(F.col("address").isNotNull())
    w_cum = (Window.partitionBy("address").orderBy(h)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    series = pts.withColumn("cum_burn_fee", F.sum("burn_fee").over(w_cum))
    w_dup = Window.partitionBy("address", h).orderBy(F.desc("cum_burn_fee"))
    series = (series.withColumn("_rn", F.row_number().over(w_dup))
              .filter(F.col("_rn") == 1).drop("_rn", "burn_fee"))
    tip = tail.agg(F.max(h).alias("tip"))
    spine = (series.groupBy("address").agg(F.min(h).alias("h0"))
             .crossJoin(F.broadcast(tip))
             .select("address", F.explode(F.sequence("h0", "tip")).alias(h)))
    return (spine.join(series, ["address", h], "left")
            .withColumn("cum_burn_fee",
                        F.last("cum_burn_fee", ignorenulls=True).over(w_cum))
            .orderBy("address", h))


def _ref_row_filter(df, lo, hi, order):
    w = Window.orderBy(*order)
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn").between(lo, hi)).drop("_rn"))


def ref_tail_slice(df, latest, order):
    return _ref_row_filter(
        df, 1, latest + 1,
        [c.desc() if hasattr(c, "desc") else F.col(c).desc() for c in order])


def ref_paginate(df, page, size, order):
    return _ref_row_filter(df, size * (page - 1) + 1, size * page, order)


def ref_range_slice(df, start, end, order):
    return _ref_row_filter(df, start, end, order)


def jobs_of(spark, fn, group):
    """Run fn under a fresh job group; return (result, #jobs)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def tables(spark):
    return fixtures.mining_tables(spark)


@pytest.fixture(scope="module")
def golds(tables):
    return streaming.e1_gold_tables(tables)


class TestMonitor:
    def test_current_status(self, golds):
        row = monitor.current_status(golds["block_info"], n=3).collect()[0]
        # trailing-3 stacks heights: 4, 5, 6 with fees 4000, 6500, 6000
        assert row.tip_height == 6
        assert float(row.avg_burn_fee) == pytest.approx((4000 + 6500 + 6000) / 3)
        assert [int(p.sum_burn_fees) for p in row.burn_fee_points] == \
            [4000, 6500, 6000]

    def test_miner_table_head50(self, golds):
        rows = monitor.miner_table(golds["mining_info"], n=4).collect()
        assert [int(r.stacks_block_height) for r in rows] == [5, 4, 3, 2]

    def test_burn_fee_area_dense_and_monotone(self, golds):
        out = monitor.burn_fee_area(golds["block_info"], n=1000)
        rows = out.collect()
        by_addr: dict[str, list] = {}
        for r in rows:
            by_addr.setdefault(r.address, []).append(r)
        tip = max(int(r.stacks_block_height) for r in rows)
        assert tip == 6
        for addr, pts in by_addr.items():
            heights = [int(p.stacks_block_height) for p in pts]
            # dense: every height from first point to tip, no gaps (W4/W5)
            assert heights == list(range(heights[0], tip + 1))
            values = [float(p.cum_burn_fee) for p in pts]
            assert values == sorted(values)          # cumulative monotone
        # A's cumulative burn: commits at sbh 1(600),2(1100),3(1300),
        # 4(1900),5(1500),6(3300) -> cum 600,1700,3000,4900,6400,9700
        a_vals = [float(p.cum_burn_fee) for p in by_addr[A]]
        assert a_vals == [600, 1700, 3000, 4900, 6400, 9700]

    def test_winner_pie(self, golds):
        rows = monitor.winner_pie(golds["miner_info"]).collect()
        got = {r.address: r.number for r in rows if r.address}
        assert got[A] == 3 and got[B] == 2 and got[C] == 1


BLOCK_INFO_SCHEMA = (
    "stacks_block_height long, sum_burn_fees decimal(30,0), "
    "sum_miner_amount long, commit_value_list array<struct<"
    "burn_fee: decimal(20,0), leader_key_address: string, txid: string>>")


@pytest.fixture(scope="module")
def hand_block_info(spark):
    """Seven heights with a gap at 4: duplicate (address, height)
    commits (X@3, Y@7), a NULL leader_key_address (@5), NULL burn_fees
    (Z's first point, Y@7), an empty commit list (@6) and a height (1)
    that a trailing n=6 window drops."""
    from decimal import Decimal as D

    def c(fee, addr, tx):
        return (None if fee is None else D(fee), addr, tx)

    rows = [
        (1, [c(100, "X", "t1")]),
        (2, [c(200, "X", "t2"), c(50, "Y", "t3")]),
        (3, [c(300, "X", "t4"), c(300, "X", "t5"), c(None, "Z", "t6")]),
        (5, [c(10, None, "t7"), c(70, "Z", "t8")]),
        (6, []),
        (7, [c(5, "Y", "t9"), c(None, "Y", "t10")]),
        (8, [c(1, "W", "t11")]),
    ]
    return spark.createDataFrame(
        [(h, None, len(cs), cs) for h, cs in rows], BLOCK_INFO_SCHEMA)


class TestBurnFeeAreaOnePass:
    def test_equals_window_chain_reference(self, hand_block_info):
        for n in (6, 1000, 1):
            got = monitor.burn_fee_area(hand_block_info, n)
            want = ref_burn_fee_area(hand_block_info, n)
            assert got.schema == want.schema
            assert got.collect() == want.collect(), f"n={n}"

    def test_hand_values(self, hand_block_info):
        rows = monitor.burn_fee_area(hand_block_info, 6).collect()
        by_addr: dict[str, list] = {}
        for r in rows:
            by_addr.setdefault(r.address, []).append(
                (r.stacks_block_height,
                 None if r.cum_burn_fee is None else int(r.cum_burn_fee)))
        assert by_addr == {
            # height 1 is outside the tail; 3 sums its two commits;
            # the gap at 4 and the empty 6 are forward-filled
            "X": [(2, 200), (3, 800)] + [(h, 800) for h in range(4, 9)],
            "Y": [(h, 50) for h in range(2, 7)] + [(7, 55), (8, 55)],
            # NULL until the first non-NULL fee
            "Z": [(3, None), (4, None)] + [(h, 70) for h in range(5, 9)],
            "W": [(8, 1)],
        }
        assert str(monitor.burn_fee_area(hand_block_info).schema[
            "cum_burn_fee"].dataType) == "DecimalType(30,0)"

    def test_plan_is_one_scan_one_job(self, spark, hand_block_info,
                                      tmp_path):
        path = str(tmp_path / "block_info")
        hand_block_info.write.parquet(path)
        bi = spark.read.parquet(path)
        df = monitor.burn_fee_area(bi, 6)
        plan = executed_plan(df)
        assert plan.count("FileScan") == 1, plan
        assert "Join" not in plan and "BroadcastExchange" not in plan, plan
        rows, jobs = jobs_of(spark, df.collect, "bfa_one_pass")
        assert jobs == 1
        assert rows == ref_burn_fee_area(bi, 6).collect()

    def test_rr_section_collects_without_a_job(self, spark, golds):
        rr = monitor.monitor_integrate(golds)["rr"]
        assert rr.schema.simpleString() == "struct<address:string,RR:double>"
        rows, jobs = jobs_of(spark, rr.collect, "rr_section")
        assert rows == [] and jobs == 0


class TestServingSlices:
    """tail_slice / paginate / range_slice are one top-K each and
    return exactly the rows, in the order, of the row_number filter."""

    @pytest.fixture(scope="class")
    def df(self, spark):
        return spark.range(1, 11, numPartitions=3).select(
            F.col("id").alias("h"), (F.col("id") % 3).alias("g"))

    @staticmethod
    def hs(df):
        return [(r.g, r.h) for r in df.collect()]

    def test_tail_slice_grid(self, df):
        for latest in (-2, -1, 0, 1, 4, 9, 10, 14):
            for order in (["h"], [F.col("g"), F.col("h")]):
                assert self.hs(serving.tail_slice(df, latest, order)) == \
                    self.hs(ref_tail_slice(df, latest, order)), (latest, order)

    def test_paginate_grid(self, df):
        orders = (["h"], [F.desc("h")], ["g", F.desc("h")])
        for i, (page, size) in enumerate(itertools.product(
                (-1, 0, 1, 2, 4), (-2, 0, 3, 10))):
            order = orders[i % len(orders)]
            assert self.hs(serving.paginate(df, page, size, order)) == \
                self.hs(ref_paginate(df, page, size, order)), (page, size)

    def test_range_slice_grid(self, df):
        for start, end in itertools.product((-3, 0, 1, 4, 10, 11),
                                            (-1, 0, 3, 10, 20)):
            for order in (["h"], [F.desc("g"), "h"]):
                assert self.hs(serving.range_slice(df, start, end, order)) \
                    == self.hs(ref_range_slice(df, start, end, order)), \
                    (start, end)

    def test_slices_are_one_top_k(self, df):
        for sl in (serving.tail_slice(df, 3, ["h"]),
                   serving.paginate(df, 2, 3, [F.desc("h")]),
                   serving.range_slice(df, 4, 8, ["h"])):
            plan = executed_plan(sl)
            assert "TakeOrderedAndProject" in plan and "Window" not in plan, \
                plan

    def test_tail_slice_rejects_sort_order_columns(self, df):
        # calling .desc() on F.desc(h) used to fail inside Spark with an
        # INTERNAL_ERROR at execution; the order has no reverse to take
        with pytest.raises(ValueError, match="`order` entry"):
            serving.tail_slice(df, 3, [F.desc("h")])
        with pytest.raises(ValueError, match="`order` entry"):
            serving.tail_slice(df, 3, ["g", F.col("h").asc_nulls_last()])


class TestServing:
    def test_tail_slice_off_by_one(self, spark):
        df = spark.range(10).withColumnRenamed("id", "h")
        # reference slice(-latest-1) keeps latest+1 rows (server.js:152)
        got = serving.tail_slice(df, 3, ["h"])
        assert got.count() == 4

    def test_paginate_and_range(self, spark):
        df = spark.range(1, 101).withColumnRenamed("id", "h")
        page2 = sorted(r.h for r in serving.paginate(df, 2, 10, ["h"]).collect())
        assert page2 == list(range(11, 21))
        sl = sorted(r.h for r in serving.range_slice(df, 5, 8, ["h"]).collect())
        assert sl == [5, 6, 7, 8]

    def test_rr_formula(self, golds):
        out = serving.with_rr(golds["miner_info"],
                              btc_price=50000.0, stx_price=0.5)
        got = {r.stx_address: r.RR for r in out.collect()}
        # A (bonus era threshold = default 8387, so all 3 wins are bonus):
        # earn = 3*2466*0.5 = 3699; cost = (6*35000 + 9700)*50000/1e8
        cost_a = (6 * 35000 + 9700) * 50000 / 1e8
        assert got[A] == pytest.approx(round(3699 / cost_a - 1, 3))

    def test_btc_total(self, golds):
        row = serving.btc_total(golds["miner_info"]).collect()[0]
        # total burned = 9700+5600+4800+2400 = 22500 sats
        assert float(row.btc_total) == pytest.approx(round(22500 / 1e8, 2), abs=1e-9)

    def test_staged_sync_gate(self, tables):
        row = serving.is_staged_synced(
            tables["staging_blocks"], tables["staging_blocks"]).collect()[0]
        assert row.can_mine and row.local_height == 5  # orphaned 6 excluded

    def test_head_slice_tip_first(self, golds):
        rows = serving.head_slice(
            golds["mining_info"], 2,
            [golds["mining_info"].stacks_block_height.desc()])
        assert [int(r.stacks_block_height) for r in rows.collect()] == [5, 4]


class TestReorg:
    def test_reorg_recompute_switches_fork(self, spark, tables, tmp_path):
        """ST5 (rpc.js:277-309 rerun per tick): a deeper fork arriving
        in bronze must flip the canonical chain on the next refresh —
        full-recompute semantics make the reorg just another batch."""
        from pyspark.sql import Row
        from mining_data_integration_spark import fixtures as FX
        from mining_data_integration_spark.schemas import BLOCK_HEADERS

        gold = str(tmp_path / "gold")
        streaming.refresh_once(tables, gold)
        before = spark.read.parquet(f"{gold}/mining_info")
        assert before.count() == 6            # s0..s5 canonical

        # reorg: extend the old orphan branch s3b (height 3, forked off
        # s2) with s4b..s6b -> new deepest tip at height 6; anchor the
        # new blocks at burn blocks 104-106 so winners re-map
        h = FX._h
        extra = [
            Row(burn_header_hash=FX.BH[104], block_hash=h("b4", 4),
                parent_block=FX.SH_ORPHAN, consensus_hash=FX.CH[104],
                block_height=4),
            Row(burn_header_hash=FX.BH[105], block_hash=h("b5", 5),
                parent_block=h("b4", 4), consensus_hash=FX.CH[105],
                block_height=5),
            Row(burn_header_hash=FX.BH[106], block_hash=h("b6", 6),
                parent_block=h("b5", 5), consensus_hash=FX.CH[106],
                block_height=6),
        ]
        new_headers = tables["block_headers"].unionByName(
            spark.createDataFrame(extra, BLOCK_HEADERS))
        reorged = dict(tables, block_headers=new_headers)
        streaming.refresh_once(reorged, gold)
        after = spark.read.parquet(f"{gold}/mining_info")
        rows = {int(r.stacks_block_height) for r in after.collect()}
        # new canonical: s0-s2, s3b, s4b-s6b. s3b anchors at the
        # non-canonical burn fork row, so it has no winning commit and
        # emits no row (reference index-miss guard, rpc.js:297-300);
        # heights 4-6 re-derive from burn blocks 104-106 — 105 had a
        # sentinel winner, so it drops too
        assert rows == {0, 1, 2, 4, 6}
        by_h = {int(r.stacks_block_height): r for r in after.collect()}
        # height 4 now wins via burn block 104's winner TX11 -> miner B
        assert by_h[4].stx_address == B
        # height 6 wins via burn block 106's winner TX15 -> miner A
        assert by_h[6].stx_address == A


class TestStreaming:
    def test_refresh_once_writes_gold(self, tables, tmp_path):
        gold_dir = str(tmp_path / "gold")
        streaming.refresh_once(tables, gold_dir)
        spark = tables["snapshots"].sparkSession
        mi = spark.read.parquet(f"{gold_dir}/miner_info")
        assert mi.count() == 4  # A, B, C, null-address group
        # second refresh overwrites atomically (same count, no append)
        streaming.refresh_once(tables, gold_dir)
        assert spark.read.parquet(f"{gold_dir}/miner_info").count() == 4

    def test_stream_refresh_ticks(self, tables, tmp_path, spark):
        bronze = str(tmp_path / "bronze")
        gold = str(tmp_path / "gold2")
        tables["snapshots"].write.parquet(f"{bronze}/snapshots")
        q = streaming.stream_refresh(
            spark, bronze, gold, lambda s: tables,
            interval="1 seconds",
            checkpoint=str(tmp_path / "ckpt"))
        try:
            import time
            deadline = time.time() + 60
            ok = False
            while time.time() < deadline:
                try:
                    if spark.read.parquet(f"{gold}/mining_info").count() == 6:
                        ok = True
                        break
                except Exception:
                    pass
                time.sleep(1)
            assert ok, "gold tables not produced by streaming refresh"
        finally:
            q.stop()

    def test_tumbling_stream_equals_batch(self, spark, tmp_path):
        """The watermarked streaming aggregate must produce the same
        windows as its batch form once the stream is drained
        (availableNow trigger over the same parquet)."""
        from mining_data_integration_spark.io import read_table

        batch = read_table(spark, "/root/testdata/sf0.001", "events")
        expected = {
            (r.w_start, r.event_type, r.n)
            for r in streaming.tumbling_counts(batch).collect()
        }
        src = str(tmp_path / "events_stream")
        batch.write.parquet(src)
        stream = (
            spark.readStream.schema(batch.schema).parquet(src)
        )
        q = (
            streaming.tumbling_counts(stream)
            .writeStream.format("memory").queryName("tumbling_test")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.w_start, r.event_type, r.n)
            for r in spark.sql("SELECT * FROM tumbling_test").collect()
        }
        assert got == expected

    def test_session_window_stream_equals_batch(self, spark, tmp_path):
        """Stateful session windows drained through availableNow in
        complete mode must equal the batch session_window aggregate."""
        from mining_data_integration_spark.io import read_table

        batch = read_table(spark, "/root/testdata/sf0.001", "events")
        expected = sorted(
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in streaming.session_windows(batch).collect())
        src = str(tmp_path / "events_sess")
        batch.write.parquet(src)
        stream = spark.readStream.schema(batch.schema).parquet(src)
        q = (
            streaming.session_windows(stream)
            .writeStream.format("memory").queryName("sess_eq_test")
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = sorted(
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in spark.sql("SELECT * FROM sess_eq_test").collect())
        assert got == expected

    def test_stateful_user_stats_across_batches(self, spark, tmp_path):
        """applyInPandasWithState must CARRY state across micro-batches:
        the source is split into two files with maxFilesPerTrigger=1, so
        every user seen in both halves proves the second batch merged
        into stored state. Final per-user row equals the batch
        aggregate."""
        import pytest as _pytest
        from pyspark.sql import functions as F

        from mining_data_integration_spark.io import read_table

        batch = read_table(spark, "/root/testdata/sf0.001", "events")
        expected = {
            r.user_id: (r.n, r.total, r.mx)
            for r in batch.groupBy("user_id").agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("double")).alias("total"),
                F.max(F.unix_micros("ts")).alias("mx"),
            ).collect()
        }
        src = str(tmp_path / "events_stateful")
        half = batch.count() // 2
        batch.limit(half).coalesce(1).write.parquet(src)
        batch.subtract(batch.limit(half)).coalesce(1) \
            .write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1).parquet(src)
        )
        q = (
            streaming.stateful_user_stats(stream)
            .writeStream.format("memory").queryName("stateful_test")
            .outputMode("update").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        # update mode appends one row per key per batch; the row with
        # the max n_events per key is the final state
        final = {
            r.user_id: (r.n_events, r.total_value, r.max_ts_us)
            for r in spark.sql(
                "SELECT user_id, n_events, total_value, max_ts_us, "
                "row_number() OVER (PARTITION BY user_id "
                "ORDER BY n_events DESC) AS rk FROM stateful_test"
            ).filter("rk = 1").collect()
        }
        assert set(final) == set(expected)
        for uid, (n, total, mx) in expected.items():
            assert final[uid][0] == n
            assert final[uid][1] == _pytest.approx(total, rel=1e-9)
            assert final[uid][2] == mx

    def test_stream_stream_band_join_equals_batch(self, spark, tmp_path):
        """Stream-stream join with event-time bounds, drained via
        availableNow, must produce exactly the batch join's pairs."""
        from pyspark.sql import functions as F

        from mining_data_integration_spark.io import read_table

        ev = read_table(spark, "/root/testdata/sf0.001", "events")
        purchases = ev.filter(F.col("event_type") == "purchase")
        errors = ev.filter(F.col("event_type") == "error")
        expected = sorted(
            (r.l_event_id, r.r_event_id)
            for r in streaming.stream_stream_band_join(
                purchases, errors).collect())
        assert expected, "fixture produced no band-join pairs"

        lsrc, rsrc = str(tmp_path / "ss_l"), str(tmp_path / "ss_r")
        purchases.write.parquet(lsrc)
        errors.write.parquet(rsrc)
        sl = spark.readStream.schema(purchases.schema).parquet(lsrc)
        sr = spark.readStream.schema(errors.schema).parquet(rsrc)
        q = (
            streaming.stream_stream_band_join(sl, sr)
            .writeStream.format("memory").queryName("ss_band_test")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = sorted(
            (r.l_event_id, r.r_event_id)
            for r in spark.sql("SELECT * FROM ss_band_test").collect())
        assert got == expected

    def test_monitor_integrate_sections(self, golds):
        out = monitor.monitor_integrate(golds)
        assert set(out) == {"current_status", "miner_table",
                            "burn_fee_area", "winner_pie", "rr"}
        assert out["rr"].count() == 0            # dead endpoint parity
        assert out["current_status"].collect()[0].tip_height == 6

    def test_trailing_miner_info(self, tables):
        # last 3 stacks blocks = heights 4..6 -> burn blocks 103-106
        out = serving.trailing_miner_info(tables, 2)
        got = {r.stx_address: r for r in out.collect()}
        # commits in range: TX7(C),TX8(A),TX11(B),TX12(null),TX14(A),
        # TX15(A),TX16(C) at stacks heights 4,4,5,5,5,6,6
        assert int(got[A]["total_mined"]) == 3
        assert int(got[C]["total_mined"]) == 2
        assert int(got[B]["total_mined"]) == 1

    def test_streaming_dedup_batch_form(self, spark):
        df = spark.createDataFrame(
            [(1, "a"), (1, "b"), (2, "c")], "event_id long, x string")
        assert streaming.streaming_dedup(df).count() == 2
