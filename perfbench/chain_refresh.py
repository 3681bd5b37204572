"""Workload chain_refresh: the E1 refresh family on a long, narrow chain
with blocks arriving in batches, served after every update.

One cycle, in order:
  1. land a staged batch of BATCH burn blocks in bronze and run one
     incremental tick on freshly read bronze (update_s: from the moment
     the batch is visible until the tick returns);
  2. serve one read round from the tick's gold: the dashboard payload
     (monitor.monitor_integrate, every section collected) and the
     serving endpoints (read_s);
  3. a cold refresh into an empty gold dir (build_s);
  4. a warm refresh over that dir, reusing its chain state with
     reorg_depth=REORG_DEPTH (maintain_s).
Checks: the tick stays windowed and advances the tip by BATCH; the
dashboard and the head slice show the generated tip; the BTC total is
the generated fee total; the cold gold equals the tick's gold and the
warm gold equals the cold gold (row digests).

Set-up lands the history and bootstraps the tick's gold with a cold
refresh, then runs one tick and one read round; all three are warm-up
and are not timed (a fresh JVM's first refresh pays ~10 s of one-off
code generation and JIT, its first tick and read round about a second
each). The warm refresh is not warmed on its own: the tick already runs
its reorg-window state reuse and dynamic-partition gold writers.
"""

from __future__ import annotations

import os
import time
import shutil

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import functions as F

import gen
from harness import GOLD_TABLES, gold_digest

N_HISTORY = 10_000      # burn blocks landed before the first tick
COMMITS_PER_BLOCK = 4
N_MINERS = 300
BATCH = 10              # burn blocks per arrival
N_STAGED = 8            # arrivals staged in set-up: one warm-up, one per cycle
REORG_DEPTH = 1000
BTC_PRICE, STX_PRICE = 60_000.0, 2.0


class ChainRefresh:
    def __init__(self, run):
        from mining_data_integration_spark import (incremental, monitor,
                                                   serving, streaming)

        self.run = run
        self.incremental, self.monitor = incremental, monitor
        self.serving, self.streaming = serving, streaming
        self.bronze = os.path.join(run.root, "bronze")
        self.staging = os.path.join(run.root, "staging")
        self.gold_tick = os.path.join(run.root, "gold_tick")
        self.landed = 0

    # --- set-up ---------------------------------------------------------

    def setup(self) -> None:
        run = self.run
        world = gen.chain_world(run.seed, N_HISTORY + N_STAGED * BATCH,
                                COMMITS_PER_BLOCK, N_MINERS, batch=BATCH)
        heights = gen.burn_heights(world)
        hist_hi = gen.BASE_HEIGHT + N_HISTORY
        hist = gen.slice_heights(world, heights, gen.BASE_HEIGHT, hist_hi)
        hist_bytes = gen.write_tables(hist, self.bronze, "history")
        self.batch_bytes = []
        for k in range(N_STAGED):
            lo = hist_hi + k * BATCH
            part = gen.slice_heights(world, heights, lo, lo + BATCH)
            self.batch_bytes.append(gen.write_tables(
                part, os.path.join(self.staging, str(k)), f"batch-{k}"))
        fees = pc.cast(world["block_commits"].column("burn_fee"),
                       "int64").to_numpy()
        self.fee_cum = np.cumsum(np.bincount(
            heights["block_commits"] - gen.BASE_HEIGHT, weights=fees))
        run.info["input"] = {
            "history_blocks": N_HISTORY, "commits_per_block": COMMITS_PER_BLOCK,
            "miners": N_MINERS, "batch_blocks": BATCH,
            "history_rows": {n: t.num_rows for n, t in hist.items()},
            "history_bytes": hist_bytes,
            "batch_rows": int(sum(t.num_rows for t in gen.slice_heights(
                world, heights, hist_hi, hist_hi + BATCH).values())),
            "batch_bytes": self.batch_bytes[0]}

        run.warming = True
        tables = self.read_bronze()
        mode = self.streaming.refresh_once(tables, self.gold_tick,
                                           reuse_gold=True)
        run.check(mode == "cold", f"bootstrap mode {mode}")
        self.tick()
        self.read_round(self.gold_tick)
        run.warming = False

    def read_bronze(self) -> dict:
        spark = self.run.spark
        return {n: spark.read.parquet(os.path.join(self.bronze, n))
                for n in gen.CHAIN_TABLES}

    def tip(self) -> int:
        """Generated stacks tip after the landings so far."""
        return N_HISTORY - 1 + self.landed * BATCH

    def land(self) -> None:
        k = self.landed
        src = os.path.join(self.staging, str(k))
        for name in os.listdir(src):
            f = f"batch-{k}.parquet"
            os.rename(os.path.join(src, name, f),
                      os.path.join(self.bronze, name, f))
        self.landed += 1

    # --- the cycle --------------------------------------------------------

    def cycle(self) -> None:
        run = self.run
        tables = self.tick()
        self.read_round(self.gold_tick)

        cold = os.path.join(run.root, f"gold_cold_{self.landed}")
        mode, _ = run.op("build_s", "streaming.refresh_cold",
                         lambda: self.streaming.refresh_once(
                             tables, cold, reuse_gold=True))
        run.check(mode == "cold", f"cold refresh mode {mode}")
        digest = gold_digest(run.spark, cold)
        run.check(digest == gold_digest(run.spark, self.gold_tick),
                  "tick gold differs from a cold refresh of the same bronze")
        mode, _ = run.op("maintain_s", "streaming.refresh_warm",
                         lambda: self.streaming.refresh_once(
                             tables, cold, reuse_gold=True,
                             reorg_depth=REORG_DEPTH))
        run.check(mode == "warm", f"warm refresh mode {mode}")
        run.check(gold_digest(run.spark, cold) == digest,
                  "warm gold differs from cold gold")
        shutil.rmtree(cold, ignore_errors=True)

    def tick(self) -> dict:
        run = self.run
        if self.landed >= N_STAGED:
            raise RuntimeError("ran out of staged batches")
        self.land()
        box = {}

        def refresh():
            box["tables"] = self.read_bronze()
            return self.incremental.incremental_refresh(
                run.spark, box["tables"], self.gold_tick,
                reorg_depth=REORG_DEPTH)

        out, _ = run.op("update_s", "incremental.tick", refresh)
        run.note("tick_landed_bytes", self.batch_bytes[self.landed - 1])
        run.check(out["mode"] == "windowed", f"tick mode {out['mode']}")
        run.check(out["tip"] == self.tip(),
                  f"tick tip {out['tip']} != generated {self.tip()}")
        return box["tables"]

    def read_round(self, gold_dir: str) -> None:
        """The dashboard payload and the endpoint round (read_s)."""
        run, spark = self.run, self.run.spark
        t0 = time.perf_counter()
        golds = {n: spark.read.parquet(f"{gold_dir}/{n}")
                 for n in GOLD_TABLES}
        payload = self.monitor.monitor_integrate(golds)
        rows = 0
        got = {}
        for sec in ("current_status", "miner_table", "burn_fee_area",
                    "winner_pie", "rr"):
            got[sec], dt = run.op(None, f"monitor.{sec}",
                                  payload[sec].collect)
            rows += len(got[sec])
            run.sample("request_s", dt)
        tip = self.tip()
        run.check(got["current_status"][0]["tip_height"] == tip,
                  "dashboard tip_height is not the generated tip")

        s = self.serving
        h = "stacks_block_height"
        mi, bi, m = golds["mining_info"], golds["block_info"], \
            golds["miner_info"]
        endpoints = (
            ("head_slice", lambda: s.head_slice(mi, 20, [F.desc(h)])),
            ("tail_slice", lambda: s.tail_slice(mi, 20, [F.col(h)])),
            ("paginate", lambda: s.paginate(bi, 2, 25, [F.desc(h)])),
            ("range_slice", lambda: s.range_slice(bi, 100, 150, [F.col(h)])),
            ("with_rr", lambda: s.with_rr(m, BTC_PRICE, STX_PRICE)),
            ("btc_total", lambda: s.btc_total(m)),
        )
        for name, fn in endpoints:
            got[name], dt = run.op(None, f"serving.{name}",
                                   lambda fn=fn: fn().collect())
            run.sample("request_s", dt)
        run.check(got["head_slice"][0][h] == tip,
                  "head slice does not start at the generated tip")
        run.check([len(got[n]) for n in ("tail_slice", "paginate",
                                          "range_slice")] == [21, 25, 51],
                  "endpoint slice sizes")
        want_btc = self.fee_cum[tip] / 1e8
        run.check(abs(got["btc_total"][0]["btc_total"] - want_btc) < 0.006,
                  "btc_total is not the generated fee total")
        run.note("dashboard_rows", rows)
        run.sample("read_s", time.perf_counter() - t0)

    # --- traced-only layer calls -----------------------------------------

    def layer_calls(self) -> None:
        """The chain walks, core.prepare and the three gold builders,
        each called once and forced, so the traced run can split a cold
        refresh by layer (the refresh calls them from inside the
        package, where the benchmark cannot put spans)."""
        from mining_data_integration_spark import chain, core

        run = self.run
        tables = self.read_bronze()

        def force(df):
            df.write.format("noop").mode("overwrite").save()

        run.op(None, "chain.walk_snapshots", lambda: force(
            chain.canonical_snapshots(tables["snapshots"])))
        run.op(None, "chain.walk_headers", lambda: force(
            chain.canonical_stacks_chain(tables["block_headers"])))
        prepared, _ = run.op(None, "core.prepare",
                             lambda: core.prepare(tables))
        for name in GOLD_TABLES:
            build = getattr(core, name)
            run.op(None, f"core.gold_build.{name}", lambda b=build: force(
                b(tables, prepared=prepared)))
        prepared["enriched"].unpersist()
