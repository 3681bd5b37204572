"""Incremental gold refresh (ST5 extension).

The reference recomputes everything every 120 s (server.js:280-302);
`streaming.refresh_once` reproduces that. For a steadily-growing chain
the full recompute is mostly wasted work: blocks below
`tip - reorg_depth` can no longer change (the standard bounded-reorg
assumption; the full recompute remains available as the fallback for
anything deeper).

Scheme — gold tables partitioned by height bucket, refreshed with
dynamic partition overwrite:

* `mining_info` / `block_info` are per-height outputs: recompute only
  rows with height >= tip - reorg_depth and overwrite just the
  affected `hbucket=` partitions. The height filter sits directly on
  the enriched-commits join output, so Catalyst prunes the untouched
  span.
* `miner_info` is a whole-history aggregate, so it keeps per-bucket
  *partial* aggregates (sums/counts decompose by bucket): affected
  buckets are re-aggregated and overwritten, then the final per-miner
  merge reads all partials — a table of O(miners x buckets) rows,
  thousands of times smaller than the commits it summarizes.

Every write stays atomic per partition; a crash mid-refresh leaves
whole old partitions, never torn rows.

The warm full refresh (`streaming.refresh_once(reuse_gold=True)` over
a gold dir with boundary-verified chain state) is this same windowed
tick: `_windowed_prepare` followed by `write_window`. Its cost is
O(reorg window), not O(history); only its cold fallback re-derives
history.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import core, spans
from .io import parquet_scan

HEIGHTS_PER_BUCKET = 1000

# Layout/axis version of the persisted canonical-chain state. Version 2
# buckets canonical_chain on STACKS height (round 9 changed the axis
# from burn height). The marker gates every warm read: a gold_dir
# written by a previous layout — or by any build that predates the
# marker — fails the check and forces a COLD rebuild that deletes and
# rewrites the state. Without the gate, dynamic partition overwrite
# would rewrite only new-axis buckets and leave stale old-axis rows in
# place, and a later window's boundary probe could anchor on a row of
# the wrong axis (round-10 ADVICE).
STATE_LAYOUT_VERSION = 2

# hard ceiling on every driver-side walk collect: the tick's window
# (regardless of reorg_depth) and each full-history canonical walk
# (chain.snapshots_walk / stacks_walk); above it they use the
# distributed segmented walk
WALK_COLLECT_CAP = 1_000_000


def _hb(col: str = "stacks_block_height") -> F.Column:
    return (F.col(col) / HEIGHTS_PER_BUCKET).cast("long").alias("hbucket")


def _prune_buckets_above(path: str, max_bucket: int) -> None:
    """Delete hbucket partitions above the CURRENT tip's bucket.

    Dynamic partition overwrite only rewrites buckets present in the
    new frame — after a reorg that LOWERS the tip, a bucket above the
    new tip gets no new rows and would silently keep the abandoned
    fork's rows (phantom gold rows above the tip; for miner_partials,
    phantom per-miner stats that the merge would fold into miner_info).
    Runs after every refresh's writes; in the steady state (tip never
    lower than last refresh) it deletes nothing."""
    try:
        names = os.listdir(path)
    except OSError:
        return
    for n in names:
        if n.startswith("hbucket="):
            try:
                b = int(n.split("=", 1)[1])
            except ValueError:
                continue
            if b > max_bucket:
                shutil.rmtree(os.path.join(path, n), ignore_errors=True)


def _write_dynamic(df: DataFrame, path: str) -> None:
    # one file per bucket partition (not one per shuffle task): the
    # partials/state tables are read back whole every tick, and a
    # files-per-bucket factor multiplies straight into that listing
    # and scheduling cost
    (df.repartition("hbucket").write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("hbucket")
     .parquet(path))


def miner_partials(prepared: dict[str, DataFrame],
                   bonus_height: int = core.BONUS_HEIGHT) -> DataFrame:
    """Per-(hbucket, miner) partials of every A1/A3 measure. All of
    them are sums/counts, so bucket partials merge exactly."""
    enriched = prepared["enriched"].withColumn("hbucket", _hb())
    stats = enriched.groupBy("hbucket", "leader_key_address").agg(
        F.count("*").alias("total_mined"),
        F.sum("burn_fee").alias("miner_burned"),
        F.sum("actual_burn").alias("total_burn"),
        F.sum(F.when(F.col("is_winner"), 1).otherwise(0)).alias("total_win"),
    )
    wins = (
        prepared["winners"]
        .withColumn("hbucket", _hb("stacks_height"))
        .groupBy("hbucket", "leader_key_address")
        .agg(F.count("*").alias("actual_win"),
             F.sum(F.when(F.col("stacks_height") < bonus_height, 1)
                   .otherwise(0)).alias("actual_win_bonus"))
    )
    return stats.join(wins, ["hbucket", "leader_key_address"], "full") \
        .na.fill(0, ["total_mined", "total_win", "actual_win",
                     "actual_win_bonus"])


def merge_miner_partials(partials: DataFrame) -> DataFrame:
    """Final per-miner merge -> the exact miner_info projection, in no
    particular order (the writer sorts its one partition)."""
    return (
        partials.groupBy("leader_key_address")
        .agg(F.sum("actual_win").alias("actual_win"),
             F.sum("actual_win_bonus").alias("actual_win_bonus"),
             F.sum("total_win").alias("total_win"),
             F.sum("total_mined").alias("total_mined"),
             F.sum("miner_burned").alias("miner_burned"))
        .select(
            F.col("leader_key_address").alias("stx_address"),
            "actual_win", "actual_win_bonus",
            "total_win", "total_mined", "miner_burned",
        )
    )


def write_merged_miner_info(spark: SparkSession, gold_dir: str) -> None:
    """Fold every bucket's miner_partials into gold miner_info, sorted
    by stx_address. O(miners) rows: one output file, not one per
    shuffle task (the gold is re-read whole every serving call), and
    the single partition sorts in place, so no range-sampling job.
    The partials scan takes its schema from a footer (no inference
    job)."""
    merged = merge_miner_partials(
        parquet_scan(spark, f"{gold_dir}/miner_partials"))
    merged.coalesce(1).sortWithinPartitions("stx_address") \
        .write.mode("overwrite").parquet(f"{gold_dir}/miner_info")


def _state_layout_ok(gold_dir: str) -> bool:
    """True iff the persisted chain state was written by THIS layout
    version (see STATE_LAYOUT_VERSION)."""
    try:
        with open(os.path.join(gold_dir, "STATE_LAYOUT")) as f:
            return int(f.read().strip()) == STATE_LAYOUT_VERSION
    except (OSError, ValueError):
        return False


def reset_state_for_layout(gold_dir: str) -> None:
    """Before a FULL state rewrite: if the layout marker is missing or
    mismatched, DELETE the state directories. Dynamic partition
    overwrite only rewrites buckets present in the new frame, so
    stale buckets written on a different axis would otherwise survive
    the rewrite."""
    if _state_layout_ok(gold_dir):
        return
    shutil.rmtree(os.path.join(gold_dir, "canonical_chain"),
                  ignore_errors=True)
    shutil.rmtree(os.path.join(gold_dir, "canonical_stacks"),
                  ignore_errors=True)


def mark_state_layout(gold_dir: str) -> None:
    """After a successful FULL state write: record the layout version
    (atomic replace — a crash between the state write and the marker
    leaves the marker absent, which just forces one more cold
    rebuild)."""
    os.makedirs(gold_dir, exist_ok=True)
    marker = os.path.join(gold_dir, "STATE_LAYOUT")
    tmp = f"{marker}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(str(STATE_LAYOUT_VERSION))
    os.replace(tmp, marker)


def _window_chain_state(spark: SparkSession, tables: dict[str, DataFrame],
                        gold_dir: str, reorg_depth: int) -> dict | None:
    """Boundary-verified window chain state, the walk half of
    _windowed_prepare (incremental ticks and warm full refreshes):
    probe the tips, walk ONLY the last `reorg_depth` blocks of both
    chains, and verify each window floor's parent against the
    persisted canonical state one height below. Returns None when the
    anchor fails (no state yet, empty window, or a reorg deeper than
    the window): callers fall back to the from-scratch walk. The
    stored state is read only at floor - 1, with footer schemas
    (io.parquet_scan), so it costs the boundary probe's one job.

    Returns {'wchain', 'wstacks' (window rows joined to their walk
    membership, lazily checkpointed), 'floors', 'prev_total',
    'aligned_floor', 'tip_stacks', 'tip_headers' (the max block_height
    of wstacks; None after a distributed walk)}."""
    from types import SimpleNamespace

    import pyarrow.compute as pc

    from .chain import (chain_members_segmented, collect_bounded,
                        keep_members, walk_rows)
    from .schemas import ZERO64

    # layout gate FIRST: state written on a different bucket axis must
    # never anchor a warm path (the floor-1 boundary probe cannot
    # detect axis-mixed buckets — round-10 ADVICE)
    if not _state_layout_ok(gold_dir):
        return None
    try:
        stored_chain = parquet_scan(spark, f"{gold_dir}/canonical_chain")
        stored_stacks = parquet_scan(spark, f"{gold_dir}/canonical_stacks")
    except Exception:
        return None

    # scalar probes are BATCHED: each 1-row collect is its own Spark
    # job, and on a small tick those fixed job floors — not data —
    # dominate the latency. Independent probes union into one job
    # (three probe jobs per tick: tips, floors, boundary anchors).
    valid = tables["snapshots"].filter(F.col("pox_valid") != 0)
    headers = tables["block_headers"]
    tip_probe = (
        valid.orderBy(F.desc("block_height"), F.col("burn_header_hash"))
        .limit(1)
        .select(F.lit("burn").alias("side"),
                F.col("burn_header_hash").alias("id"),
                F.col("stacks_block_height"))
        .unionByName(
            headers.orderBy(F.desc("block_height"), F.col("block_hash"))
            .limit(1)
            .select(F.lit("stacks").alias("side"),
                    F.col("block_hash").alias("id"),
                    F.lit(None).cast("long").alias("stacks_block_height")))
    ).collect()
    tips = {r.side: r for r in tip_probe}
    if "burn" not in tips or "stacks" not in tips:
        return None
    # bucket-ALIGNED window on the stacks-height axis: dynamic
    # overwrite rewrites whole hbucket partitions, so the window must
    # fully cover every bucket it touches — a mid-bucket floor would
    # drop the bucket's below-window rows on rewrite
    tip_stacks = tips["burn"].stacks_block_height or 0
    aligned_floor = (max(0, tip_stacks - reorg_depth)
                     // HEIGHTS_PER_BUCKET) * HEIGHTS_PER_BUCKET
    window = valid.filter(F.col("stacks_block_height") >= aligned_floor)

    # stacks side windows on the same aligned floor (its height IS the
    # mining_info bucket axis; a burn row's stacks_block_height is >=
    # its anchored header's height, so enriched covers these wins)
    wheaders = headers.filter(F.col("block_height") >= aligned_floor)

    # chain walks: the window holds O(reorg_depth) rows — a
    # CONFIG-bounded driver artifact, same class as the k-centroid and
    # shard-summary collects — so BOTH walks run driver-side off ONE
    # collect job (the distributed segmented walk costs 2-3 jobs per
    # chain, pure fixed overhead at window size). The cap enforces the
    # bound; a window above it (misconfigured reorg_depth) falls back
    # to the distributed engine, result-identical.
    cap = min(4 * reorg_depth + 20_000, WALK_COLLECT_CAP)
    edges = collect_bounded(
        window.select(F.lit("burn").alias("side"),
                      F.col("burn_header_hash").alias("id"),
                      F.col("parent_burn_header_hash").alias("parent"),
                      F.col("block_height").alias("h"))
        .unionByName(
            wheaders.select(F.lit("stacks").alias("side"),
                            F.col("block_hash").alias("id"),
                            F.col("parent_block").alias("parent"),
                            F.col("block_height").alias("h"))), cap)

    floors, tip_headers = {}, None
    if edges is not None:
        # driver walk from each tip (chain.walk_rows); the walk leaves
        # the window exactly where the parent id is absent
        kept = {}
        for side, rows, id_col in (("burn", window, "burn_header_hash"),
                                   ("stacks", wheaders, "block_hash")):
            t = edges.filter(pc.equal(edges["side"], side))
            ids, parents, h = (t[c].combine_chunks()
                               for c in ("id", "parent", "h"))
            at = pc.index(ids, tips[side].id).as_py()
            path = walk_rows(ids, parents, at if at >= 0 else None)
            if not path:
                return None
            floors[side] = SimpleNamespace(         # deepest = lowest
                parent=parents[path[-1]].as_py(),
                block_height=h[path[-1]].as_py())
            kept[side] = keep_members(rows, ids, path, id_col)
            if side == "stacks":
                tip_headers = pc.max(h.take(path)).as_py()
        wchain, wstacks = kept["burn"], kept["stacks"]
    else:
        spans.note("window_walk_cap", f"more than {cap} window rows; "
                   "distributed segmented walk")
        members = chain_members_segmented(
            window, tips["burn"].id,
            id_col="burn_header_hash",
            parent_col="parent_burn_header_hash",
            height_col="block_height")
        smembers = chain_members_segmented(
            wheaders, tips["stacks"].id,
            id_col="block_hash", parent_col="parent_block",
            height_col="block_height")
        wchain = window.join(members, "burn_header_hash")
        wstacks = wheaders.join(smembers, "block_hash")

    # checkpoint the (small) windowed chains: lag-delta, enrichment
    # and the state write all consume them — without this the walk
    # join re-executes once per downstream action. LAZY: the first
    # consumer materializes it inside its own job (no extra barrier).
    wchain = wchain.localCheckpoint(eager=False)
    wstacks = wstacks.localCheckpoint(eager=False)

    if not floors:
        # distributed-walk fallback: probe both window floors, one job
        floor_probe = (
            wchain.orderBy("block_height").limit(1)
            .select(F.lit("burn").alias("side"),
                    F.col("parent_burn_header_hash").alias("parent"),
                    F.col("block_height"))
            .unionByName(
                wstacks.orderBy("block_height").limit(1)
                .select(F.lit("stacks").alias("side"),
                        F.col("parent_block").alias("parent"),
                        F.col("block_height")))
        ).collect()
        floors = {r.side: r for r in floor_probe}
        if "burn" not in floors or "stacks" not in floors:
            return None

    # boundary verify, both chains in one job: each window floor's
    # parent must be the stored canonical row one height below —
    # otherwise the reorg is deeper than the window -> full recompute
    prev_probe = (
        stored_chain.filter(
            F.col("block_height") == floors["burn"].block_height - 1)
        .select(F.lit("burn").alias("side"),
                F.col("burn_header_hash").alias("id"),
                F.col("total_burn"))
        .unionByName(
            stored_stacks.filter(
                F.col("block_height") == floors["stacks"].block_height - 1)
            .select(F.lit("stacks").alias("side"),
                    F.col("block_hash").alias("id"),
                    F.lit(None).cast("long").alias("total_burn")))
    ).collect()
    prevs = {r.side: r for r in prev_probe}
    if floors["burn"].parent != ZERO64:
        if "burn" not in prevs or prevs["burn"].id != floors["burn"].parent:
            return None
    prev_total = prevs["burn"].total_burn if "burn" in prevs else 0
    if floors["stacks"].parent != ZERO64:
        if "stacks" not in prevs or \
                prevs["stacks"].id != floors["stacks"].parent:
            return None
    return {"wchain": wchain, "wstacks": wstacks, "floors": floors,
            "prev_total": prev_total, "aligned_floor": aligned_floor,
            "tip_stacks": tip_stacks, "tip_headers": tip_headers}


def _windowed_prepare(spark: SparkSession, tables: dict[str, DataFrame],
                      gold_dir: str, reorg_depth: int) -> dict | None:
    """Window-bounded version of core.prepare: walk only the last
    `reorg_depth` blocks, anchored on the persisted canonical-chain
    state at the window floor. Returns None when the incremental
    anchor fails — callers fall back to the full recompute.

    This is where the incremental tick stops paying for history: the
    chain walks, the lag-delta and the commit-enrichment join all see
    only O(reorg_depth) snapshot rows. (The commits scan itself prunes
    at the storage layer when bronze is partitioned by burn-height
    bucket; the join keeps only window rows either way.)"""
    from pyspark.sql import Window

    st = _window_chain_state(spark, tables, gold_dir, reorg_depth)
    if st is None:
        return None
    wchain, wstacks = st["wchain"], st["wstacks"]
    floors, prev_total = st["floors"], st["prev_total"]
    aligned_floor, tip_stacks = st["aligned_floor"], st["tip_stacks"]

    # single-partition lag is FINE here: wchain holds only the
    # O(reorg_depth) window, not history (the full-history paths use
    # the sharded core.with_actual_burn)
    w = Window.orderBy("block_height")
    snap = core._ckpt(wchain.withColumn(
        "actual_burn",
        F.col("total_burn") - F.lag("total_burn", 1, prev_total).over(w),
    ))

    commits = tables["block_commits"]
    if "hbucket" in commits.columns:
        # height-bucketed bronze (io.write_bronze_commits): the window
        # floor's BURN height prunes whole commit partitions at the
        # scan — the windowed tick's last O(history) input goes away
        commits = commits.filter(
            F.col("hbucket")
            >= floors["burn"].block_height // HEIGHTS_PER_BUCKET)
    enriched = core.commits_enriched(
        snap, commits.drop("hbucket"), tables["leader_keys"]).cache()
    chain_cols = wstacks.select(
        "burn_header_hash", F.col("block_height").alias("stacks_height"))
    winners = core._ckpt(
        enriched.filter(F.col("is_winner"))
        .join(F.broadcast(chain_cols), "burn_header_hash")
    )
    return {"snap": snap, "enriched": enriched, "winners": winners,
            "wchain": wchain, "wstacks": wstacks,
            "aligned_floor": aligned_floor, "tip_stacks": tip_stacks,
            "tip_headers": st["tip_headers"]}


def chain_tips(prepared: dict) -> tuple[int | None, int | None]:
    """(max stacks_block_height of the burn chain, max block_height of
    the Stacks chain) of a prepared dict: the tips its walks already
    know, or one 1-row aggregate job each after a distributed walk."""
    tip = prepared.get("tip_stacks")
    if tip is None:
        tip = prepared["snap"].agg(
            F.max("stacks_block_height")).collect()[0][0]
    stip = prepared.get("tip_headers")
    if stip is None:
        stip = prepared["wstacks"].agg(F.max("block_height")).collect()[0][0]
    return tip, stip


def chain_state_frames(prepared: dict) -> tuple[DataFrame, DataFrame]:
    """The two canonical-chain state frames (burn chain, stacks
    chain) from a prepared dict carrying wchain/wstacks, shared by
    write_window and refresh_once's cold state rewrite.

    canonical_chain state buckets on the STACKS height axis, the SAME
    axis the window floor aligns on. Bucketing on burn height would
    let a window overwrite straddle a bucket whose low side holds
    sub-floor rows, silently dropping them from state, and a later
    floor - 1 boundary probe could then miss its anchor row."""
    chain_df = prepared["wchain"].select(
        "burn_header_hash", "parent_burn_header_hash",
        "block_height", "stacks_block_height", "total_burn") \
        .withColumn("hbucket", (F.col("stacks_block_height")
                                / HEIGHTS_PER_BUCKET).cast("long"))
    stacks_df = prepared["wstacks"].select(
        "block_hash", "parent_block", "block_height",
        "burn_header_hash") \
        .withColumn("hbucket", (F.col("block_height")
                                / HEIGHTS_PER_BUCKET).cast("long"))
    return chain_df, stacks_df


@spans.root("tick")
def incremental_refresh(spark: SparkSession, tables: dict[str, DataFrame],
                        gold_dir: str, reorg_depth: int = 100) -> dict:
    """One incremental tick: windowed when persisted state + boundary
    anchors allow it, full recompute otherwise. Returns
    {'tip', 'lo_height', 'buckets_from', 'mode'}.

    The run record (spans.py) carries the mode and the tick's stages:
    'walk' (window prepare — the reorg-depth chain walks and anchor
    probes — or the full-recompute fallback's core.prepare, whose
    eager localCheckpoints run the walks), then write_window's
    'gold_writes' and 'merge'."""
    with spans.span("walk"):
        prepared = _windowed_prepare(spark, tables, gold_dir, reorg_depth)
        mode = "windowed"
        if prepared is None:
            mode = "full"
            spans.note("full_tick", "no boundary-verified window state "
                       f"at reorg_depth={reorg_depth}; full recompute")
            # bucketed-bronze commits carry an hbucket partition column
            # the core DAG must not see (miner_partials derives its own)
            tables = dict(tables)
            tables["block_commits"] = \
                tables["block_commits"].drop("hbucket")
            prepared = core.prepare(tables)
            # prepare() already walked + checkpointed the stacks chain
            # (round-13) — reuse it instead of walking headers again
            prepared["wchain"] = prepared["snap"]
            prepared["wstacks"] = prepared["stacks_chain"]
    spans.mode(mode)
    out = write_window(spark, tables, gold_dir, prepared,
                       full=mode == "full")
    return {**out, "mode": mode}


def write_window(spark: SparkSession, tables: dict[str, DataFrame],
                 gold_dir: str, prepared: dict,
                 full: bool = False) -> dict:
    """Write, prune and merge one tick's gold from a prepared dict:
    the body the windowed tick and the warm full refresh share. A
    windowed prepared dict (_windowed_prepare) rewrites only the
    hbucket partitions from its aligned floor up; `full=True` (a
    core.prepare dict) rewrites every bucket and resets / marks the
    state layout around the writes. Stages 'gold_writes' (the five
    concurrent gold writes, which also execute the join DAG — Spark
    is lazy, so join and write cost are one phase here) and 'merge'
    (partials fold + miner_info rewrite). Releases the prepared
    enriched cache. Returns {'tip', 'lo_height', 'buckets_from'}."""
    try:
        # the walks already know both tips (aggregate jobs only after
        # a distributed walk)
        tip, stip = chain_tips(prepared)
        lo = 0 if full else prepared["aligned_floor"]
        lo_bucket = lo // HEIGHTS_PER_BUCKET
        affected = F.col("hbucket") >= lo_bucket

        mi = core.mining_info(tables, prepared=prepared) \
            .withColumn("hbucket", _hb()).filter(affected)
        bi = core.block_info(tables, prepared=prepared) \
            .withColumn("hbucket", _hb()).filter(affected)
        pt = miner_partials(prepared).filter(affected)

        # the five gold writes hit DIFFERENT paths off shared cached/
        # checkpointed intermediates — submit them concurrently (Spark's
        # scheduler interleaves jobs from multiple threads; the block
        # manager serializes any racing cache fill). On a small tick the
        # wall cost drops from the SUM of five write jobs to the MAX.
        from concurrent.futures import ThreadPoolExecutor

        chain_df, stacks_df = chain_state_frames(prepared)
        writes = [
            (mi, f"{gold_dir}/mining_info"),
            (bi, f"{gold_dir}/block_info"),
            (pt, f"{gold_dir}/miner_partials"),
            (chain_df, f"{gold_dir}/canonical_chain"),
            (stacks_df, f"{gold_dir}/canonical_stacks"),
        ]
        with spans.span("gold_writes"):
            if full:
                # a full rewrite covers every bucket of the CURRENT
                # axis; stale buckets from a different layout must be
                # deleted first, and the marker written only after the
                # writes land
                reset_state_for_layout(gold_dir)
            with ThreadPoolExecutor(max_workers=len(writes)) as pool:
                futures = [pool.submit(spans.inherit(_write_dynamic),
                                       df, path) for df, path in writes]
                for f in futures:
                    f.result()   # surface the first failure
            if full:
                mark_state_layout(gold_dir)
            # reorg-shrink guard: a tip LOWER than the previous
            # refresh's leaves its old high buckets unrewritten by
            # dynamic overwrite — drop every bucket above the new tip,
            # in the outputs AND the chain state (the abandoned
            # fork's rows are no longer canonical). Two bounds, two
            # axes: tables keyed by SNAPSHOT stacks height
            # (block_info, partials' stats side, canonical_chain)
            # prune above the burn tip's stacks height; tables keyed
            # by the STACKS HEADER chain (mining_info winners,
            # canonical_stacks) prune above the header tip, which can
            # sit below the snapshot-side height.
            tip_bucket = (tip or 0) // HEIGHTS_PER_BUCKET
            stip_bucket = (stip or 0) // HEIGHTS_PER_BUCKET
            for p, b in (("mining_info", stip_bucket),
                         ("canonical_stacks", stip_bucket),
                         ("block_info", tip_bucket),
                         ("miner_partials", tip_bucket),
                         ("canonical_chain", tip_bucket)):
                _prune_buckets_above(f"{gold_dir}/{p}", b)

        with spans.span("merge"):
            write_merged_miner_info(spark, gold_dir)
        return {"tip": tip, "lo_height": lo, "buckets_from": lo_bucket}
    finally:
        prepared["enriched"].unpersist()
