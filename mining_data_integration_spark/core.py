"""E1 core DAG: the reference's flagship ETL re-expressed as DataFrames.

Reference lifecycle (SURVEY §3 E1, rpc.js:10-461): scan six tables,
hand-rolled hash joins into nested rows, sequential fork selection, then
per-miner / per-block aggregates. Here the same dataflow is declarative:

    snapshots ──F1/F2──> canonical_snapshots ──A2──> + actual_burn
        │                                   │
    block_commits ──J2 (burn_header_hash)───┤
        │                                   │
    leader_keys ───J6 (composite, bcast)────┤──> commits_enriched (J7 flag)
                                            │
    block_headers ──J9 chain walk──> canonical stacks chain ──A3──> wins
        │                                   │
    payments ──J3 (consensus_hash)──────────┤
    staging_blocks ──J4 (consensus_hash)────┤──> burn_blocks_with_feeds
                                            │
    miner_info (A1+A3+F11+X12) ∥ mining_info (F12) ∥ block_info (A6)

The J3/J4 arrays are attached for DAG fidelity (rpc.js:206-229) even
though the reference consumes them only in dead debug code — see
burn_blocks_with_feeds' docstring; the staging feed additionally powers
the ST6 sync gate (serving.py).

Every join is an equi-join Catalyst can pick a strategy for: leader_keys
and the fork sets are broadcast (small dims), the commits⋈snapshots
join shuffles on burn_header_hash (uniform — hashes). The only
sequential piece, fork selection, lives in chain.py: a driver walk over
one bounded Arrow collect of each chain's parent pointers, handing
back the non-canonical ids for a broadcast anti-join.

Scale notes (100 TB): the A2 lag-delta runs over the *canonical chain*,
one row per burn block, as a left equi-join onto each row's parent row
(with_actual_burn) — no window at all. Commits/payments/headers (the
big tables) never pass through an unpartitioned window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import chain, spans

# reference constants: bonus era ends at stacks height 8387
# (rpc.js:303-304); STX block rewards 2466 (bonus) / 1000 (normal) and
# gas 350*100 sat (utils.js:1-11, server.js:164)
BONUS_HEIGHT = 8387
STX_REWARD_BONUS = 2466
STX_REWARD = 1000
GAS = 350 * 100


def _ckpt(df: DataFrame, eager: bool = True) -> DataFrame:
    """localCheckpoint, unless SPARK_GRAFT_NO_CHECKPOINT=1.

    Checkpoints truncate lineage, which blinds plan audits: the round-9
    audit saw only post-checkpoint scans for the e1_* queries and the
    A2 single-partition window hid behind core.prepare's eager
    checkpoint. tools/plan_audit.py and the plan tests set the env flag
    to build the FULL logical DAG (slower to construct, never executed
    eagerly beyond the walk probes)."""
    import os

    if os.environ.get("SPARK_GRAFT_NO_CHECKPOINT") == "1":
        return df
    return df.localCheckpoint(eager=eager)


def with_actual_burn(canon: DataFrame,
                     first_default: int = 0) -> DataFrame:
    """A2 lag-delta over a canonical-chain frame: `total_burn` in the
    source is a *cumulative* counter (rpc.js:250-252); per-block burn
    is the difference from the previous canonical block
    (`first_default` seeds a row whose parent is not in `canon` — 0
    from genesis).

    Precondition: `canon` is ONE parent-pointer chain — each
    burn_header_hash once, heights strictly decreasing along
    parent_burn_header_hash — as the canonical walk leaves it. On such
    a chain the height-ordered predecessor of a row IS its parent row,
    so the lag is a left equi-join onto the parent (partitioned, no
    window, no sampling job). Off-chain input (a forest, a duplicated
    id) gets a different answer from an ordered lag. The subtraction
    stays a Spark expression so `actual_burn` keeps its decimal type."""
    prev = canon.select(F.col("burn_header_hash").alias("_parent"),
                        F.col("total_burn").alias("_prev_burn"))
    lagged = canon.join(
        prev, F.col("parent_burn_header_hash") == F.col("_parent"), "left")
    return lagged.withColumn(
        "actual_burn",
        F.col("total_burn")
        - F.coalesce(F.col("_prev_burn"), F.lit(first_default)),
    ).drop("_parent", "_prev_burn")


def burn_blocks_with_feeds(snapshots_canon: DataFrame,
                           payments: DataFrame,
                           staging_blocks: DataFrame) -> DataFrame:
    """J3/J4 (rpc.js:206-229): attach the ``payments`` and
    ``staging_blocks`` arrays to each canonical burn block by
    consensus_hash — the reference's process_payments /
    process_staging_blocks push rows into nested per-block arrays,
    skipping rows whose consensus_hash matches no block (left-join-
    with-empty-default semantics; the miss-skip is the `continue` at
    rpc.js:213,226).

    Fidelity note: the reference computes these arrays and then reads
    them only in dead debug code — the at_tip/parent_hash loop
    (rpc.js:400-418) computes values that are never used, and
    process_staging_blocks' own logging is commented out. They are
    instantiated here so the E1 DAG is shape-complete; no *served*
    output of the reference depends on them. The staging feed serves
    the ST6 sync gate separately (serving.py:111).

    Arrays are sorted for deterministic compares (the reference's order
    is SQLite scan order — unspecified). Scale shape: two combinable
    groupBys keyed on consensus_hash (uniform hash key) reducing to one
    row per block, then two left equi-joins onto the block spine; the
    arrays are per-block bounded (a handful of payments / fork
    candidates each), never corpus-sized."""
    pay = payments.groupBy("consensus_hash").agg(
        F.sort_array(F.collect_list(F.struct(
            "stacks_block_height", "address"))).alias("payments"))
    stag = staging_blocks.groupBy("consensus_hash").agg(
        F.sort_array(F.collect_list(F.struct(
            "height", "processed", "orphaned"))).alias("staging_blocks"))
    # miss -> EMPTY array, not null (the reference pre-initializes
    # `.payments = []` per block, rpc.js:137-140); empty-literal types
    # derived from the aggregates so input column types stay authoritative
    pay_t = dict(pay.dtypes)["payments"]
    stag_t = dict(stag.dtypes)["staging_blocks"]
    return (
        snapshots_canon
        .join(pay, "consensus_hash", "left")
        .join(stag, "consensus_hash", "left")
        .withColumn("payments", F.coalesce(
            "payments", F.expr(f"CAST(array() AS {pay_t})")))
        .withColumn("staging_blocks", F.coalesce(
            "staging_blocks", F.expr(f"CAST(array() AS {stag_t})")))
    )


def commits_enriched(snapshots_canon: DataFrame, commits: DataFrame,
                     leader_keys: DataFrame) -> DataFrame:
    """J2 (commits⋈canonical snapshots) + J6 (composite-key leader-key
    lookup, broadcast — rpc.js:128-148) + J7 winner flag (rpc.js:269).

    Left join on the leader key: the reference leaves commits with no
    registered key in the stats under an undefined address
    (rpc.js:142-147 find miss -> rpc.js:253 keyed on undefined)."""
    snap = snapshots_canon.select(
        "burn_header_hash", "block_height", "stacks_block_height",
        "winning_block_txid", "actual_burn",
    )
    lk = leader_keys.select(
        F.col("block_height").alias("key_block_ptr"),
        F.col("vtxindex").alias("key_vtxindex"),
        F.col("address").alias("leader_key_address"),
    )
    return (
        commits.join(snap, "burn_header_hash")
        .join(F.broadcast(lk), ["key_block_ptr", "key_vtxindex"], "left")
        .withColumn("is_winner", F.col("txid") == F.col("winning_block_txid"))
    )


def miner_stats(enriched: DataFrame,
                start_height: int = 0,
                end_height: int = 99999999) -> DataFrame:
    """A1: per-miner hash aggregate (rpc.js:244-275) with the F3/F4
    stacks-height range restriction (defaults mirror rpc.js:12-21)."""
    in_range = enriched.filter(
        F.col("stacks_block_height").between(start_height, end_height)
    )
    return in_range.groupBy("leader_key_address").agg(
        F.count("*").alias("total_mined"),
        F.sum("burn_fee").alias("miner_burned"),
        F.sum("actual_burn").alias("total_burn"),
        F.sum(F.when(F.col("is_winner"), 1).otherwise(0)).alias("total_win"),
    )


def canonical_winners(headers: DataFrame, snapshots_canon: DataFrame,
                      enriched: DataFrame,
                      chain_full: DataFrame | None = None) -> DataFrame:
    """J9 + J7: one row per canonical Stacks block with its winning
    commit (rpc.js:281-308). The chain-walk output is small (one row
    per block) and broadcasts into the commits join.

    `chain_full` (round-13): a caller that already holds the full
    canonical stacks chain (prepare() materializes it once for the
    whole refresh) passes it here so the walk is not re-run."""
    stacks = (chain_full if chain_full is not None
              else chain.canonical_stacks_chain(headers)).select(
        "burn_header_hash",
        F.col("block_height").alias("stacks_height"),
    )
    winners = enriched.filter(F.col("is_winner"))
    return winners.join(F.broadcast(stacks), "burn_header_hash")


def actual_wins(canon_winners: DataFrame,
                bonus_height: int = BONUS_HEIGHT) -> DataFrame:
    """A3: canonical-fork win counts per miner, split at the bonus-era
    boundary (rpc.js:301-305)."""
    return canon_winners.groupBy("leader_key_address").agg(
        F.count("*").alias("actual_win"),
        F.sum(
            F.when(F.col("stacks_height") < bonus_height, 1).otherwise(0)
        ).alias("actual_win_bonus"),
    )


def prepare(tables: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Shared E1 intermediates, computed once per refresh tick.

    The reference builds its hash indexes once per update() call
    (rpc.js:77-90) and every output reads them; the Spark analog
    materializes the canonical chains (small: one row per block) and
    caches the enriched commits that all three gold tables consume.

    The burnchain walk (snapshots) and the Stacks-chain walk (headers)
    are independent, so they run concurrently from a two-thread pool:
    each is a bounded collect, a driver walk and a checkpoint, and the
    other walk's jobs fill the cores while one walks on the driver.
    The materialized stacks chain is returned under "stacks_chain" so
    refresh callers reuse it for the history gold write, and each
    walk's tip height rides along ("tip_stacks": the max
    stacks_block_height on the burn chain, "tip_headers": the max
    block_height on the Stacks chain; None when a walk ran
    distributed) so the refresh needs no aggregate job for them. The
    snap checkpoint is LAZY: the winners build below is the refresh's
    first action over snap and materializes it inside a job it runs
    anyway."""
    from concurrent.futures import ThreadPoolExecutor

    def walk_snap():
        walk = chain.snapshots_walk(tables["snapshots"])
        return _ckpt(with_actual_burn(walk.rows), eager=False), walk.top

    def walk_stacks():
        walk = chain.stacks_walk(tables["block_headers"])
        return _ckpt(walk.rows), walk.top

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_snap = pool.submit(spans.inherit(walk_snap))
        f_stacks = pool.submit(spans.inherit(walk_stacks))
        snap, tip_stacks = f_snap.result()
        stacks_chain, tip_headers = f_stacks.result()
    enriched = commits_enriched(
        snap, tables["block_commits"], tables["leader_keys"]).cache()
    winners = _ckpt(
        canonical_winners(tables["block_headers"], snap, enriched,
                          chain_full=stacks_chain))
    return {"snap": snap, "enriched": enriched, "winners": winners,
            "stacks_chain": stacks_chain, "tip_stacks": tip_stacks,
            "tip_headers": tip_headers}


def miner_info(tables: dict[str, DataFrame],
               start_height: int = 0, end_height: int = 99999999,
               bonus_height: int = BONUS_HEIGHT,
               prepared: dict[str, DataFrame] | None = None) -> DataFrame:
    """F11 projection (rpc.js:435-444): the per-miner output table,
    address-sorted (O4, rpc.js:430). btc_address / RR enrichment are
    separate stages (addresses.with_btc_address, serving.with_rr)."""
    p = prepared or prepare(tables)
    enriched = p["enriched"]
    stats = miner_stats(enriched, start_height, end_height)
    wins = actual_wins(p["winners"], bonus_height)
    return (
        stats.join(wins, "leader_key_address", "left")
        .select(
            F.col("leader_key_address").alias("stx_address"),
            F.coalesce("actual_win", F.lit(0)).alias("actual_win"),
            F.coalesce("actual_win_bonus", F.lit(0)).alias("actual_win_bonus"),
            "total_win", "total_mined", "miner_burned",
        )
        .orderBy("stx_address")
    )


def mining_info(tables: dict[str, DataFrame],
                prepared: dict[str, DataFrame] | None = None) -> DataFrame:
    """F12 (rpc.js:449-457): winning commit per canonical Stacks block,
    tip-first (the J9 walk emits height-descending, rpc.js:300)."""
    p = prepared or prepare(tables)
    winners = p["winners"]
    return winners.select(
        F.col("stacks_height").alias("stacks_block_height"),
        F.col("leader_key_address").alias("stx_address"),
        "burn_fee",
    ).orderBy(F.desc("stacks_block_height"))


def burnchain_ops_enriched(ops: DataFrame) -> DataFrame:
    """E1 step b (rpc.js:340-370): parse the `op` JSON document column
    (X7) and derive miner addresses from the embedded public key /
    address bytes (X2-X5). The reference builds this index and never
    consumes it downstream; here it is a first-class queryable output.

    JSON parse + branch stay JVM-side (from_json + when); only the two
    final address columns cross the Arrow boundary (O-R3 placement)."""
    from .addresses import c32address_udf, pubkey_to_stacks_udf, with_btc_address
    from .schemas import OP_JSON_SCHEMA

    j = ops.withColumn("j", F.from_json("op", OP_JSON_SCHEMA))
    commit = F.col("j.LeaderBlockCommit")
    register = F.col("j.LeaderKeyRegister")
    parsed = j.select(
        "block_hash",
        F.when(commit.isNotNull(), F.lit("leader_block_commit"))
        .when(register.isNotNull(), F.lit("leader_key_register"))
        .alias("op_type"),
        commit["apparent_sender"]["public_keys"][0]["key"].alias("pubkey"),
        register["address"]["version"].alias("reg_version"),
        register["address"]["bytes"].alias("reg_bytes"),
    )
    enriched = parsed.withColumn(
        "stacks_address",
        F.coalesce(
            pubkey_to_stacks_udf(F.col("pubkey")),
            c32address_udf(F.col("reg_version"), F.col("reg_bytes")),
        ),
    )
    return with_btc_address(enriched, "stacks_address").select(
        "block_hash", "op_type", "stacks_address", "btc_address")


def transaction_counts(transactions: DataFrame,
                       headers: DataFrame) -> DataFrame:
    """A7 + J8 (rpc.js:320-336, 414-415): per-block transaction counts
    joined to headers on the *computed* key
    sha512_256(block_hash ‖ consensus_hash) = index_block_hash.
    tx_count excludes the coinbase (group size − 1, rpc.js:330-335)."""
    from .addresses import stacks_block_id_udf

    per_block = transactions.groupBy("index_block_hash").agg(
        (F.count("*") - 1).alias("tx_count"),
        F.sort_array(F.collect_list(F.substring("txid", 1, 10)))
        .alias("txid_prefixes"),          # X11 display form (rpc.js:415)
    )
    keyed = headers.withColumn(
        "index_block_hash",
        stacks_block_id_udf(F.col("block_hash"), F.col("consensus_hash")),
    )
    return keyed.join(per_block, "index_block_hash").select(
        F.col("block_height").alias("stacks_block_height"),
        "block_hash", "tx_count", "txid_prefixes",
    )


def block_info(tables: dict[str, DataFrame],
               prepared: dict[str, DataFrame] | None = None) -> DataFrame:
    """A6 (rpc.js:463-487): per-stacks-height commit rollup with the
    nested commit list. The list is sorted for deterministic compares
    (the reference's order is insertion order — unspecified)."""
    p = prepared or prepare(tables)
    enriched = p["enriched"]
    return (
        enriched.groupBy("stacks_block_height")
        .agg(
            F.sum("burn_fee").alias("sum_burn_fees"),
            F.count("*").alias("sum_miner_amount"),
            F.sort_array(F.collect_list(F.struct(
                "burn_fee", "leader_key_address", "txid"
            ))).alias("commit_value_list"),
        )
        .orderBy("stacks_block_height")
    )
