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
and the chain-membership sets are broadcast (small dims), the
commits⋈snapshots join shuffles on burn_header_hash (uniform — hashes).
The only sequential piece, fork selection, lives in chain.py as a
pointer-doubling walk.

Scale notes (100 TB): the A2 lag-delta runs over the *canonical chain*,
which is one row per burn block — even a decade of Bitcoin blocks is
<1M rows, so the single-partition window is bounded by chain physics,
not data scale. Commits/payments/headers (the big tables) never pass
through an unpartitioned window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import spans
from .chain import canonical_snapshots, canonical_stacks_chain

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
    (`first_default` seeds the first row — 0 from genesis).

    Scale shape (round-9 VERDICT #1): the lag runs through
    operators/scalable.global_lag — shard-local window + an O(shards)
    boundary patch — not a single-partition Window.orderBy over full
    history, which was the one per-executor serialization point left
    in the flagship E1 DAG. block_height is unique on a canonical
    chain (duplicate heights collapse in the F2 walk), so it is a
    total order. Callers pass a MATERIALIZED canon (checkpointed /
    cached): global_lag samples range boundaries at plan-build time,
    so an un-materialized walk upstream would re-execute per sampling
    job."""
    from .operators.scalable import global_lag

    lagged = global_lag(canon, [F.col("block_height")],
                        F.col("total_burn"), out_col="_prev_burn")
    return lagged.withColumn(
        "actual_burn",
        F.col("total_burn")
        - F.coalesce(F.col("_prev_burn"), F.lit(first_default)),
    ).drop("_prev_burn")


def snapshots_with_actual_burn(snapshots: DataFrame) -> DataFrame:
    """Canonical snapshots + A2 lag-delta (see with_actual_burn). The
    walk output is checkpointed here (one row per burn block) so the
    lag's boundary sampling reads materialized blocks instead of
    re-running the walk. Lazy (round-14): the sampling's FIRST job
    (the approx-distinct probe) materializes the checkpoint as a side
    effect — the eager form paid a dedicated materialization job for
    the same single pass; the second sampling job and every later
    consumer read the populated blocks either way."""
    canon = _ckpt(canonical_snapshots(snapshots), eager=False)
    return with_actual_burn(canon)


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
    chain = (chain_full if chain_full is not None
             else canonical_stacks_chain(headers)).select(
        "burn_header_hash",
        F.col("block_height").alias("stacks_height"),
    )
    winners = enriched.filter(F.col("is_winner"))
    return winners.join(F.broadcast(chain), "burn_header_hash")


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
    materializes the canonical chain (small: one row per burn block —
    localCheckpoint also truncates the walk's iterative lineage) and
    caches the enriched commits that all three gold tables consume.

    Round-13: the burnchain walk (snapshots) and the Stacks-chain walk
    (headers) are INDEPENDENT, so they run concurrently from a
    two-thread pool (guide §2.6 — each walk has serial driver phases,
    tip pick / bucket stitch, during which the other walk's jobs fill
    the idle executors). The materialized stacks chain is returned
    under "stacks_chain" so refresh callers reuse it for the history
    gold write instead of re-running the walk (it used to be walked
    TWICE per cold refresh: once inside canonical_winners, once for
    wstacks)."""
    from concurrent.futures import ThreadPoolExecutor

    # round-14 (VERDICT #5): the snap critical path used to pay TWO
    # eager materializations — walk+ckpt inside
    # snapshots_with_actual_burn, then a second full pass here to
    # checkpoint the lag output. The second checkpoint is now LAZY:
    # the winners build below is the refresh's first action over snap
    # and materializes the lag blocks as a side effect of a job it
    # runs anyway (the lag's boundary sampling still reads the walk's
    # own materialized checkpoint, so no sampling job re-runs the
    # walk). Later consumers (chain-state writes, partials, prune)
    # read the populated blocks.
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_snap = pool.submit(spans.inherit(
            lambda: _ckpt(snapshots_with_actual_burn(tables["snapshots"]),
                          eager=False)))
        f_stacks = pool.submit(spans.inherit(
            lambda: _ckpt(canonical_stacks_chain(tables["block_headers"]))))
        snap = f_snap.result()
        stacks_chain = f_stacks.result()
    enriched = commits_enriched(
        snap, tables["block_commits"], tables["leader_keys"]).cache()
    winners = _ckpt(
        canonical_winners(tables["block_headers"], snap, enriched,
                          chain_full=stacks_chain))
    return {"snap": snap, "enriched": enriched, "winners": winners,
            "stacks_chain": stacks_chain}


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
