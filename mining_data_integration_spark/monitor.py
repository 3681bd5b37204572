"""E2 dashboard shapers (SURVEY §3 E2): pure DataFrame post-processing
over the three gold tables (miner_info / mining_info / block_info),
re-expressing mining_monitor_rpc.js:1-161.

Plan shape: every section is one Spark job (the empty RR section
none). Every trailing-N window here is bounded by a constant (20 / 50 /
1000 rows — mining_monitor_rpc.js:3, 26, 48), so it is a top-K
(TakeOrderedAndProject), not a full-table sort. The top-K leaves its
n rows in one partition, so burn_fee_area runs its whole chain there in
one pass: the tip is an unpartitioned max window over the tail, the
per-(address, height) fee sum and the per-address window (running sum
plus the next point's height) need no exchange, and the forward-fill is
an explode of each point over the heights up to the next: no join and
no broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType


def trailing(df: DataFrame, n: int, height_col: str) -> DataFrame:
    """W1: the last n rows by height (mining_monitor_rpc.js:3, 25, 48).

    Distributed top-K (TakeOrderedAndProject — per-partition heads
    merged on the driver, n*P rows moved), not a global row_number
    window (which would single-partition-sort the whole table).
    Heights are unique per gold-table row, so the row set is identical."""
    return df.orderBy(F.desc(height_col)).limit(n)


def current_status(block_info: DataFrame, n: int = 20) -> DataFrame:
    """A9 (mining_monitor_rpc.js:1-21): trailing-n means of burn fees
    and miner counts + the raw height-ascending arrays."""
    tail = trailing(block_info, n, "stacks_block_height")
    return tail.agg(
        F.avg("sum_burn_fees").alias("avg_burn_fee"),
        F.avg("sum_miner_amount").alias("avg_miner_amount"),
        F.array_sort(
            F.collect_list(F.struct("stacks_block_height", "sum_burn_fees"))
        ).alias("burn_fee_points"),
        F.array_sort(
            F.collect_list(F.struct("stacks_block_height", "sum_miner_amount"))
        ).alias("miner_amount_points"),
        F.max("stacks_block_height").alias("tip_height"),
    )


def miner_table(mining_info: DataFrame, n: int = 50) -> DataFrame:
    """O9 (mining_monitor_rpc.js:26, 41): dashboard table = first 50
    tip-first mining_info rows."""
    return (
        mining_info.orderBy(F.desc("stacks_block_height"), "stx_address")
        .limit(n)
    )


def burn_fee_area(block_info: DataFrame, n: int = 1000) -> DataFrame:
    """The showcase window chain (mining_monitor_rpc.js:46-113) as one
    pass over the trailing-n tail: W1 tail-n (plus the tip) -> F15
    explode -> per-(address, height) fee sum -> W2 per-address running
    sum with the next point's height -> W4/W5 forward-fill by exploding
    each point over the heights up to the next one (the last point runs
    to the global tip).

    Output: dense long-format series (height, address, cum_burn_fee
    decimal(30,0)) with one point per height from each address's first
    commit to the global tip, ordered by (address, height). Duplicate
    commits at one (address, height) collapse to one point by a
    per-height sum, so the value does not depend on the order of rows
    within a height (the reference's keep-last step takes the last row
    of its running sum, which for non-negative fees is the same
    number). A NULL fee adds nothing; a series is NULL until its first
    non-NULL fee.

    The tail leaves TakeOrderedAndProject as one partition, so the
    unpartitioned tip window, the per-height aggregate, the per-address
    window and the final sort all run inside it: one job, one
    block_info scan, no join and no broadcast."""
    h = "stacks_block_height"
    tail = trailing(block_info, n, h).select(
        h, "commit_value_list",
        F.max(h).over(Window.partitionBy()).alias("_tip"),
    )
    # commits with no registered leader key have a NULL address: they
    # can't key a per-miner series — the chart covers identified
    # miners only
    pts = (
        tail.select(h, "_tip", F.explode("commit_value_list").alias("c"))
        .select(h, "_tip", F.col("c.leader_key_address").alias("address"),
                F.col("c.burn_fee").alias("burn_fee"))
        .filter(F.col("address").isNotNull())
        .groupBy("address", h, "_tip")
        .agg(F.sum("burn_fee").alias("fee"))
    )
    w = Window.partitionBy("address").orderBy(h)
    series = pts.select(
        "address", h, "_tip",
        F.sum("fee").over(w.rowsBetween(Window.unboundedPreceding,
                                        Window.currentRow))
        .alias("cum_burn_fee"),
        F.lead(h).over(w).alias("_next"),
    )
    return (
        series.select(
            "address",
            F.explode(F.sequence(
                h, F.coalesce(F.col("_next") - 1, F.col("_tip")))).alias(h),
            # each sum widens decimal(20,0) fees by 10 digits; the
            # series keeps the type of one sum over the fees
            F.col("cum_burn_fee").cast(DecimalType(30, 0)),
        )
        .orderBy("address", h)
    )


def monitor_integrate(golds: dict[str, DataFrame],
                      tail_status: int = 20,
                      tail_area: int = 1000) -> dict[str, DataFrame]:
    """E2 composite (packMiningMonitorData, mining_monitor_rpc.js:
    151-161): the five dashboard sections as one dict of DataFrames.
    The RR section is empty in the reference (dead endpoint,
    mining_monitor_rpc.js:142-149) — kept empty for parity, as a
    limit(0) the optimizer turns into an empty local relation, so
    collecting it runs no Spark job."""
    mi = golds["miner_info"]
    return {
        "current_status": current_status(golds["block_info"], tail_status),
        "miner_table": miner_table(golds["mining_info"]),
        "burn_fee_area": burn_fee_area(golds["block_info"], tail_area),
        "winner_pie": winner_pie(mi),
        "rr": mi.select(F.lit(None).cast("string").alias("address"),
                        F.lit(None).cast("double").alias("RR")).limit(0),
    }


def winner_pie(miner_info: DataFrame) -> DataFrame:
    """F14 (mining_monitor_rpc.js:115-140): pie payload
    {address, number, RR} from a miner_info table (all / r1000 / r100)."""
    rr = F.col("RR") if "RR" in miner_info.columns else F.lit(None).cast("double")
    return miner_info.select(
        F.col("stx_address").alias("address"),
        F.col("actual_win").alias("number"),
        rr.alias("RR"),
    ).orderBy("address")
