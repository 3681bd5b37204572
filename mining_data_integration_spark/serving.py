"""Serving-layer semantics (SURVEY §2.6 O5-O8, X12, A10, ST6):
the Express endpoint behaviors re-expressed as DataFrame transforms.

The reference serves from Redis-cached JSON arrays and slices in JS
(server.js:127-278); here each slice is one top-K over a gold table
(`orderBy(...).offset(a).limit(b)`, planned as one
TakeOrderedAndProject: no Window node, no full sort). Reference quirks
are preserved deliberately and documented:

* tail_slice keeps `latest + 1` rows — the reference's
  `resp.slice(-latest - 1)` off-by-one (server.js:152, 184), in
  reverse order (newest first);
* mining_info is tip-first by construction (rpc.js:300), so its
  head-slice returns the *newest* rows (O5);
* RR is served rounded to 3 decimals (server.js:293 `toFixed(3)`) —
  kept numeric here, formatted at the JSON boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .core import GAS, STX_REWARD, STX_REWARD_BONUS


def head_slice(df: DataFrame, latest: int, order) -> DataFrame:
    """O5 (server.js:133-139): first `latest` rows in the given order."""
    return df.orderBy(*order).limit(latest)


def _rows(df: DataFrame, lo: int, hi: int, order) -> DataFrame:
    """Rows lo..hi (1-based, inclusive) of `df` in `order`, in that
    order: one top-K (TakeOrderedAndProject with an offset). Clamped to
    `row_number() BETWEEN lo AND hi` semantics: the part of a window
    below 1 is dropped and an empty or inverted window is empty."""
    lo = max(lo, 1)
    return df.orderBy(*order).offset(lo - 1).limit(max(hi - lo + 1, 0))


def tail_slice(df: DataFrame, latest: int, order) -> DataFrame:
    """O6 (server.js:151-152, 183-184): the reference's
    `slice(-latest-1)` — the last `latest+1` rows of `order`, returned
    in reverse `order` (the top-K runs on the reversed order; newest
    first for an ascending height). `order` holds column names or plain
    Columns; a Column that already carries a direction has no reverse
    to take and is rejected."""
    for c in order:
        # F.desc(x), x.asc_nulls_last(), ...: a SortOrder node
        if not isinstance(c, str) and \
                c._jc.node().getClass().getSimpleName() == "SortOrder":
            raise ValueError(
                f"tail_slice: `order` entry {c!r} is a sort order; pass the "
                "plain column and tail_slice reverses it")
    rev = [F.col(c).desc() if isinstance(c, str) else c.desc()
           for c in order]
    return _rows(df, 1, latest + 1, rev)


def paginate(df: DataFrame, page: int, size: int, order) -> DataFrame:
    """O7 (server.js:153-155): offset pagination
    `slice(size*(page-1), size*page)`."""
    return _rows(df, size * (page - 1) + 1, size * page, order)


def range_slice(df: DataFrame, start: int, end: int, order) -> DataFrame:
    """O8 (server.js:175-187): 1-based inclusive `slice(start-1, end)`."""
    return _rows(df, start, end, order)


def with_rr(miner_info: DataFrame, btc_price: float, stx_price: float,
            gas: int = GAS, ndigits: int = 3) -> DataFrame:
    """X12 (utils.js:1-11 + server.js:290-294): rate of return.

        earn = bonus_wins*2466*stx + (wins - bonus_wins)*1000*stx
        cost = (mined*gas + burned) * btc / 1e8
        RR   = earn/cost - 1            (0 cost -> NULL, JS yields NaN)

    Prices are scalars per refresh (J10's broadcast enrichment —
    server.js:162-171); passing them as literals keeps the plan free of
    a cross join."""
    earn = (
        F.col("actual_win_bonus") * STX_REWARD_BONUS * stx_price
        + (F.col("actual_win") - F.col("actual_win_bonus"))
        * STX_REWARD * stx_price
    )
    cost = (
        (F.col("total_mined") * gas + F.col("miner_burned")) * btc_price / 1e8
    )
    return miner_info.withColumn(
        "RR",
        F.when(cost != 0, F.round(earn / cost - 1, ndigits)),
    )


def trailing_miner_info(tables, n: int,
                        prepared=None) -> DataFrame:
    """A10 (server.js:304-331): the r100/r1000 views — the full miner
    pipeline restricted to the last n stacks blocks. A parameterized
    `between` on the same DAG (F4/F5), not a separate pipeline; the
    range filter lands on the enriched-commits scan."""
    from . import core

    p = prepared or core.prepare(tables)
    tip = p["snap"].agg(
        F.max("stacks_block_height").alias("t")).collect()[0].t
    if tip is None:
        return core.miner_info(tables, prepared=p)
    return core.miner_info(
        tables, start_height=max(0, tip - n), end_height=tip, prepared=p)


def btc_total(miner_info: DataFrame) -> DataFrame:
    """A8 (server.js:334-352): global sum(miner_burned)/1e8, 2 dp."""
    return miner_info.agg(
        F.round(F.sum("miner_burned") / F.lit(1e8), 2).alias("btc_total"))


def is_staged_synced(local_staging: DataFrame,
                     remote_staging: DataFrame) -> DataFrame:
    """ST6 (server.js:210-244): freshness gate — the local chain may
    mine only when its max processed stage height matches the peer's."""
    def stage_height(df: DataFrame):
        return (
            df.filter((F.col("processed") == 1) & (F.col("orphaned") == 0))
            .agg(F.max("height").alias("h"))
        )
    l, r = stage_height(local_staging), stage_height(remote_staging)
    return l.crossJoin(r.withColumnRenamed("h", "remote_h")).select(
        F.col("h").alias("local_height"),
        F.col("remote_h").alias("remote_height"),
        (F.col("h") == F.col("remote_h")).alias("can_mine"),
    )
