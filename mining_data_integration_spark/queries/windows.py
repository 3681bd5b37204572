"""Window / time-series operators (SURVEY.md §2.5, W1-W6 + A2/A9/A11).

The reference's monitor layer does trailing-N slices, per-key running
sums, duplicate-collapse and gap forward-fill imperatively over JS
arrays (mining_monitor_rpc.js:1-113). Each becomes one declarative
window expression; the forward-fill uses a dense date spine
(sequence+explode) + `last(..., ignorenulls)` — the scalable Spark
idiom (no driver-side loops, partitions by series key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._util import dec_sum, money, t


def w1_trailing_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+A9 (mining_monitor_rpc.js:1-21): mean over the last-20 rows of
    the series — a trailing slice, which at scale is distributed top-K
    (orderBy+limit -> TakeOrderedAndProject: each partition keeps its
    own top 20, the driver merges 20*P rows), NOT a global row_number
    window, which would sort the whole table on one partition."""
    o = t(spark, sf_dir, "orders")
    last20 = (o.orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
              .limit(20))
    return last20.agg(
        money(dec_sum("o_totalprice") / F.lit(20), 4).alias("avg_total"),
        F.count("*").alias("n_rows"),
    )


def w2_cumulative_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2+A11 (mining_monitor_rpc.js:46-71): per-key running sum ordered
    by the time axis — per-miner cumulative burn re-expressed as
    per-customer cumulative spend. Exact decimal running sums."""
    o = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        o.filter(F.col("o_custkey") <= 100)
        .select(
            "o_custkey",
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            money(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w))
            .alias("cum_spend"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


def w3_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 (mining_monitor_rpc.js:78-82): duplicate-collapse — when a key
    has several rows at one time point, keep the last."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy(
        "o_custkey", F.to_date("o_orderdate")
    ).orderBy(F.desc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.to_date("o_orderdate").alias("order_date"),
            F.col("o_orderkey").alias("last_orderkey"),
            "o_totalprice",
        )
        .orderBy("o_custkey", "order_date")
    )


def w4_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4+W5 (mining_monitor_rpc.js:83-106): gap forward-fill over a
    dense spine, including tail-extension to the global tip.

    Spark idiom: sequence()+explode builds the per-key date spine
    (distributed — no driver loop), left join the sparse series, then
    last(value, ignorenulls) over an unbounded-preceding window.
    At scale the spine join co-partitions on the series key."""
    ev = t(spark, sf_dir, "events")
    # sparse series: daily high-value sums per event_type (gaps arise
    # because the filter drops whole days for some types)
    daily = (
        ev.filter(F.col("value") > 4.5)
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(money(dec_sum(F.col("value"), 6), 4).alias("day_value"))
    )
    bounds = ev.agg(
        F.to_date(F.min("ts")).alias("lo"), F.to_date(F.max("ts")).alias("hi")
    )
    spine = (
        ev.select("event_type").distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.expr("interval 1 day"))
            ).alias("d"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["event_type", "d"], "left")
        .select(
            "event_type",
            F.col("d").alias("day"),
            F.last("day_value", ignorenulls=True).over(w).alias("filled_value"),
        )
        .orderBy("event_type", "day")
    )


def w6_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6+A2 (rpc.js:245-252): lag-difference over a cumulative series —
    the reference's actual_burn = total_burn − lag(total_burn). Builds
    the cumulative series first (as the source data does), then delta.

    Round 10: both global-order windows ride the sharded two-phase
    engines (operators/scalable.global_cumsum / global_lag), so the
    only single-partition work left is the O(shards) boundary tables.
    (The E1 A2 path needs no ordered lag: on one parent-pointer chain
    the predecessor is the parent row, see core.with_actual_burn.)
    The day grain bounds this fixture anyway; the point is that the
    registered query demonstrates the scale-safe shape."""
    from ..operators.scalable import global_cumsum, global_lag

    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_day_total")
    )
    cum = global_cumsum(daily, [F.col("day")], F.col("_day_total"),
                        out_col="_cum_total")
    lagged = global_lag(cum, [F.col("day")], F.col("_cum_total"),
                        out_col="_prev_total")
    return lagged.select(
        "day",
        money(F.col("_cum_total")).alias("cum_total"),
        money(
            F.col("_cum_total") - F.col("_prev_total")
        ).alias("delta_total"),
    ).orderBy("day")


def w14_scalable_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Globally-ordered running revenue over the WHOLE lineitem fact
    table — the shape that breaks a naive `Window.orderBy` at scale
    (single-partition exchange). Uses the two-phase range-sharded
    cumsum (operators/scalable.py): shard-local window + broadcast
    per-shard offsets; exact decimal arithmetic end to end. Restricted
    to one ship-month so the oracle compare stays small; the filter is
    pushed to the scan, the cumsum runs over every surviving row."""
    from ..operators.scalable import global_cumsum

    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1995-03-01", "1995-03-31"))
    order = [F.col("l_orderkey"), F.col("l_linenumber")]
    out = global_cumsum(
        li, order, F.col("l_extendedprice").cast("decimal(18,2)"),
        out_col="_cum")
    return out.select(
        "l_orderkey", "l_linenumber",
        money(F.col("_cum")).alias("cum_revenue"),
    ).orderBy("l_orderkey", "l_linenumber")


def w7_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking surface (SURVEY §2.5 note: absent from the reference,
    free in Spark): rank / dense_rank / ntile over a deterministic
    ordering. Round 4: runs on operators/scalable.global_rank — the
    two-phase sharded engine over distinct order keys — instead of an
    unpartitioned Window over the whole aggregate (the last
    data-sized single-partition exchange in the inventory). The order
    is total (l_suppkey tiebreak), so rank == the Window semantics
    bit-for-bit, ntile included."""
    from ..operators.scalable import global_rank

    li = t(spark, sf_dir, "lineitem")
    supp = li.groupBy("l_suppkey").agg(
        money(dec_sum("l_extendedprice")).alias("total_price")
    )
    ranked = global_rank(
        supp, [F.desc("total_price"), F.asc("l_suppkey")],
        rank_col="rnk", dense_col="drnk", ntile=4, ntile_col="quartile",
    )
    return ranked.select(
        "l_suppkey", "total_price", "rnk", "drnk", "quartile"
    ).orderBy("rnk", "l_suppkey")


def w9_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group (the canonical OLAP window pattern): 3 most
    expensive lineitems per supplier."""
    li = t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.desc("l_extendedprice"), "l_orderkey", "l_linenumber"
    )
    return (
        li.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("l_suppkey", "rn", "l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_suppkey", "rn")
    )


def w10_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) + per-session rollup —
    the lag/flag/running-sum composition (operators/sessionize.py)."""
    from ..operators.sessionize import session_stats

    ev = t(spark, sf_dir, "events")
    return session_stats(ev, gap_minutes=30).orderBy("user_id", "session_idx")


def aj1_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (absent from Spark AND the reference; §2.3 taxonomy
    note): each purchase event picks the latest view event of the same
    user at or before it. Union-tag + forward-fill composition; the
    DuckDB oracle uses its native ASOF JOIN."""
    from ..operators.sessionize import asof_join

    ev = t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
    )
    right = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.unix_micros("ts").alias("r_ts_us"),
        F.col("event_id").alias("view_event_id"),
        F.col("value").alias("view_value"),
    )
    return asof_join(
        left, right, key="user_id", left_ts="ts_us", right_ts="r_ts_us",
        right_payload=["view_event_id", "view_value"],
    ).orderBy("event_id")


def e2_burn_fee_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The E2 dashboard showcase chain as ONE query
    (mining_monitor_rpc.js:46-113, SURVEY §3 E2): trailing window (W1)
    → nested commit lists exploded back to rows (F15) → per-key
    cumulative sum (W2) → duplicate-time collapse keep-last (W3) →
    dense-spine forward-fill with tail-extension to the global tip
    (W4/W5). Re-expressed on orders: key = priority, time = order day,
    value = running order total over the trailing 90 days."""
    o = t(spark, sf_dir, "orders")
    hi = o.agg(F.max(F.to_date("o_orderdate")).alias("hi"))
    win = (
        o.withColumn("day", F.to_date("o_orderdate"))
        .crossJoin(F.broadcast(hi))
        .filter(F.col("day") >= F.date_sub(F.col("hi"), 89))
    )
    # F15: nest per (key, day) then explode — the commit_value_list
    # round trip the reference's dashboard makes
    nested = win.groupBy("o_orderpriority", "day").agg(
        F.sort_array(F.collect_list(F.struct(
            "o_orderkey",
            F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        ))).alias("commits"))
    ex = nested.select(
        "o_orderpriority", "day", F.explode("commits").alias("c")
    ).select("o_orderpriority", "day",
             F.col("c.o_orderkey").alias("o_orderkey"),
             F.col("c.price").alias("price"))
    w_cum = (
        Window.partitionBy("o_orderpriority").orderBy("day", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = ex.withColumn("cum", F.sum("price").over(w_cum))
    w_last = Window.partitionBy("o_orderpriority", "day") \
        .orderBy(F.desc("o_orderkey"))
    last = (
        cum.withColumn("rn", F.row_number().over(w_last))
        .filter(F.col("rn") == 1)
        .select("o_orderpriority", "day", "cum")
    )
    bounds = last.groupBy("o_orderpriority").agg(F.min("day").alias("lo")) \
        .crossJoin(F.broadcast(hi))
    spine = bounds.select(
        "o_orderpriority",
        F.explode(F.sequence(
            F.col("lo"), F.col("hi"), F.expr("interval 1 day"))).alias("day"),
    )
    w_fill = (
        Window.partitionBy("o_orderpriority").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(last, ["o_orderpriority", "day"], "left")
        .select(
            "o_orderpriority", "day",
            money(F.last("cum", ignorenulls=True).over(w_fill))
            .alias("cum_value"),
        )
        .orderBy("o_orderpriority", "day")
    )


def w15_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-RANGE window frame (vs the rows-frames elsewhere):
    per-customer trailing-30-day spend, frame = all orders whose day
    lies within the preceding 29 days of the current row's day. A
    range frame is tie-insensitive — same-day orders always share one
    frame regardless of intra-day order — which is exactly what makes
    it deterministic under any shuffle and oracle-checkable."""
    o = t(spark, sf_dir, "orders").withColumn(
        "day",
        F.datediff(F.col("o_orderdate"),
                   F.lit("1990-01-01").cast("date")).cast("long"))
    w = Window.partitionBy("o_custkey").orderBy("day").rangeBetween(-29, 0)
    return o.select(
        "o_custkey", "o_orderkey", "day",
        F.count("*").over(w).alias("n_trailing"),
        money(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w))
        .alias("spend_trailing"),
    ).orderBy("o_custkey", "o_orderkey")


QUERIES = {
    "w15_range_frame": w15_range_frame,
    "w1_trailing_mean": w1_trailing_mean,
    "e2_burn_fee_area": e2_burn_fee_area,
    "w2_cumulative_sum": w2_cumulative_sum,
    "w3_keep_last": w3_keep_last,
    "w4_forward_fill": w4_forward_fill,
    "w6_lag_delta": w6_lag_delta,
    "w14_scalable_cumsum": w14_scalable_cumsum,
    "w7_ranking": w7_ranking,
    "w9_topk_per_group": w9_topk_per_group,
    "w10_sessionize": w10_sessionize,
    "aj1_asof_join": aj1_asof_join,
    "w11_tumbling_window": None,   # bound below (defined after dict)
    "w12_sliding_window": None,
    "w13_session_window_native": None,
}

def w11_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST-extension (SURVEY §2.10): watermarked tumbling window in its
    batch form — streaming.tumbling_counts is the same expression with
    a watermark when the input is a stream."""
    from ..streaming import tumbling_counts
    # decimal-cast the measure BEFORE the operator: exact, order-
    # independent sums -> bit-identical to the DuckDB oracle
    ev = t(spark, sf_dir, "events").withColumn(
        "value", F.col("value").cast("decimal(18,6)"))
    out = tumbling_counts(ev, window="15 minutes")
    return out.select(
        F.unix_micros("w_start").alias("w_start_us"),
        "event_type", "n",
        money(F.col("total_value"), 4).alias("total_value"),
    ).orderBy("w_start_us", "event_type")


def w12_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST-extension: sliding window (30 min / 15 min slide) — each event
    lands in exactly two overlapping windows."""
    from ..streaming import sliding_avg
    ev = t(spark, sf_dir, "events").withColumn(
        "value", F.col("value").cast("decimal(18,6)"))
    out = sliding_avg(ev, window="30 minutes", slide="15 minutes")
    # round(sum/n, 4) computed in EXACT integer arithmetic: rounding a
    # double quotient near a .00005 boundary goes opposite ways in
    # Spark (BigDecimal HALF_UP on the binary value) and DuckDB
    # (scale-multiply) — sf0.1 hit one such tie. With non-negative
    # sums, HALF_UP(S/n, 4dp) = (2*S_micros + 100*n) div (200*n) where
    # S_micros = S*1e6 (exact off the decimal(·,6) sum); the final
    # /10000.0 is one correctly-rounded IEEE op in both engines.
    # Enforced (not just documented) preconditions of the HALF_UP
    # identity: the window sum must be non-negative and small enough
    # that S*1e6 fits a BIGINT (|S| <= ~9.2e12; the decimal sum type
    # is wider). Out-of-bounds data raises instead of silently
    # NULLing/wrapping under non-ANSI casts.
    s_us = F.expr(
        "CASE WHEN total_value >= 0 AND total_value <= 9200000000000 "
        "THEN CAST(total_value * 1000000 AS BIGINT) "
        "ELSE CAST(raise_error('w12 avg_value: window sum outside "
        "exact-HALF_UP bounds') AS BIGINT) END"
    )
    return out.select(
        F.unix_micros("w_start").alias("w_start_us"),
        "event_type", "n",
        s_us.alias("_s_us"),
    ).select(
        "w_start_us", "event_type", "n",
        (F.expr("(2 * _s_us + 100 * n) div (200 * n)").cast("double")
         / F.lit(10_000.0)).alias("avg_value"),
    ).orderBy("w_start_us", "event_type")


def w13_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST-extension: the native session_window operator (streaming
    stateful form of w10's lag-derived sessions); end = last event +
    gap."""
    from ..streaming import session_windows
    ev = t(spark, sf_dir, "events").withColumn(
        "value", F.col("value").cast("decimal(18,6)"))
    out = session_windows(ev, gap="30 minutes")
    return out.select(
        "user_id",
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
        "n_events",
        money(F.col("session_value"), 4).alias("session_value"),
    ).orderBy("user_id", "start_us")


ORACLES = {
    "w15_range_frame": """
        WITH t AS (
            SELECT o_custkey, o_orderkey,
                   datediff('day', DATE '1990-01-01', o_orderdate) AS day,
                   o_totalprice
            FROM orders
        )
        SELECT o_custkey, o_orderkey, day,
               count(*) OVER w AS n_trailing,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w, 2)
                    AS DOUBLE) AS spend_trailing
        FROM t
        WINDOW w AS (PARTITION BY o_custkey ORDER BY day
                     RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
        ORDER BY o_custkey, o_orderkey
    """,
    "e2_burn_fee_area": """
        WITH hi AS (
            SELECT max(CAST(o_orderdate AS DATE)) AS hi FROM orders
        ), win AS (
            SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
                   o_orderkey,
                   CAST(o_totalprice AS DECIMAL(18,2)) AS price
            FROM orders, hi
            WHERE CAST(o_orderdate AS DATE) >= hi - INTERVAL 89 DAY
        ), cum AS (
            SELECT o_orderpriority, day, o_orderkey,
                   sum(price) OVER (PARTITION BY o_orderpriority
                       ORDER BY day, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                   row_number() OVER (PARTITION BY o_orderpriority, day
                       ORDER BY o_orderkey DESC) AS rn
            FROM win
        ), last AS (
            SELECT o_orderpriority, day, cum FROM cum WHERE rn = 1
        ), bounds AS (
            SELECT o_orderpriority, min(day) AS lo FROM last
            GROUP BY o_orderpriority
        ), spine AS (
            SELECT b.o_orderpriority, CAST(gs.day AS DATE) AS day
            FROM bounds b, hi,
                 LATERAL (SELECT unnest(generate_series(b.lo, hi.hi,
                                        INTERVAL 1 DAY)) AS day) gs
        )
        SELECT s.o_orderpriority, s.day,
               CAST(round(last_value(l.cum IGNORE NULLS) OVER (
                   PARTITION BY s.o_orderpriority ORDER BY s.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                   AS DOUBLE) AS cum_value
        FROM spine s LEFT JOIN last l
          ON s.o_orderpriority = l.o_orderpriority AND s.day = l.day
        ORDER BY s.o_orderpriority, s.day
    """,
    "w10_sessionize": """
        WITH ordered AS (
            SELECT user_id, event_id, ts,
                   lag(epoch_us(CAST(ts AS TIMESTAMP)))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
            FROM events
        ), flagged AS (
            SELECT user_id, event_id, ts_us,
                   CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
                        THEN 1 ELSE 0 END AS new_sess
            FROM ordered
        ), sess AS (
            SELECT user_id, event_id, ts_us,
                   CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
            FROM flagged
        )
        SELECT user_id, session_idx,
               count(*) AS n_events,
               min(event_id) AS first_event_id,
               max(ts_us) - min(ts_us) AS duration_us
        FROM sess GROUP BY user_id, session_idx
        ORDER BY user_id, session_idx
    """,
    "aj1_asof_join": """
        WITH purchases AS (
            SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
            FROM events WHERE event_type = 'purchase'
        ), views AS (
            SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS r_ts_us,
                   event_id AS view_event_id, value AS view_value
            FROM events WHERE event_type = 'view'
        )
        SELECT p.user_id, p.event_id, p.ts_us, p.value,
               v.view_event_id AS asof_view_event_id,
               v.view_value AS asof_view_value
        FROM purchases p ASOF JOIN views v
          ON p.user_id = v.user_id AND p.ts_us >= v.r_ts_us
        ORDER BY p.event_id
    """,
    "w1_trailing_mean": """
        WITH last20 AS (
            SELECT o_totalprice
            FROM orders
            ORDER BY o_orderdate DESC, o_orderkey DESC
            LIMIT 20
        )
        SELECT CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 20, 4) AS DOUBLE) AS avg_total,
               count(*) AS n_rows
        FROM last20
    """,
    "w2_cumulative_sum": """
        SELECT o_custkey, o_orderkey,
               CAST(o_orderdate AS DATE) AS order_date,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS cum_spend
        FROM orders
        WHERE o_custkey <= 100
        ORDER BY o_custkey, o_orderkey
    """,
    "w3_keep_last": """
        WITH ranked AS (
            SELECT o_custkey, CAST(o_orderdate AS DATE) AS order_date,
                   o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey, CAST(o_orderdate AS DATE)
                                      ORDER BY o_orderkey DESC) AS rn
            FROM orders
        )
        SELECT o_custkey, order_date, o_orderkey AS last_orderkey, o_totalprice
        FROM ranked WHERE rn = 1
        ORDER BY o_custkey, order_date
    """,
    "w4_forward_fill": """
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS d,
                   CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS day_value
            FROM events WHERE value > 4.5
            GROUP BY event_type, CAST(ts AS DATE)
        ), bounds AS (
            SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi FROM events
        ), spine AS (
            SELECT et.event_type, CAST(gs.d AS DATE) AS d
            FROM (SELECT DISTINCT event_type FROM events) et
            CROSS JOIN (
                SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM bounds
            ) gs
        )
        SELECT spine.event_type, spine.d AS day,
               last_value(daily.day_value IGNORE NULLS)
                   OVER (PARTITION BY spine.event_type ORDER BY spine.d
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
        FROM spine LEFT JOIN daily
          ON spine.event_type = daily.event_type AND spine.d = daily.d
        ORDER BY spine.event_type, day
    """,
    "w6_lag_delta": """
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   sum(CAST(o_totalprice AS DECIMAL(18,2))) AS _day_total
            FROM orders GROUP BY CAST(o_orderdate AS DATE)
        ), cum AS (
            SELECT day,
                   sum(_day_total) OVER (ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cum_total
            FROM daily
        )
        SELECT day,
               CAST(round(_cum_total, 2) AS DOUBLE) AS cum_total,
               CAST(round(_cum_total - lag(_cum_total, 1) OVER (ORDER BY day), 2) AS DOUBLE) AS delta_total
        FROM cum ORDER BY day
    """,
    "w14_scalable_cumsum": """
        SELECT l_orderkey, l_linenumber,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                    OVER (ORDER BY l_orderkey, l_linenumber
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                    AS DOUBLE) AS cum_revenue
        FROM lineitem
        WHERE l_shipdate BETWEEN TIMESTAMP '1995-03-01' AND TIMESTAMP '1995-03-31'
        ORDER BY l_orderkey, l_linenumber
    """,
    "w7_ranking": """
        WITH supp AS (
            SELECT l_suppkey,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price
            FROM lineitem GROUP BY l_suppkey
        )
        SELECT l_suppkey, total_price,
               rank() OVER w AS rnk,
               dense_rank() OVER w AS drnk,
               ntile(4) OVER w AS quartile
        FROM supp
        WINDOW w AS (ORDER BY total_price DESC, l_suppkey)
        ORDER BY rnk, l_suppkey
    """,
    "w11_tumbling_window": """
        WITH ev AS (
            SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type,
                   CAST(value AS DECIMAL(18,6)) AS v
            FROM events
        )
        SELECT (ts_us // 900000000) * 900000000 AS w_start_us,
               event_type, count(*) AS n,
               CAST(round(sum(v), 4) AS DOUBLE) AS total_value
        FROM ev GROUP BY 1, 2
        ORDER BY w_start_us, event_type
    """,
    "w12_sliding_window": """
        WITH ev AS (
            SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type,
                   CAST(value AS DECIMAL(18,6)) AS v
            FROM events
        ), fanned AS (
            -- 30-min window, 15-min slide: each event is in exactly the
            -- two windows starting at bucket(ts) and bucket(ts)-15min
            SELECT unnest([ (ts_us // 900000000) * 900000000,
                            (ts_us // 900000000) * 900000000 - 900000000
                          ]) AS w_start_us,
                   event_type, v
            FROM ev
        )
        SELECT w_start_us, event_type, count(*) AS n,
               -- exact-integer HALF_UP(sum/n, 4dp); mirrors the Spark
               -- side ((2*S_us + 100n) // (200n) / 1e4) — sums are
               -- non-negative so // (trunc) == floor == div
               CAST((2 * CAST(sum(v) * 1000000 AS BIGINT) + 100 * count(*))
                    // (200 * count(*)) AS DOUBLE) / 10000.0 AS avg_value
        FROM fanned GROUP BY 1, 2
        ORDER BY w_start_us, event_type
    """,
    "w13_session_window_native": """
        WITH ev AS (
            SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                   CAST(value AS DECIMAL(18,6)) AS v
            FROM events
        ), flagged AS (
            SELECT *, CASE WHEN ts_us - lag(ts_us) OVER w > 1800000000
                           OR lag(ts_us) OVER w IS NULL
                      THEN 1 ELSE 0 END AS new_session
            FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
        ), sess AS (
            SELECT *, sum(new_session) OVER (PARTITION BY user_id
                ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS session_idx
            FROM flagged
        )
        SELECT user_id,
               min(ts_us) AS start_us,
               max(ts_us) + 1800000000 AS end_us,
               count(*) AS n_events,
               CAST(round(sum(v), 4) AS DOUBLE) AS session_value
        FROM sess GROUP BY user_id, session_idx
        ORDER BY user_id, start_us
    """,
    "w9_topk_per_group": """
        WITH ranked AS (
            SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
                   row_number() OVER (PARTITION BY l_suppkey
                       ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
            FROM lineitem
        )
        SELECT l_suppkey, rn, l_orderkey, l_linenumber, l_extendedprice
        FROM ranked WHERE rn <= 3
        ORDER BY l_suppkey, rn
    """,
}

def w16_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-funnel rollup (first-touch, strict ordering): a user
    converts view -> click -> purchase only if each stage's FIRST event
    happens strictly after the previous stage's first event. One
    shuffle keyed by user_id with map-side combine (the min-per-type
    conditional aggregates), then a global one-row rollup — the shape
    that holds on a 100 TB event log because nothing ever materializes
    per-event state after the first aggregate."""
    ev = t(spark, sf_dir, "events")
    stages = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts")))
        .alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts")))
        .alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
        .alias("t_purchase"),
    )
    reached_v = F.col("t_view").isNotNull()
    reached_c = (reached_v & F.col("t_click").isNotNull()
                 & (F.col("t_click") > F.col("t_view")))
    reached_p = (reached_c & F.col("t_purchase").isNotNull()
                 & (F.col("t_purchase") > F.col("t_click")))
    return stages.agg(
        F.count("*").alias("n_users"),
        F.sum(reached_v.cast("long")).alias("n_view"),
        F.sum(reached_c.cast("long")).alias("n_view_click"),
        F.sum(reached_p.cast("long")).alias("n_full_funnel"),
    )


QUERIES["w16_funnel"] = w16_funnel

ORACLES["w16_funnel"] = """
    WITH s AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END)
                   AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN t_view IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                         AND t_click > t_view
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
           CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                         AND t_click > t_view AND t_purchase IS NOT NULL
                         AND t_purchase > t_click
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
    FROM s
"""

QUERIES["w11_tumbling_window"] = w11_tumbling_window
QUERIES["w12_sliding_window"] = w12_sliding_window
QUERIES["w13_session_window_native"] = w13_session_window_native


def w17_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per user over the last 16
    events (dyadic decay α = 1/2): the standard time-series smoother,
    computed EXACTLY — values go to integer cents, weights are powers
    of two, the window sum is integer, and the final /2^16 only moves
    the float exponent. No float accumulation order anywhere, so the
    result is bit-identical across engines and partitionings (the
    property a naive Σ x·αᵏ double loop does not have).

    Scale shape: one partitioned window (shuffle by user), 16-element
    frame buffer per row — no global sort, no unbounded state."""
    ev = t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-15, 0))
    arr = F.collect_list(cents).over(w)
    scaled = F.expr(
        "aggregate(zip_with(_arr, sequence(1, size(_arr)), "
        "(x, i) -> x * shiftleft(CAST(1 AS BIGINT), 15 - size(_arr) + i)), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)")
    return (
        ev.select("event_id", "user_id", arr.alias("_arr"))
        .select(
            "event_id", "user_id",
            scaled.alias("ewma_scaled"),
            (scaled.cast("double") / F.lit(65536.0)).alias("ewma"),
        )
        .orderBy("event_id")
    )


QUERIES["w17_ewma"] = w17_ewma
ORACLES["w17_ewma"] = """
    WITH arrs AS (
        SELECT event_id, user_id,
               list(CAST(round(value * 100) AS BIGINT))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS arr
        FROM events
    )
    SELECT event_id, user_id,
           CAST(list_sum(list_transform(range(1, len(arr) + 1),
                i -> arr[i] * (1::BIGINT
                               << CAST(15 - len(arr) + i AS INTEGER))))
                AS BIGINT) AS ewma_scaled,
           CAST(list_sum(list_transform(range(1, len(arr) + 1),
                i -> arr[i] * (1::BIGINT
                               << CAST(15 - len(arr) + i AS INTEGER))))
                AS DOUBLE) / 65536.0 AS ewma
    FROM arrs ORDER BY event_id
"""


def w18_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix over events: users grouped by first-
    activity week (the cohort), then for each later week the count and
    share of the cohort still active — the standard product-analytics
    retention triangle (complements w16's funnel and w10's sessions).

    Scale shape: distinct (user, week) first — one combinable shuffle
    that collapses event volume to user-weeks; the per-user min-week is
    a second combinable aggregate; the final rollup is cohort x offset
    (tiny). The cohort-size join broadcasts under AQE (cohort count =
    number of weeks in the corpus). Weeks are Monday-truncated in both
    engines (Spark date_trunc = DuckDB date_trunc, ISO); the retention
    rate is one IEEE division of exact counts."""
    ev = t(spark, sf_dir, "events")
    uw = (
        ev.select(
            "user_id",
            F.date_trunc("week", F.col("ts")).cast("date").alias("wk"))
        .distinct()
    )
    first = uw.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    joined = uw.join(first, "user_id").select(
        "user_id", "cohort_wk",
        (F.datediff(F.col("wk"), F.col("cohort_wk")) / 7)
        .cast("long").alias("week_offset"),
    )
    sizes = first.groupBy("cohort_wk").agg(
        F.count("*").alias("cohort_size"))
    ret = joined.groupBy("cohort_wk", "week_offset").agg(
        F.count("*").alias("n_active"))
    return (
        ret.join(sizes, "cohort_wk")
        .select(
            F.col("cohort_wk").cast("string").alias("cohort_week"),
            "week_offset", "n_active", "cohort_size",
            (F.col("n_active").cast("double")
             / F.col("cohort_size").cast("double")).alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


QUERIES["w18_cohort_retention"] = w18_cohort_retention

ORACLES["w18_cohort_retention"] = """
    WITH uw AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
        FROM events
    ), first AS (
        SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY user_id
    ), joined AS (
        SELECT uw.user_id, f.cohort_wk,
               CAST(datediff('day', f.cohort_wk, uw.wk) // 7 AS BIGINT)
                   AS week_offset
        FROM uw JOIN first f ON uw.user_id = f.user_id
    ), sizes AS (
        SELECT cohort_wk, count(*) AS cohort_size FROM first
        GROUP BY cohort_wk
    ), ret AS (
        SELECT cohort_wk, week_offset, count(*) AS n_active
        FROM joined GROUP BY cohort_wk, week_offset
    )
    SELECT CAST(r.cohort_wk AS VARCHAR) AS cohort_week,
           r.week_offset, r.n_active, s.cohort_size,
           CAST(r.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
               AS retention
    FROM ret r JOIN sizes s ON r.cohort_wk = s.cohort_wk
    ORDER BY cohort_week, week_offset
"""


def w19_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day (DAU / WAU7 /
    stickiness) — the canonical distinct-count-over-sliding-window
    metric. Spark has no COUNT(DISTINCT) window frame; the scalable
    form materializes distinct (user, day) once (collapsing event
    volume in a combinable shuffle), fans each user-day to the 7
    window end-days it contributes to, and de-dups (user, window-day)
    — bounded 7x fanout of user-days, never of events, and every
    shuffle is a combinable groupBy. Stickiness is one IEEE division
    of exact counts."""
    ev = t(spark, sf_dir, "events")
    d = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    contrib = (
        d.select(
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
            ).alias("cday"))
        .distinct()
    )
    wau = contrib.groupBy("cday").agg(F.count("*").alias("wau7"))
    dau = d.groupBy("day").agg(F.count("*").alias("dau"))
    return (
        dau.join(wau, dau.day == wau.cday)
        .select(
            F.col("day").cast("string").alias("day"),
            "dau", "wau7",
            (F.col("dau").cast("double") / F.col("wau7").cast("double"))
            .alias("stickiness"),
        )
        .orderBy("day")
    )


QUERIES["w19_rolling_active_users"] = w19_rolling_active_users

ORACLES["w19_rolling_active_users"] = """
    WITH d AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), contrib AS (
        SELECT DISTINCT user_id,
               day + CAST(i AS INTEGER) AS cday
        FROM d CROSS JOIN (SELECT unnest(range(0, 7)) AS i)
    ), wau AS (
        SELECT cday, count(*) AS wau7 FROM contrib GROUP BY cday
    ), dau AS (
        SELECT day, count(*) AS dau FROM d GROUP BY day
    )
    SELECT CAST(dau.day AS VARCHAR) AS day,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau7 AS BIGINT) AS wau7,
           CAST(dau.dau AS DOUBLE) / CAST(wau.wau7 AS DOUBLE) AS stickiness
    FROM dau JOIN wau ON dau.day = wau.cday
    ORDER BY day
"""


def w20_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier detection (|value - mean| > 3 sigma
    within event_type) — the statistical outlier-filter stage of a
    training-data pipeline, in EXACT integer arithmetic.

    (x_i - mean)^2 > 9*var  <=>  (n*v_i - S)^2 > 9*(n*Q - S^2)
    with v = micros(value) (exact off decimal(18,6)), S = sum v,
    Q = sum v^2 — every term an integer, so the flag decision is
    bit-identical in Spark and DuckDB regardless of aggregation order
    (a double-based mean/stddev would round differently per plan).
    Q and the squares run in DECIMAL(38,0) (HUGEINT on the oracle
    side): n*Q ~ n^2 * max(v)^2 overflows int64 at ~2k rows/group.

    Scale shape: one partial-aggregated groupBy over O(groups) rows,
    broadcast of the tiny stats table back onto the fact scan — no
    window, no sort, no second shuffle of the data.
    """
    ev = t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value",
        F.expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)")
        .alias("v"),
    )
    stats = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.expr("CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0))"))
        .alias("q"),
    )
    # the centered term n*v - s runs in DECIMAL from the FIRST multiply
    # (round-3 ADVICE): an int64 n*v wraps silently in non-ANSI Spark
    # once rows/group x max-micros nears 2^63 even when the difference
    # itself is small, while the DuckDB oracle errors loudly — the
    # decimal product (19,0)x(19,0) is exact to 38 digits. Remaining
    # documented bound: |n*v - s| < 10^19 so the SQUARE fits 38 digits.
    flagged = (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn(
            "_c",
            F.expr("CAST(n AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0))"
                   " - CAST(s AS DECIMAL(19,0))"),
        )
        .withColumn("_lhs", F.expr("_c * _c"))
        .withColumn(
            "_rhs",
            F.expr("9 * (CAST(n AS DECIMAL(19,0)) * q"
                   " - CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0)))"),
        )
    )
    return (
        flagged.filter(F.col("_lhs") > F.col("_rhs"))
        .select("event_id", "event_type", "value",
                F.expr("CAST(sign(_c) AS INT)").alias("z_sign"))
        .orderBy("event_id")
    )


QUERIES["w20_zscore_outliers"] = w20_zscore_outliers

ORACLES["w20_zscore_outliers"] = """
    WITH v AS (
        SELECT event_id, event_type, value,
               CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
        FROM events
    ), stats AS (
        SELECT event_type, count(*) AS n, sum(v) AS s,
               sum(CAST(v AS HUGEINT) * v) AS q
        FROM v GROUP BY event_type
    )
    SELECT event_id, v.event_type, value,
           CAST(sign(CAST(n AS HUGEINT) * v.v - s) AS INTEGER) AS z_sign
    FROM v JOIN stats USING (event_type)
    WHERE (CAST(n AS HUGEINT) * v.v - s) * (CAST(n AS HUGEINT) * v.v - s)
          > 9 * (n * q - CAST(s AS HUGEINT) * s)
    ORDER BY event_id
"""


_ST_SEQ = __import__("itertools").count()


def _stream_dir(sf_dir: str, table: str) -> str:
    """The file-stream source only accepts DIRECTORIES; the driver
    tables are single parquet files. Build (once per sf dir) a tmp
    directory holding a symlink to the table file — zero data copy,
    and the stream lists exactly that table."""
    import os
    import tempfile

    safe = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(tempfile.gettempdir(), f"sg_stream_{safe}_{table}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{table}.parquet")
    target = os.path.join(sf_dir, f"{table}.parquet")
    # lexists (not exists): a link whose target was deleted/recreated
    # still occupies the name; and creation can race a concurrent test
    # process, so treat FileExistsError as "re-point if stale".
    if os.path.lexists(link) and os.path.realpath(link) != \
            os.path.realpath(target):
        try:
            os.unlink(link)
        except FileNotFoundError:
            pass  # a concurrent process removed the stale link first
    if not os.path.lexists(link):
        try:
            os.symlink(target, link)
        except FileExistsError:
            pass  # a concurrent process won the race with the same target
    return d


def st1_stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENUINE Structured Streaming execution, oracle-checked: the
    events parquet is read as a FILE STREAM (availableNow trigger),
    run through the watermarked tumbling aggregate
    (streaming.tumbling_counts — the same operator w11 exercises in
    batch form), and materialized through a memory sink in complete
    output mode. The returned DataFrame reads the sink table, so the
    driver hash-compares an actual micro-batch engine run against the
    batch SQL oracle — pinning stream/batch semantic parity, not just
    wiring. Scale path: swap the memory sink for a Delta/parquet sink
    and the availableNow trigger for the 120 s cadence (ST1); the agg
    state is O(open windows x event types), bounded by the watermark."""
    from ..streaming import tumbling_counts

    path = _stream_dir(sf_dir, "events")
    schema = spark.read.parquet(path).schema
    src = (
        spark.readStream.schema(schema).parquet(path)
        # driver parquet stores ts as TIMESTAMP_NTZ; the streaming
        # event-time clock requires TIMESTAMP (io.read_table does the
        # same cast on the batch path — bit-exact under the UTC session)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("value", F.col("value").cast("decimal(18,6)"))
    )
    out = tumbling_counts(src, window="15 minutes")
    name = f"st1_sink_{next(_ST_SEQ)}"
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    return (
        spark.table(name)
        .select(
            F.unix_micros("w_start").alias("w_start_us"),
            "event_type", "n",
            money(F.col("total_value"), 4).alias("total_value"),
        )
        .orderBy("w_start_us", "event_type")
    )


QUERIES["st1_stream_tumbling_counts"] = st1_stream_tumbling_counts
ORACLES["st1_stream_tumbling_counts"] = ORACLES["w11_tumbling_window"]


def st2_stream_sliding_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming sliding-window totals (30 min / 15 min
    slide) through the real micro-batch engine — streaming.sliding_avg
    with an availableNow file stream and a complete-mode memory sink
    (st1 pattern). Each event lands in exactly two windows; the batch
    oracle replays the fan-out."""
    from ..streaming import sliding_avg

    path = _stream_dir(sf_dir, "events")
    schema = spark.read.parquet(path).schema
    src = (
        spark.readStream.schema(schema).parquet(path)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("value", F.col("value").cast("decimal(18,6)"))
    )
    out = sliding_avg(src, window="30 minutes", slide="15 minutes")
    name = f"st2_sink_{next(_ST_SEQ)}"
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    return (
        spark.table(name)
        .select(
            F.unix_micros("w_start").alias("w_start_us"),
            "event_type", "n",
            money(F.col("total_value"), 4).alias("total_value"),
        )
        .orderBy("w_start_us", "event_type")
    )


QUERIES["st2_stream_sliding_totals"] = st2_stream_sliding_totals

ORACLES["st2_stream_sliding_totals"] = """
    WITH ev AS (
        SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type,
               CAST(value AS DECIMAL(18,6)) AS v
        FROM events
    ), fanned AS (
        SELECT unnest([ (ts_us // 900000000) * 900000000,
                        (ts_us // 900000000) * 900000000 - 900000000
                      ]) AS w_start_us,
               event_type, v
        FROM ev
    )
    SELECT w_start_us, event_type, count(*) AS n,
           CAST(round(sum(v), 4) AS DOUBLE) AS total_value
    FROM fanned GROUP BY 1, 2
    ORDER BY w_start_us, event_type
"""


def st3_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming dedup through the real engine: the
    event stream UNIONed with itself (every row arrives exactly twice)
    goes through dropDuplicatesWithinWatermark on event_id
    (streaming.streaming_dedup) — 2N rows in, N out, first-seen wins
    (identical twins, so arrival order cannot change values). State
    self-expires at the watermark horizon — the property that makes
    exact dedup feasible on an unbounded stream."""
    from ..streaming import streaming_dedup

    path = _stream_dir(sf_dir, "events")
    schema = spark.read.parquet(path).schema

    def one() -> DataFrame:
        return (
            spark.readStream.schema(schema).parquet(path)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )

    out = streaming_dedup(one().union(one()), watermark="1 hour")
    name = f"st3_sink_{next(_ST_SEQ)}"
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return (
        spark.table(name)
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    )


QUERIES["st3_stream_dedup"] = st3_stream_dedup

ORACLES["st3_stream_dedup"] = """
    SELECT event_id, user_id, event_type, value
    FROM events ORDER BY event_id
"""


def w21_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per-user consecutive-active-day streaks — the
    classic islands derivation (day - dense_rank(day) is constant
    within a run of consecutive days). Scale shape: the event stream
    collapses to distinct (user, day) in ONE combinable groupBy before
    any window; the per-user window then ranks a few hundred day rows
    per user, never raw events."""
    ev = t(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    runs = days.withColumn(
        "_grp", F.date_sub(F.col("d"), F.row_number().over(w)))
    streaks = (
        runs.groupBy("user_id", "_grp")
        .agg(F.count("*").alias("len"), F.min("d").alias("start_day"))
    )
    return (
        streaks.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_streaks"),
            F.max("len").cast("long").alias("longest_streak"),
            F.min("start_day").alias("first_day"),
        )
        .orderBy("user_id")
    )


QUERIES["w21_activity_streaks"] = w21_activity_streaks

ORACLES["w21_activity_streaks"] = """
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), runs AS (
        SELECT user_id, d,
               d - CAST(row_number() OVER (PARTITION BY user_id
                                           ORDER BY d) AS INTEGER) AS grp
        FROM days
    ), streaks AS (
        SELECT user_id, grp, count(*) AS len, min(d) AS start_day
        FROM runs GROUP BY user_id, grp
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(max(len) AS BIGINT) AS longest_streak,
           min(start_day) AS first_day
    FROM streaks GROUP BY user_id ORDER BY user_id
"""


def st4_stream_stateful_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful streaming operator through the real engine,
    oracle-checked: per-user running stats carried in the state store
    by applyInPandasWithState (streaming.stateful_user_stats — the
    escape hatch for logic windowed aggregation can't express), driven
    by an availableNow file stream into an update-mode memory sink.
    The value column is pre-converted to integer cents (exact decimal
    -> bigint), so the Python-side running float total is integer-
    valued and order-independent — hash-exact against the batch SQL
    rollup no matter how rows arrive in the Arrow batches."""
    from ..streaming import stateful_user_stats

    path = _stream_dir(sf_dir, "events")
    schema = spark.read.parquet(path).schema
    src = (
        spark.readStream.schema(schema).parquet(path)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn(
            "value",
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("bigint").cast("double"))
    )
    out = stateful_user_stats(src)
    name = f"st4_sink_{next(_ST_SEQ)}"
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()
    # update mode emits one row per key PER MICRO-BATCH; if availableNow
    # ever splits the input into several batches, keep each key's FINAL
    # state row (n_events is strictly increasing per key)
    wl = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        spark.table(name)
        .withColumn("_rk", F.row_number().over(wl))
        .filter(F.col("_rk") == 1)
        .select(
            "user_id", "n_events",
            F.col("total_value").cast("long").alias("total_cents"),
            "max_ts_us",
        )
        .orderBy("user_id")
    )


QUERIES["st4_stream_stateful_stats"] = st4_stream_stateful_stats

ORACLES["st4_stream_stateful_stats"] = """
    SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS total_cents,
           max(epoch_us(CAST(ts AS TIMESTAMP))) AS max_ts_us
    FROM events GROUP BY user_id ORDER BY user_id
"""


def w22_rolling_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling least-squares trend per user over the last 16 events —
    the windowed-OLS slope a time-series monitor alarms on, computed
    EXACTLY: values go to integer cents, positions are 1..n, and the
    slope numerator n*Six - Si*Sx and denominator n*Sii - Si^2 are
    pure int64 (|num| < 16 * 2^7 * max_cents — far inside range); the
    only float op is the final single division. w17's exact-window
    discipline applied to regression instead of smoothing.

    Scale shape: one partitioned window (shuffle by user), 16-element
    frame buffer per row — no global sort, no unbounded state."""
    ev = t(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-15, 0))
    arr = F.collect_list(cents).over(w)
    base = ev.select("event_id", "user_id", arr.alias("_arr"))
    n = F.size("_arr").cast("long")
    si = (n * (n + 1) / 2).cast("long")
    sii = (n * (n + 1) * (2 * n + 1) / 6).cast("long")
    sx = F.expr("aggregate(_arr, CAST(0 AS BIGINT), (a, x) -> a + x)")
    six = F.expr(
        "aggregate(zip_with(_arr, sequence(1, size(_arr)), "
        "(x, i) -> x * i), CAST(0 AS BIGINT), (a, x) -> a + x)")
    num = (n * six - si * sx).cast("long")
    den = (n * sii - si * si).cast("long")
    return base.select(
        "event_id", "user_id",
        n.alias("n"),
        num.alias("slope_num"),
        den.alias("slope_den"),
        F.when(den > 0, num.cast("double") / den.cast("double"))
        .alias("slope_cents"),
    ).orderBy("event_id")


QUERIES["w22_rolling_trend"] = w22_rolling_trend

ORACLES["w22_rolling_trend"] = """
    WITH arrs AS (
        SELECT event_id, user_id,
               list(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS arr
        FROM events
    ), s AS (
        SELECT event_id, user_id,
               CAST(len(arr) AS BIGINT) AS n,
               CAST(len(arr) * (len(arr) + 1) // 2 AS BIGINT) AS si,
               CAST(len(arr) * (len(arr) + 1) * (2 * len(arr) + 1) // 6
                    AS BIGINT) AS sii,
               CAST(list_sum(arr) AS BIGINT) AS sx,
               CAST(list_sum(list_transform(range(1, len(arr) + 1),
                    i -> arr[i] * i)) AS BIGINT) AS six
        FROM arrs
    )
    SELECT event_id, user_id, n,
           CAST(n * six - si * sx AS BIGINT) AS slope_num,
           CAST(n * sii - si * si AS BIGINT) AS slope_den,
           CASE WHEN n * sii - si * si > 0
                THEN CAST(n * six - si * sx AS DOUBLE)
                     / CAST(n * sii - si * si AS DOUBLE) END
               AS slope_cents
    FROM s ORDER BY event_id
"""


def st5_stream_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join through the real engine, oracle-
    checked: two availableNow file streams over the events table join
    on user within an event-time band of ±30 minutes
    (streaming.stream_stream_band_join). Both sides carry watermarks
    and the band predicate is what lets Spark EVICT join state — the
    property that makes stream-stream joins feasible on unbounded
    input. Inner-join matches emit eagerly, so the availableNow run
    produces exactly the batch band join, which the SQL oracle
    replays."""
    from ..streaming import stream_stream_band_join

    path = _stream_dir(sf_dir, "events")
    schema = spark.read.parquet(path).schema

    def one() -> DataFrame:
        return (
            spark.readStream.schema(schema).parquet(path)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )

    out = stream_stream_band_join(
        one(), one(), band="30 minutes", watermark="1 hour")
    name = f"st5_sink_{next(_ST_SEQ)}"
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return (
        spark.table(name)
        .select("user_id", "l_event_id", "r_event_id", "delta_us")
        .orderBy("l_event_id", "r_event_id")
    )


QUERIES["st5_stream_band_join"] = st5_stream_band_join

ORACLES["st5_stream_band_join"] = """
    WITH e AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    )
    SELECT l.user_id, l.event_id AS l_event_id, r.event_id AS r_event_id,
           epoch_us(r.ts) - epoch_us(l.ts) AS delta_us
    FROM e l JOIN e r ON l.user_id = r.user_id
      AND r.ts >= l.ts - INTERVAL 30 MINUTE
      AND r.ts <= l.ts + INTERVAL 30 MINUTE
    ORDER BY l_event_id, r_event_id
"""


CUSUM_K = 500    # drift allowance, cents
CUSUM_H = 2000   # alarm threshold, cents
_CU_S = 1 << 20  # packed-state field widths: s | max_s | alarms
_CU_M = 1 << 40


def w23_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection per user — the sequential recurrence
    S_i = max(0, S_{i-1} + x_i - k), alarm when S_i > h — which no
    window frame expresses (each row depends on the clamped previous
    state). Runs as ONE aggregate() fold over the user's time-ordered
    value array with the three state fields (running S, max S, alarm
    count) PACKED into a single int64 (20|20|24 bits). The lanes are
    GUARDED, not assumed: each step SATURATES the running S at the
    lane max (least(., 2^20-1)), so a drift larger than the lane can
    never bleed into the max_s field, and a separate exact fold
    (sum of positive excesses — a provable upper bound on every
    prefix S_i) combined with n_events < 2^24 (n_alarms <= n_events,
    so this bounds the 24-bit alarm lane exactly) emits `lane_safe`;
    when it is false the s/max_s/n_alarms values are saturated lower
    bounds, flagged instead of silently wrong. Unpacking uses integer DIV (never float `/`, which is
    only exact below 2^53). Bounded-series form (per-user arrays);
    the unbounded-stream form of the same recurrence is the st4
    applyInPandasWithState path."""
    ev = t(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    per = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct(
            F.col("ts"), F.col("event_id"), cents.alias("c")))).alias("_a"))
    # saturating next-S: clamped below at 0 (CUSUM reset) and above at
    # the lane max (overflow guard). CUSUM_H << lane max, so alarm
    # detection still fires on saturated values.
    step = (f"least(greatest(CAST(0 AS BIGINT), "
            f"acc % {_CU_S} + x - {CUSUM_K}), "
            f"CAST({_CU_S - 1} AS BIGINT))")
    fold = F.expr(f"""
        aggregate(
            transform(_a, r -> r.c),
            CAST(0 AS BIGINT),
            (acc, x) ->
                {step}
                + greatest((acc DIV {_CU_S}) % {_CU_S}, {step}) * {_CU_S}
                + (acc DIV {_CU_M}
                   + CASE WHEN {step} > {CUSUM_H}
                          THEN 1 ELSE 0 END) * {_CU_M})
    """)
    # exact lane-safety proof: S_i <= sum_j max(0, x_j - k) for all i,
    # so this single un-packed bigint fold bounds every packed state.
    worst = F.expr(f"""
        aggregate(transform(_a, r -> r.c), CAST(0 AS BIGINT),
                  (acc, x) -> acc + greatest(CAST(0 AS BIGINT),
                                             x - {CUSUM_K}))
    """)
    return per.select(
        "user_id",
        F.size("_a").cast("long").alias("n_events"),
        fold.alias("_st"),
        # lane_safe covers ALL THREE lanes: worst bounds every prefix
        # S_i (the s and max_s 20-bit lanes), and n_alarms <= n_events,
        # so n_events < 2^24 bounds the 24-bit alarm lane exactly.
        ((worst < F.lit(_CU_S))
         & (F.size("_a") < F.lit(1 << 24))).alias("lane_safe"),
    ).select(
        "user_id", "n_events",
        F.expr(f"_st % {_CU_S}").cast("long").alias("final_s"),
        F.expr(f"(_st DIV {_CU_S}) % {_CU_S}").cast("long").alias("max_s"),
        F.expr(f"_st DIV {_CU_M}").cast("long").alias("n_alarms"),
        "lane_safe",
    ).orderBy("user_id")


QUERIES["w23_cusum_alarms"] = w23_cusum_alarms

ORACLES["w23_cusum_alarms"] = f"""
    WITH per AS (
        SELECT user_id,
               list_transform(
                   list_sort(list(
                       {{'ts': CAST(ts AS TIMESTAMP),
                        'event_id': event_id,
                        'c': CAST(CAST(value AS DECIMAL(18,2)) * 100
                                  AS BIGINT)}})),
                   r -> r['c']) AS a
        FROM events GROUP BY user_id
    ), folded AS (
        SELECT user_id, len(a) AS n_events,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(a, x -> CAST(x AS BIGINT))),
                   (acc, x) ->
                       least(greatest(CAST(0 AS BIGINT),
                                      acc % {_CU_S} + x - {CUSUM_K}),
                             CAST({_CU_S - 1} AS BIGINT))
                       + greatest((acc // {_CU_S}) % {_CU_S},
                                  least(greatest(CAST(0 AS BIGINT),
                                            acc % {_CU_S} + x - {CUSUM_K}),
                                        CAST({_CU_S - 1} AS BIGINT)))
                         * {_CU_S}
                       + (acc // {_CU_M}
                          + CASE WHEN least(greatest(CAST(0 AS BIGINT),
                                         acc % {_CU_S} + x - {CUSUM_K}),
                                         CAST({_CU_S - 1} AS BIGINT))
                                     > {CUSUM_H}
                                 THEN 1 ELSE 0 END) * {_CU_M}
               ) AS st,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(a, x -> CAST(x AS BIGINT))),
                   (acc, x) -> acc + greatest(CAST(0 AS BIGINT),
                                              x - {CUSUM_K})
               ) AS worst
        FROM per
    )
    SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
           CAST(st % {_CU_S} AS BIGINT) AS final_s,
           CAST((st // {_CU_S}) % {_CU_S} AS BIGINT) AS max_s,
           CAST(st // {_CU_M} AS BIGINT) AS n_alarms,
           (worst < {_CU_S} AND n_events < {1 << 24}) AS lane_safe
    FROM folded ORDER BY user_id
"""


def w25_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage (sweep line as a window): each event
    spans [ts, ts + value minutes]; per user, the total covered time
    with overlaps collapsed — the classic temporal-algebra operator
    (machine uptime, user active time, SLA coverage) that naive
    sum(duration) double-counts. One pass: order intervals by start,
    carry max(end) over all PRECEDING rows, and each row contributes
    max(0, end - max(start, prev_max_end)); summing contributions is
    exactly the union length. All arithmetic in integer microseconds
    (duration = value-in-cents * 600000 us, exact through the decimal
    cast), so both engines agree bit-for-bit. Scale: the only shuffle
    is the per-user window partition — per-key state is one bigint,
    and skew is bounded by the per-user event count."""
    ev = t(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    iv = ev.select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts")).alias("s_us"),
        (F.unix_micros(F.col("ts")) + cents * 600000).alias("e_us"),
    )
    w = (Window.partitionBy("user_id").orderBy("s_us", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    reach = F.greatest(F.col("s_us"),
                       F.coalesce(F.max("e_us").over(w), F.col("s_us")))
    contrib = F.greatest(F.lit(0).cast("bigint"), F.col("e_us") - reach)
    return (
        iv.withColumn("_c", contrib)
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_intervals"),
            F.sum("_c").cast("long").alias("covered_us"),
            (F.max("e_us") - F.min("s_us")).cast("long").alias("span_us"),
        )
        .orderBy("user_id")
    )


QUERIES["w25_interval_coverage"] = w25_interval_coverage

ORACLES["w25_interval_coverage"] = """
    WITH iv AS (
        SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s_us,
               epoch_us(CAST(ts AS TIMESTAMP))
                   + CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                     * 600000 AS e_us
        FROM events
    ), swept AS (
        SELECT user_id, s_us, e_us,
               greatest(s_us, coalesce(max(e_us) OVER (
                   PARTITION BY user_id ORDER BY s_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   s_us)) AS reach
        FROM iv
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(greatest(CAST(0 AS BIGINT), e_us - reach))
                AS BIGINT) AS covered_us,
           CAST(max(e_us) - min(s_us) AS BIGINT) AS span_us
    FROM swept GROUP BY user_id ORDER BY user_id
"""


def st6_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows through the REAL streaming engine, oracle-
    checked: the events file stream runs the stateful session_window
    aggregate (streaming.session_windows, gap 30 min) — the one
    windowing mode st1/st2 left uncovered, and the one whose state
    merging (overlapping [ts, ts+gap) windows coalesce) is genuinely
    different from tumbling/sliding assignment. availableNow + a
    complete-mode memory sink materializes the final merged sessions,
    which the SQL oracle replays as batch gaps-and-islands (lag >
    gap -> new session; session_end = last event + gap)."""
    from ..streaming import session_windows

    path = _stream_dir(sf_dir, "events")
    schema = spark.read.parquet(path).schema
    src = (
        spark.readStream.schema(schema).parquet(path)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("value", F.col("value").cast("decimal(18,6)"))
    )
    out = session_windows(src, gap="30 minutes", watermark="1 hour")
    name = f"st6_sink_{next(_ST_SEQ)}"
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    return (
        spark.table(name)
        .select(
            "user_id",
            F.unix_micros("session_start").alias("session_start_us"),
            F.unix_micros("session_end").alias("session_end_us"),
            F.col("n_events").cast("long").alias("n_events"),
            money(F.col("session_value"), 4).alias("session_value"),
        )
        .orderBy("user_id", "session_start_us")
    )


QUERIES["st6_stream_sessionize"] = st6_stream_sessionize

ORACLES["st6_stream_sessionize"] = """
    WITH e AS (
        SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               CAST(value AS DECIMAL(18,6)) AS v
        FROM events
    ), flagged AS (
        SELECT user_id, ts_us, v,
               CASE WHEN lag(ts_us) OVER w IS NULL
                         OR ts_us - lag(ts_us) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
    ), sess AS (
        SELECT user_id, ts_us, v,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sid
        FROM flagged
    )
    SELECT user_id,
           CAST(min(ts_us) AS BIGINT) AS session_start_us,
           CAST(max(ts_us) + 1800000000 AS BIGINT) AS session_end_us,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(sum(v), 4) AS DOUBLE) AS session_value
    FROM sess GROUP BY user_id, sid
    ORDER BY user_id, session_start_us
"""


def st7_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join through the real engine — the remaining
    streaming join mode after st5's stream-stream band join: each
    streamed event is enriched with its user's first-seen cohort date,
    computed batch-side from the same table (the dimension-enrichment
    shape every streaming pipeline has: fact stream x slowly-changing
    dim). The static side is broadcast — at 100 TB the stream never
    shuffles for the join; only the bounded dim table moves. Inner
    join, append mode, availableNow: the run emits exactly the batch
    join, which the SQL oracle replays."""
    path = _stream_dir(sf_dir, "events")
    batch = spark.read.parquet(path)
    static = (batch.groupBy("user_id")
              .agg(F.date_format(F.min("ts"), "yyyy-MM-dd")
                   .alias("cohort_day")))
    schema = batch.schema
    src = spark.readStream.schema(schema).parquet(path)
    joined = src.join(F.broadcast(static), "user_id").select(
        "event_id", "user_id", "event_type", "cohort_day")
    name = f"st7_sink_{next(_ST_SEQ)}"
    q = (joined.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table(name)
            .orderBy("event_id"))


QUERIES["st7_stream_static_enrich"] = st7_stream_static_enrich

ORACLES["st7_stream_static_enrich"] = """
    WITH dim AS (
        SELECT user_id,
               strftime(min(CAST(ts AS TIMESTAMP)), '%Y-%m-%d')
                   AS cohort_day
        FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, e.event_type, d.cohort_day
    FROM events e JOIN dim d ON e.user_id = d.user_id
    ORDER BY e.event_id
"""


def w26_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill by LINEAR interpolation — the resampling
    companion to w4's forward fill: per user, a dense daily spine
    between the user's first and last active day; days with events
    carry the exact daily total, gap days get
    prev + (next-prev)*(day-prev_day)/gap. Endpoints are exact integer
    cents; the interpolated value is ONE float division + one add
    (the dp9/w18 single-op rule — both engines IEEE-round identically,
    no compounding). Spine = sequence()+explode, prev/next via
    last/first IGNORE NULLS windows partitioned by user — no
    driver-side loops, no global sort; state per key is two bigints
    each direction."""
    ev = t(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    daily = (ev.select("user_id", F.to_date("ts").alias("day"),
                       cents.alias("c"))
             .groupBy("user_id", "day").agg(F.sum("c").alias("val")))
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = span.select(
        "user_id",
        F.explode(F.sequence("d0", "d1")).alias("day"))
    j = spine.join(daily, ["user_id", "day"], "left")
    wp = (Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0))
    wn = (Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(0, Window.unboundedFollowing))
    known_day = F.when(F.col("val").isNotNull(), F.col("day"))
    pv = F.last("val", ignorenulls=True).over(wp)
    pd_ = F.last(known_day, ignorenulls=True).over(wp)
    nv = F.first("val", ignorenulls=True).over(wn)
    nd = F.first(known_day, ignorenulls=True).over(wn)
    interp = F.when(
        F.col("val").isNotNull(), F.col("val").cast("double")
    ).otherwise(
        pv.cast("double")
        + ((nv - pv) * F.datediff(F.col("day"), pd_)).cast("double")
        / F.datediff(nd, pd_).cast("double")
    )
    return (
        j.select(
            "user_id", "day",
            F.col("val").isNotNull().alias("is_known"),
            interp.alias("value_cents"),
        )
        .orderBy("user_id", "day")
    )


QUERIES["w26_linear_interpolation"] = w26_linear_interpolation

ORACLES["w26_linear_interpolation"] = """
    WITH daily AS (
        SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT) AS val
        FROM events GROUP BY user_id, day
    ), span AS (
        SELECT user_id, min(day) AS d0, max(day) AS d1
        FROM daily GROUP BY user_id
    ), spine AS (
        SELECT user_id, unnest(generate_series(d0, d1,
               INTERVAL 1 DAY))::DATE AS day
        FROM span
    ), j AS (
        SELECT s.user_id, s.day, d.val FROM spine s
        LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
    ), filled AS (
        SELECT user_id, day, val,
            last_value(val IGNORE NULLS) OVER wp AS pv,
            last_value(CASE WHEN val IS NOT NULL THEN day END
                IGNORE NULLS) OVER wp AS pd,
            first_value(val IGNORE NULLS) OVER wn AS nv,
            first_value(CASE WHEN val IS NOT NULL THEN day END
                IGNORE NULLS) OVER wn AS nd
        FROM j
        WINDOW wp AS (PARTITION BY user_id ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY user_id ORDER BY day
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, day, val IS NOT NULL AS is_known,
           CASE WHEN val IS NOT NULL THEN CAST(val AS DOUBLE)
                ELSE CAST(pv AS DOUBLE)
                     + CAST((nv - pv) * date_diff('day', pd, day)
                            AS DOUBLE)
                       / CAST(date_diff('day', pd, nd) AS DOUBLE)
           END AS value_cents
    FROM filled ORDER BY user_id, day
"""


def w27_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection by Median Absolute Deviation — the
    breakdown-resistant companion to w20's z-score (one wild value
    shifts a mean/stddev fence, but not a median/MAD fence). Exact
    rank statistics, no interpolation: per event_type the lower
    median of value cents, then the median of |x − med| by the SAME
    value-histogram rank trick (a20's scale path — cumulative windows
    run over DISTINCT |deviation| values, O(value domain) per group,
    never O(rows)), then the outlier count at |x − med| > 3·MAD in
    pure integer compares."""
    ev = t(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    base = ev.select("event_type", cents.alias("c"))

    def _rank_median(df: DataFrame, col: str) -> DataFrame:
        counts = df.groupBy("event_type", col).agg(F.count("*").alias("cnt"))
        w = (Window.partitionBy("event_type").orderBy(col)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        cum = counts.withColumn("cum", F.sum("cnt").over(w))
        tot = counts.groupBy("event_type").agg(F.sum("cnt").alias("n"))
        return (cum.join(F.broadcast(tot), "event_type")
                .filter(F.expr("cum >= (n + 1) div 2"))
                .groupBy("event_type")
                .agg(F.min(col).alias(f"med_{col}")))

    med = _rank_median(base, "c")
    dev = (base.join(F.broadcast(med), "event_type")
           .select("event_type", F.abs(F.col("c") - F.col("med_c"))
                   .alias("d")))
    mad = _rank_median(dev, "d")
    out = (dev.join(F.broadcast(mad), "event_type")
           .groupBy("event_type")
           .agg(F.count("*").cast("long").alias("n_events"),
                F.sum(F.when(F.col("d") > 3 * F.col("med_d"), 1)
                      .otherwise(0)).cast("long").alias("n_outliers")))
    return (out.join(med, "event_type").join(mad, "event_type")
            .select("event_type", "n_events",
                    F.col("med_c").cast("long").alias("median_cents"),
                    F.col("med_d").cast("long").alias("mad_cents"),
                    "n_outliers")
            .orderBy("event_type"))


QUERIES["w27_mad_outliers"] = w27_mad_outliers

ORACLES["w27_mad_outliers"] = """
    WITH base AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM events
    ), c1 AS (
        SELECT event_type, c, count(*) AS cnt
        FROM base GROUP BY event_type, c
    ), cum1 AS (
        SELECT event_type, c, cnt,
               sum(cnt) OVER (PARTITION BY event_type ORDER BY c
                              ROWS UNBOUNDED PRECEDING) AS cum
        FROM c1
    ), tot1 AS (
        SELECT event_type, sum(cnt) AS n FROM c1 GROUP BY event_type
    ), med AS (
        SELECT cum1.event_type, min(c) AS med_c
        FROM cum1 JOIN tot1 ON cum1.event_type = tot1.event_type
        WHERE cum >= (n + 1) // 2 GROUP BY cum1.event_type
    ), dev AS (
        SELECT b.event_type, abs(b.c - m.med_c) AS d
        FROM base b JOIN med m ON b.event_type = m.event_type
    ), c2 AS (
        SELECT event_type, d, count(*) AS cnt
        FROM dev GROUP BY event_type, d
    ), cum2 AS (
        SELECT event_type, d, cnt,
               sum(cnt) OVER (PARTITION BY event_type ORDER BY d
                              ROWS UNBOUNDED PRECEDING) AS cum
        FROM c2
    ), tot2 AS (
        SELECT event_type, sum(cnt) AS n FROM c2 GROUP BY event_type
    ), mad AS (
        SELECT cum2.event_type, min(d) AS med_d
        FROM cum2 JOIN tot2 ON cum2.event_type = tot2.event_type
        WHERE cum >= (n + 1) // 2 GROUP BY cum2.event_type
    ), outc AS (
        SELECT v.event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN v.d > 3 * a.med_d THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers
        FROM dev v JOIN mad a ON v.event_type = a.event_type
        GROUP BY v.event_type
    )
    SELECT o.event_type, o.n_events,
           CAST(m.med_c AS BIGINT) AS median_cents,
           CAST(a.med_d AS BIGINT) AS mad_cents,
           o.n_outliers
    FROM outc o
    JOIN med m ON o.event_type = m.event_type
    JOIN mad a ON o.event_type = a.event_type
    ORDER BY o.event_type
"""


def _stream_dir_sentinel(sf_dir: str, table: str) -> str:
    """_stream_dir plus ONE far-future watermark-flush row (year 2100,
    event_id/user_id = -1): outer-join eviction only emits null-padded
    results once the watermark PASSES an unmatched row, and a finite
    file stream's watermark stops at its own max timestamp — so the
    trailing watermark-delay window would otherwise stay in state
    forever and the availableNow run would under-produce. The sentinel
    drags the watermark past every real event; queries filter its own
    rows back out (negative ids are outside the real id domain — the
    u5 convention)."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    safe = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(tempfile.gettempdir(), f"sg_streamwm_{safe}_{table}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{table}.parquet")
    target = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.lexists(link) and os.path.realpath(link) != \
            os.path.realpath(target):
        try:
            os.unlink(link)
        except FileNotFoundError:
            pass
    if not os.path.lexists(link):
        try:
            os.symlink(target, link)
        except FileExistsError:
            pass
    sentinel = os.path.join(d, "zz_watermark_flush.parquet")
    if not os.path.exists(sentinel):
        import datetime

        schema = pq.read_schema(target)
        schema = schema.remove_metadata()
        cols = []
        for field in schema:
            if field.name in ("event_id", "user_id"):
                cols.append(pa.array([-1], field.type))
            elif pa.types.is_timestamp(field.type):
                cols.append(pa.array(
                    [datetime.datetime(2100, 1, 1)], field.type))
            else:
                cols.append(pa.array([None], field.type))
        tmp = sentinel + f".tmp{os.getpid()}"
        pq.write_table(pa.table(cols, schema=schema), tmp)
        os.replace(tmp, sentinel)   # atomic vs concurrent test procs
    return d


def st8_stream_outer_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream band join through the real engine,
    oracle-checked — the streaming shape where the watermark decides
    CORRECTNESS, not just state size: a left event with no right
    partner (right stream = the 1-in-7 event_id%7==0 subset, band ±5
    minutes) may only emit its null-padded row once the watermark
    proves no partner can still arrive, so outer rows surface from
    the state-eviction path in the trailing no-data micro-batch. The
    _stream_dir_sentinel watermark-flush row forces that eviction to
    cover ALL real events, making the availableNow run exactly equal
    to the batch LEFT band join the DuckDB oracle replays."""
    from ..streaming import stream_stream_band_join_outer

    path = _stream_dir_sentinel(sf_dir, "events")
    schema = spark.read.parquet(path).schema

    def one() -> DataFrame:
        return (
            spark.readStream.schema(schema).parquet(path)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )

    # the sentinel must survive BOTH side filters: the join's eviction
    # watermark is the MIN across all watermark operators, so a right
    # side that never sees the flush row would stall the whole join's
    # watermark at (real max ts - delay) and strand the newest lefts
    right = one().filter((F.col("event_id") % 7 == 0)
                         | (F.col("event_id") < 0))
    out = stream_stream_band_join_outer(
        one(), right, band="5 minutes", watermark="1 hour")
    name = f"st8_sink_{next(_ST_SEQ)}"
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return (
        spark.table(name)
        .filter(F.col("l_event_id") >= 0)
        .select("user_id", "l_event_id", "r_event_id", "delta_us")
        .orderBy("l_event_id", "r_event_id")
    )


QUERIES["st8_stream_outer_band_join"] = st8_stream_outer_band_join

ORACLES["st8_stream_outer_band_join"] = """
    WITH l AS (
        SELECT user_id, event_id AS l_event_id,
               CAST(ts AS TIMESTAMP) AS l_ts
        FROM events
    ), r AS (
        SELECT user_id AS rk, event_id AS r_event_id,
               CAST(ts AS TIMESTAMP) AS r_ts
        FROM events WHERE event_id % 7 = 0
    )
    SELECT l.user_id, l.l_event_id, r.r_event_id,
           epoch_us(r.r_ts) - epoch_us(l.l_ts) AS delta_us
    FROM l LEFT JOIN r ON l.user_id = r.rk
      AND r.r_ts >= l.l_ts - INTERVAL 5 MINUTE
      AND r.r_ts <= l.l_ts + INTERVAL 5 MINUTE
    ORDER BY l_event_id, r_event_id
"""


W28_LAGS = (1, 2, 3)


def w28_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function at lags 1-3 per event_type — the
    time-series diagnostic (is this metric mean-reverting? seasonal?)
    computed EXACTLY in integers, no float mean anywhere: with
    S = Σx and n·x_i − S as the n-scaled centered value (an integer),
    the lag-k autocovariance numerator Σ (n·x_i − S)(n·x_{i−k} − S)
    accumulates in DECIMAL(38,0) (Spark) / HUGEINT (oracle) and is
    scaled back by DIV n² into int64 — the a23/w20 fixed-assembly
    discipline applied to serial correlation. acf_milli =
    (cov*1000) div var, one exact integer ratio. The lag join is a
    per-type window (uniform key, bounded partitions); outputs are
    bit-stable under any partitioning."""
    ev = t(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    base = ev.select("event_type", "event_id", "ts", cents.alias("x"))
    stats = base.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("s"))
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    rows = []
    lagged = base
    for k in W28_LAGS:
        lagged = lagged.withColumn(f"x{k}", F.lag("x", k).over(w))
    j = lagged.join(F.broadcast(stats), "event_type")
    cx = (F.col("n").cast("decimal(38,0)") * F.col("x") - F.col("s"))
    out = None
    for k in (0,) + W28_LAGS:
        xk = F.col("x") if k == 0 else F.col(f"x{k}")
        cxk = (F.col("n").cast("decimal(38,0)") * xk - F.col("s"))
        term = (
            j.filter(xk.isNotNull())
            .groupBy("event_type", "n")
            .agg(F.sum((cx * cxk).cast("decimal(38,0)"))
                 .alias("num"),
                 F.count("*").cast("long").alias("n_pairs"))
            .select(
                "event_type", F.lit(k).alias("lag"), "n_pairs",
                F.expr("CAST(num div (CAST(n AS DECIMAL(38,0)) * n) "
                       "AS BIGINT)").alias("cov_scaled"))
        )
        out = term if out is None else out.unionByName(term)
    var0 = out.filter(F.col("lag") == 0).select(
        "event_type", F.col("cov_scaled").alias("var_scaled"))
    return (
        out.filter(F.col("lag") > 0)
        .join(F.broadcast(var0), "event_type")
        .select(
            "event_type", F.col("lag").cast("long").alias("lag"),
            "n_pairs", "cov_scaled", "var_scaled",
            F.expr("CAST((cov_scaled * 1000) div var_scaled AS BIGINT)")
            .alias("acf_milli"),
        )
        .orderBy("event_type", "lag")
    )


QUERIES["w28_autocorrelation"] = w28_autocorrelation


def _w28_oracle() -> str:
    terms = []
    for k in (0,) + W28_LAGS:
        xk = "x" if k == 0 else f"lag(x, {k}) OVER (PARTITION BY event_type ORDER BY ts, event_id)"
        terms.append(f"""
        SELECT event_type, {k} AS lag, n_pairs, cov_scaled FROM (
            SELECT event_type, any_value(n) AS n,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(sum(CAST(cx AS HUGEINT) * cxk)
                        // (CAST(any_value(n) AS HUGEINT)
                            * any_value(n)) AS BIGINT) AS cov_scaled
            FROM (
                SELECT l.event_type, st.n,
                       CAST(st.n AS HUGEINT) * l.x - st.s AS cx,
                       CAST(st.n AS HUGEINT) * l.xk - st.s AS cxk
                FROM (
                    SELECT event_type, ts, event_id, x,
                           {xk} AS xk
                    FROM base
                ) l JOIN stats st USING (event_type)
                WHERE l.xk IS NOT NULL
            ) GROUP BY event_type
        )""")
    unioned = " UNION ALL ".join(terms)
    return f"""
    WITH base AS (
        SELECT event_type, ts, event_id,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        FROM events
    ), stats AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS s
        FROM base GROUP BY event_type
    ), allterms AS ({unioned})
    SELECT a.event_type, CAST(a.lag AS BIGINT) AS lag, a.n_pairs,
           a.cov_scaled, v.cov_scaled AS var_scaled,
           CAST((a.cov_scaled * 1000) // v.cov_scaled AS BIGINT)
               AS acf_milli
    FROM allterms a
    JOIN (SELECT event_type, cov_scaled FROM allterms WHERE lag = 0) v
      ON a.event_type = v.event_type
    WHERE a.lag > 0
    ORDER BY a.event_type, a.lag
"""


ORACLES["w28_autocorrelation"] = _w28_oracle()


def st9_stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ingest near-dup screening against the PERSISTED
    MinHash index — the dd15 lifecycle driven by the real micro-batch
    engine: the corpus half (even doc_ids, dd15's shared artifact) is
    indexed once; the odd half arrives as a FILE STREAM and each
    micro-batch is band-bucketed with the index's recorded parameters,
    broadcast-joined against the bucket scan and reduced to a per-doc
    novelty report appended to parquet (streaming.stream_ingest_dedup
    via foreachBatch — so the stream pays O(batch) per trigger and
    never re-signs the corpus). The returned DataFrame reads the
    report the stream wrote, so the driver hash-compares an actual
    Structured Streaming run against the batch SQL replay — the
    stream/batch parity discipline of st1-st8 applied to the persisted
    dedup index."""
    import os
    import tempfile
    import uuid

    from ..streaming import stream_ingest_dedup
    from .dedup import _lsh_index_path

    index_path = _lsh_index_path(sf_dir)
    docs = t(spark, sf_dir, "documents")
    if not os.path.exists(os.path.join(index_path, "meta")):
        from ..operators import dedup as D
        from ._util import spread
        D.save_minhash_index(
            spread(docs, "doc_id").filter(F.col("doc_id") % 2 == 0),
            index_path, n=3, num_hashes=16, bands=4)

    src_dir = _stream_dir(sf_dir, "documents")
    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema).parquet(src_dir)
        .filter(F.col("doc_id") % 2 == 1)
    )
    run = uuid.uuid4().hex[:12]
    out_dir = os.path.join(tempfile.gettempdir(),
                           f"sg_st9_out_{run}")
    ckpt = os.path.join(tempfile.gettempdir(), f"sg_st9_ckpt_{run}")
    q = (
        stream_ingest_dedup(stream, index_path, out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # eager-and-clean (the u6 discipline): the report is bounded
    # (one row per streamed doc), so collect it, remove the run's
    # /tmp output + checkpoint dirs, and return a local frame — no
    # scratch residue survives the query, even on a failed read
    # (finally). batch_id is the sink's idempotency partition
    # column, not part of the report schema.
    import shutil

    try:
        out = (spark.read.parquet(out_dir).drop("batch_id")
               .orderBy("new_id"))
        rows = out.collect()
        schema_out = out.schema
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.createDataFrame(rows, schema_out).orderBy("new_id")


QUERIES["st9_stream_ingest_dedup"] = st9_stream_ingest_dedup


def _st9_oracle() -> str:
    from .dedup import _lsh_probe_sql

    return _lsh_probe_sql(3, 16, 4, tail="""
        , pairs AS (
            SELECT DISTINCT n.id AS new_id, c.id AS corpus_id
            FROM stacked n JOIN stacked c
              ON n.bucket = c.bucket
            WHERE n.id % 2 = 1 AND c.id % 2 = 0
        ), agg AS (
            SELECT new_id, count(*) AS n_candidates,
                   min(corpus_id) AS first_match
            FROM pairs GROUP BY new_id
        )
        SELECT d.doc_id AS new_id,
               CAST(coalesce(a.n_candidates, 0) AS BIGINT)
                   AS n_candidates,
               CAST(a.first_match AS BIGINT) AS first_match,
               coalesce(a.n_candidates, 0) = 0 AS is_novel
        FROM documents d LEFT JOIN agg a ON d.doc_id = a.new_id
        WHERE d.doc_id % 2 = 1
        ORDER BY new_id
    """)


ORACLES["st9_stream_ingest_dedup"] = _st9_oracle()
