"""Window-function surface: ranking, lag/lead, running aggregates, frame
specs (rows + range), and per-group top-k.

Scale notes: a window spec shuffles once on partitionBy keys; all functions
over the same (partitionBy, orderBy) share that single shuffle+sort.  Ordering
keys always include a unique tiebreaker so results are deterministic under
ties (required by the cross-engine value-hash gate, and good hygiene anyway).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import register
from ._util import dec4, t

def _order_w():
    """Per-customer price ranking window (lazy: Window exprs need an active
    session, and operator modules import at registry-collection time)."""
    return Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )


@register(
    "q_window_rank",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           RANK()       OVER w AS price_rank,
           DENSE_RANK() OVER w AS price_dense_rank,
           ROW_NUMBER() OVER w AS price_row_number
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
    bench=True,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / row_number over one shared window spec (single
    shuffle + sort serves all three)."""
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.rank().over(_order_w()).alias("price_rank"),
        F.dense_rank().over(_order_w()).alias("price_dense_rank"),
        F.row_number().over(_order_w()).alias("price_row_number"),
    )


@register(
    "q_window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_spent,
           ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             AS order_seq
    FROM orders
    """,
)
def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (prefix) sum per customer with an explicit ROWS frame; exact
    decimal accumulation keeps prefix sums engine-identical."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(dec4("o_totalprice")).over(frame).cast("double").alias("running_spent"),
        F.row_number().over(w).alias("order_seq"),
    )


@register(
    "q_window_lag_lead",
    oracle="""
    SELECT user_id, event_id, ts, value,
           LAG(value)  OVER w AS prev_value,
           LEAD(value) OVER w AS next_value,
           value - COALESCE(LAG(value) OVER w, value) AS delta
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead navigation along each user's event timeline (per-row double
    subtraction is IEEE-identical; no rounding needed)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    value = F.col("value")
    return t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (value - F.coalesce(F.lag("value").over(w), value)).alias("delta"),
    )


@register(
    "q_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rk
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM orders
    )
    WHERE rk <= 3
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k = row_number <= k.  Spark pushes the rank limit into
    the sort (WindowGroupLimit) so each partition only keeps k rows — the
    scalable alternative to a global sort."""
    return (
        t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(_order_w()).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


@register(
    "q_window_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           COUNT(*) OVER (PARTITION BY o_custkey ORDER BY date_part('epoch', o_orderdate)
                          RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
             AS orders_trailing_30d
    FROM orders
    """,
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event-time: trailing-30-day order count per customer,
    ordering on epoch seconds so the frame bound is a plain interval."""
    ts = F.unix_timestamp("o_orderdate")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(ts)
        .rangeBetween(-2592000, Window.currentRow)
    )
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.count(F.lit(1)).over(w).alias("orders_trailing_30d"),
    )


@register(
    "q_window_distribution",
    oracle="""
    SELECT o_custkey, o_orderkey,
           NTILE(4)       OVER w AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist()    OVER w AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """,
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile / percent_rank / cume_dist.
    (rank-1)/(n-1) and rank/n are single IEEE divisions of identical
    integers — bit-identical across engines."""
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "q_window_first_last",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey)  OVER w AS latest_order,
           nth_value(o_orderkey, 2) OVER w AS second_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over an explicit full-partition
    frame (the default frame ends at CURRENT ROW, which silently makes
    last_value meaningless — the classic window-frame trap, spelled out)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("latest_order"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
    )
