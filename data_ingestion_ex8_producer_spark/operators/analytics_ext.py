"""Extended analytics surface: ordered string aggregation (listagg), exact
median/quartiles, deterministic mode, boolean/bitwise aggregates, the try_*
error-safe function family, regression statistics over exact decimal sums,
fixed-width histograms, windowed count-distinct, ratio-to-report shares,
retention cohorts, and an event-funnel analysis.

None of these exist in the reference (SURVEY.md §2.2 absence matrix — the
reference's only operators are S3-CSV scan, header sanitize, projection,
empty→null, Avro encode, Kafka produce; `app.py:87-196`); they widen the
mandated engine analytics surface.

Scale notes (100 TB posture):

* listagg concatenates WITHIN a group — safe only when groups are bounded
  (here: 5 nations per region).  On unbounded groups the scale-safe shape is
  top-N-per-group (q_topk_per_group) feeding listagg, never a raw concat of a
  fact table.
* median/percentile here are EXACT (full sort per group inside the agg);
  at 100 TB the drop-in replacement is approx_percentile (q_approx_percentile)
  — both shapes are registered so the trade-off is explicit.
* The regression statistics aggregate to 6 numbers per group in a single
  map-side-combinable pass (sums of x, y, x², y², x·y) — the textbook
  shape for distributed linear regression; no second pass over the data.
* The funnel is three sequential per-user aggregations joined on user_id;
  every stage shuffles on the same key so AQE reuses co-partitioning, and
  stage outputs shrink monotonically (each stage filters the previous).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ._util import t

# --------------------------------------------------------------------------
# Ordered string aggregation — listagg / string_agg
# --------------------------------------------------------------------------


@register(
    "q_listagg",
    oracle="""
    SELECT r_name,
           CAST(COUNT(*) AS BIGINT) AS n_nations,
           string_agg(n_name, ',' ORDER BY n_name) AS nations_csv
    FROM region JOIN nation ON r_regionkey = n_regionkey
    GROUP BY r_name
    """,
)
def q_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered intra-group string concatenation: nation names per region via
    Spark 4's `listagg ... WITHIN GROUP (ORDER BY ...)` — the explicit order
    clause is what makes the concatenated string deterministic across
    partitions (an unordered listagg/collect_list concat is not)."""
    t(spark, sf_dir, "region").createOrReplaceTempView("la_region")
    t(spark, sf_dir, "nation").createOrReplaceTempView("la_nation")
    return spark.sql(
        """
        SELECT r_name,
               CAST(COUNT(*) AS BIGINT) AS n_nations,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations_csv
        FROM la_region JOIN la_nation ON r_regionkey = n_regionkey
        GROUP BY r_name
        """
    )


# --------------------------------------------------------------------------
# Exact median / quartiles
# --------------------------------------------------------------------------


@register(
    "q_median_quartiles",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           median(l_quantity) AS med_qty,
           quantile_cont(l_quantity, 0.25) AS p25_qty,
           quantile_cont(l_quantity, 0.75) AS p75_qty,
           min(l_quantity) AS min_qty,
           max(l_quantity) AS max_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_median_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median and quartiles of order quantity per return flag
    (`median` / `percentile` — linearly interpolated, same convention as
    DuckDB's quantile_cont).

    Determinism: l_quantity is integral (verified on testdata), so the
    interpolation arithmetic ((1-f)·a + f·b with f ∈ {0, .25, .5, .75}) is
    exact in IEEE double no matter how either engine associates it.  A
    percentile over non-representable doubles (e.g. 2-decimal money) would
    NOT be cross-engine-stable — use decimal casts or approx_percentile
    there instead."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.median("l_quantity").alias("med_qty"),
            F.percentile("l_quantity", F.lit(0.25)).alias("p25_qty"),
            F.percentile("l_quantity", F.lit(0.75)).alias("p75_qty"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
        )
    )


# --------------------------------------------------------------------------
# Deterministic mode (most frequent value, ties broken by value)
# --------------------------------------------------------------------------


@register(
    "q_mode_priority",
    oracle="""
    WITH c AS (
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
        FROM orders GROUP BY 1, 2
    ),
    r AS (
        SELECT o_orderstatus, o_orderpriority, cnt,
               ROW_NUMBER() OVER (
                   PARTITION BY o_orderstatus
                   ORDER BY cnt DESC, o_orderpriority DESC) AS rn,
               CAST(SUM(cnt) OVER (PARTITION BY o_orderstatus) AS BIGINT)
                   AS n_orders
        FROM c
    )
    SELECT o_orderstatus, o_orderpriority AS mode_priority,
           CAST(cnt AS BIGINT) AS mode_cnt, n_orders
    FROM r WHERE rn = 1
    """,
)
def q_mode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode: most frequent order priority per order status,
    ties broken by the larger priority string.

    Spark's built-in `mode()` is explicitly arbitrary on ties, so the engine
    pins the tie-break with `max_by(value, struct(cnt, value))` — one extra
    count aggregation, still two shuffle-free map-combinable passes and no
    window.  The oracle spells the identical semantics as a row_number pick."""
    counts = (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return counts.groupBy("o_orderstatus").agg(
        F.max_by(
            "o_orderpriority", F.struct(F.col("cnt"), F.col("o_orderpriority"))
        ).alias("mode_priority"),
        F.max("cnt").alias("mode_cnt"),
        F.sum("cnt").alias("n_orders"),
    )


# --------------------------------------------------------------------------
# Boolean / bitwise aggregates
# --------------------------------------------------------------------------


@register(
    "q_bool_bit_aggs",
    oracle="""
    SELECT p_type,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           bool_and(p_size > 5) AS all_gt5,
           bool_or(p_size > 45) AS any_gt45,
           bit_and(p_size) AS size_band,
           bit_or(p_size) AS size_bor,
           bit_xor(p_size) AS size_bxor
    FROM part GROUP BY p_type
    """,
)
def q_bool_bit_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean quantifier aggregates (bool_and/bool_or = ALL/ANY over a
    predicate) and bitwise reduction aggregates (bit_and/bit_or/bit_xor)
    per part type.  All are commutative+associative integer/boolean ops —
    map-side combinable, bit-identical across engines with no decimal
    shims needed."""
    return (
        t(spark, sf_dir, "part")
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.bool_and(F.col("p_size") > 5).alias("all_gt5"),
            F.bool_or(F.col("p_size") > 45).alias("any_gt45"),
            F.bit_and("p_size").alias("size_band"),
            F.bit_or("p_size").alias("size_bor"),
            F.bit_xor("p_size").alias("size_bxor"),
        )
    )


# --------------------------------------------------------------------------
# try_* error-safe function family
# --------------------------------------------------------------------------


@register(
    "q_try_funcs",
    oracle="""
    SELECT o_orderkey,
           o_totalprice / NULLIF(o_custkey % 7, 0) AS price_per_bucket,
           TRY_CAST(substring(o_orderpriority, 1, 1) AS INT) AS prio_num,
           TRY_CAST(o_orderstatus AS INT) AS status_num,
           (str_split(o_orderpriority, '-'))[2] AS prio_word,
           (str_split(o_orderpriority, '-'))[3] AS prio_missing
    FROM orders
    """,
)
def q_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The try_* error-safe scalar family: division that yields NULL on a
    zero divisor (try_divide), casts that yield NULL instead of raising
    (try_cast — both a parse that mostly succeeds and one that always
    fails), and out-of-bounds array access (try_element_at).

    This is the ANSI-mode-safe idiom for dirty data at scale: the whole row
    survives, only the bad cell is null — versus ANSI Spark failing the task
    (and non-ANSI silently corrupting).  Per-row double arithmetic is IEEE
    bit-identical across engines; no aggregation is involved."""
    parts = F.split(F.col("o_orderpriority"), "-")
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.try_divide(F.col("o_totalprice"), F.col("o_custkey") % 7).alias(
            "price_per_bucket"
        ),
        F.substring("o_orderpriority", 1, 1).try_cast("int").alias("prio_num"),
        F.col("o_orderstatus").try_cast("int").alias("status_num"),
        F.try_element_at(parts, F.lit(2)).alias("prio_word"),
        F.try_element_at(parts, F.lit(3)).alias("prio_missing"),
    )


# --------------------------------------------------------------------------
# Regression statistics via exact decimal sums
# --------------------------------------------------------------------------

# Both engines compute the final statistics from the SAME six exact numbers
# (n and five decimal sums) with the SAME double expression tree, so results
# are bit-identical — the built-in regr_*/corr/stddev aggregates are instead
# order-dependent streaming merges that differ in last ulps across engines.
# Scales are minimal-exact (see _util): x = l_quantity is integral (scale 0),
# y = l_discount is 2-decimal; every sum's integer representation stays far
# below 2^53, where decimal→double conversion is exact in both engines.

_REGR_FINAL = """
    SELECT l_returnflag, n_rows,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
           (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
               AS intercept,
           (n * sxy - sx * sy)
               / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS corr_xy,
           (sxx - sx * sx / n) / n AS var_pop_x,
           sqrt((sxx - sx * sx / n) / n) AS stddev_pop_x
"""


@register(
    "q_regr_stats",
    oracle=f"""
    WITH s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(10,0))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(10,0))
                        * CAST(l_quantity AS DECIMAL(10,0))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l_discount AS DECIMAL(12,2))
                        * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(10,0))
                        * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    {_REGR_FINAL}
    FROM s
    """,
)
def q_regr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed simple linear regression (discount on quantity) per
    return flag: slope, intercept, Pearson correlation, population
    variance/stddev of x — all derived from one map-combinable pass that
    accumulates exact decimal sums of x, y, x², y², x·y.

    This is the scale-canonical shape: 6 numbers per group regardless of
    input size, single shuffle, and (unlike the built-in streaming-merge
    regr_*/corr aggregates) deterministic across engines and partition
    orders because the sums are exact decimals and the finishing arithmetic
    is an identical IEEE expression tree on both sides."""
    x = F.col("l_quantity").cast("decimal(10,0)")
    y = F.col("l_discount").cast("decimal(12,2)")
    s = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(x).cast("double").alias("sx"),
            F.sum(y).cast("double").alias("sy"),
            F.sum(x * x).cast("double").alias("sxx"),
            F.sum(y * y).cast("double").alias("syy"),
            F.sum(x * y).cast("double").alias("sxy"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        "l_returnflag",
        "n_rows",
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
        ((n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))).alias(
            "corr_xy"
        ),
        ((sxx - sx * sx / n) / n).alias("var_pop_x"),
        F.sqrt((sxx - sx * sx / n) / n).alias("stddev_pop_x"),
    )


# --------------------------------------------------------------------------
# Histogram (fixed-width binning)
# --------------------------------------------------------------------------


@register(
    "q_histogram",
    oracle="""
    SELECT CAST(floor(l_extendedprice / 10000) AS BIGINT) AS bucket,
           CAST(floor(l_extendedprice / 10000) * 10000 AS DOUBLE) AS bucket_lo,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of extended price (10k-wide bins): the binning
    expression is per-row floor arithmetic computed identically in both
    engines, then an ordinary hash aggregation — the scale-canonical way to
    histogram 100 TB (one pass, |bins| output rows, no sort).  bucket_lo is
    derived from the bucket index (exact small-int × literal product), not
    from re-aggregating the data."""
    bucket = F.floor(F.col("l_extendedprice") / 10000)
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy(
            bucket.cast("long").alias("bucket"),
            (bucket * 10000).cast("double").alias("bucket_lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(12,4)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


# --------------------------------------------------------------------------
# Windowed count-distinct
# --------------------------------------------------------------------------


@register(
    "q_window_count_distinct",
    oracle="""
    SELECT event_id, user_id,
           CAST(COUNT(DISTINCT event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS distinct_types_10,
           CAST(COUNT(DISTINCT event_type) OVER (
               PARTITION BY user_id) AS BIGINT) AS distinct_types_all
    FROM events
    """,
)
def q_window_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-distinct over a window: per user, the number of distinct event
    types in the last 10 events (rolling) and over the whole history.

    Spark has no DISTINCT aggregate inside windows, so the engine shape is
    `size(collect_set(...) over w)` — the set is bounded by the event-type
    cardinality (tiny), so per-row state stays O(|types|) no matter how long
    a user's history is.  Frame order is pinned with the unique event_id so
    both engines see identical frames."""
    from pyspark.sql import Window

    w10 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    wall = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.size(F.collect_set("event_type").over(w10)).cast("long").alias(
            "distinct_types_10"
        ),
        F.size(F.collect_set("event_type").over(wall)).cast("long").alias(
            "distinct_types_all"
        ),
    )


# --------------------------------------------------------------------------
# Ratio-to-report (percent of total)
# --------------------------------------------------------------------------


@register(
    "q_percent_of_total",
    oracle="""
    WITH per_nation AS (
        SELECT r_name, n_name,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(12,4))) AS DOUBLE)
                   AS nation_bal,
               CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    )
    SELECT r_name, n_name, nation_bal, n_customers,
           nation_bal / CAST(SUM(CAST(nation_bal AS DECIMAL(18,4)))
               OVER (PARTITION BY r_name) AS DOUBLE) AS share_of_region,
           nation_bal / CAST(SUM(CAST(nation_bal AS DECIMAL(18,4)))
               OVER () AS DOUBLE) AS share_of_total
    FROM per_nation
    """,
)
def q_percent_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its region's (and the global)
    customer balance — an aggregate re-read through unpartitioned/partitioned
    window sums.  The windows run over the AGGREGATED relation (|nations|
    rows), so the global window's single partition is trivially safe at any
    scale; the exact-decimal sums keep the double divisions bit-identical
    across engines — the window sums themselves go through exact decimal casts too, since a 5-row double sum is already order-dependent."""
    from pyspark.sql import Window

    per_nation = (
        t(spark, sf_dir, "customer")
        .join(F.broadcast(t(spark, sf_dir, "nation")), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t(spark, sf_dir, "region")), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(F.col("c_acctbal").cast("decimal(12,4)"))
            .cast("double")
            .alias("nation_bal"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )
    w_region = Window.partitionBy("r_name")
    w_all = Window.partitionBy()
    return per_nation.select(
        "r_name",
        "n_name",
        "nation_bal",
        "n_customers",
        (
            F.col("nation_bal")
            / F.sum(F.col("nation_bal").cast("decimal(18,4)")).over(w_region).cast("double")
        ).alias("share_of_region"),
        (
            F.col("nation_bal")
            / F.sum(F.col("nation_bal").cast("decimal(18,4)")).over(w_all).cast("double")
        ).alias("share_of_total"),
    )


# --------------------------------------------------------------------------
# Retention cohorts
# --------------------------------------------------------------------------


@register(
    "q_retention_cohorts",
    oracle="""
    WITH s AS (
        SELECT user_id, MIN(epoch_us(ts)) AS c0
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    a AS (
        SELECT DISTINCT e.user_id,
               CAST(date_trunc('week', make_timestamp(s.c0)) AS DATE)
                   AS cohort_week,
               (epoch_us(e.ts) - s.c0) // 604800000000 AS week_offset
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE epoch_us(e.ts) >= s.c0
    )
    SELECT cohort_week, CAST(week_offset AS BIGINT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM a GROUP BY cohort_week, week_offset
    """,
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users bucketed by the week of their first
    signup; n_users counts how many of each cohort were active (any event)
    N whole weeks after their own signup instant.

    Determinism: all time arithmetic is INTEGER microseconds (unix_micros /
    epoch_us) with integer division — no double seconds, so week-boundary
    rows can't flip between engines.  Shape at scale: one per-user min, one
    equi-join on user_id, one distinct and one count — all shuffling on
    bounded keys; the distinct pre-shrinks rows to one per (user, offset)
    before the final count."""
    week_us = 7 * 24 * 3600 * 1_000_000
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("c0"))
    )
    active = (
        ev.join(s, "user_id")
        .filter(F.col("ts_us") >= F.col("c0"))
        .select(
            "user_id",
            F.date_trunc("week", F.timestamp_micros(F.col("c0")))
            .cast("date")
            .alias("cohort_week"),
            F.expr(f"(ts_us - c0) div {week_us}").alias("week_offset"),
        )
        .distinct()
    )
    return active.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    )


# --------------------------------------------------------------------------
# Event funnel
# --------------------------------------------------------------------------


@register(
    "q_funnel",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts >= v.t1
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= c.t2
        GROUP BY e.user_id
    )
    SELECT 1 AS stage_ord, 'view' AS stage,
           CAST(COUNT(*) AS BIGINT) AS n_users FROM v
    UNION ALL
    SELECT 2, 'click', CAST(COUNT(*) AS BIGINT) FROM c
    UNION ALL
    SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT) FROM p
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event funnel view → click → purchase: users counted at each
    stage only if the stage's first occurrence is at-or-after their first
    occurrence of the previous stage (strict in-order sequence matching).

    Shape at scale: three per-user min-aggregations chained by equi-joins on
    user_id — every stage shuffles on the SAME key (co-partitioning reused),
    and each stage's output is a strict subset of the previous, so the joins
    shrink monotonically.  No window over full event history is needed."""
    from ._util import persist_tracked

    ev = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    # Each stage relation feeds the next stage AND its own count row;
    # unpersisted, the chained references re-scanned events six times
    # (r11-opt scan-duplication audit).  The persisted relations are
    # user-dimension, monotonically shrinking sets.
    v = persist_tracked(
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = persist_tracked(
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def stage(df: DataFrame, ord_: int, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(ord_).alias("stage_ord"), F.lit(name).alias("stage"), "n_users"
        )

    return (
        stage(v, 1, "view")
        .unionByName(stage(c, 2, "click"))
        .unionByName(stage(p, 3, "purchase"))
    )


# --------------------------------------------------------------------------
# RFM customer segmentation (recency / frequency / monetary)
# --------------------------------------------------------------------------

_RFM_BUCKETS = 5


def _rfm_rank_two_phase(
    df: DataFrame, bucket: str, bucket_desc: bool, within: list, out: str
) -> DataFrame:
    """Global rank without a single-partition window (the
    q_curriculum_order pattern): per-bucket counts -> broadcast cumulative
    offsets over the BOUNDED bucket domain -> distributed within-bucket
    row_number.  Equals ROW_NUMBER() OVER (ORDER BY bucket [DESC],
    within...) because bucket boundaries totally order across buckets."""
    from pyspark.sql import Window

    counts = df.groupBy(bucket).agg(F.count(F.lit(1)).alias("_nb"))
    order = F.col(bucket).desc() if bucket_desc else F.col(bucket).asc()
    w_off = Window.orderBy(order).rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        bucket, F.coalesce(F.sum("_nb").over(w_off), F.lit(0)).alias("_off")
    )
    w_in = Window.partitionBy(bucket).orderBy(*within)
    return (
        df.join(F.broadcast(offsets), bucket)
        .withColumn(out, (F.col("_off") + F.row_number().over(w_in)).cast("long"))
        .drop("_off")
    )


@register(
    "q_customer_rfm",
    oracle=f"""
    WITH cust AS (
        SELECT o_custkey AS custkey,
               date_diff('day', CAST(max(o_orderdate) AS DATE),
                         (SELECT CAST(max(o_orderdate) AS DATE) FROM orders))
                 AS recency_days,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS monetary_dec
        FROM orders WHERE o_custkey IS NOT NULL
        GROUP BY o_custkey
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM cust),
    ranked AS (
        SELECT *,
            ROW_NUMBER() OVER (ORDER BY recency_days, custkey) AS r_rank,
            ROW_NUMBER() OVER (ORDER BY frequency DESC, custkey) AS f_rank,
            ROW_NUMBER() OVER (ORDER BY monetary_dec DESC, custkey) AS m_rank
        FROM cust
    )
    SELECT custkey, CAST(recency_days AS BIGINT) AS recency_days, frequency,
           CAST(monetary_dec AS DOUBLE) AS monetary,
           CAST(1 + ({_RFM_BUCKETS} * (r_rank - 1)) // n_total AS INTEGER)
             AS r_score,
           CAST(1 + ({_RFM_BUCKETS} * (f_rank - 1)) // n_total AS INTEGER)
             AS f_score,
           CAST(1 + ({_RFM_BUCKETS} * (m_rank - 1)) // n_total AS INTEGER)
             AS m_score,
           CAST(1 + ({_RFM_BUCKETS} * (r_rank - 1)) // n_total AS VARCHAR)
             || CAST(1 + ({_RFM_BUCKETS} * (f_rank - 1)) // n_total AS VARCHAR)
             || CAST(1 + ({_RFM_BUCKETS} * (m_rank - 1)) // n_total AS VARCHAR)
             AS rfm_segment
    FROM ranked CROSS JOIN n
    """,
    bench=True,  # the two-phase distributed-ranking family's bench
    # representative (r5 VERDICT item 6): three global rank-quintiles
    # computed without a single-partition window.
)
def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classic marketing-analytics report:
    per customer, days since last order (recency), order count
    (frequency), exact total spend (monetary), each scored 1..5 by
    rank-quintile (score = 1 + (5*(rank-1)) div n — pure integer
    arithmetic, so the oracle's ROW_NUMBER twin lands every customer in
    the identical bucket), concatenated into the '111'-style segment
    label campaign tooling keys on.  Score 1 = best (most recent / most
    frequent / biggest spender).

    Exactness: recency is an integer day difference against the corpus
    max date; monetary sums exact DECIMAL(12,2) casts AND the ranking
    orders by that exact decimal (never the double), with custkey
    tie-breaks everywhere; NULL custkeys are excluded by contract on both
    sides (the engines order NULLs differently).

    Scale shape: ONE combinable groupBy collapses the order fact stream
    to the customer-dimension relation; each of the three global ranks is
    the two-phase q_curriculum_order pattern — per-bucket counts,
    broadcast cumulative offsets over a BOUNDED bucket domain (distinct
    day counts / order counts / whole-dollar spend buckets), distributed
    within-bucket row_number — so NO single-partition window ever sees
    the customer relation.  Monetary buckets totally order across
    boundaries (floor(x) DESC then x DESC within), which makes the
    composition exactly the global ORDER BY."""
    from ._util import persist_tracked

    orders = t(spark, sf_dir, "orders").filter(F.col("o_custkey").isNotNull())
    # r11-opt: the corpus-max reference date is MAX over the per-customer
    # last dates, so it derives from the persisted customer aggregate —
    # the previous separate orders aggregate scanned the fact table twice.
    cust_base = persist_tracked(
        orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
            F.max(F.to_date("o_orderdate")).alias("_last_d"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias(
                "monetary_dec"
            ),
        )
    )
    ref = cust_base.agg(F.max("_last_d").alias("_ref_d"))
    cust = (
        cust_base.crossJoin(F.broadcast(ref))
        .withColumn(
            "recency_days", F.datediff("_ref_d", "_last_d").cast("long")
        )
        .drop("_ref_d", "_last_d")
    )
    n_df = F.broadcast(
        cust.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    )
    # Each ranking stage reads its input TWICE (the bucket-count branch and
    # the main join), so the chained stages re-ran every earlier stage's
    # window per reference — stage 1 executed 4x by stage 3 (r11-opt
    # finding).  Persisting the stage outputs (customer-dimension rows) pins
    # each window to exactly one execution.
    ranked = persist_tracked(
        _rfm_rank_two_phase(
            cust, "recency_days", False, [F.col("custkey")], "r_rank"
        )
    )
    ranked = persist_tracked(
        _rfm_rank_two_phase(
            ranked, "frequency", True, [F.col("custkey")], "f_rank"
        ).withColumn("_m_bucket", F.floor("monetary_dec").cast("long"))
    )
    ranked = _rfm_rank_two_phase(
        ranked,
        "_m_bucket",
        True,
        [F.col("monetary_dec").desc(), F.col("custkey")],
        "m_rank",
    ).drop("_m_bucket")
    scored = ranked.crossJoin(n_df)
    score = lambda rk: (  # noqa: E731
        F.lit(1)
        + F.expr(f"({_RFM_BUCKETS} * ({rk} - 1)) div n_total")
    ).cast("int")
    return scored.select(
        "custkey",
        "recency_days",
        "frequency",
        F.col("monetary_dec").cast("double").alias("monetary"),
        score("r_rank").alias("r_score"),
        score("f_rank").alias("f_score"),
        score("m_rank").alias("m_score"),
        F.concat(
            score("r_rank").cast("string"),
            score("f_rank").cast("string"),
            score("m_rank").cast("string"),
        ).alias("rfm_segment"),
    )


# --------------------------------------------------------------------------
# Market-basket co-purchase pairs (bounded self-join fan-out)
# --------------------------------------------------------------------------

_COPURCHASE_TOPK = 25


def _order_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order sorted distinct part basket — the shared first stage of
    every co-purchase graph operator (pairs, triangles, PMI, pagerank).
    ONE orderkey-keyed aggregation (collect_set partially aggregates
    map-side) replaces the previous `distinct + self-join on l_orderkey`,
    which scanned lineitem once per unpersisted subtree reference and paid
    the 2-column distinct exchange PLUS an orderkey re-shuffle on both join
    inputs (r11-opt)."""
    return (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey").isNotNull())
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )


def _basket_pairs(baskets: DataFrame, u: str = "u", v: str = "v") -> DataFrame:
    """Expand each sorted basket into its C(|basket|,2) ordered part pairs
    INSIDE the row — the same fan-out the self-join produced (TPC-H baskets
    hold <= ~7 distinct parts), with u < v guaranteed by the array sort and
    bit-identical per-pair multiplicities."""
    pair_structs = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.size(F.col("ps"))),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    return baskets.select(F.explode(pair_structs).alias("e")).select(
        F.col("e.u").alias(u), F.col("e.v").alias(v)
    )


@register(
    "q_copurchase_pairs",
    oracle=f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        WHERE l_partkey IS NOT NULL
    ),
    pairs AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM op a JOIN op b
          ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
    )
    SELECT p.p1, pa.p_name AS p1_name, p.p2, pb.p_name AS p2_name,
           p.n_orders
    FROM pairs p
    JOIN part pa ON pa.p_partkey = p.p1
    JOIN part pb ON pb.p_partkey = p.p2
    ORDER BY p.n_orders DESC, p.p1, p.p2
    LIMIT {_COPURCHASE_TOPK}
    """,
)
def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-purchase pairs — the recommender-feed primitive:
    the top-25 part pairs most often bought in the SAME order, with part
    names.  The classic frequent-itemset k=2 pass.

    Scale shape: the pair generation is a SELF-JOIN CO-PARTITIONED ON
    l_orderkey (never a global cross join): after the distinct
    (order, part) projection, both sides shuffle on the same orderkey, so
    pairs materialize inside each order's partition with fan-out bounded
    by the order's line count (TPC-H orders carry <= ~12 distinct parts
    -> <= 66 pairs per order, a CONSTANT per-row cost at any corpus
    size).  The pair counts are one map-side-combinable aggregate, names
    annotate via broadcast part joins AFTER the aggregate, and the top-k
    is a TakeOrderedAndProject heap — deterministic under the (count
    DESC, p1, p2) tie-break.  A pathological mega-order (hot basket)
    would quadratically fan out — the same skew class q_key_skew_profile
    exists to surveil; the TPC-H generator caps order size by
    construction."""
    pairs = (
        _basket_pairs(_order_baskets(spark, sf_dir), "p1", "p2")
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    part = t(spark, sf_dir, "part").select("p_partkey", "p_name")
    named = (
        pairs.join(
            F.broadcast(part.select(F.col("p_partkey").alias("p1"),
                                    F.col("p_name").alias("p1_name"))),
            "p1",
        )
        .join(
            F.broadcast(part.select(F.col("p_partkey").alias("p2"),
                                    F.col("p_name").alias("p2_name"))),
            "p2",
        )
    )
    return (
        named.orderBy(
            F.col("n_orders").desc(), F.col("p1"), F.col("p2")
        )
        .limit(_COPURCHASE_TOPK)
        .select("p1", "p1_name", "p2", "p2_name", "n_orders")
    )


_TRI_MIN_W = 2  # minimum co-purchase count for an affinity edge: the raw
                # pair graph is near-complete (avg degree ~115 at sf0.01 —
                # wedge count 3.8M, 41M at sf0.1), the >=2 graph keeps the
                # meaningful affinities at ~2-3k edges per test corpus.


@register(
    "q_copurchase_triangles",
    oracle=f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        WHERE l_partkey IS NOT NULL
    ),
    edges AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM op a JOIN op b
          ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= {_TRI_MIN_W}
    ),
    deg AS (
        SELECT x, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT u AS x FROM edges UNION ALL SELECT v AS x FROM edges
        ) GROUP BY x
    ),
    oriented AS (
        SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
               CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
        FROM edges e
        JOIN deg du ON du.x = e.u
        JOIN deg dv ON dv.x = e.v
    ),
    wedges AS (
        SELECT w1.s AS u, w1.t AS v, w2.t AS w
        FROM oriented w1
        JOIN oriented w2 ON w2.s = w1.s
        JOIN deg d1 ON d1.x = w1.t
        JOIN deg d2 ON d2.x = w2.t
        WHERE (d1.d, w1.t) < (d2.d, w2.t)
    ),
    counts AS (
        SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_vertices,
               CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
               CAST((SELECT COUNT(*) FROM wedges) AS BIGINT) AS n_wedges,
               CAST((SELECT COUNT(*) FROM wedges
                     JOIN oriented o ON o.s = wedges.v AND o.t = wedges.w)
                    AS BIGINT) AS n_triangles
    )
    SELECT n_vertices, n_edges, n_wedges, n_triangles,
           CASE WHEN n_wedges = 0 THEN 0.0
                ELSE CAST(n_triangles AS DOUBLE) / n_wedges END
             AS closure_rate
    FROM counts
    """,
)
def q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle count over the part-affinity graph — the graph
    primitive behind "customers who bought X and Y also bought Z": vertices
    are parts, edges are pairs co-purchased in >= 2 orders, and each
    triangle is a 3-clique of mutual affinity; closure_rate (triangles per
    examined wedge) is the graph's clustering signal.

    The algorithm is the MapReduce-classic DEGREE-ORDERED orientation
    (Suri & Vassilvitskii): every edge points from its (degree, id)-smaller
    endpoint to the larger, so each triangle is counted EXACTLY ONCE (at
    its smallest-degree vertex) and — the scale property — every vertex's
    OUT-degree is bounded by O(sqrt(m)) regardless of its raw degree, so
    the wedge fan-out sum(C(outdeg, 2)) never explodes on hub vertices.
    The naive formulation (wedges at raw-degree centers) is exactly what
    this avoids: a celebrity vertex with degree 1e6 would alone contribute
    5e11 wedges.

    Exactness: all counts are integers; the single closure_rate division
    is one IEEE op on identical BIGINTs, CASE-guarded for the empty-wedge
    corpus (sf0.1's >= 2 graph is nearly a matching — 44 wedges, 1
    triangle — which is itself the honest signal that uniform synthetic
    baskets carry little affinity structure).

    Scale shape: the edge list comes from the same order-co-partitioned
    bounded self-join as q_copurchase_pairs; degrees are one metadata
    aggregate (vertex domain = the part dimension, broadcast-sized);
    orientation is two broadcast joins; the wedge self-join co-partitions
    on the center vertex; the closure join shuffles on the composite
    (v, w) edge key.  Every relation after the first aggregate is
    edge/wedge-sized metadata, never the raw fact table."""
    from ._util import persist_tracked, persisted_scope

    # The returned frame is a literal report row, so every intermediate
    # persist is released before returning (persisted_scope) — unlike
    # builders whose RESULT plans reference their cached relations.
    with persisted_scope():
        edges = persist_tracked(
            _basket_pairs(_order_baskets(spark, sf_dir))
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("w"))
            .filter(F.col("w") >= _TRI_MIN_W)
            .select("u", "v")
        )
        deg = persist_tracked(
            edges.select(F.col("u").alias("x"))
            .unionAll(edges.select(F.col("v").alias("x")))
            .groupBy("x")
            .agg(F.count(F.lit(1)).cast("long").alias("d"))
        )
        du = F.broadcast(
            deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
        )
        dv = F.broadcast(
            deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
        )
        u_first = (
            F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
        )
        oriented = persist_tracked(
            edges.join(du, "u")
            .join(dv, "v")
            .select(
                F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
                F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
            )
        )
        w1 = oriented.select("s", F.col("t").alias("v"))
        w2 = oriented.select("s", F.col("t").alias("w"))
        d1 = F.broadcast(
            deg.select(F.col("x").alias("v"), F.col("d").alias("d1"))
        )
        d2 = F.broadcast(
            deg.select(F.col("x").alias("w"), F.col("d").alias("d2"))
        )
        wedges = persist_tracked(
            w1.join(w2, "s")
            .join(d1, "v")
            .join(d2, "w")
            .filter(
                F.struct(F.col("d1"), F.col("v"))
                < F.struct(F.col("d2"), F.col("w"))
            )
            .select("s", "v", "w")
        )
        closing_edge = oriented.select(
            F.col("s").alias("cs"), F.col("t").alias("ct")
        )
        closures = wedges.join(
            closing_edge,
            (F.col("v") == F.col("cs")) & (F.col("w") == F.col("ct")),
        )
        n_vertices = deg.count()
        n_edges = edges.count()
        n_wedges = wedges.count()
        n_triangles = closures.count()
    rate = 0.0 if n_wedges == 0 else n_triangles / n_wedges
    return spark.createDataFrame(
        [(n_vertices, n_edges, n_wedges, n_triangles, rate)],
        "n_vertices long, n_edges long, n_wedges long, n_triangles long, "
        "closure_rate double",
    )


# --------------------------------------------------------------------------
# PageRank over the part-affinity graph (fixed-iteration, integer-quantized)
# --------------------------------------------------------------------------

_PR_SCALE = 10**12  # rank mass carried as BIGINT micromillionths
_PR_ITERS = 3       # fixed Lloyd-style unroll: deterministic, oracle-twinnable
_PR_TOPK = 20
# Same >=2-weight affinity-edge floor as q_copurchase_triangles (defined
# above in this module) — shared so the two graph operators read one graph.
_TRI_MIN_W_REF = _TRI_MIN_W


def _pagerank_oracle() -> str:
    blocks = []
    prev = "r0"
    for k in range(1, _PR_ITERS + 1):
        blocks.append(f""",
    s{k} AS (
        SELECT e.v AS x, CAST(SUM(r.r // r.d) AS BIGINT) AS s
        FROM dir e JOIN {prev} r ON r.x = e.u
        GROUP BY e.v
    ),
    r{k} AS (
        SELECT s{k}.x,
               CAST((15 * ({_PR_SCALE} // c.n)) // 100
                    + (85 * s{k}.s) // 100 AS BIGINT) AS r,
               deg.d
        FROM s{k} CROSS JOIN c JOIN deg ON deg.x = s{k}.x
    )""")
        prev = f"r{k}"
    return f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        WHERE l_partkey IS NOT NULL
    ),
    edges AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM op a JOIN op b
          ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= {_TRI_MIN_W_REF}
    ),
    dir AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
    deg AS (SELECT u AS x, CAST(COUNT(*) AS BIGINT) AS d FROM dir GROUP BY u),
    c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
    r0 AS (
        SELECT deg.x, CAST({_PR_SCALE} // c.n AS BIGINT) AS r, deg.d
        FROM deg CROSS JOIN c
    ){''.join(blocks)}
    SELECT p.p_partkey, p.p_name, deg.d AS degree,
           {prev}.r AS rank_q,
           CAST({prev}.r AS DOUBLE) / {float(_PR_SCALE)} AS pagerank
    FROM {prev}
    JOIN deg ON deg.x = {prev}.x
    JOIN part p ON p.p_partkey = {prev}.x
    ORDER BY {prev}.r DESC, p.p_partkey
    LIMIT {_PR_TOPK}
    """


@register(
    "q_part_pagerank",
    oracle=_pagerank_oracle(),
    bench=True,  # the iterative-graph family's bench representative
)
def q_part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part-affinity graph — the iterative-graph-algorithm
    family member beyond connected components (dedup_clusters) and triangle
    counting (q_copurchase_triangles): ranks parts by affinity centrality in
    the >= 2-weight co-purchase graph (damping 0.85, 3 fixed iterations),
    returning the top-20 hub parts.  The recommender's "authority item"
    signal, and the engine's demonstration that fixed-point iteration is a
    registered, oracle-verified shape.

    Integer quantization (the cross-engine exactness doctrine): rank mass is
    a BIGINT in units of 1e-12 — r0 = SCALE div n, each contribution is
    r div deg(src) (integer division), and the damped update is
    (15*(SCALE div n)) div 100 + (85*sum) div 100.  Every operation is
    associative-integer, so Spark's partial aggregation and DuckDB's
    single-node sum agree bit-for-bit; the one double (`pagerank`) is a
    single IEEE division of identical BIGINTs by a constant.  The ~1e-12
    mass lost to division flooring per step is deterministic on both
    engines — quantization error, identically realized.

    Scale shape: the edge list is the same order-co-partitioned bounded
    self-join as q_copurchase_pairs; the symmetric edge relation and the
    degree relation are built once and persisted (persist_tracked — the
    caller's persisted_scope releases them).  Each iteration is ONE shuffle:
    contributions flow src->dst along the persisted edge relation
    (map-side-combinable SUM keyed on dst); the degree reattach and the
    vertex count are broadcast joins of vertex-dimension metadata (the part
    domain).  Fixed iteration count keeps the lineage bounded; a production
    loop at 100 TB would localCheckpoint each iteration to truncate lineage
    and let AQE re-plan per step — noted here because the 3-deep unrolled
    plan is the honest small-N twin of that loop, not a different algorithm.
    Dangling mass: none by construction — the symmetric graph gives every
    vertex degree >= 1."""
    from ._util import persist_tracked

    # Pair generation via the shared basket shape (r11-opt; see
    # _order_baskets / _basket_pairs): one orderkey-keyed aggregation
    # instead of the distinct + self-join, bit-identical pair counts.
    edges = (
        _basket_pairs(_order_baskets(spark, sf_dir))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _TRI_MIN_W_REF)
        .select("u", "v")
    )
    # Both orientations exploded from ONE reference to the edge pipeline —
    # the previous unionAll(edges, edges.reversed) evaluated the unpersisted
    # basket+pair+aggregate subtree twice at materialization (r11-opt).
    # Row-for-row identical to the union (order never matters downstream:
    # dirn feeds joins and aggregates only).
    dirn = persist_tracked(
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("u"), F.col("v")),
                    F.struct(
                        F.col("v").alias("u"), F.col("u").alias("v")
                    ),
                )
            ).alias("e")
        ).select("e.u", "e.v")
    )
    deg = persist_tracked(
        dirn.groupBy(F.col("u").alias("x")).agg(
            F.count(F.lit(1)).cast("long").alias("d")
        )
    )
    # Vertex count collected ONCE (deg is persisted; this also materializes
    # it for the loop below).  Python // == SQL div on non-negative ints, so
    # r0 and the damped base are the same BIGINTs the oracle computes — the
    # r11-opt rewrite of the earlier 1-row-aggregate crossJoins, which
    # re-planned the count subtree at every reference.  n=0 (no >=2-weight
    # edges) leaves every relation empty, so the guard value never surfaces.
    n = deg.count() or 1
    r0 = _PR_SCALE // n
    damp_base = (15 * r0) // 100
    rank = deg.select("x", F.lit(r0).cast("long").alias("r"), "d")
    deg_b = F.broadcast(deg)
    for _ in range(_PR_ITERS):
        # The rank-side join strategy is deliberately left to AQE: rank is
        # vertex-dimension metadata, and at runtime AQE converts the static
        # sort-merge into a broadcast per iteration (EXPLAINS.md's AQE
        # section).  A STATIC F.broadcast(rank) hint was tried in r11-opt
        # and measured 40% SLOWER (5.11 s vs 3.63 s interleaved min-of-5):
        # each hinted BroadcastExchange builds the whole prior-iteration
        # chain as its own blocking job, where the AQE path reuses the
        # previous iteration's shuffle output.
        contrib = rank.join(dirn, rank["x"] == dirn["u"]).select(
            F.col("v").alias("x"), F.expr("r div d").alias("c")
        )
        summed = contrib.groupBy("x").agg(F.sum("c").cast("long").alias("s"))
        rank = summed.select(
            "x",
            (F.lit(damp_base).cast("long") + F.expr("(85 * s) div 100"))
            .cast("long")
            .alias("r"),
        ).join(deg_b, "x")
    part = F.broadcast(
        t(spark, sf_dir, "part").select("p_partkey", "p_name")
    )
    return (
        rank.join(part, rank["x"] == part["p_partkey"])
        .select(
            "p_partkey",
            "p_name",
            F.col("d").alias("degree"),
            F.col("r").alias("rank_q"),
            (F.col("r").cast("double") / float(_PR_SCALE)).alias("pagerank"),
        )
        .orderBy(F.col("rank_q").desc(), F.col("p_partkey"))
        .limit(_PR_TOPK)
    )


# --------------------------------------------------------------------------
# Item-to-item PMI similarity (co-purchase lexicon)
# --------------------------------------------------------------------------

_PMI_SCALE = 1000  # milli-units of the cleared-denominator PMI ratio
_PMI_MIN_PAIRS = 2  # minimum co-purchase support
_PMI_TOPK = 50


@register(
    "q_item_pmi_similarity",
    oracle=f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey
        FROM lineitem WHERE l_partkey IS NOT NULL
    ),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM op),
    cp AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c
           FROM op GROUP BY l_partkey),
    pairs AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2,
               CAST(COUNT(*) AS BIGINT) AS c_ab
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    )
    SELECT p.p1, p.p2, p.c_ab, ca.c AS c_a, cb.c AS c_b,
           CAST((p.c_ab * n.n_orders * {_PMI_SCALE}) // (ca.c * cb.c)
                AS BIGINT) AS pmi_scaled
    FROM pairs p
    JOIN cp ca ON ca.l_partkey = p.p1
    JOIN cp cb ON cb.l_partkey = p.p2
    CROSS JOIN n
    WHERE p.c_ab >= {_PMI_MIN_PAIRS}
      AND (p.c_ab * n.n_orders * {_PMI_SCALE}) // (ca.c * cb.c)
          > {_PMI_SCALE}
    ORDER BY pmi_scaled DESC, p1, p2
    LIMIT {_PMI_TOPK}
    """,
)
def q_item_pmi_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-to-item pointwise-mutual-information similarity over the
    co-purchase graph — the item2vec-era association lexicon (Church &
    Hanks 1990 PMI, applied to baskets): for part pairs bought in the
    same order at least twice, score lift = P(a,b)/(P(a)P(b)) and keep
    the top-{_PMI_TOPK} positively-associated pairs.  The text twin is
    q_collocations; this is the same doctrine on the transaction graph.

    Exactness: the lift ratio is never computed in floats — the score is
    the cleared-denominator integer ``(c_ab * N * {_PMI_SCALE}) div
    (c_a * c_b)`` (floor division on positive operands, where both
    engines agree), the PMI>0 gate compares that integer to
    {_PMI_SCALE}, and the top-k order (score DESC, p1, p2) is total, so
    the LIMIT set is identical on both engines.  Overflow bound:
    c_ab * N * {_PMI_SCALE} needs c_ab * N < 9.2e15 — at 1.5e9 orders
    (100 TB TPC-H) that caps c_ab at ~6e6 co-purchases per pair; beyond
    that, widen to DECIMAL(38,0) (same note as q_daily_autocorr).

    Scale shape: pair generation is the q_copurchase_pairs co-partitioned
    self-join on l_orderkey (per-order fan-out is bounded by basket
    size, a constant); the support-filtered, aggregated pair relation is
    then annotated by two joins against the per-part counts — the count
    relation is SF-proportional (|parts| grows with the catalog), so no
    broadcast hint is forced: AQE picks broadcast at bench scale and a
    shuffle join when the catalog outgrows the threshold — plus the
    1-row N broadcast; the final top-k is a TakeOrderedAndProject heap.
    No all-pairs stage anywhere."""
    from ._util import persist_tracked

    # The basket relation feeds three subtrees (the order count, the
    # per-part counts, and the pair expansion) — persist it so the one
    # orderkey shuffle runs once (r11-opt; consumers release via
    # persisted_scope, the standing contract).
    baskets = persist_tracked(_order_baskets(spark, sf_dir))
    n = baskets.agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    cp = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    pairs = (
        _basket_pairs(baskets, "p1", "p2")
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
        .filter(F.col("c_ab") >= _PMI_MIN_PAIRS)
    )
    scored = (
        pairs.join(
            cp.select(F.col("l_partkey").alias("p1"),
                      F.col("c").alias("c_a")),
            "p1",
        )
        .join(
            cp.select(F.col("l_partkey").alias("p2"),
                      F.col("c").alias("c_b")),
            "p2",
        )
        .crossJoin(F.broadcast(n))
        .withColumn(
            "pmi_scaled",
            F.expr(
                f"(c_ab * n_orders * {_PMI_SCALE}) div (c_a * c_b)"
            ).cast("long"),
        )
        .filter(F.col("pmi_scaled") > _PMI_SCALE)
    )
    return (
        scored.select("p1", "p2", "c_ab", "c_a", "c_b", "pmi_scaled")
        .orderBy(F.desc("pmi_scaled"), "p1", "p2")
        .limit(_PMI_TOPK)
    )


# --------------------------------------------------------------------------
# Pairwise column-correlation matrix (the multi-column CBO statistic)
# --------------------------------------------------------------------------
#
# q_table_stats_profile carries the per-column ANALYZE statistics; join
# selectivity mis-estimates, though, come from CROSS-column dependence,
# which is why engines grew multi-column stats (Spark CBO column groups,
# DuckDB/Postgres extended statistics).  This spec is that report: the
# full Pearson correlation matrix over lineitem's four numeric measures,
# from ONE map-combinable pass accumulating exact decimal sums (n, the 4
# sums, the 4 sums of squares, the 6 cross sums = 15 numbers total, the
# q_regr_stats doctrine applied to all pairs at once).

_CORR_COLS = (
    ("l_quantity", "DECIMAL(10,0)"),
    ("l_extendedprice", "DECIMAL(14,2)"),
    ("l_discount", "DECIMAL(12,2)"),
    ("l_tax", "DECIMAL(12,2)"),
)


def _corr_matrix_oracle() -> str:
    sums = ["CAST(COUNT(*) AS BIGINT) AS n_rows",
            "CAST(COUNT(*) AS DOUBLE) AS n"]
    for name, dec in _CORR_COLS:
        sums.append(f"CAST(SUM(CAST({name} AS {dec})) AS DOUBLE) AS s_{name}")
        sums.append(
            f"CAST(SUM(CAST({name} AS {dec}) * CAST({name} AS {dec}))"
            f" AS DOUBLE) AS ss_{name}"
        )
    arms = []
    for i, (a, da) in enumerate(_CORR_COLS):
        for b, db in _CORR_COLS[i + 1:]:
            sums.append(
                f"CAST(SUM(CAST({a} AS {da}) * CAST({b} AS {db}))"
                f" AS DOUBLE) AS sx_{a}_{b}"
            )
            arms.append(f"""
        SELECT '{a}' AS col_x, '{b}' AS col_y, n_rows,
               round((n * sx_{a}_{b} - s_{a} * s_{b}) / n / n, 9) AS cov_pop,
               round((n * sx_{a}_{b} - s_{a} * s_{b})
                 / sqrt((n * ss_{a} - s_{a} * s_{a})
                        * (n * ss_{b} - s_{b} * s_{b})), 9) AS corr
        FROM s""")
    return f"""
    WITH s AS (
        SELECT {', '.join(sums)} FROM lineitem
    )
    {' UNION ALL '.join(arms)}
    """


@register(
    "q_column_correlation_matrix",
    oracle=_corr_matrix_oracle(),
)
def q_column_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation + population covariance over the four
    lineitem numeric measures (see block comment): the cross-column
    dependence report a cost-based optimizer's multi-column statistics
    need, and a feature-redundancy screen for ML feature sets.

    Exactness: all 15 accumulated moments are exact DECIMAL sums (the
    q_regr_stats doctrine — associative, partition-order-independent).
    The reported corr/cov are rounded to 9 decimals on BOTH engines
    because one moment here exceeds 17 significant digits at sf0.1
    (ss_extendedprice ~ 2.2e15 at scale 4) and DuckDB's DECIMAL->DOUBLE
    cast double-rounds (int128 -> double, then / 10^scale) where Spark
    rounds once — a 1-ulp divergence in the 17th digit that the identical
    round() collapses; the statistics themselves shift by ~1e-16
    relative, far inside the rounding (Class B reported values, nothing
    thresholded).

    Shape: ONE full-scan aggregate producing 15 numbers — map-side
    combine does all the work, the 6 output rows are arithmetic over a
    broadcast 1-row relation.  At 100 TB this is a single pass over the
    column group regardless of pair count (d columns = d(d-1)/2 pairs
    but still one scan, 2d + C(d,2) + 1 accumulators)."""
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("double").alias("n"),
    ]
    dec = {name: F.col(name).cast(d.lower()) for name, d in _CORR_COLS}
    for name, _ in _CORR_COLS:
        aggs.append(F.sum(dec[name]).cast("double").alias(f"s_{name}"))
        aggs.append(
            F.sum(dec[name] * dec[name]).cast("double").alias(f"ss_{name}")
        )
    pairs = []
    for i, (a, _) in enumerate(_CORR_COLS):
        for b, _ in _CORR_COLS[i + 1:]:
            pairs.append((a, b))
            aggs.append(
                F.sum(dec[a] * dec[b]).cast("double").alias(f"sx_{a}_{b}")
            )
    s = t(spark, sf_dir, "lineitem").agg(*aggs)
    # r11-opt: the 6 pair rows explode from ONE reference to the 1-row
    # moment aggregate — the per-pair unionByName re-ran the full-scan
    # aggregate once per pair (6 scans -> 1; identical rows).
    n = F.col("n")
    pair_structs = []
    for a, b in pairs:
        sa, sb = F.col(f"s_{a}"), F.col(f"s_{b}")
        ssa, ssb = F.col(f"ss_{a}"), F.col(f"ss_{b}")
        sxy = F.col(f"sx_{a}_{b}")
        pair_structs.append(
            F.struct(
                F.lit(a).alias("col_x"),
                F.lit(b).alias("col_y"),
                F.col("n_rows").alias("n_rows"),
                F.round((n * sxy - sa * sb) / n / n, 9).alias("cov_pop"),
                F.round(
                    (n * sxy - sa * sb)
                    / F.sqrt((n * ssa - sa * sa) * (n * ssb - sb * sb)),
                    9,
                ).alias("corr"),
            )
        )
    return s.select(F.explode(F.array(*pair_structs)).alias("e")).select(
        "e.col_x", "e.col_y", "e.n_rows", "e.cov_pop", "e.corr"
    )
