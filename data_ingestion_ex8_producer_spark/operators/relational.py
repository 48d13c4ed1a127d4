"""Core relational operator surface: scan/filter/project, joins of every
flavor, aggregations (incl. distinct / rollup / cube / grouping sets), sorts,
top-k, and set operations.

The reference has NO relational operators beyond projection (SURVEY.md §2.2);
this module is the analytics surface mandated by the build contract, expressed
purely with built-in DataFrame ops so Catalyst supplies pushdown, pruning,
join selection and AQE for free.

Scale notes (100 TB posture):
* ``region``/``nation`` are fixed-cardinality dims — always broadcast.
* Fact-fact joins (lineitem x orders) are equi-joins on their natural keys;
  sort-merge with AQE skew handling is the right physical plan at scale, and
  we leave Catalyst free to pick broadcast when a side is small at runtime.
* Aggregations use partial (map-side) aggregation automatically; sums are
  decimal-exact (see operators/_util.py) which also avoids double-rounding
  drift between partial and final aggregation at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ._util import (
    SQL_CHARGE_DEC,
    SQL_REVENUE_DEC,
    charge_dec,
    davg,
    dec4,
    dsum,
    revenue_dec,
    sql_davg,
    sql_dec4,
    sql_dsum,
    spread,
    t,
)

# --------------------------------------------------------------------------
# Scan / filter / project
# --------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 'sum_qty')},
           {sql_dsum('l_extendedprice', 'sum_base_price')},
           CAST(SUM({SQL_REVENUE_DEC}) AS DOUBLE) AS sum_disc_price,
           CAST(SUM({SQL_CHARGE_DEC}) AS DOUBLE) AS sum_charge,
           {sql_davg('l_quantity', 'avg_qty')},
           {sql_davg('l_extendedprice', 'avg_price')},
           {sql_davg('l_discount', 'avg_disc')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    bench=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: filter + hash agg with 8 aggregates.

    Flagship: exercises scan pushdown (shipdate predicate reaches parquet),
    map-side partial aggregation, and whole-stage codegen in one query.
    """
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            F.sum(revenue_dec()).cast("double").alias("sum_disc_price"),
            F.sum(charge_dec()).cast("double").alias("sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q_filter_project",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity,
           l_extendedprice * (1 - l_discount) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND l_discount > 0.05
      AND l_quantity < 10
    """,
)
def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective filter + narrow projection; predicate + column pruning reach
    the parquet scan (PushedFilters/ReadSchema in .explain).  Per-row double
    product is IEEE-identical across engines, so no rounding is needed."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
            & (F.col("l_discount") > 0.05)
            & (F.col("l_quantity") < 10)
        )
        .select(
            "l_orderkey",
            "l_partkey",
            "l_quantity",
            (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias("revenue"),
        )
    )


@register(
    "q_top_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)
def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: orderBy + limit compiles to TakeOrderedAndProject (per-
    partition heap + driver merge; no full sort/shuffle of the fact table).
    o_orderkey tiebreak makes the result set deterministic."""
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
    )


# --------------------------------------------------------------------------
# Joins
# --------------------------------------------------------------------------


@register(
    "q_revenue_by_nation",
    oracle=f"""
    SELECT n.n_name,
           CAST(SUM({SQL_REVENUE_DEC}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
    bench=True,
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way join fact->dim chain with an explicit broadcast of the
    fixed-cardinality dims (nation: 25 rows at every SF).  lineitem x orders
    stays a shuffle join on the order key — correct at 100 TB, where both
    sides are large; AQE converts to broadcast when a side turns out small.

    The unfiltered fact side is spread() first: with every dim broadcast and
    no shuffle below the agg, a single-row-group parquet file would
    otherwise push all 600k probe+agg rows through ONE task (benched 1.8s ->
    1.1s at sf0.1); on a multi-split source the spread is a no-op."""
    li = spread(t(spark, sf_dir, "lineitem"), spark)
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    nation = F.broadcast(t(spark, sf_dir, "nation"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(revenue_dec()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("n_name")
    )


@register(
    "q_customer_order_stats",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           COUNT(o.o_orderkey) AS order_count,
           CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(12,4))), 0) AS DOUBLE) AS total_spent,
           MAX(o.o_totalprice) AS max_order
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def q_customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join + aggregate; COUNT(col) counts only matched rows, and
    customers with no orders survive with zeroed/NULL aggregates."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("order_count"),
            F.coalesce(F.sum(dec4("o_totalprice")), F.lit(0).cast("decimal(12,4)"))
            .cast("double")
            .alias("total_spent"),
            F.max("o_totalprice").alias("max_order"),
        )
    )


@register(
    "q_semi_join",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers with at least one finished order.  Semi join
    never duplicates the left side and only ships the join key of the right."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


@register(
    "q_anti_join",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    """,
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no in-progress ('P') order."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "q_range_join",
    oracle=f"""
    SELECT p.p_brand,
           COUNT(*) AS n_matches,
           {sql_dsum('l.l_quantity', 'sum_qty')}
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
              AND l.l_quantity BETWEEN p.p_size - 2 AND p.p_size + 2
    GROUP BY p.p_brand
    ORDER BY p.p_brand
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range (non-equi) join condition: the equi key carries the
    shuffle/broadcast placement, the range predicate is evaluated as a
    post-join filter — the plan shape that scales (never a pure theta-join)."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    cond = (
        (li.l_partkey == part.p_partkey)
        & (li.l_quantity >= part.p_size - 2)
        & (li.l_quantity <= part.p_size + 2)
    )
    return (
        li.join(part, cond)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_matches"), dsum("l_quantity", "sum_qty"))
        .orderBy("p_brand")
    )


@register(
    "q_cross_join",
    oracle="""
    SELECT r.r_name, s.o_orderstatus
    FROM region r
    CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
)
def q_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join of two tiny relations (5 regions x |status| enum) — the only
    acceptable cross join shape at scale: both sides bounded and broadcastable."""
    region = t(spark, sf_dir, "region").select("r_name")
    statuses = t(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return region.crossJoin(F.broadcast(statuses))


@register(
    "q5_region_revenue",
    oracle=f"""
    SELECT n.n_name,
           CAST(SUM({SQL_REVENUE_DEC}) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('AMERICA', 'ASIA')
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name
    """,
    bench=True,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 6-way join (local-supplier revenue by nation), with the
    region filter applied before the join so partition pruning / broadcast of
    the reduced dim chain happens first."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    nation = F.broadcast(t(spark, sf_dir, "nation"))
    region = F.broadcast(
        t(spark, sf_dir, "region").filter(F.col("r_name").isin("AMERICA", "ASIA"))
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(revenue_dec()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


# --------------------------------------------------------------------------
# Aggregations
# --------------------------------------------------------------------------


@register(
    "q_agg_distinct",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_customers,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE) AS total
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    bench=True,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash aggregate with a distinct aggregate alongside plain ones (expand +
    two-phase aggregation in the physical plan)."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            dsum("o_totalprice", "total"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "q_approx_distinct",
    oracle=None,  # HLL sketch result is engine-specific; driver rows-only check
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): the scale path for distinct
    counts — one pass, no expand, fixed-size sketch mergeable across
    partitions.  No SQL oracle: sketch estimates are engine-specific."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
            F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 'sum_qty')},
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (flag, flag+status, grand total) in one pass
    via Expand; grouping columns have no natural NULLs here so the NULL
    subtotal markers are unambiguous."""
    return (
        t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity", "sum_qty"), F.count(F.lit(1)).alias("n_rows"))
    )


@register(
    "q_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two low-cardinality dimensions — all 4 grouping sets."""
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "total"))
    )


@register(
    "q_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_extendedprice', 'sum_price')}
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (two disjoint single-column sets) via Spark SQL."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) AS sum_price
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------


@register(
    "q_union_all",
    oracle="""
    SELECT c_custkey, c_mktsegment AS segment FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT c_custkey, c_mktsegment AS segment FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    """,
)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag semantics) — a no-shuffle concatenation of partitions."""
    cust = t(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    b = cust.filter(F.col("c_mktsegment") == "AUTOMOBILE").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    return a.unionByName(b)


@register(
    "q_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (set semantics): customers holding both finished and open
    orders — planned as an aggregate + semi join."""
    orders = t(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersect(o)


@register(
    "q_except",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set semantics): machinery-segment customers with no urgent
    orders — planned as distinct + anti join."""
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "MACHINERY").select(
        "c_custkey"
    )
    urgent = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return cust.subtract(urgent)


@register(
    "q_argminmax",
    oracle="""
    SELECT o_orderstatus,
           arg_min(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) * 100000000
                               + o_orderkey) AS cheapest_order,
           arg_max(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) * 100000000
                               + o_orderkey) AS priciest_order,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by / max_by (argmin/argmax aggregates) over a deterministic
    surrogate ordering key: price ties are broken by order key, encoded as
    one exact BIGINT (2-decimal price * 100 shifted + key stays < 2^53,
    so both engines see identical integers)."""
    surrogate = (
        F.round(F.col("o_totalprice") * 100).cast("long") * F.lit(100000000)
        + F.col("o_orderkey")
    )
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.min_by("o_orderkey", surrogate).alias("cheapest_order"),
            F.max_by("o_orderkey", surrogate).alias("priciest_order"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .orderBy("o_orderstatus")
    )
