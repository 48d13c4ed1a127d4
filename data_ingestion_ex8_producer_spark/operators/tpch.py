"""The remaining TPC-H query shapes expressible over the testdata star schema
(Q4, Q6, Q7, Q8, Q13, Q14, Q15, Q17, Q18, Q19, Q21, Q22 — joining
Q1/Q3/Q5/Q10 in `relational.py`/`advanced.py`).  The testdata schema is a
reduced TPC-H: no ``partsupp`` (rules out Q2/Q9/Q11/Q16/Q20 entirely), no
``l_commitdate``/``l_receiptdate``/``l_shipmode`` (rules out Q12; Q4/Q21's
lateness tests are re-expressed with ``l_shipdate``), and some narrow
columns are absent (``p_container``, ``c_phone``), so Q4/Q17/Q19/Q21/Q22
keep their canonical PLAN SHAPE with adapted predicates — each docstring
states the adaptation.

The reference has no query surface at all (SURVEY.md §2.2); this module
exists so a user of a TPC-H-class engine can run the canonical decision-
support workload unchanged.

Scale notes (100 TB posture):

* Q6/Q14/Q19 are scan-dominated: every predicate is sargable and reaches the
  parquet reader (PushedFilters), aggregation is a map-side partial over the
  surviving rows — zero shuffle beyond the final single-row combine.
* Q7/Q8 are the multi-join volume queries: dims (nation/region/supplier/
  part) broadcast; the lineitem-orders fact-fact join shuffles on orderkey
  with AQE skew splitting.
* Q13 right-shuffles orders once on custkey; the distribution agg is tiny.
* Q15/Q17/Q18 contain an agg-then-join-back: the aggregate side is orders of
  magnitude smaller than the fact table, so Catalyst broadcasts it; the
  fact table is never shuffled twice.
* Q22 is an anti-join (customers with no orders) — shuffled hash anti join
  on custkey, plus a one-row scalar broadcast for the average balance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ._util import (
    SQL_REVENUE_DEC,
    dec4,
    dsum,
    revenue_dec,
    sql_dec4,
    sql_dsum,
    t,
)

# --------------------------------------------------------------------------
# Q6 — forecasting revenue change
# --------------------------------------------------------------------------


@register(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT CAST(SUM(CAST({sql_dec4('l_extendedprice')} * {sql_dec4('l_discount')}
                    AS DECIMAL(20,4))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-aggregate.  All four predicates push to the
    parquet scan; the single global sum is a map-side partial + one-row
    combine — the cheapest possible plan at any scale."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                (dec4("l_extendedprice") * dec4("l_discount")).cast("decimal(20,4)")
            )
            .cast("double")
            .alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# Q7 — volume shipping between two nations
# --------------------------------------------------------------------------


@register(
    "q7_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               EXTRACT(YEAR FROM l_shipdate) AS l_year,
               {SQL_REVENUE_DEC} AS volume
        FROM supplier s
        JOIN lineitem l ON s_suppkey = l_suppkey
        JOIN orders o ON o_orderkey = l_orderkey
        JOIN customer c ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                             AND TIMESTAMP '1996-12-31 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: six-table join with a disjunctive cross-nation predicate,
    grouped by shipping year.  Both nation dims broadcast; the disjunction is
    applied AFTER the joins (it references both sides), but each nation
    broadcast-join already prunes to the two relevant nations via Catalyst's
    OR-derived IN (n_name IN ('NATION_1','NATION_2')) constraint."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    rpair = (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    return (
        s.join(li, s.s_suppkey == li.l_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            (pair | rpair)
            & F.col("l_shipdate").between(
                F.lit("1995-01-01").cast("timestamp"),
                F.lit("1996-12-31").cast("timestamp"),
            )
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(revenue_dec()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------
# Q8 — national market share
# --------------------------------------------------------------------------


@register(
    "q8_market_share",
    oracle=f"""
    SELECT o_year,
           CAST(CAST(SUM(CASE WHEN nation = 'NATION_1' THEN volume
                              ELSE CAST(0 AS DECIMAL(20,4)) END) AS DOUBLE)
                / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
    FROM (
        SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
               {SQL_REVENUE_DEC} AS volume,
               n2.n_name AS nation
        FROM part p
        JOIN lineitem l ON p_partkey = l_partkey
        JOIN supplier s ON s_suppkey = l_suppkey
        JOIN orders o ON l_orderkey = o_orderkey
        JOIN customer c ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region r ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA'
          AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                              AND TIMESTAMP '1996-12-31 00:00:00'
          AND p_type = 'PROMO'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: eight-table join computing NATION_1's share of PROMO-part
    revenue sold into ASIA per order year.  (p_type = 'PROMO' stands in for
    the spec's 'ECONOMY ANODIZED STEEL' — this schema's p_type is single-
    word.)  Every dim broadcasts; the share is a ratio of two exact decimal
    sums, divided in double only at the end so both engines agree bitwise."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    p = t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation")
    )
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    zero = F.lit(0).cast("decimal(20,4)")
    return (
        F.broadcast(p)
        .join(li, p.p_partkey == li.l_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == F.col("r_regionkey"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .filter(
            F.col("o_orderdate").between(
                F.lit("1995-01-01").cast("timestamp"),
                F.lit("1996-12-31").cast("timestamp"),
            )
        )
        .select(
            F.year("o_orderdate").alias("o_year"),
            revenue_dec().alias("volume"),
            "nation",
        )
        .groupBy("o_year")
        .agg(
            (
                F.sum(F.when(F.col("nation") == "NATION_1", F.col("volume")).otherwise(zero)).cast("double")
                / F.sum("volume").cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# Q13 — customer order-count distribution
# --------------------------------------------------------------------------


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of order counts per customer, including the
    zero-order customers a left join preserves.  (The spec filters on an
    o_comment NOT LIKE pattern; this schema has no comment column, so the
    join-side filter is o_orderpriority <> '5-LOW' — same filtered-left-join
    plan shape.)  First agg shuffles on custkey; the distribution re-agg is
    at most |distinct counts| rows."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# --------------------------------------------------------------------------
# Q14 — promotion effect
# --------------------------------------------------------------------------


@register(
    "q14_promo_effect",
    oracle=f"""
    SELECT CAST(100.00 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                       THEN {SQL_REVENUE_DEC}
                       ELSE CAST(0 AS DECIMAL(20,4)) END) AS DOUBLE)
           / CAST(SUM({SQL_REVENUE_DEC}) AS DOUBLE) AS DOUBLE) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: percentage of one month's revenue from PROMO parts.  The
    month predicate pushes to the lineitem scan, part broadcasts, and the
    conditional/total sums stay exact decimal until the final division."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = t(spark, sf_dir, "part")
    zero = F.lit(0).cast("decimal(20,4)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("p_type").like("PROMO%"), revenue_dec()).otherwise(zero)
                ).cast("double")
                / F.sum(revenue_dec()).cast("double")
            ).alias("promo_revenue")
        )
    )


# --------------------------------------------------------------------------
# Q15 — top supplier
# --------------------------------------------------------------------------


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(SUM({SQL_REVENUE_DEC}) AS DOUBLE) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue — an
    aggregate view compared against its own scalar max.  The revenue view is
    |suppliers| rows, so it broadcasts both into the scalar-max cross join
    and into the supplier join; equality on total_revenue is safe because
    both sides are the same exact-decimal-sum double."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(revenue_dec()).cast("double").alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("__mx"))
    s = t(spark, sf_dir, "supplier")
    return (
        s.join(revenue, s.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(mx), F.col("total_revenue") == F.col("__mx"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# Q17 — small-quantity-order revenue
# --------------------------------------------------------------------------


@register(
    "q17_small_quantity",
    oracle=f"""
    SELECT CAST(SUM({sql_dec4('l_extendedprice')}) AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN (
        SELECT l_partkey AS a_partkey,
               0.2 * (CAST(SUM({sql_dec4('l_quantity')}) AS DOUBLE) / COUNT(l_quantity))
                   AS qty_limit
        FROM lineitem GROUP BY l_partkey
    ) pa ON a_partkey = l_partkey
    WHERE p_brand = 'Brand#3' AND p_size < 15
      AND l_quantity < qty_limit
    """,
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: yearly revenue lost if small-quantity orders (below 20% of
    the part's average order quantity) went unfilled.  (p_size < 15 stands in
    for the spec's p_container filter, which this schema lacks.)  The
    correlated avg decorrelates into a per-part aggregate joined back — the
    aggregate side is |parts| rows and broadcasts; lineitem shuffles once on
    partkey.  The 0.2*avg threshold is exact-decimal-sum / count in double,
    bitwise identical across engines."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_size") < 15)
    )
    part_avg = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (
            F.lit(0.2)
            * (F.sum(dec4("l_quantity")).cast("double") / F.count("l_quantity"))
        ).alias("qty_limit")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(part_avg, li.l_partkey == part_avg.a_partkey)
        .filter(F.col("l_quantity") < F.col("qty_limit"))
        .agg(
            (F.sum(dec4("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


# --------------------------------------------------------------------------
# Q18 — large-volume customers
# --------------------------------------------------------------------------


@register(
    "q18_large_volume_customer",
    oracle=f"""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           {sql_dsum('l_quantity', 'sum_qty')}
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(12,4))) > 300
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 100
    """,
    bench=True,
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds 300, with their
    customers.  The HAVING subquery is a pre-aggregation of lineitem on
    orderkey; its survivors are rare, so the IN becomes a broadcast
    semi-join that prunes the fact join early.  Quantity sums compare in
    exact decimal (a >300 threshold on an order-dependent double sum could
    flip at a tie)."""
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec4("l_quantity")).alias("__q"))
        .filter(F.col("__q") > 300)
        .select("l_orderkey")
    )
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(
            F.broadcast(big.withColumnRenamed("l_orderkey", "__big_ok")),
            F.col("o_orderkey") == F.col("__big_ok"),
            "left_semi",
        )
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum("l_quantity", "sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q19 — discounted revenue (disjunctive predicates)
# --------------------------------------------------------------------------


@register(
    "q19_discounted_revenue",
    oracle=f"""
    SELECT CAST(SUM({SQL_REVENUE_DEC}) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: three OR'd brand/size/quantity branches over the part-
    lineitem join.  (Branch predicates use p_size in place of the spec's
    missing p_container/l_shipmode columns.)  Catalyst extracts the common
    constraints — p_size >= 1, l_quantity between 1 and 30, p_brand IN
    (...) — and pushes them below the join, so the scan prunes before the
    disjunction is evaluated post-join."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    b1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    b2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    b3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(b1 | b2 | b3)
        .agg(F.sum(revenue_dec()).cast("double").alias("revenue"))
    )


# --------------------------------------------------------------------------
# Q22 — global sales opportunity
# --------------------------------------------------------------------------


@register(
    "q22_sales_opportunity",
    oracle=f"""
    WITH pos AS (
        SELECT CAST(SUM({sql_dec4('c_acctbal')}) AS DOUBLE) / COUNT(c_acctbal)
                   AS avg_bal
        FROM customer WHERE c_acctbal > 0.00
    )
    SELECT cntrycode, COUNT(*) AS numcust,
           {sql_dsum('c_acctbal', 'totacctbal')}
    FROM (
        SELECT c_custkey % 10 AS cntrycode, c_acctbal
        FROM customer, pos
        WHERE c_acctbal > avg_bal
          AND NOT EXISTS (
              SELECT 1 FROM orders WHERE o_custkey = c_custkey
          )
    ) custsale
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
)
def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: wealthy customers (balance above the positive-balance
    average) who never placed an order, grouped by segment.  (cntrycode =
    c_custkey % 10 replaces the spec's phone-prefix extraction — the schema
    has no c_phone; the plan keeps the scalar-subquery + NOT EXISTS
    anti-join shape.)  The one-row average broadcasts; the anti-join
    shuffles both sides on custkey — at scale orders is pre-projected to its
    distinct custkeys, keeping the anti-join's build input minimal."""
    c = t(spark, sf_dir, "customer")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (F.sum(dec4("c_acctbal")).cast("double") / F.count("c_acctbal")).alias(
                "avg_bal"
            )
        )
    )
    o_keys = t(spark, sf_dir, "orders").select("o_custkey")
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o_keys, c.c_custkey == o_keys.o_custkey, "left_anti")
        .groupBy((F.col("c_custkey") % 10).alias("cntrycode"))
        .agg(F.count(F.lit(1)).alias("numcust"), dsum("c_acctbal", "totacctbal"))
        .orderBy("cntrycode")
    )


# --------------------------------------------------------------------------
# Q4 (adapted) — order priority checking
# --------------------------------------------------------------------------


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey
            AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: count one quarter's orders that have at least one
    late line item, by priority.  (The spec's lateness test is
    l_commitdate < l_receiptdate; this schema has neither, so "late" is
    adapted to shipped more than 60 days after the order date — the
    correlated-EXISTS semi-join shape is identical.)  The EXISTS becomes a
    left-semi join on orderkey; lineitem is pre-filtered by the correlated
    condition only after the join since it references both sides, but the
    quarter predicate on orders prunes the probe side at the scan."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Q21 (adapted) — suppliers who kept orders waiting
# --------------------------------------------------------------------------


@register(
    "q21_waiting_supplier",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND n_name = 'NATION_1'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > l1.l_shipdate
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
    bench=True,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers in NATION_1 who were the sole blocker on a
    finished multi-supplier order.  ("Late" is adapted from the missing
    commit/receipt dates to shipped >90 days after the order date; the
    EXISTS + NOT-EXISTS correlated pair over the same fact table — the
    hardest subquery shape in the suite — is kept intact.)  Both correlated
    subqueries decorrelate to one semi and one anti join on (orderkey) with
    non-equi residuals; at scale all three lineitem references share one
    partitioning on l_orderkey, so AQE reuses the same shuffle output."""
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = t(spark, sf_dir, "lineitem")
    l1 = li.select("l_orderkey", "l_suppkey", "l_shipdate")
    l2 = li.select(
        F.col("l_orderkey").alias("l2_orderkey"),
        F.col("l_suppkey").alias("l2_suppkey"),
    )
    l3 = li.select(
        F.col("l_orderkey").alias("l3_orderkey"),
        F.col("l_suppkey").alias("l3_suppkey"),
        F.col("l_shipdate").alias("l3_shipdate"),
    )
    return (
        l1.join(o, F.col("l_orderkey") == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            l2,
            (F.col("l_orderkey") == F.col("l2_orderkey"))
            & (F.col("l2_suppkey") != F.col("l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("l3_orderkey"))
            & (F.col("l3_suppkey") != F.col("l_suppkey"))
            & (F.col("l3_shipdate") > F.col("l_shipdate")),
            "left_anti",
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )
