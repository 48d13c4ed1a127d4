"""Subquery & miscellaneous relational surface: scalar subqueries,
correlated EXISTS/IN, HAVING, array aggregation, regex extraction,
null-safe comparison.

Catalyst decorrelates these into joins/aggregates (no per-row re-execution);
the DataFrame builders below express the same plans directly where idiomatic,
and go through ``spark.sql`` where the subquery form is the natural surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ._util import t


@register(
    "q_scalar_subquery",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 0.9 * (SELECT MAX(o_totalprice) FROM orders)
    """,
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: orders within 10% of the global max.
    Catalyst computes the scalar once and broadcasts it into the filter."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("sq_orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM sq_orders
        WHERE o_totalprice > 0.9 * (SELECT MAX(o_totalprice) FROM sq_orders)
        """
    )


# The DuckDB side uses the builder's exact-average construction (see its
# float note), not a plain AVG.
_CORRELATED_ORACLE = """
    SELECT c_custkey, c_acctbal
    FROM customer c
    WHERE c_acctbal > (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(12,4))) AS DOUBLE)
                              / COUNT(c2.c_acctbal)
                       FROM customer c2
                       WHERE c2.c_mktsegment = c.c_mktsegment)
      AND EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
"""


@register(
    "q_correlated_exists",
    oracle=_CORRELATED_ORACLE,
)
def q_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated aggregate subquery + correlated EXISTS: above-segment-
    average customers holding an urgent order.  Catalyst decorrelates the
    AVG into a groupBy+join and the EXISTS into a semi join.

    Float note: AVG here must compare identically in both engines, so the
    average is formed as exact-decimal-sum / count (same construction as
    operators/_util.davg) on both sides.
    """
    t(spark, sf_dir, "customer").createOrReplaceTempView("sq_customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("sq_orders2")
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal
        FROM sq_customer c
        WHERE c_acctbal > (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(12,4))) AS DOUBLE)
                                  / COUNT(c2.c_acctbal)
                           FROM sq_customer c2
                           WHERE c2.c_mktsegment = c.c_mktsegment)
          AND EXISTS (SELECT 1 FROM sq_orders2 o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
        """
    )


@register(
    "q_in_subquery",
    oracle="""
    SELECT p_partkey, p_name, p_size
    FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 45)
      AND p_size > 20
    """,
)
def q_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery (planned as a left-semi join on the distinct key set)."""
    part = t(spark, sf_dir, "part").filter(F.col("p_size") > 20)
    bulk = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45).select(
        F.col("l_partkey").alias("p_partkey")
    )
    return part.join(bulk, "p_partkey", "left_semi").select(
        "p_partkey", "p_name", "p_size"
    )


@register(
    "q_having",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE) AS total
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 15
    """,
)
def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation filter)."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(12,4)")).cast("double").alias("total"),
        )
        .filter(F.col("n_orders") >= 15)
    )


@register(
    "q_collect_array",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',')
               AS event_types,
           CAST(len(list(DISTINCT event_type)) AS INTEGER) AS n_types
    FROM events
    GROUP BY user_id
    """,
)
def q_collect_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: per-user distinct event types, emitted as the
    canonical comma-joined SORTED list — sort_array makes the multiset
    deterministic (collect order is not), and the string form keeps the
    result hashable for any downstream comparator (raw array columns are
    not sortable in pandas)."""
    return (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.sort_array(F.collect_set("event_type")), ","
            ).alias("event_types"),
            F.size(F.collect_set("event_type")).alias("n_types"),
        )
    )


@register(
    "q_regex_extract",
    oracle="""
    SELECT p_partkey, p_type,
           regexp_extract(p_type, '^([A-Z]+)', 1) AS type_head,
           CAST(regexp_matches(p_type, '[0-9]') AS BOOLEAN) AS has_digit,
           regexp_extract(p_name, '([a-z]+)$', 1) AS name_tail
    FROM part
    """,
)
def q_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction/matching (patterns restricted to the POSIX-compatible
    subset where Java regex and RE2 agree)."""
    return t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_type",
        F.regexp_extract("p_type", r"^([A-Z]+)", 1).alias("type_head"),
        F.col("p_type").rlike("[0-9]").alias("has_digit"),
        F.regexp_extract("p_name", r"([a-z]+)$", 1).alias("name_tail"),
    )


@register(
    "q_null_safe_join",
    oracle="""
    SELECT a.event_id AS id_a, b.event_id AS id_b
    FROM (SELECT event_id, CASE WHEN value < 10 THEN NULL ELSE event_type END AS k
          FROM events WHERE event_id < 200) a
    JOIN (SELECT event_id, CASE WHEN value < 10 THEN NULL ELSE event_type END AS k
          FROM events WHERE event_id < 200) b
      ON a.k IS NOT DISTINCT FROM b.k AND a.event_id < b.event_id
    """,
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys match
    each other instead of vanishing — the semantics SQL equi-joins silently
    drop."""
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 200)
        .select(
            "event_id",
            F.when(F.col("value") < 10, None).otherwise(F.col("event_type")).alias("k"),
        )
    )
    a = ev.alias("a")
    b = ev.alias("b")
    return a.join(
        b,
        F.col("a.k").eqNullSafe(F.col("b.k")) & (F.col("a.event_id") < F.col("b.event_id")),
    ).select(F.col("a.event_id").alias("id_a"), F.col("b.event_id").alias("id_b"))


@register(
    "q_recursive_calendar",
    oracle="""
    WITH RECURSIVE months(m) AS (
        SELECT CAST('1995-01-01' AS DATE)
        UNION ALL
        SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
        WHERE m < CAST('2001-08-01' AS DATE)
    ),
    per_month AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
               COUNT(*) AS cnt
        FROM orders GROUP BY 1
    )
    SELECT m AS month, COALESCE(cnt, 0) AS n_orders
    FROM months LEFT JOIN per_month ON mo = m
    ORDER BY month
    """,
)
def q_recursive_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4): generate the full 1995-01..2001-08 month
    calendar recursively, then left-join monthly order counts so empty
    months surface as zeros — the classic dense-calendar gap fill, now
    expressible in pure SQL on Spark.

    The recursion is driver-cheap (80 single-row iterations of a local
    relation); the only distributed work is the per-month aggregate and the
    tiny broadcast join — which is exactly how a calendar-spine query
    should execute at any scale."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("rc_orders")
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
            SELECT CAST('1995-01-01' AS DATE)
            UNION ALL
            SELECT add_months(m, 1) FROM months
            WHERE m < CAST('2001-08-01' AS DATE)
        ),
        per_month AS (
            SELECT CAST(date_trunc('MONTH', o_orderdate) AS DATE) AS mo,
                   COUNT(*) AS cnt
            FROM rc_orders GROUP BY 1
        )
        SELECT m AS month, COALESCE(cnt, 0) AS n_orders
        FROM months LEFT JOIN per_month ON mo = m
        ORDER BY month
        """
    )


@register(
    "q_lateral_topn",
    oracle="""
    SELECT n.n_name, c.c_custkey, c.c_acctbal
    FROM nation n, LATERAL (
        SELECT c_custkey, c_acctbal
        FROM customer
        WHERE c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey
        LIMIT 3
    ) c
    """,
)
def q_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery join (Spark 3.2+/DuckDB `, LATERAL
    (...)`) — per nation, the top-3 customers by account balance: the
    per-row-subquery construct ORMs and hand-written SQL lean on, distinct
    from q_topk_per_group's window formulation.  Catalyst rewrites the
    lateral limit into the same DENSE per-group top-k it gives the window
    form (no per-outer-row re-execution), so the declared plan and the
    window plan converge — the point of expressing it declaratively.
    Determinism: balances are 2-decimal doubles ordered with a c_custkey
    tie-break; nations without customers drop out on both engines (inner
    lateral semantics)."""
    t(spark, sf_dir, "nation").createOrReplaceTempView("lat_nation")
    t(spark, sf_dir, "customer").createOrReplaceTempView("lat_customer")
    return spark.sql(
        """
        SELECT n.n_name, c.c_custkey, c.c_acctbal
        FROM lat_nation n, LATERAL (
            SELECT c_custkey, c_acctbal
            FROM lat_customer
            WHERE c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey
            LIMIT 3
        ) c
        """
    )
