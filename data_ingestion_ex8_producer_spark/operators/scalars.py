"""Scalar-function battery: string, date/time, math, JSON, and conditional
expressions — all built-in ``pyspark.sql.functions`` (JVM-side, inside
whole-stage codegen; zero Python on the data path).

The reference's only scalar work is header sanitization (driver-side,
SURVEY.md §2 T1) and empty->NULL (T3); this module is the engine's general
scalar surface.  Functions chosen are exactly those with bit-identical
cross-engine semantics (see inline notes); libm-divergent functions (exp, ln
on arbitrary doubles) are avoided in the oracle-checked set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ._util import t


@register(
    "q_string_funcs",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           lower(p_brand) AS brand_lower,
           CAST(length(p_name) AS INTEGER) AS name_len,
           substring(p_name, 1, 8) AS name_prefix,
           concat(p_brand, '#', p_type) AS brand_type,
           replace(p_type, ' ', '_') AS type_snake,
           CAST(contains(p_name, 'green') AS BOOLEAN) AS has_green,
           trim(p_name) AS name_trim,
           reverse(p_brand) AS brand_rev,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded
    FROM part
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String battery: case-mapping, length, substring, concat, replace,
    containment, trim, reverse, pad."""
    return t(spark, sf_dir, "part").select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.concat_ws("#", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.col("p_name").contains("green").alias("has_green"),
        F.trim("p_name").alias("name_trim"),
        F.reverse("p_brand").alias("brand_rev"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
    )


@register(
    "q_date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(quarter(o_orderdate) AS INTEGER) AS order_quarter,
           CAST(month(o_orderdate) AS INTEGER) AS order_month,
           CAST(dayofmonth(o_orderdate) AS INTEGER) AS order_day,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER)
             AS days_since_1995,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 90 DAY AS TIMESTAMP) AS due_ts
    FROM orders
    """,
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date battery: extraction, truncation, diff, arithmetic.  Extractions
    are cast to INTEGER on both sides (DuckDB returns BIGINT)."""
    d = F.col("o_orderdate")
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year(d).alias("order_year"),
        F.quarter(d).alias("order_quarter"),
        F.month(d).alias("order_month"),
        F.dayofmonth(d).alias("order_day"),
        F.date_trunc("month", d).alias("month_start"),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_1995"
        ),
        (d.cast("date") + F.expr("INTERVAL 90 DAYS")).cast("timestamp").alias("due_ts"),
    )


@register(
    "q_math_funcs",
    oracle="""
    SELECT c_custkey,
           abs(c_acctbal) AS bal_abs,
           CAST(ceil(c_acctbal) AS BIGINT) AS bal_ceil,
           CAST(floor(c_acctbal) AS BIGINT) AS bal_floor,
           sqrt(abs(c_acctbal)) AS bal_sqrt,
           CAST(sign(c_acctbal) AS DOUBLE) AS bal_sign,
           c_acctbal * c_acctbal AS bal_sq,
           CAST(c_custkey % 7 AS BIGINT) AS key_mod,
           greatest(c_acctbal, 0.0) AS bal_pos,
           least(c_acctbal, 1000.0) AS bal_capped
    FROM customer
    """,
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math battery restricted to IEEE-exact operations (abs/ceil/floor/sqrt/
    sign/multiply/mod/min/max) so results are bit-identical cross-engine."""
    bal = F.col("c_acctbal")
    return t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.abs(bal).alias("bal_abs"),
        F.ceil(bal).alias("bal_ceil"),
        F.floor(bal).alias("bal_floor"),
        F.sqrt(F.abs(bal)).alias("bal_sqrt"),
        F.signum(bal).alias("bal_sign"),
        (bal * bal).alias("bal_sq"),
        (F.col("c_custkey") % 7).alias("key_mod"),
        F.greatest(bal, F.lit(0.0)).alias("bal_pos"),
        F.least(bal, F.lit(1000.0)).alias("bal_capped"),
    )


@register(
    "q_json_extract",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from the events.props payload column + aggregate.
    get_json_object evaluates JVM-side; at scale prefer from_json with an
    explicit schema once the payload shape is known (single parse, typed)."""
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


@register(
    "q_from_json_struct",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
    """,
)
def q_from_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json with an explicit schema -> typed struct -> filter on a field.
    The single-parse / typed-access pattern for JSON payloads at scale."""
    parsed = F.from_json("props", "k BIGINT")
    return (
        t(spark, sf_dir, "events")
        .select("event_id", parsed.getField("k").alias("k"))
        .filter(F.col("k") > 50)
    )


@register(
    "q_case_null",
    oracle="""
    SELECT CASE WHEN o_totalprice >= 300000 THEN 'large'
                WHEN o_totalprice >= 100000 THEN 'medium'
                ELSE 'small' END AS bucket,
           COUNT(*) AS n_orders,
           COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                         THEN CAST(o_totalprice AS DECIMAL(12,4)) END) AS DOUBLE)
             AS urgent_total,
           coalesce(nullif(min(o_orderstatus), 'F'), 'all-F') AS min_status_or_marker
    FROM orders
    GROUP BY 1
    ORDER BY bucket
    """,
)
def q_case_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bucketing + conditional aggregation + coalesce/nullif — the
    conditional-expression surface."""
    price = F.col("o_totalprice")
    bucket = (
        F.when(price >= 300000, "large")
        .when(price >= 100000, "medium")
        .otherwise("small")
        .alias("bucket")
    )
    return (
        t(spark, sf_dir, "orders")
        .groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
            F.sum(
                F.when(
                    F.col("o_orderpriority") == "1-URGENT",
                    F.col("o_totalprice").cast("decimal(12,4)"),
                )
            )
            .cast("double")
            .alias("urgent_total"),
            F.coalesce(F.nullif(F.min("o_orderstatus"), F.lit("F")), F.lit("all-F")).alias(
                "min_status_or_marker"
            ),
        )
        .orderBy("bucket")
    )


@register(
    "q_pivot",
    oracle="""
    SELECT o_orderpriority,
           COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O,
           COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F,
           COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (required at scale: no extra pass to
    discover pivot values, fixed output schema)."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .na.fill(0, ["O", "F", "P"])
        .orderBy("o_orderpriority")
    )


@register(
    "q_variant_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           (json_extract(props, '$.missing') IS NOT NULL) AS has_missing
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) BETWEEN 20 AND 40
    """,
)
def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access via the Spark 4 VARIANT type: parse_json once
    into a binary variant, then typed variant_get path extraction.

    VARIANT is the scale path for heterogeneous JSON: one parse at ingest,
    then O(1) binary-encoded field access per query — no re-tokenizing and
    no rigid struct schema; try_variant_get returns NULL for absent paths
    instead of failing.  The oracle expresses the same accesses with
    DuckDB's JSON functions."""
    v = F.parse_json("props")
    return (
        t(spark, sf_dir, "events")
        .select(
            "event_id",
            F.variant_get(v, "$.k", "bigint").alias("k"),
            F.try_variant_get(v, "$.missing", "string").isNotNull().alias(
                "has_missing"
            ),
        )
        .filter(F.col("k").between(20, 40))
    )
