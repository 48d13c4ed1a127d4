"""Python-UDF surface: vectorized scalar pandas_udf, grouped-map
applyInPandas (batch UDAF shape), and a Python UDTF — the three sanctioned
Python extension points, each Arrow-batched, each with an exact oracle.

These exist to pin the PLUMBING (Arrow batches, schemas, grouping, lateral
expansion); the hot-path guidance stands: everything expressible as a
Catalyst expression elsewhere in this package stays JVM-side.
"""

from __future__ import annotations

import unicodedata

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..plans.registry import register
from ._util import t


def _pandas_group_width(spark: SparkSession) -> int:
    """Partition width for per-group pandas stages:
    max(defaultParallelism, spark.sql.shuffle.partitions).  The conf read
    tolerates non-numeric values ("auto" on platforms with adaptive
    shuffle sizing, ADVICE r10 #3) by degrading to defaultParallelism
    instead of raising ValueError at plan-build time."""
    try:
        conf_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError):
        conf_width = 0
    return max(spark.sparkContext.defaultParallelism, conf_width)


# ---- scalar pandas UDF ----------------------------------------------------


def _make_fold_accents():
    """Built lazily: the pandas_udf decorator parses its schema and needs an
    active session, and operator modules import at registry-collection time."""

    @pandas_udf("string")
    def fold_accents(texts: pd.Series) -> pd.Series:
        def fold(s: str) -> str:
            decomposed = unicodedata.normalize("NFKD", s)
            return "".join(ch for ch in decomposed if not unicodedata.combining(ch))

        return texts.map(fold)

    return fold_accents


@register(
    "udf_accent_fold",
    oracle="""
    SELECT doc_id,
           strip_accents(text) AS folded,
           length(strip_accents(text)) AS folded_len
    FROM documents
    WHERE doc_id < 100
    """,
)
def udf_accent_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas_udf: data-level accent folding (the data-plane twin of
    the schema-level sanitize_name port).  Arrow-batched; DuckDB's
    strip_accents is the oracle."""
    fold_accents = _make_fold_accents()
    return (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select(
            "doc_id",
            fold_accents("text").alias("folded"),
            F.length(fold_accents("text")).alias("folded_len"),
        )
    )


# ---- grouped-map applyInPandas (batch UDAF shape) -------------------------


@register(
    "udaf_minmax_normalize",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN mx = mn THEN 0.0 ELSE (value - mn) / (mx - mn) END AS norm_value
    FROM (
        SELECT event_id, user_id, value,
               MIN(value) OVER (PARTITION BY user_id) AS mn,
               MAX(value) OVER (PARTITION BY user_id) AS mx
        FROM events
    )
    """,
)
def udaf_minmax_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-user min-max normalization of event
    values.  min/max are exact and the per-row normalization is a single
    IEEE division of identical doubles — oracle-exact, unlike mean/std
    (whose accumulation order would diverge).  One shuffle on the group key,
    one Arrow batch per group.

    The explicit key repartition pins the Python stage's parallelism:
    this stage's cost is per-GROUP interpreter/Arrow-IPC overhead, which
    AQE's byte-based partition coalescing cannot see — on a small-bytes /
    many-groups input AQE folds the shuffle to 1-2 partitions and
    serializes thousands of per-group calls (measured 4.7x slowdown at
    sf0.1, tools/window_probe.py r10).  A user-specified repartition is
    exempt from AQE coalescing and satisfies the groupBy's required
    distribution, so no second shuffle is added.  The trade is explicit:
    an exact-N repartition is AQE-exempt in BOTH directions (never
    coalesced, never split), so N must be deployment-sized — this takes
    max(defaultParallelism, spark.sql.shuffle.partitions) so a
    dynamic-allocation cluster whose executors have not ramped at
    plan-build time (defaultParallelism ~ cores currently held) still
    pins at the tuned static width, the same width every non-AQE shuffle
    in the job uses.  A 100 TB deployment sizes shuffle.partitions for
    its data anyway; the pin simply makes the pandas-group stage follow
    that sizing instead of the bytes-only AQE estimate that mis-prices
    per-group Python cost."""

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        lo = pdf["value"].min()
        hi = pdf["value"].max()
        norm = (pdf["value"] - lo) / (hi - lo) if hi != lo else 0.0
        return pd.DataFrame(
            {"event_id": pdf["event_id"], "user_id": pdf["user_id"], "norm_value": norm}
        )

    n_part = _pandas_group_width(spark)
    return (
        t(spark, sf_dir, "events")
        .select("event_id", "user_id", "value")
        .repartition(n_part, "user_id")
        .groupBy("user_id")
        .applyInPandas(normalize, "event_id bigint, user_id bigint, norm_value double")
    )


# ---- Python UDTF ----------------------------------------------------------


@register(
    "udtf_bigrams",
    oracle="""
    WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
                  FROM documents WHERE doc_id < 20)
    SELECT doc_id,
           CAST(unnest(range(0, len(ts) - 1)) AS INTEGER) AS pos,
           unnest(ts[1:len(ts)-1]) || ' ' || unnest(ts[2:len(ts)]) AS bigram
    FROM toks
    WHERE len(ts) >= 2
    """,
)
def udtf_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF: one input document row -> many (pos, bigram) output rows
    via a lateral join.  (The same expansion is a posexplode of a zip_with
    elsewhere — this entry pins the UDTF API surface itself.)"""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, bigram string")
    class BigramUDTF:
        def eval(self, text: str):  # noqa: ANN001
            toks = text.strip().split()
            for i in range(len(toks) - 1):
                yield i, f"{toks[i]} {toks[i + 1]}"

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    docs.createOrReplaceTempView("udtf_docs")
    spark.udtf.register("doc_bigrams", BigramUDTF)
    return spark.sql(
        "SELECT d.doc_id, b.pos, b.bigram "
        "FROM udtf_docs d, LATERAL doc_bigrams(d.text) b"
    )


# ---- cogrouped applyInPandas ---------------------------------------------


@register(
    "udaf_cogroup_reconcile",
    oracle="""
    WITH o AS (
        SELECT o_custkey AS custkey, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE)
                   AS total_spend
        FROM orders GROUP BY 1
    ),
    e AS (
        SELECT user_id AS custkey, COUNT(*) AS n_events
        FROM events GROUP BY 1
    )
    SELECT COALESCE(o.custkey, e.custkey) AS custkey,
           COALESCE(n_orders, 0) AS n_orders,
           COALESCE(total_spend, 0.0) AS total_spend,
           COALESCE(n_events, 0) AS n_events
    FROM o FULL OUTER JOIN e ON o.custkey = e.custkey
    """,
)
def udaf_cogroup_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas: orders and events cogrouped per customer key,
    merged by an arbitrary Python function (here: order count/spend vs event
    count reconciliation).

    This is the fourth Python extension point — cogroup(...).applyInPandas —
    for merge logic too gnarly for a join expression (e.g., per-key sequence
    alignment).  Both sides arrive as pandas frames PER KEY after one
    co-partitioning shuffle each; nothing is collected to the driver.  The
    decimal round-trip keeps the spend sum exact (float64 sums would be
    order-dependent); the oracle is the equivalent two-aggregate full outer
    join.

    Both sides carry an explicit key repartition for the same reason as
    udaf_minmax_normalize: the cogroup stage's cost is per-GROUP Python
    overhead, invisible to AQE's byte-based coalescing, which otherwise
    folds this small-bytes / 15k-group shuffle to 2 partitions and
    serializes the per-key calls (measured 21 s -> ~4 s at sf0.1,
    tools/window_probe.py r10).  The user repartition is AQE-exempt and
    satisfies the cogroup's distribution — no extra shuffle.
    """
    import decimal

    n_part = _pandas_group_width(spark)
    orders = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_totalprice").cast("decimal(12,4)").alias("price_dec"),
        )
        .repartition(n_part, "custkey")
    )
    events = (
        t(spark, sf_dir, "events")
        .select(F.col("user_id").alias("custkey"), F.lit(1).alias("one"))
        .repartition(n_part, "custkey")
    )

    def reconcile(key: tuple, odf: pd.DataFrame, edf: pd.DataFrame) -> pd.DataFrame:
        spend = sum(odf["price_dec"], decimal.Decimal(0))  # exact decimal sum
        return pd.DataFrame(
            {
                "custkey": [key[0]],
                "n_orders": [len(odf)],
                "total_spend": [float(spend)],
                "n_events": [len(edf)],
            }
        )

    return (
        orders.groupBy("custkey")
        .cogroup(events.groupBy("custkey"))
        .applyInPandas(
            reconcile,
            "custkey long, n_orders long, total_spend double, n_events long",
        )
    )
