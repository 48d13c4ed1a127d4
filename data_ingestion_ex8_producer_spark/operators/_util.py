"""Shared helpers for the operator surface.

Cross-engine determinism notes (this is the backbone of the correctness gate):

* Per-row double arithmetic (a*b, a-b) is IEEE-754 and bit-identical across
  Spark and DuckDB for identical inputs — safe without rounding.
* Multi-row double AGGREGATION is order-dependent; parallel engines sum in
  different orders, so raw double sums/avgs may differ in the last ulps and can
  flip a post-hoc round() at a tie boundary.  Therefore every sum is computed
  over exact DECIMAL casts: double -> decimal(12,4) is a single deterministic
  rounding, decimal addition is associative and exact, and the final
  cast-to-double of the exact sum is deterministic.  Both engines produce
  bit-identical doubles.
* Averages are computed as exact-decimal-sum / count in double (identical
  inputs -> identical IEEE division), never decimal division (scale rules
  differ between engines).
* DuckDB sum(INTEGER) widens to HUGEINT/DECIMAL; oracles cast to BIGINT
  explicitly to match Spark's sum(int) -> long.
"""

from __future__ import annotations

import threading

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---- persist lifecycle ----------------------------------------------------
#
# Several builders persist a mid-plan relation that their returned (lazy)
# DataFrame references more than once (shingle relations, minhash bands).
# The builder cannot unpersist it — the caller hasn't consumed the result
# yet — so without a seam every composed call in a long-lived session
# accumulates cached relations until the executors evict under pressure.
# bench.py and the correctness gates clear the whole cache between queries;
# this registry is the contract for everyone else: builders register every
# persist via persist_tracked(), and a session wraps consumption in
# persisted_scope() (or calls release_persisted() at its own cadence) to
# release exactly the relations created inside the scope.

class _ThreadLocalList(threading.local):
    """Per-THREAD registry of live persisted relations.  Thread-locality is
    part of the contract (ADVICE r5): a session driving builders from
    multiple driver threads (e.g. concurrent query submission) gets one
    independent registry per thread, so one thread's persisted_scope can
    never unpersist a relation another thread's plan is still consuming.
    Each thread releases exactly what its own builders registered."""

    def __init__(self) -> None:  # runs once per thread on first access
        self.items: list[DataFrame] = []

    def append(self, df: DataFrame) -> None:
        self.items.append(df)

    def pop(self) -> DataFrame:
        return self.items.pop()

    def __len__(self) -> int:
        return len(self.items)

    def __iter__(self):
        return iter(self.items)


_LIVE_PERSISTED = _ThreadLocalList()


def persist_tracked(df: DataFrame) -> DataFrame:
    """persist() + register for later release via persisted_scope() /
    release_persisted()."""
    df = df.persist()
    _LIVE_PERSISTED.append(df)
    return df


def untrack_and_unpersist(df: DataFrame) -> None:
    """Release ONE tracked relation early — for builders that abort after
    persisting (e.g. the dedup candidate-budget valve): a failed build
    must not leak its cache into the caller's session, scope or no
    scope."""
    _LIVE_PERSISTED.items = [
        x for x in _LIVE_PERSISTED.items if id(x) != id(df)
    ]
    df.unpersist()


def release_persisted() -> int:
    """Unpersist every relation tracked by THIS thread; returns how many
    were released."""
    n = 0
    while _LIVE_PERSISTED.items:
        _LIVE_PERSISTED.pop().unpersist()
        n += 1
    return n


class persisted_scope:
    """Context manager releasing every relation persist_tracked() registered
    inside the ``with`` block — consume the builder's DataFrame INSIDE the
    block (the persisted relations back its plan).  Releases the EXACT
    DataFrame objects registered inside the scope (identity, not list
    position), so even interleaved same-thread scopes — e.g. builders
    consumed lazily from generators — release only their own relations."""

    def __enter__(self) -> "persisted_scope":
        self._before = list(_LIVE_PERSISTED.items)  # identity snapshot
        return self

    def __exit__(self, *exc) -> None:
        before_ids = {id(x) for x in self._before}
        mine = [x for x in _LIVE_PERSISTED.items if id(x) not in before_ids]
        _LIVE_PERSISTED.items = [
            x for x in _LIVE_PERSISTED.items if id(x) in before_ids
        ]
        for x in reversed(mine):
            x.unpersist()


def spread(df: DataFrame, spark: SparkSession, *keys: str) -> DataFrame:
    """Repartition ``df`` up to the session's core count IFF the scan gave
    fewer partitions — the guard that makes CPU-heavy per-row stages (explode
    + hash pipelines) use every core when the input is one small parquet
    file, while staying a NO-OP at scale: a 100 TB file source already
    arrives in thousands of maxPartitionBytes-sized splits, so the extra
    shuffle never fires there.  Keyed when ``keys`` given (co-partitions for
    a downstream groupBy), round-robin otherwise."""
    want = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= want:
        return df
    return df.repartition(want, *[F.col(k) for k in keys]) if keys else df.repartition(want)


# ---- Spark side -----------------------------------------------------------

def dec4(col: str | Column) -> Column:
    """Deterministic decimal view of a money/quantity double."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(12,4)")


def dsum(col: str | Column, alias: str) -> Column:
    """Exact sum of a double column, returned as double."""
    return F.sum(dec4(col)).cast("double").alias(alias)


def davg(col: str | Column, alias: str) -> Column:
    """Exact-sum average of a double column, returned as double."""
    return (F.sum(dec4(col)).cast("double") / F.count(col if isinstance(col, str) else col)).alias(alias)


def ilog2(x: Column) -> Column:
    """floor(log2(x)) of a positive integer as BIGINT, in integer arithmetic:
    the length of x's binary string minus one.  No floating log, so exact
    powers of two land in the same bucket on both engines (FLOAT_QUALS.md
    Class A)."""
    return (F.length(F.bin(x)) - 1).cast("long")


def revenue_dec() -> Column:
    """l_extendedprice * (1 - l_discount) as exact decimal.

    The source data is 2-decimal money (verified against testdata), so the
    product is EXACT at scale 4 and the scale-4 cast never rounds.  Keeping
    the minimal exact scale matters: it keeps aggregate sums' integer
    representation under 2^53, where DuckDB's int->double cast is exact and
    both engines' decimal->double conversions agree bit-for-bit.  (At scale
    8/12 the sf0.001 run exposed 1-ulp divergence in DuckDB's int128->double
    path.)
    """
    return (dec4("l_extendedprice") * (F.lit(1) - dec4("l_discount"))).cast("decimal(20,4)")


def charge_dec() -> Column:
    """l_extendedprice * (1-l_discount) * (1+l_tax): exact at scale 6 for
    2-decimal inputs (see revenue_dec on why minimal scale)."""
    return (revenue_dec() * (F.lit(1) + dec4("l_tax"))).cast("decimal(24,6)")


# ---- DuckDB oracle side ---------------------------------------------------

def sql_dec4(expr: str) -> str:
    return f"CAST({expr} AS DECIMAL(12,4))"


def sql_dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM({sql_dec4(expr)}) AS DOUBLE) AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    return f"(CAST(SUM({sql_dec4(expr)}) AS DOUBLE) / COUNT({expr})) AS {alias}"


def sql_ilog2(expr: str) -> str:
    return f"CAST(length(bin({expr})) - 1 AS BIGINT)"


SQL_REVENUE_DEC = (
    f"CAST({sql_dec4('l_extendedprice')} * (1 - {sql_dec4('l_discount')}) AS DECIMAL(20,4))"
)
SQL_CHARGE_DEC = (
    f"CAST({SQL_REVENUE_DEC} * (1 + {sql_dec4('l_tax')}) AS DECIMAL(24,6))"
)
