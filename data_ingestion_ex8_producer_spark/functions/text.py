"""Text/hash column helpers shared by the dedup / text-analysis / similarity
operator modules.

Portability contract: every helper here has an exact DuckDB twin (returned by
the ``sql_*`` functions) so LSH/minhash/simhash pipelines remain verifiable by
the SQL oracle.  The portable 48-bit hash is the first 12 hex chars of md5 —
md5 is bit-identical everywhere; 48 bits keeps all integer arithmetic exact in
BIGINT/DOUBLE on both engines.  In production on Spark alone, xxhash64 (one
JVM instruction per block vs a full md5) is the faster drop-in — kept out of
the scored surface only because its output is engine-specific.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH48_MAX = float(2**47)  # divisor that maps the 48-bit hash into [0, 2)


# ---- tokens ---------------------------------------------------------------

def tokens(col: str = "text") -> Column:
    """Whitespace tokenization (regex \\s+ on the trimmed string)."""
    return F.split(F.trim(F.col(col)), r"\s+")


def sql_tokens(expr: str = "text") -> str:
    return f"regexp_split_to_array(trim({expr}), '\\s+')"


# ---- portable 48-bit hash -------------------------------------------------

def hash48(col: Column) -> Column:
    """First 48 bits of md5 as a BIGINT (exact cross-engine)."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def sql_hash48(expr: str) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, 12) AS BIGINT)"


def py_hash48(data: bytes) -> int:
    """Same 48-bit hash for driver-side / pandas-UDF computation."""
    import hashlib

    return int(hashlib.md5(data).hexdigest()[:12], 16)


# ---- portable 48-bit integer mixer ---------------------------------------
#
# splitmix-style avalanche finalizer over 48-bit values using only +, *, >>,
# <<, &, xor with every intermediate < 2^57 — exact in BIGINT on any engine.
# The 48x48 multiply mod 2^48 is done in hi/lo 24-bit halves.  Used to derive
# K independent-quality minhash functions from two md5 evaluations
# (mix48(h1 + i*h2)): without the mixer the linear family's correlated
# argmins produced ~7x false-positive candidates (measured at sf0.01).

_M48 = (1 << 48) - 1
_M24 = (1 << 24) - 1
_MIX_C1 = 2654435761  # Knuth multiplicative constants (32-bit odd)
_MIX_C2 = 2246822519


def _mult48(x: Column, c: int) -> Column:
    hi = (F.shiftright(x, 24) * F.lit(c)).bitwiseAND(F.lit(_M24))
    lo = x.bitwiseAND(F.lit(_M24)) * F.lit(c)
    return (F.shiftleft(hi, 24) + lo).bitwiseAND(F.lit(_M48))


def mix48(x: Column) -> Column:
    a = x.bitwiseXOR(F.shiftright(x, 24))
    b = _mult48(a, _MIX_C1)
    c = b.bitwiseXOR(F.shiftright(b, 20))
    d = _mult48(c, _MIX_C2)
    return d.bitwiseXOR(F.shiftright(d, 24))


def _sql_mult48(x: str, c: int) -> str:
    return f"(((((({x}) >> 24) * {c}) & {_M24}) << 24) + ((({x}) & {_M24}) * {c})) & {_M48}"


def sql_mix48(x: str) -> str:
    a = f"xor({x}, ({x}) >> 24)"
    b = f"({_sql_mult48(a, _MIX_C1)})"
    c = f"xor({b}, ({b}) >> 20)"
    d = f"({_sql_mult48(c, _MIX_C2)})"
    return f"xor({d}, ({d}) >> 24)"


# ---- word k-shingles ------------------------------------------------------

def with_shingles(df, k: int):
    """documents -> + ``shingle_set`` column: distinct word k-grams of
    ``text`` (empty when < k tokens).

    Implementation note (perf, found via .explain + bench): a naive
    ``transform(sequence(...), i -> concat(__t[i], __t[i+1], ...))`` is
    catastrophic once Catalyst pushes explode's not-null/size filters below
    the projection — the inlined ``__t[i]`` re-evaluates the regex split PER
    ELEMENT ACCESS (~500 splits/row at k=3).  Building k shifted slices as
    real projected columns and folding them with zip_with keeps every lambda
    self-contained: one split + k slices per evaluation, ~50x faster.
    """
    n = F.size(F.col("__t"))
    width = n - (k - 1)
    df = df.withColumn("__t", tokens())
    for j in range(k):
        df = df.withColumn(
            f"__s{j}",
            F.when(n >= k, F.slice(F.col("__t"), j + 1, width)).otherwise(
                F.array().cast("array<string>")
            ),
        )
    joined = F.col("__s0")
    for j in range(1, k):
        joined = F.zip_with(
            joined, F.col(f"__s{j}"), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    df = df.withColumn("shingle_set", F.array_distinct(joined))
    return df.drop("__t", *[f"__s{j}" for j in range(k)])


def sql_shingle_list(k: int) -> str:
    """DuckDB: distinct word k-grams of ``text`` as a LIST (1-based indexing)."""
    toks = sql_tokens()
    parts = " || ' ' || ".join(f"{toks}[i + {j}]" for j in range(k))
    return (
        f"list_distinct(list_transform(range(1, len({toks}) - {k - 2}), "
        f"i -> {parts}))"
    )
