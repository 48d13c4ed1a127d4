"""The token-statistics twins every text spec builds on: positional word
n-grams (``ngrams`` / ``sql_ngrams``) and the integer log2 (``ilog2`` /
``sql_ilog2``).  Spark and DuckDB must each equal a plain Python reference,
so a spec that swaps its inline copy for the shared twin keeps its rows.
"""

from __future__ import annotations

import re

import duckdb
import pytest
from pyspark.sql import functions as F

from data_ingestion_ex8_producer_spark.functions.text import (
    ngrams,
    sql_ngrams,
    sql_tokens,
    tokens,
)
from data_ingestion_ex8_producer_spark.operators._util import ilog2, sql_ilog2

# Token lists of length 0-5 with repeats, and a NULL list.
TOKEN_LISTS = [
    None,
    [],
    ["a"],
    ["a", "b"],
    ["a", "a", "a"],
    ["a", "b", "a", "b"],
    ["x", "y", "x", "y", "x"],
]
# Texts through the tokenizer: NULL, empty (one empty token), padded.
TEXTS = [None, "", "a", "a b a", "  x  y x ", "p q p q p q"]

# floor(log2) edges: exact powers of two and their neighbours.
ILOG2_VALUES = [1, 2, 3, 4, 7, 8, 2**31 - 1, 2**31, 2**62]


def py_ngrams(ts: list[str] | None, n: int) -> list[str] | None:
    if ts is None:
        return None
    return [" ".join(ts[i : i + n]) for i in range(len(ts) - n + 1)]


def py_tokens(text: str | None) -> list[str] | None:
    return None if text is None else re.split(r"\s+", text.strip())


def _spark(spark, rows: list, vtype: str, expr):
    """``expr`` over column ``v`` of ``rows``, in row order."""
    df = spark.createDataFrame(list(enumerate(rows)), f"id int, v {vtype}")
    got = df.select("id", expr.alias("out")).collect()
    return [r.out for r in sorted(got, key=lambda r: r.id)]


def _duck(rows: list, vtype: str, expr: str) -> list:
    """DuckDB ``expr`` over column ``v`` of ``rows``, in row order."""
    con = duckdb.connect()
    con.execute(f"CREATE TABLE d (id INTEGER, v {vtype})")
    con.executemany("INSERT INTO d VALUES (?, ?)", list(enumerate(rows)))
    got = con.execute(f"SELECT {expr} FROM d ORDER BY id").fetchall()
    con.close()
    return [r[0] for r in got]


@pytest.mark.parametrize("n", [1, 2, 3])
def test_ngrams_twins_equal_python_reference(spark, n: int) -> None:
    want = [py_ngrams(ts, n) for ts in TOKEN_LISTS]
    assert _spark(spark, TOKEN_LISTS, "array<string>", ngrams("v", n)) == want
    assert _duck(TOKEN_LISTS, "VARCHAR[]", sql_ngrams("v", n)) == want


@pytest.mark.parametrize("n", [1, 2, 3])
def test_ngrams_of_tokenized_text(spark, n: int) -> None:
    want = [py_ngrams(py_tokens(x), n) for x in TEXTS]
    df = spark.createDataFrame(list(enumerate(TEXTS)), "id int, text string")
    got = df.select("id", tokens().alias("ts")).select("id", ngrams("ts", n).alias("g"))
    assert [r.g for r in sorted(got.collect(), key=lambda r: r.id)] == want
    assert _duck(TEXTS, "VARCHAR", sql_ngrams(sql_tokens("v"), n)) == want


def test_ilog2_twins_equal_bit_length(spark) -> None:
    want = [v.bit_length() - 1 for v in ILOG2_VALUES]
    assert _spark(spark, ILOG2_VALUES, "long", ilog2(F.col("v"))) == want
    assert _duck(ILOG2_VALUES, "BIGINT", sql_ilog2("v")) == want
    assert _duck(ILOG2_VALUES, "BIGINT", f"typeof({sql_ilog2('v')})")[0] == "BIGINT"
