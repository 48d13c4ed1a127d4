"""Round-3 guardrails: loud failure instead of silent corruption / worker
crashes.

* simhash lane overflow (>65,535 distinct tokens in one document) raises
  instead of silently corrupting the fingerprint (ADVICE r2);
* LSH bucket assignment degrades NULL / wrong-length embeddings to
  zero candidates instead of failing the whole job in the Python worker
  (ADVICE r2).
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from data_ingestion_ex8_producer_spark.operators.dedup import (
    _simhash_agg,
    _simhash_combine,
    hash48,
)
from data_ingestion_ex8_producer_spark.operators.similarity import _bucket_udf


def _simhash_sig(spark, text: str):
    docs = spark.createDataFrame([(1, text)], "doc_id int, text string")
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))).alias(
            "token"
        ),
    ).withColumn("th", hash48(F.col("token")))
    return toks.groupBy("doc_id").agg(*_simhash_agg()).select(
        "doc_id", _simhash_combine()
    )


def test_simhash_small_doc_still_computes(spark) -> None:
    rows = _simhash_sig(spark, "alpha beta gamma").collect()
    assert len(rows) == 1 and rows[0]["simhash"] >= 0


@pytest.mark.slow
def test_simhash_lane_overflow_raises(spark) -> None:
    """2^16 distinct tokens overflows a 16-bit lane: must be an error, not a
    silently wrong fingerprint."""
    big = " ".join(f"t{i}" for i in range(65_536))
    with pytest.raises(Exception, match="simhash lane overflow"):
        _simhash_sig(spark, big).collect()


def test_lsh_buckets_null_and_ragged_embeddings(spark) -> None:
    """NULL or wrong-dimension embeddings produce an EMPTY bucket array —
    posexplode drops them, so they contribute zero candidates instead of
    crashing the Arrow worker."""
    emb = spark.createDataFrame(
        [
            (0, [0.25] * 64),
            (1, None),
            (2, [0.25] * 3),  # wrong dimension
            (3, [0.25] * 63 + [None]),  # NULL element -> NaN after Arrow
            (4, [0.25] * 63 + [float("nan")]),  # explicit NaN
        ],
        "vec_id int, embedding array<float>",
    )
    got = (
        emb.select(
            "vec_id", F.posexplode(_bucket_udf()("embedding")).alias("tb", "bucket")
        )
        .groupBy("vec_id")
        .count()
        .collect()
    )
    counts = {r["vec_id"]: r["count"] for r in got}
    assert set(counts) == {0}, "invalid embeddings must yield no buckets"
    assert counts[0] == 4  # one bucket per LSH table


def test_coverage_doc_counts_match_registry() -> None:
    """COVERAGE.md's headline counts must equal the live registry (VERDICT
    r6 #6: the doc drifted 197 -> 207 during round 6).  The doc states
    '<N> registered queries; <M> with exact DuckDB oracles'; both numbers
    are asserted here so any registry growth forces the doc update."""
    import re
    from pathlib import Path

    from data_ingestion_ex8_producer_spark.plans.registry import all_specs

    specs = all_specs()
    n_total = len(specs)
    n_oracled = sum(1 for s in specs.values() if s.oracle is not None)
    text = Path("/root/repo/COVERAGE.md").read_text()
    m = re.search(
        r"(\d+) registered queries; (\d+) with exact DuckDB oracles", text
    )
    assert m, "COVERAGE.md is missing the counts sentence"
    assert int(m.group(1)) == n_total, (
        f"COVERAGE.md says {m.group(1)} registered, registry has {n_total}"
    )
    assert int(m.group(2)) == n_oracled, (
        f"COVERAGE.md says {m.group(2)} oracled, registry has {n_oracled}"
    )
    # The rows-only set by name: a spec registered with oracle=None for any
    # other reason would silently get only the driver's weaker check.
    rows_only = {name for name, s in specs.items() if s.oracle is None}
    assert rows_only == {
        "q_ivf_argmax_margin_canary",
        "q_approx_distinct",
        "q_approx_percentile",
    }, f"rows-only specs changed: {sorted(rows_only)}"


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_ivf_argmax_margin_canary_escalation_trigger(spark, sf_dir) -> None:
    """FLOAT_QUALS.md's Class-C escalation trigger, asserted rather than
    eyeballed (VERDICT r8 #6): the IVF coarse-assignment argmax margin
    canary must report ZERO vectors within 1e-12 of the decision boundary
    at both test scale factors.  A nonzero count is the early warning that
    a fold-order or engine change could flip an assignment and shift the
    semdedup population counts — the documented escalation path is the
    exact integer argmax (implemented in q_kmeans_iterations)."""
    from data_ingestion_ex8_producer_spark.operators.similarity import (
        q_ivf_argmax_margin_canary,
    )

    from data_ingestion_ex8_producer_spark.operators._util import (
        persisted_scope,
    )

    with persisted_scope():  # the builder persists the valid corpus
        row = q_ivf_argmax_margin_canary(spark, sf_dir).collect()[0]
    assert row["n_vectors"] > 0
    assert row["n_below_1em12"] == 0, (
        f"{row['n_below_1em12']} vectors within 1e-12 of the IVF argmax "
        f"boundary at {sf_dir} (min margin {row['min_margin']}); the "
        "FLOAT_QUALS.md escalation trigger fired - switch the coarse "
        "assignment to the exact integer argmax"
    )


def test_oracle_output_types_are_driver_safe() -> None:
    """Every oracle's DuckDB output type must be one the driver's comparator
    renders identically whether materialized via ``fetchall()`` or Arrow
    (VERDICT r7: q_semantic_dedup_curve's ``SUM(BIGINT)`` returned HUGEINT,
    which Arrow surfaces as decimal128 and stringifies differently from
    Spark's bigint — the only hash-red driver row two rounds running, while
    every fetchall-based local check was green).  DuckDB binds the plan
    lazily, so checking ``.types`` costs no execution."""
    import duckdb

    from data_ingestion_ex8_producer_spark.plans.registry import all_specs
    from tools.check_correctness import TABLES

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    approved = {"BOOLEAN", "INTEGER", "BIGINT", "DOUBLE", "VARCHAR", "DATE",
                "TIMESTAMP", "BLOB"}
    offenders = []
    for name, spec in all_specs().items():
        if spec.oracle is None:
            continue
        rel = con.sql(spec.oracle)
        for col, typ in zip(rel.columns, rel.types):
            base = str(typ).removesuffix("[]")
            if base not in approved:
                offenders.append((name, col, str(typ)))
    con.close()
    assert not offenders, (
        "oracles emitting driver-unsafe output types (HUGEINT/DECIMAL/"
        f"unsigned/other — CAST them in the oracle SQL): {offenders}"
    )


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_equidepth_selectivity_error_within_textbook_bound(spark, sf_dir) -> None:
    """The equi-depth histogram's selectivity guarantee, asserted rather
    than merely reported (VERDICT r9 #5): for any range probe, the
    uniform-within-bucket estimate can only err inside the <=2 partial
    buckets the range clips, so |est - actual| <= 2 * ceil(n_total /
    n_buckets) in ABSOLUTE rows.  q_histogram_selectivity_audit measures
    the error; this test makes a histogram regression (mis-binned
    boundaries, a lost bucket, a broken prefix sum) FAIL the suite
    instead of silently widening err_ppm in a report nobody reads."""
    from data_ingestion_ex8_producer_spark.operators.advanced import (
        _EDH_BUCKETS,
        q_histogram_selectivity_audit,
    )
    from data_ingestion_ex8_producer_spark.sources.tables import load_table

    n_total = load_table(spark, sf_dir, "lineitem").count()
    bound = 2 * (-(-n_total // _EDH_BUCKETS))  # 2 * ceil(n/buckets)
    rows = q_histogram_selectivity_audit(spark, sf_dir).collect()
    assert len(rows) == 4
    for r in rows:
        err = abs(r["est_rows"] - r["actual_rows"])
        assert err <= bound, (
            f"probe {r['probe']} at {sf_dir}: |{r['est_rows']} - "
            f"{r['actual_rows']}| = {err} exceeds the 2-partial-bucket "
            f"bound {bound} (n_total={n_total}, {_EDH_BUCKETS} buckets)"
        )


def test_every_registered_spec_has_a_measured_scale_curve() -> None:
    """r10 discipline guard: tools/registry_probe.py closed the last
    scale-evidence gap (all 266 specs now have a 1x-vs-Kx row in
    SCALING.md / SCALING_100X.md), and this keeps it closed — a new spec
    registration without a measured curve fails the suite until its row
    is probed in, the same keep-the-invariant pattern as the COVERAGE.md
    counts guard above."""
    from data_ingestion_ex8_producer_spark.plans.registry import all_specs
    from tools.scale_probe import scaling_row_names

    covered = scaling_row_names(
        "/root/repo/SCALING.md", "/root/repo/SCALING_100X.md"
    )
    missing = [n for n in all_specs() if n not in covered]
    assert not missing, (
        f"{len(missing)} registered specs have no measured scale curve "
        f"(run tools/registry_probe.py): {missing}"
    )


@pytest.mark.parametrize(
    "artifact",
    [
        "/root/repo/CORRECTNESS_full_sf0.01.json",
        "/root/repo/CORRECTNESS_full_sf0.1.json",
    ],
)
def test_full_correctness_artifacts_cover_the_live_registry(artifact) -> None:
    """Freshness guard (VERDICT r10 #2): the committed full-correctness
    artifacts must contain exactly one entry per registered spec, and
    every entry must be green (hash-match, or rows-recorded for the
    designed rows-only specs).  A spec registered without regenerating
    the artifacts — the r10 staleness mode, where the files silently
    stayed at 266 entries after the registry reached 268 — now fails the
    suite the same way a COVERAGE.md count drift does."""
    import json

    from data_ingestion_ex8_producer_spark.plans.registry import all_specs

    data = json.loads(Path(artifact).read_text())
    registered = set(all_specs())
    assert set(data) == registered, (
        f"{artifact} is stale: {len(data)} entries vs {len(registered)} "
        f"registered specs (regenerate with tools/check_correctness.py "
        f"--json); missing={sorted(registered - set(data))[:5]} "
        f"extra={sorted(set(data) - registered)[:5]}"
    )
    red = [
        n
        for n, r in data.items()
        if not (
            r.get("hash_match")
            or (r.get("oracle") == "none" and r.get("spark_rows") is not None)
        )
    ]
    assert not red, f"{artifact} has non-green entries: {red}"
