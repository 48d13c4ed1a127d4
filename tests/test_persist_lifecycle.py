"""The persist lifecycle seam (VERDICT r4 "what's wrong" #3): builders that
persist mid-plan relations register them with _util.persist_tracked, and
persisted_scope() releases them once the caller has consumed the result —
so a long-lived session composing these builders does not accumulate cached
relations.  bench.py / check_correctness still clearCache() unconditionally;
this seam is the contract for everyone else."""

from __future__ import annotations

from data_ingestion_ex8_producer_spark.operators._util import (
    _LIVE_PERSISTED,
    persist_tracked,
    persisted_scope,
    release_persisted,
)
from data_ingestion_ex8_producer_spark.plans.registry import all_specs

SF = "/root/testdata/sf0.001"

# Every builder VERDICT r4 flagged as persisting without an unpersist seam.
PERSISTING_BUILDERS = (
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "q_minhash_jaccard_estimate",
    "dedup_simhash",
    "q_incremental_dedup",
    "dedup_clusters",
    "q_t_closeness",  # r11: persists the (class x band) count relation
    "q_collocations",  # persists the bigram-count relation once
)


def _cached_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_builders_register_their_persists(spark):
    """Each flagged builder's persists are tracked, and consuming inside
    persisted_scope() releases every relation the builder cached."""
    spark.catalog.clearCache()
    specs = all_specs()
    for name in PERSISTING_BUILDERS:
        with persisted_scope():
            n_before = len(_LIVE_PERSISTED)
            df = specs[name].builder(spark, SF)
            assert len(_LIVE_PERSISTED) > n_before, (
                f"{name} persisted nothing through persist_tracked — "
                "either the persist was removed (update this list) or it "
                "bypassed the seam"
            )
            ids = [id(x) for x in _LIVE_PERSISTED]
            assert len(set(ids)) == len(ids), (
                f"{name} registered the same relation more than once"
            )
            df.count()  # consume INSIDE the scope: the cache backs this plan
        assert len(_LIVE_PERSISTED) == 0
    spark.catalog.clearCache()


def test_scope_releases_only_inner_persists(spark):
    """Nested scopes release exactly what was registered inside them."""
    spark.catalog.clearCache()
    # localCheckpoint blocks from earlier tests survive clearCache (GC-
    # released, a Spark limitation) — measure relative to this baseline.
    base = _cached_rdd_count(spark)
    outer = persist_tracked(spark.range(10).toDF("n"))
    outer.count()
    assert len(_LIVE_PERSISTED) == 1
    with persisted_scope():
        inner = persist_tracked(spark.range(5).toDF("m"))
        inner.count()
        assert len(_LIVE_PERSISTED) == 2
    assert len(_LIVE_PERSISTED) == 1
    assert inner.storageLevel.useMemory is False  # released by scope exit
    assert outer.storageLevel.useMemory is True  # untouched
    assert release_persisted() == 1
    assert outer.storageLevel.useMemory is False
    assert _cached_rdd_count(spark) <= base


def test_no_persisted_relation_survives_consumption(spark):
    """The VERDICT done-criterion, verbatim: after consuming each flagged
    builder under the scope, Spark's persistent-RDD registry holds nothing
    from the persist() family (localCheckpoint blocks are exempt — they are
    released on GC, not unpersist, and dedup_clusters documents that)."""
    spark.catalog.clearCache()
    specs = all_specs()
    for name in ("dedup_ngram_jaccard", "q_incremental_dedup"):
        base = _cached_rdd_count(spark)
        with persisted_scope():
            specs[name].builder(spark, SF).count()
        assert _cached_rdd_count(spark) <= base, name
    spark.catalog.clearCache()
