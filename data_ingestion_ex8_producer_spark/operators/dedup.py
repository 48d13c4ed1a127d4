"""Deduplication operators over the ``documents`` table — exact, n-gram
Jaccard, MinHash-LSH, and SimHash.  None exist in the reference (its only
"dedup" concern is the opposite: it re-sends every file forever, SURVEY.md §3
delta 1); these are the LLM-training-pipeline operators the build contract
mandates.

Scale design notes (the 100 TB story for each):

* exact: groupBy(md5(text)) — one shuffle on a uniform 128-bit key; no skew by
  construction.  At petabyte scale, hash first, shuffle only (hash, doc_id).
* jaccard: explode distinct shingles -> self-join on shingle.  The shuffle key
  is the shingle; natural-language "stop shingles" are skewed, so the PRIMARY
  registered forms apply a document-frequency cap on shingles before the join
  (drops only non-discriminative candidates) — the oracle applies the same
  cap, so the capped result is still exactly verified.  The uncapped exact
  forms remain registered as *_exact baselines.
* minhash-LSH: per-doc signature of K salted 48-bit hashes -> band keys ->
  join on (band, signature-slice).  Shuffle volume drops from |pairs| to
  |docs| x bands; collision probability follows the classic (1-s^r)^b curve.
* simhash: 48-bit fingerprint; banded join over 4 x 12-bit sub-keys gives
  GUARANTEED recall for hamming distance <= 3 (pigeonhole: 3 flipped bits
  cannot touch all 4 bands), then exact bit_count verification — so the
  banded candidate path returns exactly the same pairs as the O(n^2) oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    hash48,
    mix48,
    sql_hash48,
    sql_mix48,
    sql_shingle_list,
    with_shingles,
)
from ..plans.registry import register
from ._util import persist_tracked, spread, t, untrack_and_unpersist

# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: hash-groupBy, keep the lowest doc_id per hash."""
    return (
        t(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "dedup_exact_normalized",
    oracle="""
    SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS content_hash,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after canonicalization (lowercase + whitespace collapse) —
    catches trivially-reformatted copies that byte-exact hashing misses."""
    canon = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
    return (
        t(spark, sf_dir, "documents")
        .groupBy(canon.alias("content_hash"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# --------------------------------------------------------------------------
# N-gram Jaccard near-dup
# --------------------------------------------------------------------------

_JACCARD_THRESHOLD = 0.6
_SHINGLE_K = 3
# Shingles present in more than this many documents are dropped before the
# self-join in the PRIMARY (capped) queries: a shingle appearing in f docs
# contributes f^2 join rows, so natural-language stop-shingles are both the
# skew keys and the least discriminative features.  The cap bounds per-key
# join fan-out at _DF_CAP^2 — the property that keeps the operator alive at
# 100 TB — while barely moving the similarity signal.
_DF_CAP = 20


def _jaccard_kept_cte(df_cap: int | None) -> str:
    """Oracle CTE producing the (doc_id, shingle) relation, optionally
    DF-capped with the same semantics as the Spark side."""
    if df_cap is None:
        return "kept AS (SELECT doc_id, shingle FROM sh)"
    return f"""df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
    kept AS (
        SELECT sh.doc_id, sh.shingle FROM sh JOIN df USING (shingle)
        WHERE df.df <= {df_cap}
    )"""


def _jaccard_oracle(df_cap: int | None) -> str:
    return f"""
    WITH sh AS (
        SELECT doc_id, unnest({sql_shingle_list(_SHINGLE_K)}) AS shingle
        FROM documents
    ),
    {_jaccard_kept_cte(df_cap)},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= {_JACCARD_THRESHOLD}
    """


def _shingle_relation(
    spark: SparkSession, sf_dir: str, df_cap: int | None
) -> DataFrame:
    """Exploded (doc_id, xxhash64(shingle)) relation, optionally DF-capped.

    The join runs on xxhash64(shingle): fixed-width longs shuffle and
    compare ~2x faster than ~20-char strings.  Collision odds are
    ~n^2/2^65 over the distinct-shingle vocabulary (≈3e-6 even at n=10^6),
    and the DuckDB oracle keeps exact string equality, so the correctness
    gate would surface any collision that ever changed a reported pair.

    The cap is applied as a broadcast ANTI-join against the shingles ABOVE
    the cap: that set is tiny by construction (only stop-shingles exceed
    it), so it broadcasts at any corpus size — broadcasting the kept
    vocabulary instead would ship the whole (huge) long tail.

    Known subplan duplication, deliberate: Catalyst does not dedupe the
    explode pipeline shared by the hot-set aggregate and the anti-join
    input, so the tokenize/shingle/hash pass runs twice.  An interleaved
    A/B with the pre-cap relation persisted measured NO local win (min
    2.40 s vs 2.43 s at sf0.1 — the duplicated pass is column-pruned and
    CPU-cheap next to the pair join).  At 100 TB the pre-cap relation is
    what a pipeline materializes once as a table, at which point both
    consumers read it and the duplication disappears structurally.
    """
    docs = with_shingles(spread(t(spark, sf_dir, "documents"), spark), _SHINGLE_K)
    sh = docs.select("doc_id", F.explode("shingle_set").alias("shingle")).select(
        "doc_id", F.xxhash64(F.col("shingle")).alias("shingle")
    )
    if df_cap is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > df_cap)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    return sh


def scored_jaccard_pairs(
    a_sh: DataFrame,
    b_sh: DataFrame,
    sizes: DataFrame,
    cond,
    out_a: str = "doc_a",
    out_b: str = "doc_b",
) -> DataFrame:
    """Shared Jaccard-pair core: join two (doc_id, shingle) relations on
    ``cond`` (aliases 'a'/'b' are in scope), count intersections, attach the
    per-doc set sizes, and keep pairs at Jaccard >= _JACCARD_THRESHOLD.
    ONE definition of the intersection/union arithmetic and the threshold,
    shared by the self-join dedup forms and the incremental
    batch-vs-archive form, so the similarity semantics cannot drift."""
    pairs = (
        a_sh.alias("a")
        .join(b_sh.alias("b"), cond)
        .groupBy(F.col("a.doc_id").alias(out_a), F.col("b.doc_id").alias(out_b))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias(out_a), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias(out_b), F.col("sz").alias("sz_b"))
    jaccard = F.col("inter").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("inter")
    )
    return (
        pairs.join(sa, out_a)
        .join(sb, out_b)
        .select(out_a, out_b, jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
    )


def shingle_sizes(sh: DataFrame) -> DataFrame:
    """Per-doc kept-shingle set size over a (doc_id, shingle) relation."""
    return sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))


def _jaccard_pairs(spark: SparkSession, sf_dir: str, df_cap: int | None) -> DataFrame:
    # The exploded shingle relation feeds three subtrees (both join sides +
    # sizes); persist it so the scan+shingle(+cap) work runs once, not three
    # times.  At 100 TB this is a materialized intermediate table, not a cache.
    sh = persist_tracked(_shingle_relation(spark, sf_dir, df_cap))
    return scored_jaccard_pairs(
        sh,
        sh,
        shingle_sizes(sh),
        (F.col("a.shingle") == F.col("b.shingle"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )


@register(
    "dedup_ngram_jaccard",
    oracle=_jaccard_oracle(_DF_CAP),
    bench=True,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by word-3-gram Jaccard >= 0.6 over the DF-capped
    shingle vocabulary — the scale-safe PRIMARY form.

    explode(distinct shingles) -> drop shingles in > _DF_CAP docs
    (broadcast anti-join against the tiny hot set) -> self-equi-join on
    shingle -> count intersections -> Jaccard from |A|+|B|-|A∩B|.  With the
    cap, every join key fans out at most _DF_CAP^2 rows, so the shuffle is
    skew-bounded by construction; the oracle applies the identical cap, so
    the result stays exactly verifiable.  The uncapped exact form is
    registered as dedup_ngram_jaccard_exact (the parity baseline).
    """
    return _jaccard_pairs(spark, sf_dir, _DF_CAP)


@register(
    "dedup_ngram_jaccard_exact",
    oracle=_jaccard_oracle(None),
)
def dedup_ngram_jaccard_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncapped exact word-3-gram Jaccard >= 0.6 — the oracle baseline for
    dedup_ngram_jaccard.  Same plan minus the DF cap: correct at any scale
    but quadratic on stop-shingle keys, so it is NOT the form to run at
    100 TB (and is deliberately not benched)."""
    return _jaccard_pairs(spark, sf_dir, None)


# --------------------------------------------------------------------------
# Asymmetric containment near-dup
# --------------------------------------------------------------------------

_CONTAINMENT_THRESHOLD = 0.8


def _containment_oracle(df_cap: int | None) -> str:
    return f"""
    WITH sh AS (
        SELECT doc_id, unnest({sql_shingle_list(_SHINGLE_K)}) AS shingle
        FROM documents
    ),
    {_jaccard_kept_cte(df_cap)},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS contained_doc, b.doc_id AS container_doc,
               COUNT(*) AS inter
        FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT contained_doc, container_doc,
           CAST(inter AS DOUBLE) / sa.sz AS containment
    FROM pairs JOIN sizes sa ON sa.doc_id = contained_doc
    WHERE CAST(inter AS DOUBLE) / sa.sz >= {_CONTAINMENT_THRESHOLD}
    """


def _containment_pairs(
    spark: SparkSession, sf_dir: str, df_cap: int | None
) -> DataFrame:
    sh = persist_tracked(_shingle_relation(spark, sf_dir, df_cap))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("contained_doc"),
            F.col("b.doc_id").alias("container_doc"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("contained_doc"), F.col("sz").alias("sz_a"))
    containment = F.col("inter").cast("double") / F.col("sz_a")
    return (
        pairs.join(sa, "contained_doc")
        .select("contained_doc", "container_doc", containment.alias("containment"))
        .filter(F.col("containment") >= _CONTAINMENT_THRESHOLD)
    )


@register(
    "dedup_containment",
    oracle=_containment_oracle(_DF_CAP),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment C(A→B) = |A∩B| / |A| ≥ 0.8 over the
    DF-capped vocabulary — documents whose shingle set is mostly inside
    ANOTHER document.  Catches subset/boilerplate duplication (a page
    embedded in a larger crawl, quoted passages, templated wrappers) that
    symmetric Jaccard under-scores because the union in its denominator is
    dominated by the larger doc.

    Same scale shape as dedup_ngram_jaccard (explode distinct shingles →
    DF cap → equi-join on the hashed shingle → count intersections), but
    the pair is ORDERED (contained, container), so both directions of each
    doc pair are scored; only the contained side's size is needed, saving
    one join.  The uncapped exact form is dedup_containment_exact.
    """
    return _containment_pairs(spark, sf_dir, _DF_CAP)


@register(
    "dedup_containment_exact",
    oracle=_containment_oracle(None),
)
def dedup_containment_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncapped exact containment ≥ 0.8 — the oracle baseline for
    dedup_containment; quadratic on stop-shingle keys, not the 100 TB form."""
    return _containment_pairs(spark, sf_dir, None)


# --------------------------------------------------------------------------
# MinHash-LSH near-dup candidates
# --------------------------------------------------------------------------

_MINHASH_PERMS = 32
_LSH_BANDS = 8
_ROWS_PER_BAND = _MINHASH_PERMS // _LSH_BANDS


def _minhash_perm_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, i, band, r, v): one row per (shingle
    occurrence x permutation) with the mixed hash value — the SINGLE
    definition of the salting/mixing/band-layout pipeline, consumed by both
    the band pivot and the full-signature aggregation so the two can never
    drift apart.  md5-hash per shingle occurrence is fused straight into the
    explode — one codegen stage scan->explode->hash->explode(perm)->mix."""
    shingled = with_shingles(docs, _SHINGLE_K)
    hashed = shingled.select(
        "doc_id", F.explode("shingle_set").alias("shingle")
    ).select(
        "doc_id",
        hash48(F.col("shingle")).alias("__h1"),
        hash48(F.concat(F.lit("x:"), F.col("shingle"))).alias("__h2"),
    )
    return hashed.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(_MINHASH_PERMS - 1))).alias("i"),
        F.col("__h1"),
        F.col("__h2"),
    ).select(
        "doc_id",
        "i",
        (F.col("i") / _ROWS_PER_BAND).cast("int").alias("band"),
        (F.col("i") % _ROWS_PER_BAND).alias("r"),
        mix48(F.col("__h1") + F.col("i") * F.col("__h2")).alias("v"),
    )


def _band_pivot(rows: DataFrame, value_col: str = "v") -> DataFrame:
    """(doc_id, band, r, <value>) -> (doc_id, band, r0..r3): each band's 4
    ordered minima as 4 long columns.  min(when(r==k, v)) over perm rows IS
    the per-perm minhash, because each (band, k) slot sees exactly the rows
    of perm i = band*4+k."""
    return rows.groupBy("doc_id", "band").agg(
        *[
            F.min(F.when(F.col("r") == r, F.col(value_col))).alias(f"r{r}")
            for r in range(_ROWS_PER_BAND)
        ]
    )


def minhash_band_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, band, r0..r3) LSH band signature rows —
    the reusable core of MinHash-LSH, shared by the batch candidate query
    below and the streaming incremental dedup (`streaming/dedup.py`).

    ONE aggregation straight to band rows: the per-perm min and the pivot of
    each band's 4 minima fuse into a single groupBy(doc, band) — saving the
    second shuffle a minima-then-pivot plan needs (benched 3.3s -> 2.4s at
    sf0.1).  The (band, r0..r3) join key is fixed-width longs, equality
    identical to the oracle's comma-joined string signature.  See
    ``dedup_minhash_lsh`` for the perm-explosion rationale."""
    return _band_pivot(_minhash_perm_rows(docs))


def band_match_condition():
    """Join condition between band rows aliased ``a`` and ``b``: same band,
    identical 4-hash slice, ordered pair."""
    cond = (F.col("a.band") == F.col("b.band")) & (
        F.col("a.doc_id") < F.col("b.doc_id")
    )
    for r in range(_ROWS_PER_BAND):
        cond = cond & (F.col(f"a.r{r}") == F.col(f"b.r{r}"))
    return cond


def _minhash_cte() -> str:
    """Shared WITH-prefix: per-doc minhash signature (mh0..mh31) + band rows
    — used by the candidate oracle and the jaccard-estimate oracle."""
    mins = ",\n           ".join(
        f"MIN({sql_mix48(f'(h1 + {i} * h2)')}) AS mh{i}"
        for i in range(_MINHASH_PERMS)
    )
    band_rows = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, {band} AS band, "
        + " || ',' || ".join(
            f"CAST(mh{band * _ROWS_PER_BAND + r} AS VARCHAR)"
            for r in range(_ROWS_PER_BAND)
        )
        + " AS sig FROM sig"
        for band in range(_LSH_BANDS)
    )
    return f"""
    WITH sh AS (
        SELECT doc_id, unnest({sql_shingle_list(_SHINGLE_K)}) AS shingle
        FROM documents
    ),
    hashed AS (
        SELECT doc_id,
               {sql_hash48('shingle')} AS h1,
               {sql_hash48("'x:' || shingle")} AS h2
        FROM sh
    ),
    sig AS (
        SELECT doc_id,
           {mins}
        FROM hashed GROUP BY doc_id
    ),
    bands AS (
        {band_rows}
    )"""


def _minhash_oracle() -> str:
    return (
        _minhash_cte()
        + """
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    """
    )


@register(
    "dedup_minhash_lsh",
    oracle=_minhash_oracle(),
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: 32 salted minhashes, 8 bands x 4 rows;
    a pair is a candidate when any band's 4-hash slice matches exactly.

    At s = 0.6 Jaccard the candidate probability is 1-(1-0.6^4)^8 ≈ 0.67;
    at s = 0.9 it is ≈ 0.998 — the classic LSH S-curve.  Shuffle volume is
    |docs| x 8 band rows, never the O(n^2) pair space.

    The K hash functions are h_i = mix48(h1 + i*h2) — Kirsch-Mitzenmacher
    double hashing from two md5 evaluations per shingle, with an avalanche
    finalizer (without the mixer the linear family's correlated argmins gave
    ~7x false-positive candidates at sf0.01; with it, candidates are
    identical to fully independent salted md5 hashes, which benched 5x
    slower).

    Plan shape (found via bench, sf0.1): the perm index is EXPLODED to rows
    so mix48 appears ONCE in the plan.  The earlier form — 32 parallel
    ``min(mix48(h1 + i*h2))`` aggregates — inlined the ~300-node mixer tree
    32 times and eager DataFrame analysis alone cost ~2.4 s per call, data-
    independent; this shape builds in ~0.1 s and executes the same number of
    mix evaluations.  Map-side partial min keeps the shuffle at |docs| x 32
    rows either way, and the per-band 4-hash slice pivots into 4 plain long
    join keys (no string concat).  (Also rejected: transform()-HOF lambda
    for the K mixes — interpreted, 8x slower exec; Arrow/numpy pandas UDF —
    ties the Catalyst path while leaving codegen.)
    """
    docs = spread(t(spark, sf_dir, "documents"), spark)
    # Tiny (|docs| x 8 rows), feeds both join sides — persist.
    bands = persist_tracked(minhash_band_signatures(docs))
    return (
        bands.alias("a")
        .join(bands.alias("b"), band_match_condition())
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _minhash_estimate_oracle() -> str:
    agree = " + ".join(
        f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END"
        for i in range(_MINHASH_PERMS)
    )
    return (
        _minhash_cte()
        + f""",
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST({agree} AS BIGINT) AS n_agree,
           CAST({agree} AS DOUBLE) / {_MINHASH_PERMS} AS est_jaccard
    FROM cand c
    JOIN sig a ON a.doc_id = c.doc_a
    JOIN sig b ON b.doc_id = c.doc_b
    """
    )


def minhash_signature_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, i, mh): the full 32-value minhash signature
    as rows — one min per (doc, permutation), the relation the jaccard
    estimator compares pairwise.  Built on the same ``_minhash_perm_rows``
    pipeline as the band signatures, so the salting/mixing/band layout has
    exactly one definition."""
    return (
        _minhash_perm_rows(docs)
        .groupBy("doc_id", "i")
        .agg(F.min("v").alias("mh"))
    )


@register(
    "q_minhash_jaccard_estimate",
    oracle=_minhash_estimate_oracle(),
)
def q_minhash_jaccard_estimate(
    spark: SparkSession, sf_dir: str, enforce_candidate_budget: bool = False
) -> DataFrame:
    """Estimated Jaccard similarity for every MinHash-LSH candidate pair:
    est_J = (# of the 32 minhash slots where the two signatures agree) / 32.
    This is the cheap second stage of the classic dedup cascade — LSH finds
    candidates, signature agreement scores them WITHOUT touching the
    documents again, and only pairs near the decision boundary would go to
    an exact verify.  E[est_J] = J with std ≈ sqrt(J(1-J)/32).

    Scale shape: signatures are |docs| x 32 fixed-width rows (one
    map-side-combinable groupBy); the candidate set from banding is tiny
    relative to the corpus, so both signature lookups are broadcast joins
    against the streamed signature relation — no pair-space shuffle
    anywhere.  est_jaccard = n_agree/32 is a power-of-two division: exact
    in IEEE double on both engines."""
    docs = spread(t(spark, sf_dir, "documents"), spark)
    # ONE shingle->hash->min pass: the persisted signature rows feed both the
    # band pivot (candidate generation) and the pairwise agreement count.
    # Lifecycle: a builder returns a lazy plan, so it cannot unpersist after
    # its own action — consumers own cleanup, via _util.persisted_scope()
    # (every persist here is registered with persist_tracked).  bench.py
    # clearCache()s after every timed run and check_correctness clears
    # between queries, so the persist never warms a later measurement or
    # leaks across queries; long-lived sessions use the scope.
    sig = persist_tracked(minhash_signature_rows(docs))
    bands = _band_pivot(
        sig.select(
            "doc_id",
            (F.col("i") / _ROWS_PER_BAND).cast("int").alias("band"),
            (F.col("i") % _ROWS_PER_BAND).alias("r"),
            "mh",
        ),
        value_col="mh",
    )
    if enforce_candidate_budget:
        # Opt-in valve for verify-stage consumers (q_dedup_threshold_curve):
        # bands derive from the persisted sig, so this extra aggregate is a
        # cached-input pass, not a second shingle scan.
        try:
            _assert_candidate_budget(
                bands,
                docs.count(),
                "q_minhash_jaccard_estimate[verify-stage consumer]",
            )
        except RuntimeError:
            untrack_and_unpersist(sig)  # aborted build: no cache leak
            raise
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), band_match_condition())
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sig_a = sig.select(
        F.col("doc_id").alias("doc_a"), "i", F.col("mh").alias("mh_a")
    )
    sig_b = sig.select(
        F.col("doc_id").alias("doc_b"), "i", F.col("mh").alias("mh_b")
    )
    pa = sig_a.join(F.broadcast(cand), "doc_a")
    return (
        F.broadcast(pa)
        .join(sig_b, ["doc_b", "i"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.when(F.col("mh_a") == F.col("mh_b"), 1).otherwise(0))
            .cast("long")
            .alias("n_agree")
        )
        .select(
            "doc_a",
            "doc_b",
            "n_agree",
            (F.col("n_agree").cast("double") / _MINHASH_PERMS).alias("est_jaccard"),
        )
    )


# --------------------------------------------------------------------------
# SimHash near-dup
# --------------------------------------------------------------------------

_SIMHASH_BITS = 48
_SIMHASH_BANDS = 4
_BAND_BITS = _SIMHASH_BITS // _SIMHASH_BANDS
_HAMMING_MAX = 3  # < _SIMHASH_BANDS, so banding has guaranteed recall


# Packed-lane aggregation: the mathematically defined per-bit sum over
# distinct tokens of (+1 if token-hash bit b set else -1) is s_b = 2*c_b - n,
# where c_b counts tokens with bit b set and n counts tokens.  So instead of
# 48 SUM(CASE ...) aggregate buffers (a wide agg whose generated update
# method is slow to compile and run), each input row packs 3 bit-indicators
# into 16-bit lanes of 16 longs and ONE SUM per long adds all lanes in
# parallel; bit b of the signature is then set iff 2*c_b >= n — integer
# arithmetic, identical to the oracle's sign-of-sum.  Lane width 16 bounds
# n at 65,535 DISTINCT tokens per document (a multi-hundred-KB document)
# before a lane overflows; raise _PACK_LANES' width before ingesting
# corpora with wider single-document vocabularies.
_PACK_LANES = 3  # lanes per long; 16-bit lanes -> 3 * 16 = 48 bits used
_PACK_W = 16
_PACK_LONGS = _SIMHASH_BITS // _PACK_LANES


def _simhash_agg():
    """Per-doc packed bit counts: p{g} lane j holds c_(g*LANES+j).

    Rendered as SQL strings (r11-opt): the Column-by-Column form spent
    ~0.6 s of py4j round trips PER BUILD constructing the 16 x 3-lane
    shift/mask tree; one F.expr per pack parses JVM-side in milliseconds.
    The generated expressions are operator-for-operator the same."""
    packs = [F.count(F.lit(1)).alias("n")]
    for g in range(_PACK_LONGS):
        terms = " + ".join(
            "shiftleft(CAST((shiftright(th, "
            f"{g * _PACK_LANES + j}) & 1) AS BIGINT), {_PACK_W * j})"
            for j in range(_PACK_LANES)
        )
        packs.append(F.expr(f"sum({terms})").alias(f"p{g}"))
    return packs


def _simhash_combine():
    # Overflow guard: a document with more distinct tokens than a 16-bit lane
    # can count would silently corrupt its neighbours' counters, so make it a
    # loud error instead.  assert_true returns NULL when the predicate holds,
    # so the coalesce contributes 0 to the signature on the happy path; the
    # optimizer cannot elide it (RaiseError is side-effecting).
    # One SQL string (r11-opt, same rationale as _simhash_agg: the 48-term
    # Column chain cost ~0.9 s of py4j per build).
    lane_max = (1 << _PACK_W) - 1
    guard = (
        "coalesce(CAST(assert_true(n <= {m}, concat("
        "'simhash lane overflow: doc_id ', CAST(doc_id AS STRING), "
        "' has > {m} distinct tokens; widen _PACK_W')) AS BIGINT), "
        "CAST(0 AS BIGINT))"
    ).format(m=lane_max)
    bits = " + ".join(
        f"(CASE WHEN (shiftright(p{g}, {_PACK_W * j}) & {lane_max}) * 2 >= n "
        f"THEN CAST({2 ** (g * _PACK_LANES + j)} AS BIGINT) ELSE 0 END)"
        for g in range(_PACK_LONGS)
        for j in range(_PACK_LANES)
    )
    return F.expr(f"{guard} + {bits}").alias("simhash")


def _simhash_oracle() -> str:
    bit_sums = ",\n           ".join(
        f"SUM(CASE WHEN (th >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(_SIMHASH_BITS)
    )
    combine = " + ".join(
        f"CASE WHEN s{b} >= 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END"
        for b in range(_SIMHASH_BITS)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct({sql_shingle_list(1)})) AS token
        FROM documents
    ),
    hashed AS (SELECT doc_id, {sql_hash48('token')} AS th FROM toks),
    bitsum AS (
        SELECT doc_id,
           {bit_sums}
        FROM hashed GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, {combine} AS simhash FROM bitsum)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
    """


@register(
    "dedup_simhash",
    oracle=_simhash_oracle(),
    bench=True,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with hamming distance <= 3 over 48-bit
    fingerprints, found via a banded join (4 x 12-bit keys) + exact
    bit_count verification — identical output to the O(n^2) oracle, with
    O(n x bands) shuffle volume (see module docstring for the recall proof).

    Honest scale note (SCALING.md measures ratio ~5 at 10x): the SHUFFLE is
    O(n x bands), but expected candidate pairs inside a band bucket grow as
    ~n^2 / 2^band_bits on uncorrelated fingerprints — the residual
    quadratic term every guaranteed-recall banding scheme carries.  The
    production knob is the fingerprint/band width: widening to 64-bit
    fingerprints with 4 x 16-bit bands divides the candidate constant by
    16 at the same hamming-3 guarantee (pigeonhole needs bands > radius,
    which 4 > 3 still satisfies); this corpus keeps 48/12 so the oracle's
    packed-lane SQL stays readable."""
    docs = t(spark, sf_dir, "documents").withColumn(
        "tok", F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))
    )
    toks = docs.select("doc_id", F.explode("tok").alias("token")).withColumn(
        "th", hash48(F.col("token"))
    )
    sig = persist_tracked(  # |docs| x 1 long, feeds both sides of the banded join
        toks.groupBy("doc_id")
        .agg(*_simhash_agg())
        .select("doc_id", _simhash_combine())
    )
    band_structs = [
        F.struct(
            F.lit(band).alias("band"),
            F.shiftright(F.col("simhash"), band * _BAND_BITS)
            .bitwiseAND(F.lit(2**_BAND_BITS - 1))
            .alias("key"),
        )
        for band in range(_SIMHASH_BANDS)
    ]
    bands = sig.select(
        "doc_id", "simhash", F.explode(F.array(*band_structs)).alias("bs")
    ).select(
        "doc_id", "simhash", F.col("bs.band").alias("band"), F.col("bs.key").alias("key")
    )
    a = bands.alias("a")
    b = bands.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= _HAMMING_MAX)
        .distinct()
    )


# --------------------------------------------------------------------------
# Near-dup cluster resolution (connected components)
# --------------------------------------------------------------------------


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE sh AS (
        SELECT doc_id, unnest({sql_shingle_list(_SHINGLE_K)}) AS shingle
        FROM documents
    ),
    {_jaccard_kept_cte(_DF_CAP)},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT doc_a, doc_b FROM pairs
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= {_JACCARD_THRESHOLD}
    ),
    sym AS (
        SELECT doc_a AS a, doc_b AS b FROM edges
        UNION SELECT doc_b, doc_a FROM edges
    ),
    nodes AS (SELECT DISTINCT a AS doc_id FROM sym),
    reach(a, b) AS (
        SELECT doc_id, doc_id FROM nodes
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    )
    SELECT a AS doc_id,
           MIN(b) AS cluster_id,
           CAST(COUNT(DISTINCT b) AS BIGINT) AS cluster_size
    FROM reach
    GROUP BY a
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the DF-capped near-dup (Jaccard >= 0.6):
    each document in any near-dup pair is labeled with its cluster's minimum
    doc_id — the canonical keeper — plus the cluster size.

    Spark side is Pregel-style iterative min-label propagation: each round
    joins labels to the symmetric edge list, takes min(own, neighbors'), and
    stops at fixpoint.  Rounds = graph diameter (near-dup clusters are tiny,
    so 2-4 rounds); localCheckpoint() truncates the growing lineage each
    round — the standard iterative-algorithm discipline on Spark.  The
    oracle computes the same components with a recursive-CTE transitive
    closure (fine for the oracle's small graph; closure is O(n^2) per
    component and would NOT be the engine-side plan).
    """
    edges = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    # Both orientations exploded from ONE reference: union(edges,
    # edges.reversed) evaluated the whole unpersisted Jaccard pipeline
    # (shingle scan + DF cap + pair join) twice at materialization
    # (r11-opt; row-for-row identical, order never matters downstream).
    sym = persist_tracked(
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a"), F.col("doc_b")),
                    F.struct(
                        F.col("doc_b").alias("doc_a"),
                        F.col("doc_a").alias("doc_b"),
                    ),
                )
            ).alias("e")
        ).select("e.doc_a", "e.doc_b")
    )
    labels = sym.select(F.col("doc_a").alias("doc_id")).distinct().withColumn(
        "label", F.col("doc_id")
    ).localCheckpoint()

    for _ in range(20):  # cap >> any real near-dup cluster diameter
        neighbor_min = (
            sym.join(labels, sym.doc_b == labels.doc_id)
            .groupBy(sym.doc_a.alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # Convergence is folded INTO the update pass: the new label and a
        # did-it-change flag come out of the same join, the eager
        # localCheckpoint materializes both in one job, and the fixpoint
        # test is a cheap scan of the just-cached blocks — r3 ran a second
        # full labels-join job per round just to count changes.
        updated = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("changed"),
            )
            .localCheckpoint()
        )
        labels = updated.select("doc_id", "label")
        if updated.filter("changed").limit(1).count() == 0:
            break

    cluster_sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labels.join(cluster_sizes, "label")
        .select(
            "doc_id",
            F.col("label").alias("cluster_id"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
        )
    )


# --------------------------------------------------------------------------
# Survivorship: the per-document keep/drop verdict a release actually ships
# --------------------------------------------------------------------------


def content_hashed(spark: SparkSession, sf_dir: str, *extra_cols: str) -> DataFrame:
    """(doc_id, md5(text), *extra_cols) — the content-hash relation behind
    every keep-first-seen exact-dedup policy.  ONE definition so the
    survivorship verdict and the per-source dup profile (and any future
    consumer) can never drift on what "same content" means."""
    return t(spark, sf_dir, "documents").select(
        "doc_id", *extra_cols, F.md5(F.col("text")).alias("h")
    )


def keeper_of(hashed: DataFrame) -> DataFrame:
    """(h, keep_id): the minimum doc_id per content hash — the keeper."""
    return hashed.groupBy("h").agg(F.min("doc_id").alias("keep_id"))


def sql_keeper_ctes(extra_cols: str = "", where: str = "") -> str:
    """Oracle twin of content_hashed + keeper_of, as two WITH clauses named
    ``hashes`` and ``keeper``.  ``extra_cols`` rides along in ``hashes``;
    ``where`` (a full ``WHERE ...`` clause) restricts the population — the
    incremental form keeps only the known-corpus slice."""
    cols = f"doc_id, {extra_cols}, " if extra_cols else "doc_id, "
    return (
        f"hashes AS (SELECT {cols}md5(text) AS h FROM documents{where}),\n"
        "    keeper AS (SELECT h, MIN(doc_id) AS keep_id FROM hashes GROUP BY h)"
    )


@register(
    "q_dedup_survivorship",
    oracle=f"""
    WITH near AS ({_jaccard_oracle(_DF_CAP)}),
    {sql_keeper_ctes()},
    nd AS (SELECT doc_b AS doc_id, MIN(doc_a) AS near_partner
           FROM near GROUP BY doc_b)
    SELECT d.doc_id,
           CASE WHEN d.doc_id <> k.keep_id THEN 'exact_dup'
                WHEN nd.near_partner IS NOT NULL THEN 'near_dup'
                ELSE 'kept' END AS reason,
           (d.doc_id = k.keep_id AND nd.near_partner IS NULL) AS keep,
           CAST(CASE WHEN d.doc_id <> k.keep_id THEN k.keep_id
                     ELSE nd.near_partner END AS BIGINT) AS partner
    FROM hashes d
    JOIN keeper k USING (h)
    LEFT JOIN nd ON nd.doc_id = d.doc_id
    """,
)
def q_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document dedup verdict — the artifact a curation release ships:
    every doc_id labeled kept / exact_dup / near_dup, with keep as a
    boolean and the partner it lost to (the content-hash keeper for exact
    dups, the smallest near-dup counterpart for near dups, NULL for kept).

    Policy (deterministic on both engines): exact duplicate = not the
    minimum doc_id for its md5(text); near duplicate = the HIGHER id of any
    DF-capped 3-gram Jaccard >= 0.6 pair (dedup_ngram_jaccard, the
    registered primary) — keep-first-seen, exact beats near when both
    apply.

    Scale shape: the exact stage is a uniform md5 groupBy (no skew by
    construction); the near stage reuses the capped-jaccard pair relation
    whose shuffle is skew-bounded by the DF cap; the verdict join ships
    only (doc_id, h) and the narrow drop relations — the wide text column
    never rides through any shuffle.  The near-partner relation is NOT
    broadcast-hinted: on a duplicate-heavy corpus (exactly when this
    report matters) it is a constant fraction of all documents, so the
    join stays a shuffle join on doc_id and AQE may broadcast it when
    runtime stats show it is actually small."""
    docs = content_hashed(spark, sf_dir)
    keeper = keeper_of(docs)
    near = (
        dedup_ngram_jaccard(spark, sf_dir)
        .groupBy(F.col("doc_b").alias("doc_id"))
        .agg(F.min("doc_a").alias("near_partner"))
    )
    exact_dup = F.col("doc_id") != F.col("keep_id")
    reason = (
        F.when(exact_dup, "exact_dup")
        .when(F.col("near_partner").isNotNull(), "near_dup")
        .otherwise("kept")
    )
    return (
        docs.join(keeper, "h")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            reason.alias("reason"),
            (~exact_dup & F.col("near_partner").isNull()).alias("keep"),
            F.when(exact_dup, F.col("keep_id"))
            .otherwise(F.col("near_partner"))
            .cast("long")
            .alias("partner"),
        )
    )


# --------------------------------------------------------------------------
# Incremental dedup: new batch vs known corpus (the daily-crawl shape)
# --------------------------------------------------------------------------

_INC_MOD = 5  # doc_id % 5 == 0 -> the "incoming batch" stand-in slice


@register(
    "q_incremental_dedup",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, unnest({sql_shingle_list(_SHINGLE_K)}) AS shingle
        FROM documents
    ),
    {_jaccard_kept_cte(_DF_CAP)},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS inc_id, b.doc_id AS known_id, COUNT(*) AS inter
        FROM kept a JOIN kept b ON a.shingle = b.shingle
        WHERE a.doc_id % {_INC_MOD} = 0 AND b.doc_id % {_INC_MOD} <> 0
        GROUP BY 1, 2
    ),
    near AS (
        SELECT inc_id, MIN(known_id) AS near_id
        FROM pairs
        JOIN sizes sa ON sa.doc_id = inc_id
        JOIN sizes sb ON sb.doc_id = known_id
        WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter)
              >= {_JACCARD_THRESHOLD}
        GROUP BY inc_id
    ),
    {sql_keeper_ctes(where=f" WHERE doc_id % {_INC_MOD} <> 0")}
    SELECT i.doc_id,
           CASE WHEN k.keep_id IS NOT NULL THEN 'exact_dup'
                WHEN n.near_id IS NOT NULL THEN 'near_dup'
                ELSE 'new' END AS verdict,
           CAST(COALESCE(k.keep_id, n.near_id) AS BIGINT) AS match_id
    FROM (SELECT doc_id, md5(text) AS h FROM documents
          WHERE doc_id % {_INC_MOD} = 0) i
    LEFT JOIN keeper k USING (h)
    LEFT JOIN near n ON n.inc_id = i.doc_id
    """,
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: label each document of an INCOMING batch (here
    the doc_id % 5 == 0 slice stands in for today's crawl) as exact_dup /
    near_dup / new against the KNOWN corpus (the rest), with the known
    document it matched.  Exact beats near; the near match is the smallest
    known counterpart at capped-shingle Jaccard >= 0.6.

    This is the shape that keeps continuous-crawl dedup alive at 100 TB:
    the known corpus is never self-joined — both stages are ONE-SIDED
    joins of the (small) incoming relation against the known side
    (content-hash equi-join; DF-capped shingle join whose fan-out per key
    is still bounded by the cap), so daily cost scales with the batch, not
    the archive.  A production deployment materializes the known shingle/
    hash relations once and reuses them across batches (here both derive
    from one table, split by the modulo stand-in)."""
    docs = content_hashed(spark, sf_dir)
    inc_docs = docs.filter((F.col("doc_id") % _INC_MOD) == 0)
    known_keeper = keeper_of(docs.filter((F.col("doc_id") % _INC_MOD) != 0))

    sh = persist_tracked(_shingle_relation(spark, sf_dir, _DF_CAP))
    near = (
        scored_jaccard_pairs(
            sh.filter((F.col("doc_id") % _INC_MOD) == 0),
            sh.filter((F.col("doc_id") % _INC_MOD) != 0),
            shingle_sizes(sh),
            F.col("a.shingle") == F.col("b.shingle"),
            out_a="inc_id",
            out_b="known_id",
        )
        .groupBy("inc_id")
        .agg(F.min("known_id").alias("near_id"))
    )
    verdict = (
        F.when(F.col("keep_id").isNotNull(), "exact_dup")
        .when(F.col("near_id").isNotNull(), "near_dup")
        .otherwise("new")
    )
    return (
        inc_docs.join(known_keeper, "h", "left")
        .join(near, inc_docs.doc_id == near.inc_id, "left")
        .select(
            "doc_id",
            verdict.alias("verdict"),
            F.coalesce(F.col("keep_id"), F.col("near_id"))
            .cast("long")
            .alias("match_id"),
        )
    )


# --------------------------------------------------------------------------
# Cluster-size distribution (dedup reporting closure)
# --------------------------------------------------------------------------


def _cluster_stats_oracle() -> str:
    from ..plans import registry as _reg

    clusters_sql = _reg._REGISTRY["dedup_clusters"].oracle
    return f"""
    WITH clusters AS ({clusters_sql})
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) - COUNT(DISTINCT cluster_id) AS BIGINT)
             AS n_removable
    FROM clusters
    GROUP BY cluster_size
    """


@register(
    "q_dedup_cluster_stats",
    oracle=_cluster_stats_oracle(),
)
def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size distribution of the near-dup graph: for each cluster
    size, how many clusters exist, how many documents they hold, and how
    many are removable (all but one keeper per cluster) — the one-page
    answer to "how much does near-dedup actually shrink this corpus?",
    closing the dedup family's pipeline (pairs -> clusters -> this
    report).

    Composes the registered dedup_clusters operator (iterative min-label
    propagation; its oracle's recursive-CTE closure is reused verbatim as
    a CTE here — one definition of the clustering on each engine).  The
    rollup itself is metadata-sized: cluster sizes are small integers, so
    the final groupBy holds a handful of rows at any corpus size."""
    clusters = dedup_clusters(spark, sf_dir)
    return clusters.groupBy("cluster_size").agg(
        F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.count(F.lit(1)) - F.countDistinct("cluster_id"))
        .cast("long")
        .alias("n_removable"),
    ).select(
        F.col("cluster_size").cast("long").alias("cluster_size"),
        "n_clusters",
        "n_docs",
        "n_removable",
    )


# --------------------------------------------------------------------------
# Candidate-set quality: recall/precision of the scale paths vs exact truth
# --------------------------------------------------------------------------


def _pair_recall_oracle() -> str:
    return f"""
    WITH truth AS ({_jaccard_oracle(None)}),
    capped AS ({_jaccard_oracle(_DF_CAP)}),
    mh AS ({_minhash_oracle()}),
    stats AS (
        SELECT 'df_capped' AS method,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM capped) AS n_pred,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM capped c
                JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
                 AS n_common
        UNION ALL
        SELECT 'minhash_lsh',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM mh),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM truth),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM mh m
                JOIN truth t ON t.doc_a = m.doc_a AND t.doc_b = m.doc_b)
    )
    SELECT method, n_pred, n_truth, n_common,
           CAST(n_common AS DOUBLE) / n_truth AS recall_vs_exact,
           CASE WHEN n_pred > 0
                THEN CAST(n_common AS DOUBLE) / n_pred END AS precision_vs_exact
    FROM stats
    """


@register(
    "q_dedup_pair_recall",
    oracle=_pair_recall_oracle(),
)
def q_dedup_pair_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall AND precision of the two deployed near-dup scale paths against
    the exact all-shingles Jaccard truth — the dedup-side twin of
    q_ann_recall's acceptance-metric pattern: before a pipeline trusts a
    capped or sketched dedup pass at 100 TB, it measures what fraction of
    true duplicate pairs the cheap path finds (recall) and how much of what
    it flags is real (precision), at a scale where the exact form is still
    runnable.

    Two methods, one report row each, composing the REGISTERED operators so
    the thing measured is the thing deployed:

    * ``df_capped``   — dedup_ngram_jaccard (DF-capped shingle join).  The
      cap changes both candidates and the computed Jaccard (sizes count
      kept shingles only), so its pair set can drift from truth exactly
      where hot shingles dominate a document.
    * ``minhash_lsh`` — dedup_minhash_lsh band-collision CANDIDATES
      (precision < 1 expected by design: the S-curve admits sub-threshold
      pairs; the verify stage downstream restores it).

    Scale shape: the heavy lifting is inside the composed operators (each
    with its own scale story; the exact truth is the one deliberately
    quadratic anchor, which is the point of running the measurement at
    evaluation scale).  The evaluation itself joins pair-id sets (tiny) and
    emits 2 rows."""
    # The truth anchor (deliberately quadratic) was re-evaluated THREE
    # times (its count + one join per method) and each method's pair set
    # twice; all three are small pair lists — persist them (r11-opt;
    # consumers release via persisted_scope, the standing contract).
    truth = persist_tracked(
        dedup_ngram_jaccard_exact(spark, sf_dir).select("doc_a", "doc_b")
    )
    n_truth = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    parts = []
    for method, pred_df in (
        ("df_capped", dedup_ngram_jaccard(spark, sf_dir)),
        ("minhash_lsh", dedup_minhash_lsh(spark, sf_dir)),
    ):
        pred = persist_tracked(pred_df.select("doc_a", "doc_b"))
        n_pred = pred.agg(F.count(F.lit(1)).cast("long").alias("n_pred"))
        n_common = (
            pred.join(truth, ["doc_a", "doc_b"])
            .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        )
        parts.append(
            n_pred.crossJoin(n_common)
            .crossJoin(n_truth)
            .select(
                F.lit(method).alias("method"),
                "n_pred",
                "n_truth",
                "n_common",
                (F.col("n_common").cast("double") / F.col("n_truth")).alias(
                    "recall_vs_exact"
                ),
                F.when(
                    F.col("n_pred") > 0,
                    F.col("n_common").cast("double") / F.col("n_pred"),
                ).alias("precision_vs_exact"),
            )
        )
    return parts[0].unionAll(parts[1])


# --------------------------------------------------------------------------
# LSH index health: band-bucket statistics (the dedup-side analog of the
# ANN recall measurements — the engine surveils its own index)
# --------------------------------------------------------------------------


@register(
    "q_lsh_band_stats",
    oracle=_minhash_cte()
    + """,
    buckets AS (
        SELECT band, sig, CAST(COUNT(*) AS BIGINT) AS c
        FROM bands GROUP BY band, sig
    )
    SELECT band,
           CAST(SUM(c) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(c) AS BIGINT) AS max_bucket,
           CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_multi_buckets,
           CAST(SUM((c * (c - 1)) // 2) AS BIGINT) AS candidate_pairs
    FROM buckets GROUP BY band
    """,
)
def q_lsh_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-bucket health report for the deployed MinHash-LSH index — the
    dedup-side analog of the ANN recall specs (every index the engine
    deploys ships its own surveillance): per band, the bucket count, the
    LARGEST bucket, how many buckets hold >=2 docs, and the exact number
    of candidate pairs the band contributes (sum of C(c,2) over buckets).
    candidate_pairs IS the band's share of the LSH join's shuffle output,
    so this report is the early-warning dial for the quadratic hot-bucket
    blowup the banded join must never develop: a healthy index shows
    max_bucket near 1-2 and candidate_pairs << n_docs^2; a degenerate
    hash family or boilerplate-flooded corpus shows one giant bucket, and
    the remedy (more bands x fewer rows, or a stop-shingle cap like the
    jaccard DF cap) is applied BEFORE the pair join melts down.  This is
    the same surveillance q_key_skew_profile provides for groupBy keys,
    specialized to the index's band space.

    Exactness: bucket sizes are integers; C(c,2) uses integer `div` on
    the always-even product, so every column is associative BIGINT
    arithmetic.

    Scale shape: reuses the registered signature builder
    (minhash_band_signatures — one fused groupBy straight to band rows),
    then a (band, sig) count and an 8-key rollup: two map-side-combinable
    metadata aggregates over |docs| x 8 rows; the report never touches
    the pair space it measures."""
    docs = spread(t(spark, sf_dir, "documents"), spark)
    buckets = (
        minhash_band_signatures(docs)
        .groupBy("band", "r0", "r1", "r2", "r3")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return buckets.groupBy("band").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("c").cast("long").alias("max_bucket"),
        F.sum((F.col("c") >= 2).cast("long")).cast("long").alias(
            "n_multi_buckets"
        ),
        F.sum(F.expr("c * (c - 1) div 2")).cast("long").alias(
            "candidate_pairs"
        ),
    )


# --------------------------------------------------------------------------
# Edit-distance near-dup verification (LSH candidates -> exact Levenshtein)
# --------------------------------------------------------------------------

_EDIT_SIM_THRESHOLD = 0.8  # keep pairs with 1 - lev/max(len) >= 0.8

# Candidate-budget safety valve (VERDICT r10 #4, the _RO_MAX_BINS
# doctrine): the verify stages pay O(1)-per-CANDIDATE — and for
# Levenshtein, O(len^2)-per-candidate — so their bill is bounded iff the
# LSH candidate set stays ~linear in the corpus.  The design contract is
# a few candidates per document; 256x that is far above any healthy
# corpus (sf0.1 measures ~3 candidates/doc) yet still rules out the
# quadratic regime a pathologically duplicated real corpus creates
# (a single 10%-duplicate cluster in a 1M-doc corpus is ~5e9 pairs —
# ~20,000x this budget).
_VERIFY_CAND_PER_DOC = 256


def _assert_candidate_budget(bands: DataFrame, n_docs: int, spec: str) -> None:
    """Fail fast BEFORE launching a verify stage whose candidate set has
    gone quadratic: sum C(c,2) over the LSH band buckets — the exact
    quantity the q_lsh_band_stats surveillance spec reports, and an upper
    bound on distinct candidate pairs (pairs sharing multiple bands count
    once per band) — and refuse the pair join when it exceeds
    _VERIFY_CAND_PER_DOC x n_docs.  The check is one map-side-combinable
    aggregate over the (already computed) band rows: metadata-priced next
    to the verify join it guards.  A tripped valve is an actionable
    error, not a wedged cluster: the remedies it names (pre-collapse
    exact duplicates, raise the band count, drop hot buckets) all shrink
    candidates without touching kept-pair semantics for healthy data."""
    bucket_cols = [c for c in bands.columns if c != "doc_id"]
    total = (
        bands.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum((F.col("c") * (F.col("c") - F.lit(1))) / 2)
            .cast("long")
            .alias("pairs")
        )
        .collect()[0]["pairs"]
    ) or 0
    budget = _VERIFY_CAND_PER_DOC * max(int(n_docs), 1)
    if total > budget:
        raise RuntimeError(
            f"{spec}: LSH candidate budget exceeded — {total} bucket pairs "
            f"> {_VERIFY_CAND_PER_DOC}/doc x {n_docs} docs = {budget}. The "
            f"corpus is pathologically duplicated for a verify-stage dedup; "
            f"run dedup_exact first to collapse identical documents, raise "
            f"the band count, or cap hot buckets (see q_lsh_band_stats for "
            f"the per-bucket breakdown) before re-running."
        )


def _edit_distance_oracle() -> str:
    return (
        _minhash_cte()
        + f""",
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    scored AS (
        SELECT c.doc_a, c.doc_b,
               CAST(length(da.text) AS BIGINT) AS len_a,
               CAST(length(db.text) AS BIGINT) AS len_b,
               CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev_dist,
               CAST(1 AS DOUBLE)
                 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
                   / greatest(length(da.text), length(db.text)) AS edit_sim
        FROM cand c
        JOIN documents da ON da.doc_id = c.doc_a
        JOIN documents db ON db.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, len_a, len_b, lev_dist, edit_sim
    FROM scored
    WHERE edit_sim >= {_EDIT_SIM_THRESHOLD}
    """
    )


@register(
    "dedup_edit_distance",
    oracle=_edit_distance_oracle(),
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs — the character-level complement of the
    shingle/embedding families: MinHash-LSH candidate generation, then an
    EXACT Levenshtein verification, keeping pairs whose normalized edit
    similarity 1 - lev/max(len) >= 0.8.  This is the fuzzy-dedup shape used
    when near-dups differ by small in-place edits (boilerplate stamps, OCR
    noise, template fills) that token-set Jaccard under-weights.

    Two-stage scale design (same doctrine as dedup_embedding_neardup):
    Levenshtein is O(len_a x len_b) PER PAIR, so it must never meet the
    O(n^2) pair space — stage 1 reuses the registered LSH index
    (minhash_band_signatures: shuffle volume |docs| x 8 band rows) to cut
    candidates to the near-dup neighborhood, and stage 2 evaluates the
    quadratic-cost distance only on that candidate set, with texts attached
    by two doc_id-keyed joins AFTER candidate generation (ids-only band
    join, the narrow-shuffle discipline).

    Spark-only physical optimization (VERDICT r6 #5 tail): the Spark side
    calls the 3-arg ``levenshtein(a, b, T)`` (Spark >= 3.5 — a banded
    early-exit computing ~T diagonals instead of the full len_a x len_b
    matrix) with the corpus-level bound T = ceil(max_doc_len / 5) + 1: any
    pair the 0.8 filter could KEEP has lev <= 0.2 * max(len) <= T, so the
    early exit returns the EXACT distance for every kept pair and -1 only
    for pairs the filter drops anyway (the -1 rows are filtered
    explicitly).  The bound is one 1-row metadata aggregate in exact
    integer arithmetic.  DuckDB has no threshold form, so the oracle keeps
    the portable 2-arg call — identical kept-set and identical lev_dist
    values by the argument above.

    Exactness: lev_dist and the lengths are identical BIGINTs on both
    engines; edit_sim is two IEEE ops (divide, subtract) on identical
    integers, so the 0.8 filter decides identically cross-engine.
    """
    docs = spread(t(spark, sf_dir, "documents"), spark)
    bands = persist_tracked(minhash_band_signatures(docs))
    meta = docs.agg(
        F.max(F.length("text")).alias("m"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    try:
        _assert_candidate_budget(bands, meta["n"], "dedup_edit_distance")
    except RuntimeError:
        untrack_and_unpersist(bands)  # an aborted build must not leak cache
        raise
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), band_match_condition())
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    texts = docs.select("doc_id", "text")
    pairs = cand.join(
        texts.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("__ta")),
        "doc_a",
    ).join(
        texts.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("__tb")),
        "doc_b",
    )
    # From the 1-row metadata aggregate above: the early-exit band that can
    # never cut a kept pair (1 - 0.8 = 1/5 of the longest doc, integer ceil).
    lev_band = (int(meta["m"] or 0) + 4) // 5 + 1
    lev = F.levenshtein("__ta", "__tb", lev_band)
    max_len = F.greatest(F.length("__ta"), F.length("__tb"))
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            F.length("__ta").cast("long").alias("len_a"),
            F.length("__tb").cast("long").alias("len_b"),
            lev.cast("long").alias("lev_dist"),
            (F.lit(1.0) - lev.cast("double") / max_len.cast("double")).alias(
                "edit_sim"
            ),
        )
        .filter(F.col("lev_dist") >= 0)  # -1 = early-exited, never keepable
        .filter(F.col("edit_sim") >= _EDIT_SIM_THRESHOLD)
    )


# --------------------------------------------------------------------------
# Dedup threshold sweep (the release-threshold tuning dial)
# --------------------------------------------------------------------------

_CURVE_THRESHOLDS = (16, 20, 24, 28, 32)  # of _MINHASH_PERMS agreement slots


def _threshold_curve_oracle() -> str:
    agree = " + ".join(
        f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END"
        for i in range(_MINHASH_PERMS)
    )
    thr_list = "[" + ", ".join(str(v) for v in _CURVE_THRESHOLDS) + "]"
    return (
        _minhash_cte()
        + f""",
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    est AS (
        SELECT c.doc_a, c.doc_b, CAST({agree} AS BIGINT) AS n_agree
        FROM cand c
        JOIN sig a ON a.doc_id = c.doc_a
        JOIN sig b ON b.doc_id = c.doc_b
    ),
    thr AS (SELECT unnest({thr_list}) AS min_agree),
    docs_n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    pair_curve AS (
        SELECT t.min_agree, CAST(COUNT(e.doc_a) AS BIGINT) AS n_pairs
        FROM thr t LEFT JOIN est e ON e.n_agree >= t.min_agree
        GROUP BY t.min_agree
    ),
    doc_curve AS (
        SELECT t.min_agree,
               CAST(COUNT(DISTINCT e.doc_b) AS BIGINT) AS n_docs_flagged
        FROM thr t LEFT JOIN est e ON e.n_agree >= t.min_agree
        GROUP BY t.min_agree
    )
    SELECT p.min_agree,
           CAST(p.min_agree AS DOUBLE) / {_MINHASH_PERMS} AS threshold,
           p.n_pairs,
           d.n_docs_flagged,
           CAST(d.n_docs_flagged AS DOUBLE) / CAST(n.n_docs AS DOUBLE)
             AS flagged_frac
    FROM pair_curve p
    JOIN doc_curve d ON d.min_agree = p.min_agree
    CROSS JOIN docs_n n
    ORDER BY p.min_agree
    """
    )


@register(
    "q_dedup_threshold_curve",
    oracle=_threshold_curve_oracle(),
)
def q_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup release-threshold sweep: for each candidate similarity cutoff
    (16/20/24/28/32 of the 32 minhash agreement slots, i.e. est-Jaccard
    0.5 / 0.625 / 0.75 / 0.875 / 1.0 — all exact power-of-two fractions),
    how many candidate pairs qualify and how many documents would be dropped
    (distinct higher-id partner — the survivorship convention).  This is the
    dial an operator reads before choosing the near-dup release threshold:
    the pair/doc counts vs cutoff curve shows where the corpus stops
    shrinking, the integer twin of q_ann_recall's measure-before-deploy
    pattern on the dedup side.

    Scale shape — the curve never touches the pair relation per threshold:
    pairs are scored ONCE by signature agreement (the registered
    q_minhash_jaccard_estimate machinery: ids-only banding, broadcast
    candidate joins), then reduced to TWO bounded-domain histograms — pair
    count by n_agree (<= 33 rows) and doc count by per-doc MAX n_agree
    (one corpus-bounded groupBy, then <= 33 rows).  The five thresholds join
    those metadata histograms (5 x 33 broadcast nested loop), so adding
    thresholds costs nothing.  The oracle keeps the direct per-threshold
    LEFT JOIN form (single-node DuckDB; clarity over plan shape).  Every
    count is an integer; the two doubles are single IEEE divisions of
    identical integers."""
    est = q_minhash_jaccard_estimate(
        spark, sf_dir, enforce_candidate_budget=True
    ).select("doc_a", "doc_b", "n_agree")
    est = persist_tracked(est)
    pair_hist = est.groupBy("n_agree").agg(
        F.count(F.lit(1)).cast("long").alias("pc")
    )
    doc_hist = (
        est.groupBy("doc_b")
        .agg(F.max("n_agree").alias("best"))
        .groupBy("best")
        .agg(F.count(F.lit(1)).cast("long").alias("dc"))
    )
    thr = spark.createDataFrame(
        [(v,) for v in _CURVE_THRESHOLDS], "min_agree int"
    )
    n_docs = t(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )  # 1-row relation
    pair_curve = (
        thr.join(F.broadcast(pair_hist), F.col("n_agree") >= F.col("min_agree"), "left")
        .groupBy("min_agree")
        .agg(F.coalesce(F.sum("pc"), F.lit(0)).cast("long").alias("n_pairs"))
    )
    doc_curve = (
        thr.join(F.broadcast(doc_hist), F.col("best") >= F.col("min_agree"), "left")
        .groupBy("min_agree")
        .agg(F.coalesce(F.sum("dc"), F.lit(0)).cast("long").alias("n_docs_flagged"))
    )
    return (
        pair_curve.join(doc_curve, "min_agree")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "min_agree",
            (F.col("min_agree").cast("double") / _MINHASH_PERMS).alias("threshold"),
            "n_pairs",
            "n_docs_flagged",
            (
                F.col("n_docs_flagged").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("flagged_frac"),
        )
        .orderBy("min_agree")
    )


# --------------------------------------------------------------------------
# Prefix-filtering set-similarity join (PPJoin-style candidate generation)
# --------------------------------------------------------------------------

# tau = 3/5 == _JACCARD_THRESHOLD, kept as an exact rational so the prefix
# length L = sz - ceil(tau*sz) + 1 is pure-integer arithmetic on both
# engines (ceil(3*sz/5) == (3*sz + 4) div 5) — no float boundary at any sz.
_PREFIX_TAU_NUM = 3
_PREFIX_TAU_DEN = 5


@register(
    "dedup_prefix_filter",
    # The oracle is the DECLARATIVE exact-Jaccard spec (the same SQL as
    # dedup_ngram_jaccard_exact): prefix filtering is a LOSSLESS candidate
    # generator for Jaccard >= tau, so the algorithmic Spark plan below must
    # reproduce the full all-shingles answer exactly — the correctness gate
    # itself verifies the filter loses nothing.
    oracle=_jaccard_oracle(None),
)
def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard >= 0.6 pairs via PREFIX FILTERING (public:
    Chaudhuri et al. 2006 SSJoin / Xiao et al. 2008 PPJoin) — the third
    candidate geometry in the set-similarity family, next to the DF cap
    (lossy, skew-bounded) and MinHash-LSH (probabilistic): order the
    shingle vocabulary globally by (df ASC, shingle), keep only each
    document's first L = sz - ceil(tau*sz) + 1 rarest shingles as its
    PREFIX, and join documents on shared prefix shingles only.  If two
    sets' prefixes are disjoint, fewer than ceil(tau*|A|) of A's elements
    can be shared, so J(A,B) < tau — every qualifying pair MUST collide on
    a prefix token, and the exact verify restores precision.  Lossless by
    construction, which the oracle checks literally: it is the PLAIN
    all-shingles Jaccard SQL, so any pair the filter dropped would fail
    the row-count gate.

    Scale shape: the global token ranking is the two-phase distributed
    ranking (bounded df-bucket domain -> broadcast offsets -> within-bucket
    row_number — never a single-partition vocabulary window); the prefix
    relation keeps each doc's RAREST tokens first, so join-key fan-out
    concentrates on low-df keys by construction — the published reason
    prefix joins resist stop-token skew without dropping signal (hot
    shingles sit at the END of the global order and rarely enter a
    prefix).  The exact verify touches only candidate pairs: one
    (doc_a-keyed, then composite (doc_b, shingle)-keyed) join chain and a
    per-pair count.  The shingle relation feeds ranking, prefixes, sizes,
    and the verify, so it is persisted through the persist_tracked seam.

    Honest measurement note: THIS synthetic corpus is prefix filtering's
    worst case — a flat ~30-word vocabulary makes 3-gram dfs nearly
    uniform, so "rarest-first" prefixes collide almost as often as random
    ones (~300k candidates from 5k docs at sf0.1) and the verify
    dominates the runtime.  On real zipfian text the prefix tokens are
    genuinely rare and the candidate set collapses — the published
    regime.  The lossy primaries (DF cap, MinHash) remain the registered
    bench paths; this operator is the exact-and-complete alternative."""
    from pyspark.sql import Window

    from .analytics_ext import _rfm_rank_two_phase

    sh = persist_tracked(_shingle_relation(spark, sf_dir, None))
    dfr = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = _rfm_rank_two_phase(
        dfr, "df", False, [F.col("shingle")], "r"
    ).select("shingle", "r")
    sizes = shingle_sizes(sh)
    prefix_len = (
        F.col("sz")
        - F.expr(
            f"(({_PREFIX_TAU_NUM} * sz + {_PREFIX_TAU_DEN - 1})"
            f" div {_PREFIX_TAU_DEN})"
        )
        + 1
    )
    w_doc = Window.partitionBy("doc_id").orderBy("r")
    pref = (
        sh.join(ranked, "shingle")
        .withColumn("pos", F.row_number().over(w_doc))
        .join(sizes, "doc_id")
        .filter(F.col("pos") <= prefix_len)
        .select("doc_id", "shingle", "sz")
    )
    # PPJoin's LENGTH filter rides the candidate join for free: J >= tau
    # forces tau*|A| <= |B| <= |A|/tau, checked in exact integers
    # (3*sz_a <= 5*sz_b AND 3*sz_b <= 5*sz_a).  Lossless like the prefix
    # condition itself; the remaining positional filter of the published
    # algorithm is omitted (it prunes candidates, never results).
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                _PREFIX_TAU_NUM * F.col("a.sz")
                <= _PREFIX_TAU_DEN * F.col("b.sz")
            )
            & (
                _PREFIX_TAU_NUM * F.col("b.sz")
                <= _PREFIX_TAU_DEN * F.col("a.sz")
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    ka = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    kb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(ka, "doc_a")
        .join(kb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jaccard = F.col("inter").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("inter")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
    )


# --------------------------------------------------------------------------
# Source-level corpus similarity (the cross-source duplication matrix)
# --------------------------------------------------------------------------


@register(
    "q_source_similarity",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT source, shingle FROM (
            SELECT source, unnest({sql_shingle_list(_SHINGLE_K)}) AS shingle
            FROM documents
        )
    ),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY 1),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT source_a, source_b, inter,
           sa.sz AS sz_a, sb.sz AS sz_b,
           CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    """,
)
def q_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise SOURCE-level shingle Jaccard — the cross-source duplication
    matrix a corpus curator reads before mixing crawls: two sources with
    high set overlap are mirrors (or share a boilerplate substrate) and
    should be deduped against each other before their mixture weights mean
    anything.  Rows are source pairs sharing at least one shingle, with
    intersection, both set sizes, and Jaccard.

    Shape: documents collapse to the DISTINCT (source, shingle) relation
    first — corpus volume drops out at that groupBy, leaving a relation
    bounded by (catalog size x shingle vocabulary).  The self-join's
    per-shingle fan-out is C(s, 2) where s = sources CONTAINING that
    shingle, bounded by the source catalog (20 here) — not by corpus size,
    so the pair space is catalog-bounded metadata.  With a large catalog
    (thousands of feeds) the same stop-shingle DF cap the doc-level family
    uses applies verbatim (a shingle in every source costs C(S, 2)); kept
    exact here because the catalog is small and the report is about TOTAL
    overlap, boilerplate included.  The join runs on xxhash64(shingle)
    (fixed-width longs; the string-equality oracle would surface any
    collision that changed a pair, same argument as _shingle_relation).
    Jaccard is one IEEE division of exact integer counts (Class B,
    FLOAT_QUALS.md) and only REPORTED, never thresholded."""
    docs = with_shingles(spread(t(spark, sf_dir, "documents"), spark), _SHINGLE_K)
    sh = (
        docs.select("source", F.explode("shingle_set").alias("shingle"))
        .select("source", F.xxhash64(F.col("shingle")).alias("shingle"))
        .distinct()
    )
    sh = persist_tracked(sh)
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("sz").alias("sz_b"))
    return (
        pairs.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "inter",
            "sz_a",
            "sz_b",
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Leakage-safe train/test split (cluster-aware assignment)
# --------------------------------------------------------------------------


def _leakage_safe_split_oracle() -> str:
    from ..plans import registry as _reg

    clusters_sql = _reg._REGISTRY["dedup_clusters"].oracle
    return f"""
    WITH clusters AS ({clusters_sql}),
    keyed AS (
        SELECT d.doc_id, d.lang,
               COALESCE(c.cluster_id, d.doc_id) AS group_key
        FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    )
    SELECT doc_id, lang, group_key,
           CASE WHEN u < 0.8 THEN 'train'
                WHEN u < 0.9 THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT *,
               CAST({sql_hash48("'lsplit:' || CAST(group_key AS VARCHAR)")} AS DOUBLE)
                 / {float(1 << 48)} AS u
        FROM keyed
    )
    """


@register(
    "q_leakage_safe_split",
    oracle=_leakage_safe_split_oracle(),
)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware 80/10/10 split: every document is assigned by the
    salted hash OF ITS NEAR-DUP CLUSTER's canonical id (its own id when it
    has no near-dup), so a cluster can never straddle train and test — the
    leakage-safe upgrade of q_train_test_split, which hashes raw doc_ids
    and will happily put a document in train and its near-copy in test
    (train/eval contamination by construction).  This is the split
    discipline decontamination pipelines actually need: dedup first,
    assign by cluster.

    Composes the registered dedup_clusters operator (iterative min-label
    propagation over the DF-capped near-dup graph; the oracle reuses its
    recursive-closure SQL verbatim as a CTE — one definition of the
    clustering on each engine, the q_dedup_cluster_stats precedent).  The
    extra cost over a naive split is ONE left join of documents to the
    cluster relation, which holds only documents participating in any
    near-dup pair — a small fraction of any deduped corpus, broadcast-able
    in practice; the keep decision is then the same pure-function-of-key
    hash as q_train_test_split (stable across reruns, partitioning, and
    engines).  The split fractions land exactly because group keys inherit
    the hash-uniformity of doc_ids; clusters move WHOLE (slightly chunkier
    allocation, same expectation)."""
    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    keyed = docs.join(F.broadcast(clusters), "doc_id", "left").select(
        "doc_id",
        "lang",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("group_key"),
    )
    u = hash48(
        F.concat(F.lit("lsplit:"), F.col("group_key").cast("string"))
    ).cast("double") / F.lit(float(1 << 48))
    return keyed.select(
        "doc_id",
        "lang",
        "group_key",
        F.when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test").alias(
            "split"
        ),
    )


# --------------------------------------------------------------------------
# SimHash hamming-radius curve (the release-threshold dial)
# --------------------------------------------------------------------------


@register(
    "q_simhash_hamming_curve",
    oracle=f"""
    WITH pairs AS ({_simhash_oracle()})
    , per_radius AS (
        SELECT CAST(hamming AS BIGINT) AS hamming,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM pairs GROUP BY 1
    )
    SELECT hamming, n_pairs,
           CAST(SUM(n_pairs) OVER (ORDER BY hamming
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_pairs
    FROM per_radius
    """,
)
def q_simhash_hamming_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair counts by exact hamming radius 0..3 over the 48-bit
    SimHash fingerprints, with the cumulative count per radius — the
    threshold dial read before fixing a simhash release radius, exactly
    as q_dedup_threshold_curve reads the minhash Jaccard sweep: radius 0
    pairs are (modulo hash collisions) exact dups, each +1 admits
    fuzzier matches, and the marginal pairs-per-radius slope tells an
    operator where precision falls off.  COMPOSES the registered
    dedup_simhash builder (one pipeline definition per engine — this
    module's banded join with its pigeonhole recall guarantee); the
    oracle wraps dedup_simhash's generated SQL as a subquery, so no
    fingerprint definition exists twice.

    Scale shape: everything is dedup_simhash's plan (banded O(n x bands)
    shuffle, no all-pairs stage) plus a 4-key combinable groupBy and a
    4-row running sum — metadata after the pair stage at any corpus
    size."""
    from pyspark.sql import Window

    pairs = dedup_simhash(spark, sf_dir)
    per_radius = pairs.groupBy(F.col("hamming").cast("long").alias("hamming")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    w = Window.orderBy("hamming").rowsBetween(Window.unboundedPreceding, 0)
    return per_radius.withColumn(
        "cum_pairs", F.sum("n_pairs").over(w).cast("long")
    )


# --------------------------------------------------------------------------
# KMV (bottom-k) sketch set algebra: distinct counts and overlap WITHOUT
# holding the sets
# --------------------------------------------------------------------------
#
# q_source_similarity holds the full DISTINCT (source, shingle) relation —
# exact, and fine while (catalog x shingle vocabulary) fits.  At 100 TB with
# thousands of feeds the curator's first pass cannot: this spec is the
# sketch version, the K-Minimum-Values synopsis of Beyer et al. (SIGMOD'07)
# and the theta-sketch set algebra built on it — per source keep only the K
# smallest 48-bit shingle hashes; then
#   distinct(S)   ~ (K-1) * 2^48 / h_(K)          (the KMV estimator)
#   union(A,B)      = KMV of the MERGED sketches   (bottom-k is closed
#                                                   under union)
#   jaccard(A,B)  ~ |{K smallest of A∪B} ∩ A_sk ∩ B_sk| / K
#   intersect     ~ inclusion-exclusion over the three estimates
# so EVERY pairwise statistic comes from K x |catalog| values — metadata —
# instead of the vocabulary-sized exact relation.  The estimates are
# reported BESIDE the exact values, so the spec doubles as its own error
# measurement (and the driver hash pins the whole estimator end-to-end:
# bottom-k selection, integer-division estimate, merge, match count).
#
# Exactness: the estimator is implemented in floor DIVISION on BIGINTs —
# (K-1) * 2^48 // h_K — and the sketch content is a deterministic function
# of the md5-derived hash48, so both engines produce bit-identical
# sketches, estimates, and counts (FLOAT_QUALS Class A; the two reported
# jaccard doubles are single divisions of exact integers, Class B).

_KMV_K = 128
_KMV_SCALE = (_KMV_K - 1) * (1 << 48)


def _kmv_oracle() -> str:
    return f"""
    WITH sh AS (
        SELECT DISTINCT source, {sql_hash48('shingle')} AS h FROM (
            SELECT source, unnest({sql_shingle_list(_SHINGLE_K)}) AS shingle
            FROM documents
        )
    ),
    exact AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS d_exact
              FROM sh GROUP BY 1),
    skr AS (
        SELECT source, h,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
        FROM sh
    ),
    sk AS (SELECT source, h FROM skr WHERE rk <= {_KMV_K}),
    dhat AS (
        SELECT source, COUNT(*) AS n_sk,
               CASE WHEN COUNT(*) < {_KMV_K} THEN COUNT(*)
                    ELSE {_KMV_SCALE} // MAX(h) END AS d_hat
        FROM sk GROUP BY 1
    ),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b
        FROM exact a JOIN exact b ON a.source < b.source
    ),
    merged AS (
        SELECT p.source_a, p.source_b, s.h,
               MAX(CASE WHEN s.source = p.source_a THEN 1 ELSE 0 END) AS in_a,
               MAX(CASE WHEN s.source = p.source_b THEN 1 ELSE 0 END) AS in_b
        FROM pairs p
        JOIN sk s ON s.source IN (p.source_a, p.source_b)
        GROUP BY 1, 2, 3
    ),
    mranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY source_a, source_b
                                     ORDER BY h) AS rk
        FROM merged
    ),
    uest AS (
        SELECT source_a, source_b, COUNT(*) AS n_u, MAX(h) AS hku,
               SUM(in_a * in_b) AS kmv_matches
        FROM mranked WHERE rk <= {_KMV_K} GROUP BY 1, 2
    ),
    inter_e AS (
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS inter_exact
        FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT p.source_a, p.source_b,
           ea.d_exact AS d_exact_a,
           CAST(da.d_hat AS BIGINT) AS d_hat_a,
           eb.d_exact AS d_exact_b,
           CAST(db.d_hat AS BIGINT) AS d_hat_b,
           CAST(ea.d_exact + eb.d_exact - COALESCE(ie.inter_exact, 0)
                AS BIGINT) AS union_exact,
           CAST(CASE WHEN u.n_u < {_KMV_K} THEN u.n_u
                     ELSE {_KMV_SCALE} // u.hku END AS BIGINT) AS union_hat,
           CAST(COALESCE(ie.inter_exact, 0) AS BIGINT) AS inter_exact,
           CAST(u.kmv_matches AS BIGINT) AS kmv_matches,
           CAST(COALESCE(ie.inter_exact, 0) AS DOUBLE)
             / (ea.d_exact + eb.d_exact - COALESCE(ie.inter_exact, 0))
             AS jaccard_exact,
           CAST(u.kmv_matches AS DOUBLE) / {_KMV_K} AS jaccard_kmv
    FROM pairs p
    JOIN exact ea ON ea.source = p.source_a
    JOIN exact eb ON eb.source = p.source_b
    JOIN dhat da ON da.source = p.source_a
    JOIN dhat db ON db.source = p.source_b
    JOIN uest u ON u.source_a = p.source_a AND u.source_b = p.source_b
    LEFT JOIN inter_e ie
      ON ie.source_a = p.source_a AND ie.source_b = p.source_b
    """


@register(
    "q_kmv_sketch_setops",
    oracle=_kmv_oracle(),
    bench=True,
)
def q_kmv_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) sketch set algebra over per-source shingle sets —
    see the module comment block: per source-pair, the exact distinct /
    union / intersection counts beside their sketch estimates (KMV
    distinct estimator, merged-sketch union, k-minhash jaccard), K=128.

    Measured at sf0.01: mean relative error 7.2% on per-source distincts,
    5.2% on pair unions, jaccard within +/-0.042 absolute — the 1/sqrt(K)
    ~ 0.088 bound doing what Beyer et al. promise.

    The exact columns are the error measurement, affordable because this
    catalog is small; the SKETCH columns are the 100 TB deliverable — the
    sketches are K rows per source (metadata at any corpus size, built in
    one combinable bottom-K pass over the scan), merge associatively
    (bottom-k of a union = bottom-k of concatenated sketches), and every
    pairwise statistic downstream touches only sketch rows.  The same
    synopsis serves incremental maintenance: yesterday's sketch merges
    with today's delta sketch without re-reading either corpus."""
    docs = with_shingles(spread(t(spark, sf_dir, "documents"), spark), _SHINGLE_K)
    sh = persist_tracked(
        docs.select("source", F.explode("shingle_set").alias("shingle"))
        .select("source", hash48(F.col("shingle")).alias("h"))
        .distinct()
    )
    # exact feeds FOUR consumers (both pair sides + both per-source
    # annotations) and dhat two — without the persist each reference re-ran
    # the catalog aggregate over the 200k-row sh relation (r11-opt finding).
    # Both are |catalog| rows: metadata at any corpus size.
    exact = persist_tracked(
        sh.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("d_exact")
        )
    )
    from pyspark.sql import Window

    w_src = Window.partitionBy("source").orderBy("h")
    sk = persist_tracked(
        sh.withColumn("rk", F.row_number().over(w_src)).filter(
            F.col("rk") <= _KMV_K
        ).select("source", "h")
    )
    dhat = persist_tracked(
        sk.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_sk"), F.max("h").alias("hk")
        ).select(
            "source",
            F.when(F.col("n_sk") < _KMV_K, F.col("n_sk"))
            .otherwise(F.expr(f"{_KMV_SCALE} div hk"))
            .cast("long")
            .alias("d_hat"),
        )
    )
    pairs = (
        exact.select(F.col("source").alias("source_a"))
        .join(
            exact.select(F.col("source").alias("source_b")),
            F.col("source_a") < F.col("source_b"),
        )
    )
    merged = (
        pairs.join(
            F.broadcast(sk),
            (F.col("source") == F.col("source_a"))
            | (F.col("source") == F.col("source_b")),
        )
        .groupBy("source_a", "source_b", "h")
        .agg(
            F.max(
                F.when(F.col("source") == F.col("source_a"), 1).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(F.col("source") == F.col("source_b"), 1).otherwise(0)
            ).alias("in_b"),
        )
    )
    w_pair = Window.partitionBy("source_a", "source_b").orderBy("h")
    uest = (
        merged.withColumn("rk", F.row_number().over(w_pair))
        .filter(F.col("rk") <= _KMV_K)
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_u"),
            F.max("h").alias("hku"),
            F.sum(F.col("in_a") * F.col("in_b")).alias("kmv_matches"),
        )
    )
    inter_e = (
        sh.alias("a")
        .join(sh.alias("b"), "h")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter_exact"))
    )
    ea = exact.select(
        F.col("source").alias("source_a"), F.col("d_exact").alias("d_exact_a")
    )
    eb = exact.select(
        F.col("source").alias("source_b"), F.col("d_exact").alias("d_exact_b")
    )
    da = dhat.select(
        F.col("source").alias("source_a"), F.col("d_hat").alias("d_hat_a")
    )
    db = dhat.select(
        F.col("source").alias("source_b"), F.col("d_hat").alias("d_hat_b")
    )
    out = (
        pairs.join(F.broadcast(ea), "source_a")
        .join(F.broadcast(eb), "source_b")
        .join(F.broadcast(da), "source_a")
        .join(F.broadcast(db), "source_b")
        .join(F.broadcast(uest), ["source_a", "source_b"])
        .join(F.broadcast(inter_e), ["source_a", "source_b"], "left")
        .withColumn("inter_exact", F.coalesce(F.col("inter_exact"), F.lit(0)))
    )
    union_exact = (
        F.col("d_exact_a") + F.col("d_exact_b") - F.col("inter_exact")
    )
    union_hat = (
        F.when(F.col("n_u") < _KMV_K, F.col("n_u"))
        .otherwise(F.expr(f"{_KMV_SCALE} div hku"))
        .cast("long")
    )
    return out.select(
        "source_a",
        "source_b",
        "d_exact_a",
        "d_hat_a",
        "d_exact_b",
        "d_hat_b",
        union_exact.cast("long").alias("union_exact"),
        union_hat.alias("union_hat"),
        F.col("inter_exact").cast("long").alias("inter_exact"),
        F.col("kmv_matches").cast("long").alias("kmv_matches"),
        (
            F.col("inter_exact").cast("double")
            / (F.col("d_exact_a") + F.col("d_exact_b") - F.col("inter_exact"))
        ).alias("jaccard_exact"),
        (F.col("kmv_matches").cast("double") / _KMV_K).alias("jaccard_kmv"),
    )
