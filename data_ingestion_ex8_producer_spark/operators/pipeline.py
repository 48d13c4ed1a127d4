"""Training-data pipeline patterns: deterministic sampling, train/test
splitting, corpus mixture weights, vector normalization, int8 quantization,
and per-label centroids — the curation ops a 100 TB LLM-data pipeline runs
between raw ingestion and tokenization.
(The frequency-capped near-dup join lives in operators/dedup.py as the
PRIMARY dedup_ngram_jaccard form.)

Nothing here exists in the reference (its whole data plane is CSV→Avro→Kafka,
`app.py:112-173`); this is mandated engine surface.

Determinism doctrine (everything below is exactly DuckDB-oracled):

* sampling/splitting hash on md5-derived 48-bit keys (functions/text.py) —
  content-stable, engine-independent, and reshard-safe: adding executors or
  repartitioning cannot change which rows are sampled, unlike rand()-based
  sampling.
* vector math follows operators/_util.py's exact-arithmetic rules: sequential
  double folds (bit-identical both engines), sqrt/division (correctly-rounded
  IEEE), and integer quantization for cross-row sums (double-sum order is the
  ONLY nondeterminism; quantized BIGINT sums are associative and exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import hash48, sql_hash48, sql_tokens
from ..plans.registry import register
from ._util import t
from .dedup import content_hashed, keeper_of, sql_keeper_ctes
from .similarity import _DIM as _EMB_DIM  # one source of truth for vector width

# --------------------------------------------------------------------------
# Deterministic stratified sampling
# --------------------------------------------------------------------------

# Per-language keep rates: downsample the dominant language, keep the rest —
# the standard corpus-rebalancing move.
_SAMPLE_RATES = {"en": 0.35, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 1.0}
_HASH_SPACE = float(1 << 48)


@register(
    "q_hash_sample",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE CAST({sql_hash48("'sample:' || CAST(doc_id AS VARCHAR)")} AS DOUBLE)
          / {_HASH_SPACE}
          < CASE lang WHEN 'en' THEN 0.35 ELSE 1.0 END
    """,
)
def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep a doc when
    hash48('sample:'||doc_id)/2^48 < rate(lang) — here downsampling English
    to 35% and keeping other languages whole.

    Unlike df.sample()/rand(), the keep decision is a pure function of the
    row key: stable across reruns, repartitioning, and engines (so it has an
    exact oracle), and a different salt gives an independent sample.  The
    filter is a narrow map — no shuffle, fully pushed into the scan stage.
    """
    u = hash48(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))).cast(
        "double"
    ) / F.lit(_HASH_SPACE)
    rate = F.when(F.col("lang") == "en", F.lit(0.35)).otherwise(F.lit(1.0))
    return (
        t(spark, sf_dir, "documents")
        .filter(u < rate)
        .select("doc_id", "lang", "source")
    )


@register(
    "q_train_test_split",
    oracle=f"""
    WITH assigned AS (
        SELECT doc_id, lang,
               CAST({sql_hash48("'split:' || CAST(doc_id AS VARCHAR)")} AS DOUBLE)
               / {_HASH_SPACE} AS u
        FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN u < 0.8 THEN 'train'
                WHEN u < 0.9 THEN 'val'
                ELSE 'test' END AS split
    FROM assigned
    """,
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by salted content-key
    hash.  Same guarantees as q_hash_sample: a document's split never changes
    under reshuffling or scale-out, and train/test leakage checks can re-derive
    membership from the key alone.  Narrow map, no shuffle.
    """
    u = hash48(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))).cast(
        "double"
    ) / F.lit(_HASH_SPACE)
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test").alias("split"),
    )


# --------------------------------------------------------------------------
# Vector normalization + per-label centroids
# --------------------------------------------------------------------------


@register(
    "emb_normalize",
    oracle="""
    WITH n AS (
        SELECT vec_id,
               sqrt(list_reduce(
                   list_prepend(CAST(0 AS DOUBLE),
                       list_transform(embedding,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                   (a, b) -> a + b)) AS nrm,
               embedding
        FROM embeddings
    )
    SELECT vec_id, nrm AS l2_norm,
           array_to_string(
               list_transform(embedding,
                   x -> CAST(CAST(round(CAST(x AS DOUBLE) / nrm * 1000000)
                                  AS BIGINT) AS VARCHAR)), ',') AS unit_q6
    FROM n WHERE nrm > 0
    """,
)
def emb_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize each embedding to a unit vector (the precondition for
    cosine = dot product in every similarity query).

    Exact cross-engine: the squared-norm fold is sequential in both engines,
    and sqrt + per-element division are correctly-rounded IEEE ops.  The
    registered output projects the unit vector to its 1e-6-quantized CSV
    form (same quantization as emb_centroid_by_label) so the comparator
    sees a hashable scalar instead of a raw array column; the IEEE
    determinism means both engines quantize the identical doubles.
    Narrow map, no shuffle; at 100 TB this runs fused into whatever scan
    feeds it.
    """
    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = F.sqrt(
        F.aggregate(
            F.transform(xd, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    return (
        t(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            nrm.alias("l2_norm"),
            F.array_join(
                F.transform(
                    xd,
                    lambda x: F.round(x / nrm * 1_000_000)
                    .cast("long")
                    .cast("string"),
                ),
                ",",
            ).alias("unit_q6"),
        )
        .filter(F.col("l2_norm") > 0)
    )


_QUANT = 1_000_000  # 1e-6 quantization for order-independent vector sums


@register(
    "emb_centroid_by_label",
    oracle=f"""
    WITH elems AS (
        SELECT label,
               generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * {_QUANT}) AS BIGINT)
                   AS xq
        FROM embeddings
    )
    SELECT label, pos,
           CAST(SUM(xq) AS DOUBLE) / ({_QUANT} * COUNT(*)) AS centroid,
           COUNT(*) AS n_vectors
    FROM elems
    GROUP BY label, pos
    """,
)
def emb_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors, one row per (label, dimension): posexplode
    the embedding, quantize each element to 1e-6 on a BIGINT grid, sum
    exactly, divide once.

    Why quantize: cross-row double summation is order-dependent and a
    parallel engine cannot pin it; BIGINT sums are associative and exact at
    any parallelism (the one deterministic rounding per element uses
    round-half-away-from-zero in BOTH engines).  This is the same
    exact-arithmetic discipline as operators/_util.dec4, in integer form.
    Shape: one shuffle on (label, pos) — 640 groups here, ~dims x labels
    anywhere — with map-side partial aggregation doing almost all the work.
    """
    e = t(spark, sf_dir, "embeddings").select(
        "label", F.posexplode("embedding").alias("pos", "x")
    )
    xq = F.round(F.col("x").cast("double") * _QUANT).cast("long")
    return (
        e.select("label", "pos", xq.alias("xq"))
        .groupBy("label", "pos")
        .agg(F.sum("xq").alias("sq"), F.count(F.lit(1)).alias("n_vectors"))
        .select(
            "label",
            "pos",
            (F.col("sq").cast("double") / (F.lit(_QUANT) * F.col("n_vectors"))).alias(
                "centroid"
            ),
            "n_vectors",
        )
    )


# --------------------------------------------------------------------------
# Unpivot / melt
# --------------------------------------------------------------------------


@register(
    "q_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value
    FROM lineitem WHERE l_orderkey < 1000
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
    FROM lineitem WHERE l_orderkey < 1000
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
    FROM lineitem WHERE l_orderkey < 1000
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
    FROM lineitem WHERE l_orderkey < 1000
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long melt) of four lineitem measures into
    (metric, value) rows — the inverse of q_pivot, via the native
    DataFrame.unpivot operator (a Generate node: no shuffle, no UDF; the
    oracle spells it as the equivalent 4-way UNION ALL).
    """
    return (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 1000)
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
            "metric",
            "value",
        )
    )


# --------------------------------------------------------------------------
# Int8 scalar quantization (embedding compression)
# --------------------------------------------------------------------------


@register(
    "emb_quantize_int8",
    oracle="""
    WITH s AS (
        SELECT vec_id,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127
                 AS scale,
               embedding
        FROM embeddings
    )
    SELECT vec_id, scale,
           array_to_string(
               list_transform(embedding,
                   x -> CAST(CAST(round(CAST(x AS DOUBLE) / scale) AS BIGINT)
                             AS VARCHAR)), ',') AS codes,
           list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                   list_transform(embedding,
                       x -> (CAST(x AS DOUBLE)
                             - round(CAST(x AS DOUBLE) / scale) * scale)
                            * (CAST(x AS DOUBLE)
                               - round(CAST(x AS DOUBLE) / scale) * scale))),
               (a, b) -> a + b) / len(embedding) AS mse
    FROM s WHERE scale > 0
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of each embedding: per-vector
    scale = max|x|/127, codes = round(x/scale) in [-127, 127], plus the
    reconstruction MSE — the standard 4x compression step before shipping
    vectors to an ANN index.

    Narrow map, no shuffle (fuses into the scan at any scale).  Exact
    cross-engine: abs/max/round/divide are correctly-rounded IEEE ops on
    doubles, the MSE fold is sequential left-to-right in both engines, and
    codes are projected to a CSV string so the comparator hashes scalars.
    """
    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(xd, lambda x: F.abs(x))) / 127
    q = lambda x: F.round(x / F.col("scale"))  # noqa: E731
    return (
        t(spark, sf_dir, "embeddings")
        .select("vec_id", scale.alias("scale"), xd.alias("xd"))
        .filter(F.col("scale") > 0)
        .select(
            "vec_id",
            "scale",
            F.array_join(
                F.transform(
                    F.col("xd"), lambda x: q(x).cast("long").cast("string")
                ),
                ",",
            ).alias("codes"),
            (
                F.aggregate(
                    F.transform(
                        F.col("xd"),
                        lambda x: (x - q(x) * F.col("scale"))
                        * (x - q(x) * F.col("scale")),
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
                / F.size("xd")
            ).alias("mse"),
        )
    )


# --------------------------------------------------------------------------
# Corpus mixture weights (language rebalancing)
# --------------------------------------------------------------------------


@register(
    "q_mixture_weights",
    oracle="""
    WITH counts AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang
    ),
    tot AS (
        SELECT CAST(sum(n_docs) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS n_langs
        FROM counts
    )
    SELECT lang, n_docs,
           CAST(n_docs AS DOUBLE) / total AS actual_share,
           1.0 / n_langs AS target_share,
           CAST(total AS DOUBLE) / n_langs / n_docs AS mix_weight
    FROM counts, tot
    """,
)
def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language resampling weights to rebalance the corpus toward a
    uniform language mix: weight(lang) = target_share / actual_share.
    Feeding these weights into the deterministic hash sampler
    (q_hash_sample's rate) is how a 100 TB pipeline hits a target domain
    mixture without a shuffle — the weights are a tiny aggregate, broadcast
    back over the corpus as a map-side lookup.

    Plan: one partial-aggregated groupBy(lang) (5 groups), then a broadcast
    cross join against the single-row totals — no large-table shuffle.
    """
    counts = (
        t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tot = counts.agg(
        F.sum("n_docs").alias("total"), F.count(F.lit(1)).alias("n_langs")
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        (F.col("n_docs").cast("double") / F.col("total")).alias("actual_share"),
        (F.lit(1.0) / F.col("n_langs")).alias("target_share"),
        (F.col("total").cast("double") / F.col("n_langs") / F.col("n_docs")).alias(
            "mix_weight"
        ),
    )


# --------------------------------------------------------------------------
# Per-source quota cap (per-domain cap)
# --------------------------------------------------------------------------

_QUOTA_CAP = 15


@register(
    "q_source_quota_cap",
    oracle=f"""
    SELECT doc_id, source, rk FROM (
        SELECT doc_id, source,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY {sql_hash48("'quota:' || CAST(doc_id AS VARCHAR)")},
                            doc_id) AS INTEGER) AS rk
        FROM documents
    ) WHERE rk <= {_QUOTA_CAP}
    """,
)
def q_source_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota: keep at most 15 documents per source, chosen by
    salted-hash order — the per-domain cap every web-scale corpus applies so
    no single site dominates the mixture.  Hash order (not doc_id order)
    makes the kept subset an unbiased, deterministic sample of each source.

    Scale shape: rank-limit pushdown (WindowGroupLimit, Spark >= 3.5) turns
    the row_number filter into a per-partition partial top-k BEFORE the
    shuffle, so each map task forwards at most cap rows per source it sees —
    the shuffle carries O(sources x cap x parallelism), not the corpus.
    Residual per-source skew is bounded by the cap itself."""
    from pyspark.sql import Window

    h = hash48(F.concat(F.lit("quota:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(h, F.col("doc_id"))
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _QUOTA_CAP)
    )


# --------------------------------------------------------------------------
# Per-dimension embedding statistics (vector-column QA)
# --------------------------------------------------------------------------

# ONE definition of the per-element embedding population (validity filter +
# explode), shared by every per-dimension QA operator so the reports always
# describe the same population.  SQL twin below.
def _sql_emb_elems(extra: str = "") -> str:
    """The element population as a SQL derived table; ``extra`` carries
    additional embedding columns (e.g. ``" label,"``) through the unnest."""
    return f"""(
        SELECT vec_id,{extra} generate_subscripts(embedding, 1) - 1 AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) = {_EMB_DIM}
    )"""


_SQL_EMB_ELEMS = _sql_emb_elems()


def _emb_elems(spark: SparkSession, sf_dir: str, *extra: str) -> DataFrame:
    """(vec_id, *extra, dim, x double) with NULL/wrong-length embeddings
    EXCLUDED — the population contract every per-dimension QA report shares
    (the filter is explicit on both engines: posexplode would silently drop
    only NULLs while an oracle-side expansion would keep them as NULL
    cells)."""
    return (
        t(spark, sf_dir, "embeddings")
        .filter(
            F.col("embedding").isNotNull() & (F.size("embedding") == _EMB_DIM)
        )
        .select("vec_id", *extra, F.posexplode("embedding").alias("dim", "x"))
        .select("vec_id", *extra, "dim", F.col("x").cast("double").alias("x"))
    )


@register(
    "emb_dim_stats",
    oracle=f"""
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(x) AS min_v,
           MAX(x) AS max_v,
           CAST(SUM(CAST(round(x * 1000000) AS BIGINT))
                AS DOUBLE) / 1000000.0 / COUNT(*) AS mean_q6
    FROM {_SQL_EMB_ELEMS}
    GROUP BY dim
    """,
)
def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension min/max/mean across the whole embedding corpus — the
    QA profile that catches dead dimensions, scale drift, and outliers
    before vectors reach an ANN index or a quantizer.

    Scale shape: posexplode is a narrow 64x row expansion feeding a
    map-side-combinable groupBy on 64 keys — every map task reduces its
    partition to <= 64 rows before the (tiny) shuffle; no skew because key
    cardinality is the fixed dimension count.  The mean uses the module's
    integer-quantized sum (round(x * 1e6) as BIGINT): associative, exact,
    and identical on both engines regardless of summation order.

    Population contract: NULL or wrong-length embeddings are EXCLUDED by an
    explicit filter on BOTH engines (posexplode would silently drop only
    the NULLs while the oracle's CROSS JOIN range would keep them as NULL
    cells — the filter makes the two populations identical by
    construction, not by luck of clean testdata); both sides come from the
    shared `_emb_elems` / `_SQL_EMB_ELEMS` definition."""
    xd = F.col("x")
    return _emb_elems(spark, sf_dir).groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min(xd).alias("min_v"),
        F.max(xd).alias("max_v"),
        (
            F.sum(F.round(xd * 1_000_000).cast("long")).cast("double")
            / F.lit(1_000_000.0)
            / F.count(F.lit(1))
        ).alias("mean_q6"),
    )


# --------------------------------------------------------------------------
# Corpus token budget + curation yield funnel (reporting ops)
# --------------------------------------------------------------------------


@register(
    "q_corpus_token_budget",
    oracle="""
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
             AS n_tokens,
           CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS DOUBLE)
             / COUNT(*) AS tokens_per_doc
    FROM documents
    GROUP BY ROLLUP(lang, source)
    """,
)
def q_corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE first question asked of any training corpus: how many tokens do
    we have, per language, per (language, source), and overall — one rollup
    over whitespace token counts, with docs and tokens-per-doc alongside.

    Scale shape: token counting is a narrow map fused into the scan; rollup
    compiles to a single Expand + hash aggregate with map-side combine over
    (|langs| x |sources| + |langs| + 1) keys — grouping cardinality is
    metadata-sized, so the shuffle is tiny at any corpus size.  Counts are
    BIGINT sums (associative, exact); the single closing division is
    correctly-rounded IEEE on both engines."""
    from ..functions.text import tokens

    nt = F.size(tokens())
    return (
        t(spark, sf_dir, "documents")
        .select("lang", "source", nt.alias("nt"))
        .rollup("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
            (F.sum("nt").cast("double") / F.count(F.lit(1))).alias("tokens_per_doc"),
        )
    )


_FUNNEL_MIN_CHARS = 100
_FUNNEL_LANGS = ("en", "de", "es", "fr")
_FUNNEL_MIN_TTR = 0.3  # distinct/total token ratio floor


@register(
    "q_curation_funnel",
    oracle=f"""
    WITH flags AS (
        SELECT doc_id,
               length(text) >= {_FUNNEL_MIN_CHARS} AS f_len,
               length(text) >= {_FUNNEL_MIN_CHARS}
                 AND lang IN ({", ".join(repr(l) for l in _FUNNEL_LANGS)}) AS f_lang,
               length(text) >= {_FUNNEL_MIN_CHARS}
                 AND lang IN ({", ".join(repr(l) for l in _FUNNEL_LANGS)})
                 AND CAST(len(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
                          AS DOUBLE)
                     / len(regexp_split_to_array(trim(text), '\\s+'))
                     >= {_FUNNEL_MIN_TTR} AS f_quality,
               md5(text) AS h
        FROM documents
    ),
    dedup AS (
        SELECT doc_id, f_len, f_lang, f_quality,
               f_quality AND doc_id = MIN(CASE WHEN f_quality THEN doc_id END)
                                      OVER (PARTITION BY h) AS f_dedup
        FROM flags
    ),
    agg AS (
        SELECT COUNT(*) AS raw,
               SUM(CASE WHEN f_len THEN 1 ELSE 0 END) AS len_ok,
               SUM(CASE WHEN f_lang THEN 1 ELSE 0 END) AS lang_ok,
               SUM(CASE WHEN f_quality THEN 1 ELSE 0 END) AS quality_ok,
               SUM(CASE WHEN f_dedup THEN 1 ELSE 0 END) AS dedup_ok
        FROM dedup
    )
    SELECT stage, stage_name, CAST(n_docs AS BIGINT) AS n_docs FROM (
        SELECT 0 AS stage, 'raw' AS stage_name, raw AS n_docs FROM agg
        UNION ALL SELECT 1, 'min_length', len_ok FROM agg
        UNION ALL SELECT 2, 'lang_whitelist', lang_ok FROM agg
        UNION ALL SELECT 3, 'quality_ttr', quality_ok FROM agg
        UNION ALL SELECT 4, 'exact_dedup', dedup_ok FROM agg
    )
    """,
    bench=True,
)
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation yield report: how many documents survive each cumulative
    filter stage — raw -> min-length -> language whitelist -> type/token-
    ratio quality floor -> exact dedup (first doc_id per content hash among
    quality survivors).  This is the per-release yield table a data team
    signs off on before spending tokens.

    Scale shape: every stage is a boolean flag computed in ONE narrow pass
    (no per-stage re-filtering); dedup survivorship is a min-over-window on
    the content hash (uniform 128-bit key, no skew); the final counts are
    five conditional BIGINT sums in a single global aggregate whose partial
    rows are one per task.  One corpus scan, one 16-byte-key shuffle, one
    5-row result at any corpus size."""
    from pyspark.sql import Window

    from ..functions.text import tokens

    ts = tokens()
    f_len = F.length("text") >= _FUNNEL_MIN_CHARS
    f_lang = f_len & F.col("lang").isin(*_FUNNEL_LANGS)
    ttr = F.size(F.array_distinct(ts)).cast("double") / F.size(ts)
    f_quality = f_lang & (ttr >= _FUNNEL_MIN_TTR)
    flags = t(spark, sf_dir, "documents").select(
        "doc_id",
        f_len.alias("f_len"),
        f_lang.alias("f_lang"),
        f_quality.alias("f_quality"),
        F.md5("text").alias("h"),
    )
    w = Window.partitionBy("h")
    first_q = F.min(F.when(F.col("f_quality"), F.col("doc_id"))).over(w)
    flagged = flags.withColumn(
        "f_dedup", F.col("f_quality") & (F.col("doc_id") == first_q)
    )
    agg = flagged.agg(
        F.count(F.lit(1)).alias("raw"),
        F.sum(F.when(F.col("f_len"), 1).otherwise(0)).alias("len_ok"),
        F.sum(F.when(F.col("f_lang"), 1).otherwise(0)).alias("lang_ok"),
        F.sum(F.when(F.col("f_quality"), 1).otherwise(0)).alias("quality_ok"),
        F.sum(F.when(F.col("f_dedup"), 1).otherwise(0)).alias("dedup_ok"),
    )
    stages = [
        (0, "raw", "raw"),
        (1, "min_length", "len_ok"),
        (2, "lang_whitelist", "lang_ok"),
        (3, "quality_ttr", "quality_ok"),
        (4, "exact_dedup", "dedup_ok"),
    ]
    # The 5 report rows explode from ONE reference to the 1-row aggregate —
    # the previous per-stage unionAll re-evaluated the whole scan+window
    # subtree five times (r11-opt; identical rows, column-for-column).
    stage_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("stage"),
                F.lit(name).alias("stage_name"),
                F.col(src).cast("long").alias("n_docs"),
            )
            for i, name, src in stages
        ]
    )
    return agg.select(F.explode(stage_structs).alias("e")).select(
        "e.stage", "e.stage_name", "e.n_docs"
    )


# --------------------------------------------------------------------------
# Embedding outlier shortlist (distance-to-centroid QA)
# --------------------------------------------------------------------------

_OUT_Q = 1_000_000_000_000  # 1e-12 grid for per-element squared-diff sums
_OUT_TOPN = 10


@register(
    "q_embedding_outliers",
    oracle=f"""
    WITH elems AS (
        SELECT vec_id, label, dim AS pos, x FROM {{elems}}
    ),
    cent AS (
        SELECT label, pos,
               CAST(SUM(CAST(round(x * {_QUANT}) AS BIGINT)) AS DOUBLE)
                 / ({_QUANT} * COUNT(*)) AS c
        FROM elems GROUP BY label, pos
    ),
    d2 AS (
        SELECT e.vec_id, e.label,
               SUM(CAST(round((e.x - c.c) * (e.x - c.c) * {_OUT_Q}) AS BIGINT))
                 AS sq
        FROM elems e
        JOIN cent c ON c.label = e.label AND c.pos = e.pos
        GROUP BY e.vec_id, e.label
    )
    SELECT vec_id, label,
           sqrt(CAST(sq AS DOUBLE) / {_OUT_Q}) AS dist,
           CAST(rk AS INTEGER) AS rk
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY label
                                     ORDER BY sq DESC, vec_id) AS rk
        FROM d2
    ) WHERE rk <= {_OUT_TOPN}
    """.replace("{elems}", _sql_emb_elems(" label,")),
)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QA: the 10 vectors FURTHEST from their label's centroid,
    per label — mislabeled points, decode failures, and distribution drift
    all surface at the top of this list before they poison an ANN index or
    a classifier head.

    Exactness discipline (the module's integer-quantization pattern, twice):
    centroids come from 1e-6-quantized BIGINT sums (exact at any
    parallelism, same grid as emb_centroid_by_label); each vector's squared
    distance is then a SUM of per-element round(diff^2 * 1e12) BIGINTs —
    associative, order-free, identical on both engines — and the outlier
    ranking orders by the INTEGER sum, so ranks never depend on a floating
    comparison (the reported dist is derived afterwards).  Headroom:
    diff^2 <= 4 on unit-scale elements -> 4e12/element, x64 dims ~ 2.6e14
    per vector, far under BIGINT.

    Scale shape: posexplode -> broadcast join against the (labels x dims)
    centroid table (metadata-sized at any corpus) -> map-side-combinable
    BIGINT sum on (vec_id, label) -> per-label top-10 via WindowGroupLimit
    (partial top-k before the label shuffle, so a popular label never
    concentrates its full membership on one task).

    Population contract: elements come from the shared _emb_elems /
    _sql_emb_elems definition (label carried through), so NULL or
    wrong-length embeddings are excluded EXACTLY as the sibling QA reports
    (emb_dim_stats, q_emb_dim_quantiles) exclude them — a malformed vector
    can neither skew a centroid nor appear as a spurious outlier."""
    from pyspark.sql import Window

    elems = _emb_elems(spark, sf_dir, "label").withColumnRenamed("dim", "pos")
    cent = (
        elems.select(
            "label",
            "pos",
            F.round(F.col("x") * _QUANT).cast("long").alias("xq"),
        )
        .groupBy("label", "pos")
        .agg(F.sum("xq").alias("sxq"), F.count(F.lit(1)).alias("n"))
        .select(
            "label",
            "pos",
            (F.col("sxq").cast("double") / (F.lit(_QUANT) * F.col("n"))).alias(
                "c"
            ),
        )
    )
    diff = F.col("x") - F.col("c")
    d2 = (
        elems.join(F.broadcast(cent), ["label", "pos"])
        .select(
            "vec_id",
            "label",
            F.round(diff * diff * _OUT_Q).cast("long").alias("dq"),
        )
        .groupBy("vec_id", "label")
        .agg(F.sum("dq").alias("sq"))
    )
    w = Window.partitionBy("label").orderBy(F.col("sq").desc(), F.col("vec_id"))
    return (
        d2.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _OUT_TOPN)
        .select(
            "vec_id",
            "label",
            F.sqrt(F.col("sq").cast("double") / _OUT_Q).alias("dist"),
            "rk",
        )
    )


# --------------------------------------------------------------------------
# Context-packing efficiency + per-source duplication profile
# --------------------------------------------------------------------------

_PACK_CTX = 256  # tokens per training context


@register(
    "q_packing_efficiency",
    oracle=f"""
    WITH n AS (
        SELECT CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens
        FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(((n_tokens + {_PACK_CTX - 1}) // {_PACK_CTX}) * {_PACK_CTX})
                AS BIGINT) AS padded_tokens,
           CAST(SUM(n_tokens) AS DOUBLE)
             / SUM(((n_tokens + {_PACK_CTX - 1}) // {_PACK_CTX}) * {_PACK_CTX})
             AS pad_efficiency,
           CAST((SUM(n_tokens) + {_PACK_CTX - 1}) // {_PACK_CTX} AS BIGINT)
             AS packed_contexts,
           CAST(SUM((n_tokens + {_PACK_CTX - 1}) // {_PACK_CTX}) AS BIGINT)
             AS padded_contexts
    FROM n
    """,
)
def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-packing planning report for a 256-token training context:
    token efficiency of pad-per-document batching (each doc padded up to a
    context multiple) vs the concat-and-split packing floor — the numbers
    that decide whether a pipeline needs sequence packing at all.

    All ceil-divisions are true integer arithmetic on both engines — the
    Spark side uses the SQL `div` operator (long // long), matching the
    oracle's `//` exactly at ANY magnitude, not just while the numerator
    fits a double's 53-bit mantissa; the single efficiency ratio is one
    exact-integer division.  One narrow scan + a single all-combinable
    global aggregate: the operator's output is ONE row at any corpus
    size."""
    from ..functions.text import tokens

    nt = F.size(tokens()).cast("long")
    padded = F.expr(
        f"((n_tokens + {_PACK_CTX - 1}) div {_PACK_CTX}) * {_PACK_CTX}"
    )
    n_ctx = F.expr(f"(n_tokens + {_PACK_CTX - 1}) div {_PACK_CTX}")
    return (
        t(spark, sf_dir, "documents")
        .select(nt.alias("n_tokens"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum(padded).cast("long").alias("padded_tokens"),
            (F.sum("n_tokens").cast("double") / F.sum(padded)).alias(
                "pad_efficiency"
            ),
            F.expr(f"(sum(n_tokens) + {_PACK_CTX - 1}) div {_PACK_CTX}")
            .cast("long")
            .alias("packed_contexts"),
            F.sum(n_ctx).cast("long").alias("padded_contexts"),
        )
    )


_PACK_DOC_BUCKET = 64  # doc_ids per cumulative-sum ranking bucket


@register(
    "q_concat_chunk_packing",
    oracle=f"""
    WITH n AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
                 AS n_tokens
        FROM documents
    ),
    pos AS (
        SELECT doc_id, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS tok_start
        FROM n
    )
    SELECT doc_id, n_tokens, tok_start,
           tok_start // {_PACK_CTX} AS first_chunk,
           (tok_start + n_tokens - 1) // {_PACK_CTX} AS last_chunk,
           CAST(CASE WHEN (tok_start + n_tokens - 1) // {_PACK_CTX}
                          > tok_start // {_PACK_CTX}
                     THEN 1 ELSE 0 END AS BIGINT) AS crosses_boundary
    FROM pos
    """,
    bench=True,
)
def q_concat_chunk_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing assignment — the layout LLM pretraining
    actually uses: all documents are concatenated in doc_id order and the
    token stream is split into fixed {_PACK_CTX}-token training chunks.
    Output per document: its global start offset in the token stream, the
    first and last chunk it lands in, and whether it crosses a chunk
    boundary (the fraction of crossing docs is the attention-mask /
    document-leakage exposure the packer trades against padding waste —
    q_packing_efficiency reports the other side of that trade).

    The oracle is one global running SUM OVER (ORDER BY doc_id) — a
    single-partition sort at scale.  The Spark side computes the SAME
    exact prefix sums with the two-phase distributed pattern
    (q_curriculum_order's contract, summing token counts instead of
    counting rows): (1) per-bucket token totals (map-side-combinable
    metadata), (2) a running sum over the TINY bucket table broadcast
    back as starting offsets, (3) a within-bucket cumulative window
    partitioned by bucket.  Every rank-carrying shuffle is keyed by
    bucket, so parallelism equals the bucket count at any corpus size.
    All positions and chunk ids are exact BIGINT arithmetic (integer
    `div`); no float anywhere in the spec."""
    from pyspark.sql import Window

    from ..functions.text import tokens

    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens()).cast("long").alias("n_tokens"),
        F.expr(f"doc_id div {_PACK_DOC_BUCKET}").alias("bucket"),
    )
    bucket_sums = docs.groupBy("bucket").agg(
        F.sum("n_tokens").alias("bucket_tokens")
    )
    w_off = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = bucket_sums.select(
        "bucket",
        F.coalesce(F.sum("bucket_tokens").over(w_off), F.lit(0)).alias(
            "bucket_offset"
        ),
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = (
        F.col("bucket_offset")
        + F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0))
    ).cast("long")
    first_chunk = F.expr(f"tok_start div {_PACK_CTX}")
    last_chunk = F.expr(f"(tok_start + n_tokens - 1) div {_PACK_CTX}")
    return (
        docs.join(F.broadcast(offsets), "bucket")
        .withColumn("tok_start", start)
        .select(
            "doc_id",
            "n_tokens",
            "tok_start",
            first_chunk.alias("first_chunk"),
            last_chunk.alias("last_chunk"),
            F.when(last_chunk > first_chunk, 1)
            .otherwise(0)
            .cast("long")
            .alias("crosses_boundary"),
        )
    )


@register(
    "q_source_dup_profile",
    # shares dedup.sql_keeper_ctes with q_dedup_survivorship so the
    # keep-first policy is single-sourced on the SQL side too
    oracle=f"""
    WITH {sql_keeper_ctes("source")}
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact_dups,
           CAST(SUM(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS dup_rate
    FROM hashes JOIN keeper USING (h)
    GROUP BY source
    """,
)
def q_source_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication profile: how many of each source's documents
    are exact copies of earlier content (not the keeper for their hash) —
    the spam-domain report that feeds per-source quota decisions
    (q_source_quota_cap) and crawl blocklists.

    Same uniform md5 shuffle as dedup_exact, then a metadata-sized
    groupBy(source) — no text column ever shuffles.  The content-hash /
    keeper relations come from dedup.content_hashed/keeper_of — the SAME
    definitions q_dedup_survivorship uses, so the keep-first policy cannot
    drift between the per-doc verdict and this per-source rollup."""
    docs = content_hashed(spark, sf_dir, "source")
    keeper = keeper_of(docs)
    dup = (F.col("doc_id") != F.col("keep_id")).cast("int")
    return (
        docs.join(keeper, "h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(dup).cast("long").alias("n_exact_dups"),
            (F.sum(dup).cast("double") / F.count(F.lit(1))).alias("dup_rate"),
        )
    )


# --------------------------------------------------------------------------
# Robust per-dimension quantiles (exact order statistics)
# --------------------------------------------------------------------------


@register(
    "q_emb_dim_quantiles",
    oracle=f"""
    WITH elems AS (
        SELECT dim, x FROM {_SQL_EMB_ELEMS}
    ),
    ranked AS (
        SELECT dim, x,
               ROW_NUMBER() OVER (PARTITION BY dim ORDER BY x) AS rn,
               COUNT(*) OVER (PARTITION BY dim) AS n
        FROM elems
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(MAX(n) AS BIGINT) AS n,
           MAX(CASE WHEN rn = ((n - 1) * 5) // 100 + 1 THEN x END) AS p05,
           MAX(CASE WHEN rn = ((n - 1) * 50) // 100 + 1 THEN x END) AS p50,
           MAX(CASE WHEN rn = ((n - 1) * 95) // 100 + 1 THEN x END) AS p95
    FROM ranked
    GROUP BY dim
    """,
)
def q_emb_dim_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-dimension spread profile: exact p05/p50/p95 ORDER
    STATISTICS (lower-empirical-quantile convention: the value at rank
    floor((n-1)*p) + 1) for every embedding dimension — the clamp bounds a
    winsorizing normalizer or int8 quantizer uses so a handful of outliers
    cannot stretch the value range.

    Why order statistics and not percentile()/quantile_cont: interpolated
    quantiles AVERAGE two doubles, and the two engines' interpolation
    arithmetic need not be bit-identical — the k-th smallest element is a
    VALUE FROM THE DATA, identical by definition (ties ordered by value
    only, so the selected value is well-defined regardless of tie order).

    Scale shape: posexplode then ONE rank window per dimension partition —
    64 fixed-cardinality partitions with no skew (every vector contributes
    exactly one element per dim); the final rollup is metadata-sized.  At
    extreme corpus sizes the same report comes from partial histograms;
    the exact form is the oracle-checkable reference.  Population comes
    from the shared `_emb_elems` / `_SQL_EMB_ELEMS` definition."""
    from pyspark.sql import Window

    elems = _emb_elems(spark, sf_dir).select("dim", "x")
    w_rank = Window.partitionBy("dim").orderBy("x")
    w_all = Window.partitionBy("dim")
    ranked = elems.withColumn("rn", F.row_number().over(w_rank)).withColumn(
        "n", F.count(F.lit(1)).over(w_all)
    )

    def at_pct(pct: int):
        target = F.expr(f"((n - 1) * {pct}) div 100") + 1
        return F.max(F.when(F.col("rn") == target, F.col("x")))

    return ranked.groupBy("dim").agg(
        F.max("n").cast("long").alias("n"),
        at_pct(5).alias("p05"),
        at_pct(50).alias("p50"),
        at_pct(95).alias("p95"),
    ).select(F.col("dim").cast("long").alias("dim"), "n", "p05", "p50", "p95")


# --------------------------------------------------------------------------
# Corpus diversity (exact Simpson index per language)
# --------------------------------------------------------------------------


@register(
    "q_source_diversity",
    oracle="""
    WITH counts AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY lang, source
    )
    SELECT lang,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_sources,
           CAST(SUM(CAST(n AS HUGEINT) * n) AS DOUBLE)
             / (CAST(SUM(n) AS DOUBLE) * CAST(SUM(n) AS DOUBLE)) AS simpson,
           1.0 - CAST(SUM(CAST(n AS HUGEINT) * n) AS DOUBLE)
             / (CAST(SUM(n) AS DOUBLE) * CAST(SUM(n) AS DOUBLE)) AS diversity
    FROM counts
    GROUP BY lang
    """,
)
def q_source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language source-concentration report: Simpson index
    sum(n_i^2)/N^2 over sources (the probability two random docs share a
    source) and its diversity complement — the number a curation team
    watches so one domain cannot quietly dominate a language's training
    mix (the corpus-level counterpart of q_source_quota_cap's per-domain
    cap).

    Exactness AND overflow headroom: the squared sums run in WIDE exact
    integers — decimal(38,0) on Spark, HUGEINT (the automatic SUM
    promotion, forced explicitly on the n*n product) on DuckDB — because
    long*long would overflow at ~3e9 docs per language, squarely inside
    the 100 TB framing; doubles appear only in the single closing
    division, correctly rounded from the same exact integers on both
    engines.  No transcendental entropy, no order-dependent double
    accumulation.  Scale shape: a (lang x source) combinable rollup
    (metadata-sized), then a |langs|-row aggregate.  No data-sized
    shuffle anywhere."""
    counts = (
        t(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    nd = F.col("n").cast("decimal(19,0)")
    sum_n = F.sum("n")
    sum_n2 = F.sum(nd * nd)  # decimal(38,0): exact far past long range
    simpson = sum_n2.cast("double") / (
        sum_n.cast("double") * sum_n.cast("double")
    )
    return counts.groupBy("lang").agg(
        sum_n.cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        simpson.alias("simpson"),
        (F.lit(1.0) - simpson).alias("diversity"),
    )


# --------------------------------------------------------------------------
# Balanced (data-derived-rate) downsampling
# --------------------------------------------------------------------------


@register(
    "q_balanced_downsample",
    oracle=f"""
    WITH counts AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang
    ),
    floor_n AS (SELECT MIN(n) AS min_n FROM counts),
    rates AS (
        SELECT lang, CAST(min_n AS DOUBLE) / n AS rate
        FROM counts CROSS JOIN floor_n
    )
    SELECT d.doc_id, d.lang, r.rate
    FROM documents d JOIN rates r ON r.lang = d.lang
    WHERE CAST({sql_hash48("'balance:' || CAST(d.doc_id AS VARCHAR)")} AS DOUBLE)
          / {_HASH_SPACE} < r.rate
    """,
)
def q_balanced_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced stratified downsampling with DATA-DERIVED rates: each
    language stratum is hash-sampled down toward the size of the SMALLEST
    stratum (rate = min_count / count), the two-pass move a mixture
    pipeline makes when it wants an equal-representation corpus rather
    than q_hash_sample's fixed rates or q_mixture_weights' reweighting.

    Sampling stays a pure function of the row key (salted hash48 <
    rate), so the kept set is stable across reruns, partitioning, and
    engines; the expected kept size per stratum is min_count (exact
    equality needs reservoir-style global coordination — the documented
    trade for a shuffle-free keep decision).

    Scale shape: pass 1 is a metadata-sized groupBy(lang) whose result —
    |langs| rows — broadcasts at any corpus size; pass 2 is a narrow
    broadcast join + filter, no shuffle of the corpus at all.  The rate
    arithmetic is one exact IEEE division per stratum, identical on both
    engines."""
    docs = t(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n"))
    floor_n = counts.agg(F.min("n").alias("min_n"))
    rates = F.broadcast(
        counts.crossJoin(F.broadcast(floor_n)).select(
            "lang", (F.col("min_n").cast("double") / F.col("n")).alias("rate")
        )
    )
    u = hash48(F.concat(F.lit("balance:"), F.col("doc_id").cast("string"))).cast(
        "double"
    ) / F.lit(_HASH_SPACE)
    return (
        docs.join(rates, "lang")
        .filter(u < F.col("rate"))
        .select("doc_id", "lang", "rate")
    )


# --------------------------------------------------------------------------
# Global curriculum order (distributed total ranking)
# --------------------------------------------------------------------------

_CURRICULUM_BUCKET = 64  # n_chars per ranking bucket


@register(
    "q_curriculum_order",
    oracle="""
    SELECT doc_id, n_chars,
           ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS train_order
    FROM documents
    """,
)
def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global curriculum position for every document — train on short
    documents first (ORDER BY n_chars, doc_id), as a TOTAL order the data
    loader can range-request.  The oracle is one global ROW_NUMBER(); the
    Spark side deliberately is NOT: a global window is a single-partition
    sort — the classic scale-killer this operator exists to demonstrate
    around.

    Two-phase distributed ranking instead: (1) bucket each doc by
    n_chars div 64 and count per bucket — a map-side-combinable
    metadata aggregate; (2) turn bucket counts into starting offsets with
    a running sum over the TINY bucket table (the only unpartitioned
    window, over |buckets| rows of metadata), broadcast them back, and
    row_number WITHIN each bucket partition + offset = the exact global
    rank.  Every rank-carrying shuffle is partitioned by bucket, so
    parallelism equals the bucket count at any corpus size; residual skew
    is one bucket's share of the length distribution (tighten the bucket
    width to split hot lengths).  This is the same two-phase trick a
    100 TB sort-based pipeline uses for stable global ids."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.expr(f"n_chars div {_CURRICULUM_BUCKET}").alias("bucket"),
    )
    bucket_counts = docs.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_in_bucket")
    )
    # Running offset over the metadata-sized bucket table: |buckets| rows,
    # the one place a global window is fine.
    w_off = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bucket_counts.select(
        "bucket",
        F.coalesce(F.sum("n_in_bucket").over(w_off), F.lit(0)).alias("offset"),
    )
    w_in = Window.partitionBy("bucket").orderBy("n_chars", "doc_id")
    return (
        docs.join(F.broadcast(offsets), "bucket")
        .withColumn("rk_in_bucket", F.row_number().over(w_in))
        .select(
            "doc_id",
            "n_chars",
            (F.col("offset") + F.col("rk_in_bucket")).alias("train_order"),
        )
    )


# --------------------------------------------------------------------------
# Top principal component via exact Gram matrix + power iteration
# --------------------------------------------------------------------------

_PC_Q = 1 << 20       # element quantum: q = round(x * 2^20), |q| <= ~2^20
_PC_RESCALE = 4096    # per-iteration vector renormalization target (2^12)


def _pc_sign_div(u: str, s: str) -> str:
    """sign(u) * (abs(u) intdiv s) rendered identically for both engines —
    integer division disagrees on NEGATIVE numerators (Spark ``div``
    truncates toward zero, DuckDB ``//`` floors), so the division only ever
    sees the non-negative magnitude.  ``{div}`` is substituted per engine."""
    return f"CASE WHEN {u} < 0 THEN -(abs({u}) {{div}} {s}) ELSE abs({u}) {{div}} {s} END"


def _pc_cte_chain() -> str:
    """WITH-prefix through the power-iterated direction v2 — shared by the
    top-component report and the remove-top-component projection so the
    direction has exactly one definition."""
    sd1 = _pc_sign_div("u", "s").format(div="//")
    return f"""
    WITH elems AS (
        SELECT vec_id, dim, CAST(round(x * {_PC_Q}) AS BIGINT) AS q
        FROM {_SQL_EMB_ELEMS}
    ),
    gram AS (
        SELECT a.dim AS j, b.dim AS k, CAST(SUM(a.q * b.q) AS BIGINT) AS g
        FROM elems a JOIN elems b ON b.vec_id = a.vec_id
        GROUP BY a.dim, b.dim
    ),
    u1 AS (SELECT j, CAST(SUM(g) AS BIGINT) AS u FROM gram GROUP BY j),
    s1 AS (
        SELECT CAST(GREATEST(MAX(abs(u)) // {_PC_RESCALE}, 1) AS BIGINT) AS s
        FROM u1
    ),
    v1 AS (
        SELECT j, CAST({sd1} AS BIGINT) AS v FROM u1 CROSS JOIN s1
    ),
    u2 AS (
        SELECT g.j, SUM(CAST(g.g AS HUGEINT) * v1.v) AS u
        FROM gram g JOIN v1 ON v1.j = g.k GROUP BY g.j
    ),
    s2 AS (
        SELECT CAST(GREATEST(MAX(abs(u)) // {_PC_RESCALE}, 1) AS BIGINT) AS s
        FROM u2
    ),
    v2 AS (
        SELECT j, CAST({sd1} AS BIGINT) AS v FROM u2 CROSS JOIN s2
    )"""


def _top_component_oracle() -> str:
    return _pc_cte_chain() + f""",
    gv AS (
        SELECT g.j, SUM(CAST(g.g AS HUGEINT) * v2.v) AS gv
        FROM gram g JOIN v2 ON v2.j = g.k GROUP BY g.j
    ),
    num AS (
        SELECT SUM(CAST(v2.v AS HUGEINT) * gv.gv) AS n
        FROM v2 JOIN gv ON gv.j = v2.j
    ),
    den AS (SELECT CAST(SUM(v * v) AS BIGINT) AS d FROM v2),
    vmax AS (SELECT MAX(abs(v)) AS m FROM v2)
    SELECT CAST(v2.j AS BIGINT) AS dim,
           v2.v AS loading_q,
           CAST(v2.v AS DOUBLE) / CAST(vmax.m AS DOUBLE) AS loading,
           CAST(num.n // den.d AS BIGINT) AS rayleigh_q
    FROM v2 CROSS JOIN vmax CROSS JOIN num CROSS JOIN den
    ORDER BY dim
    """


def _gram_and_v2(spark: SparkSession, sf_dir: str):
    """(gram, v2): the persisted integer Gram matrix and the power-iterated
    direction — ONE definition shared by the top-component report and the
    remove-top-component projection (mirrors :func:`_pc_cte_chain` on the
    oracle side).  gram is persist_tracked; the caller's persisted_scope
    releases it."""
    from ._util import persist_tracked

    emb = (
        t(spark, sf_dir, "embeddings")
        .filter(
            F.col("embedding").isNotNull() & (F.size("embedding") == _EMB_DIM)
        )
        .select("embedding")
    )  # the same validity population as _emb_elems / the oracle

    def _gram_batches(batches):
        import numpy as np
        import pandas as pd

        jj, kk = np.meshgrid(
            np.arange(_EMB_DIM, dtype=np.int32),
            np.arange(_EMB_DIM, dtype=np.int32),
            indexing="ij",
        )
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            v = mat * float(_PC_Q)  # exponent shift: EXACT for binary floats
            q = (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype(np.int64)
            g = q.T @ q  # exact int64 matmul (bound documented above)
            yield pd.DataFrame(
                {"j": jj.ravel(), "k": kk.ravel(), "g": g.ravel()}
            )

    gram = persist_tracked(
        emb.mapInPandas(_gram_batches, "j int, k int, g long")
        .groupBy("j", "k")
        .agg(
            F.sum(F.col("g").cast("decimal(38,0)")).cast("long").alias("g")
        )
    )
    sign_div = _pc_sign_div("u", "s").format(div="div")

    def _matvec(v: DataFrame) -> DataFrame:
        # v derives from gram, so rename its key before the (self-lineage)
        # join — Catalyst otherwise flags the j reference as ambiguous.
        vr = v.select(F.col("j").alias("kk"), "v")
        return (
            gram.join(F.broadcast(vr), F.col("k") == F.col("kk"))
            .groupBy("j")
            .agg(F.sum(F.col("g").cast("decimal(38,0)") * F.col("v")).alias("u"))
        )

    def _rescale(u: DataFrame) -> DataFrame:
        s = u.agg(
            F.expr(
                f"CAST(GREATEST(MAX(abs(u)) div {_PC_RESCALE}, 1) AS BIGINT)"
            ).alias("s")
        )  # 1-row relation
        return u.crossJoin(F.broadcast(s)).select(
            "j", F.expr(f"CAST({sign_div} AS BIGINT)").alias("v")
        )

    u1 = gram.groupBy("j").agg(
        F.sum(F.col("g").cast("decimal(38,0)")).cast("long").alias("u")
    )
    v2 = _rescale(_matvec(_rescale(u1)))
    return gram, v2


@register(
    "q_emb_top_component",
    oracle=_top_component_oracle(),
)
def q_emb_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding corpus — exact
    distributed Gram matrix, then two power-iteration steps — the linear-
    algebra member of the iterative family (connected components, k-means
    step, PageRank) and the computation behind "all-but-the-top" embedding
    postprocessing and anisotropy QA: a corpus whose top component carries
    most of the mass has a dominant nuisance direction worth projecting out.

    Exactness (the PageRank doctrine applied to linear algebra): elements
    are quantized once (round(x * 2^20), same rounding as emb_dim_stats);
    the Gram matrix G = sum_i q_i q_i^T is an INTEGER matrix accumulated by
    a map-side-combinable groupBy; every matvec is integer products summed
    as decimal(38,0)/HUGEINT (both exact); each iterate is renormalized to
    ~2^12 via GREATEST(max|u| intdiv 4096, 1) with the sign split out so
    truncation-vs-floor division semantics never meet a negative numerator
    (:func:`_pc_sign_div` renders ONE expression for both engines).  The
    Rayleigh quotient v.Gv/v.v — the eigenvalue estimate in quantized
    units — is likewise an integer division of exact integers (PSD, so
    non-negative); the single double is loading = v_j / max|v|.

    Scale shape: the one corpus-sized pass is the Gram accumulation,
    implemented as the production form — a mapInPandas partial-Gram: each
    Arrow batch contributes ONE d x d integer matrix (Q^T Q via numpy int64
    matmul; per-batch magnitude <= rows_per_batch * 2^40 < 2^54 at the
    10k-row Arrow default, far under int64), and the downstream hash
    aggregate sums the per-batch partials exactly — integer addition
    commutes, so ANY partition/batch layout gives bit-identical G, which is
    what lets the declarative oracle (the d^2-fan-out explode self-join)
    verify the vectorized path.  SHUFFLE volume is d^2 = 4096 rows per
    batch regardless of corpus size.  The in-UDF quantization reproduces
    round() half-away-from-zero exactly: scaling by 2^20 is a pure exponent
    shift (exact in binary), so sign(v) * floor(|v| + 0.5) equals the
    engines' decimal HALF_UP on every representable input.  Everything
    after the Gram is metadata: the 4096-row G is persisted and reused by
    both iterations plus the Rayleigh pass, with 64-row broadcast joins.
    Fixed iteration count (2) keeps the unrolled plan the honest twin of a
    production loop that would localCheckpoint per step; convergence is not
    asserted — the registered op IS the loop body, like q_emb_kmeans_step."""
    gram, v2 = _gram_and_v2(spark, sf_dir)
    v2r = v2.select(F.col("j").alias("kk"), F.col("v").alias("vv"))
    gv = (
        gram.join(F.broadcast(v2r), F.col("k") == F.col("kk"))
        .groupBy("j")
        .agg(F.sum(F.col("g").cast("decimal(38,0)") * F.col("vv")).alias("gv"))
    )
    num = (
        v2.join(gv.select(F.col("j").alias("jj"), "gv"), F.col("j") == F.col("jj"))
        .agg(F.sum(F.col("v").cast("decimal(38,0)") * F.col("gv")).alias("n"))
    )  # 1-row
    den = v2.agg(
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,0)"))
        .cast("long")
        .alias("d")
    )  # 1-row
    vmax = v2.agg(F.max(F.abs(F.col("v"))).alias("m"))  # 1-row
    return (
        v2.crossJoin(F.broadcast(vmax))
        .crossJoin(F.broadcast(num))
        .crossJoin(F.broadcast(den))
        .select(
            F.col("j").cast("long").alias("dim"),
            F.col("v").alias("loading_q"),
            (F.col("v").cast("double") / F.col("m").cast("double")).alias("loading"),
            F.expr("CAST(n div d AS BIGINT)").alias("rayleigh_q"),
        )
        .orderBy("dim")
    )


def _remove_top_oracle() -> str:
    return _pc_cte_chain() + f""",
    pden AS (SELECT CAST(SUM(v * v) AS BIGINT) AS d FROM v2),
    ci AS (
        SELECT e.vec_id, CAST(SUM(e.q * v2.v) AS BIGINT) AS c
        FROM (SELECT vec_id, dim, q FROM elems) e
        JOIN v2 ON v2.j = e.dim
        GROUP BY e.vec_id
    )
    SELECT e.vec_id,
           CAST(e.dim AS BIGINT) AS dim,
           CAST(e.q * p.d - ci.c * v2.v AS BIGINT) AS residual_q,
           CAST(e.q * p.d - ci.c * v2.v AS DOUBLE)
             / CAST(p.d * {_PC_Q} AS DOUBLE) AS residual
    FROM elems e
    JOIN v2 ON v2.j = e.dim
    JOIN ci ON ci.vec_id = e.vec_id
    CROSS JOIN pden p
    """


@register(
    "q_emb_remove_top_component",
    oracle=_remove_top_oracle(),
)
def q_emb_remove_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-top, applied: project every embedding onto the orthogonal
    complement of the corpus's dominant direction (q_emb_top_component's v)
    — the standard anisotropy fix for embedding spaces whose first component
    is a nuisance direction.  Output is the transformed corpus itself, one
    row per (vec_id, dim): the projection a downstream similarity index
    would actually consume.

    Exactness: the residual is computed in CLEARED-DENOMINATOR integer form
    — residual_q = q_ij * (v.v) - (q_i.v) * v_j, every factor an exact
    BIGINT (|q| <= 2^20, |v| <= ~2^13, so |residual_q| < 2^53) — which is
    the exact orthogonal projection scaled by the positive constant v.v:
    v.residual_q = (v.v)(q_i.v) - (q_i.v)(v.v) = 0 identically, in exact
    arithmetic, per vector.  The single double (`residual`, the projected
    value back in embedding units) is one IEEE division by the constant
    (v.v) * 2^20 — an exactly-representable integer (< 2^52) — of identical
    integers.

    Scale shape: v and v.v are metadata (64 rows / 1 row, broadcast); the
    corpus pass is ONE map-side-combinable groupBy for the per-vector
    coefficients q_i.v, then one broadcast-annotated projection pass over
    the element relation — no shuffle ever carries more than the element
    relation keyed by vec_id, and the two corpus-sized relations join on
    their shared vec_id key.  Composes _gram_and_v2, so the direction being
    removed is EXACTLY the registered q_emb_top_component direction."""
    _, v2 = _gram_and_v2(spark, sf_dir)
    from ._util import persist_tracked

    v2p = persist_tracked(v2)  # 64 rows; cut the iteration lineage once
    pden = v2p.agg(
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,0)"))
        .cast("long")
        .alias("d")
    )  # 1-row
    elems = _emb_elems(spark, sf_dir).select(
        "vec_id",
        "dim",
        F.expr(f"CAST(round(x * {_PC_Q}) AS BIGINT)").alias("q"),
    )
    vdim = F.broadcast(v2p.select(F.col("j").alias("dim"), "v"))
    ci = (
        elems.join(vdim, "dim")
        .groupBy("vec_id")
        .agg(
            F.sum((F.col("q") * F.col("v")).cast("decimal(38,0)"))
            .cast("long")
            .alias("c")
        )
    )
    return (
        elems.join(vdim, "dim")
        .join(ci, "vec_id")
        .crossJoin(F.broadcast(pden))
        .select(
            "vec_id",
            F.col("dim").cast("long").alias("dim"),
            (F.col("q") * F.col("d") - F.col("c") * F.col("v")).alias("residual_q"),
            (
                (F.col("q") * F.col("d") - F.col("c") * F.col("v")).cast("double")
                / (F.col("d") * F.lit(_PC_Q)).cast("double")
            ).alias("residual"),
        )
    )


# --------------------------------------------------------------------------
# Dataset card (one-row corpus summary)
# --------------------------------------------------------------------------


@register(
    "q_dataset_card",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang, source,
               len({sql_tokens()}) AS nt,
               md5(text) AS h
        FROM documents
    ),
    base AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(nt) AS BIGINT) AS total_tokens,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        FROM d
    ),
    dup AS (
        SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_exact_dup_docs
        FROM (SELECT COUNT(*) AS c FROM d GROUP BY h HAVING COUNT(*) > 1)
    ),
    top AS (
        SELECT lang AS top_lang, CAST(COUNT(*) AS BIGINT) AS top_cnt
        FROM d GROUP BY lang ORDER BY COUNT(*) DESC, lang LIMIT 1
    )
    SELECT n_docs, total_tokens,
           CAST(total_tokens AS DOUBLE) / n_docs AS mean_doc_tokens,
           n_langs, n_sources, n_exact_dup_docs,
           CAST(n_exact_dup_docs AS DOUBLE) / n_docs AS exact_dup_frac,
           top_lang,
           CAST(top_cnt AS DOUBLE) / n_docs AS top_lang_share
    FROM base CROSS JOIN dup CROSS JOIN top
    """,
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card: document and token totals, language/source
    cardinalities, the exact-duplicate share, and the dominant language
    with its share — the summary block a corpus release publishes next to
    the data (and the first thing an operator reads before any deeper
    profile).  Composes the corpus-level view the per-doc profiles
    (text_token_stats, q_source_dup_profile, q_mixture_weights) drill
    into.

    Exactness: counts and token sums are exact integers; the three shares
    are single IEEE divisions; the dominant language is chosen by
    (count DESC, lang ASC) — a total order, deterministic on both engines.

    Scale shape: ONE narrow pass over documents feeds three strictly
    shrinking aggregates — the global rollup (1 row), the md5 dup-group
    rollup (combinable groupBy on a uniform hash key, reduced to 1 row),
    and the per-lang counts (|langs| rows; the ORDER BY ... LIMIT 1 is a
    TakeOrderedAndProject heap, never a global sort).  The projected doc
    relation is persisted through the persist_tracked seam so tokenize +
    md5 run once.  Output is one row at any corpus size."""
    from ..functions.text import tokens
    from ._util import persist_tracked

    d = persist_tracked(
        t(spark, sf_dir, "documents").select(
            "doc_id",
            "lang",
            "source",
            F.size(tokens()).alias("nt"),
            F.md5("text").alias("h"),
        )
    )
    base = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("total_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )
    dup = (
        d.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(
            F.coalesce(F.sum("c"), F.lit(0))
            .cast("long")
            .alias("n_exact_dup_docs")
        )
    )
    top = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("top_cnt"))
        .orderBy(F.col("top_cnt").desc(), F.col("lang").asc())
        .limit(1)
        .select(F.col("lang").alias("top_lang"), "top_cnt")
    )
    return (
        base.crossJoin(F.broadcast(dup))
        .crossJoin(F.broadcast(top))
        .select(
            "n_docs",
            "total_tokens",
            (F.col("total_tokens").cast("double") / F.col("n_docs")).alias(
                "mean_doc_tokens"
            ),
            "n_langs",
            "n_sources",
            "n_exact_dup_docs",
            (
                F.col("n_exact_dup_docs").cast("double") / F.col("n_docs")
            ).alias("exact_dup_frac"),
            "top_lang",
            (F.col("top_cnt").cast("double") / F.col("n_docs")).alias(
                "top_lang_share"
            ),
        )
    )


# --------------------------------------------------------------------------
# Temperature-smoothed mixture (the multilingual tau-sampling dial)
# --------------------------------------------------------------------------


@register(
    "q_temperature_mixture",
    oracle="""
    WITH counts AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang
    ),
    w AS (
        SELECT lang, n_docs,
               CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS weight
        FROM counts
    ),
    tot AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
               CAST(SUM(weight) AS BIGINT) AS wsum
        FROM w
    )
    SELECT lang, n_docs, weight,
           CAST(n_docs AS DOUBLE) / total AS actual_share,
           CAST(weight AS DOUBLE) / wsum AS tau_share,
           CAST(weight AS DOUBLE) * total / (wsum * n_docs) AS resample_weight
    FROM w, tot
    """,
)
def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed language mixture at tau = 2 — the multilingual
    sampling dial (mC4 / XLM-R style): target share proportional to
    p_lang^(1/tau), sitting between the raw corpus distribution (tau = 1,
    head languages dominate) and q_mixture_weights' uniform rebalance
    (tau = inf, tail languages oversampled hardest).  Emits per language
    the actual share, the tau-smoothed target share, and the per-document
    resample weight a sampler multiplies into its keep rate.

    Exactness: tau = 2 makes the smoothing a square root, and the weight
    is the INTEGER floor(sqrt(n_docs)) — IEEE sqrt is correctly rounded,
    so sqrt of an exact integer-valued double is deterministic and its
    floor is the true integer square root on any engine.  The weight sum
    is then an exact BIGINT (never a float accumulation whose order could
    differ), and every reported share/weight is a single division or a
    two-op chain of those integers (Class B, FLOAT_QUALS.md).  A general
    tau generalizes via exp(ln(p)/tau) — kept OFF the scored surface
    because transcendental rounding is not cross-engine-guaranteed; tau=2
    is the common production setting and the oracle-exact one.

    Scale shape: one map-side-combinable groupBy over the lang key (a
    fixed catalog), a 1-row total, and a catalog-sized projection —
    metadata arithmetic at any corpus size, same as the other mixture
    dials."""
    counts = t(spark, sf_dir, "documents").groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    w = counts.select(
        "lang",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs").cast("double"))).cast("long").alias(
            "weight"
        ),
    )
    tot = w.agg(
        F.sum("n_docs").cast("long").alias("total"),
        F.sum("weight").cast("long").alias("wsum"),
    )
    return w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "weight",
        (F.col("n_docs").cast("double") / F.col("total")).alias("actual_share"),
        (F.col("weight").cast("double") / F.col("wsum")).alias("tau_share"),
        (
            F.col("weight").cast("double")
            * F.col("total")
            / (F.col("wsum") * F.col("n_docs"))
        ).alias("resample_weight"),
    )


# --------------------------------------------------------------------------
# DSIR-style importance weighting (target-domain data selection)
# --------------------------------------------------------------------------

_DSIR_TARGET_LANG = "en"  # the target domain: the corpus' English slice
_DSIR_QUOTA_DEN = 10      # select the top 1/10th by importance weight


@register(
    "q_dsir_importance",
    oracle=f"""
    WITH d AS (SELECT doc_id, lang, {sql_tokens()} AS ts FROM documents),
    toks AS (SELECT doc_id, lang, unnest(ts) AS term FROM d),
    raw AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt_r FROM toks GROUP BY 1
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS total_r,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM raw) AS vocab
        FROM toks
    ),
    tgt AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt_t
        FROM toks WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY 1
    ),
    ttot AS (
        SELECT CAST(COALESCE(SUM(cnt_t), 0) AS BIGINT) AS total_t FROM tgt
    ),
    bits AS (
        SELECT r.term,
               CAST(length(bin(t.total_r // r.cnt_r)) - 1 AS BIGINT)
                 AS bits_r,
               CAST(length(bin((tt.total_t + t.vocab)
                               // (COALESCE(g.cnt_t, 0) + 1))) - 1 AS BIGINT)
                 AS bits_t
        FROM raw r LEFT JOIN tgt g ON g.term = r.term
        CROSS JOIN tot t CROSS JOIN ttot tt
    ),
    per_doc AS (
        SELECT k.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(b.bits_r - b.bits_t) AS BIGINT) AS weight_bits
        FROM toks k JOIN bits b ON b.term = k.term
        GROUP BY 1
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM per_doc),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY weight_bits DESC, doc_id) AS rk
        FROM per_doc
    )
    SELECT doc_id, n_tokens, weight_bits,
           CAST(rk AS BIGINT) AS dsir_rank,
           CAST(CASE WHEN rk <= n_docs // {_DSIR_QUOTA_DEN} THEN 1 ELSE 0 END
                AS BIGINT) AS selected
    FROM ranked CROSS JOIN n
    """,
)
def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance-weighted data selection (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"): score
    every document by log p_target(x) - log p_raw(x) under bag-of-words
    unigram models of the target domain (the '{_DSIR_TARGET_LANG}' slice)
    and the raw corpus, then keep the top 1/{_DSIR_QUOTA_DEN} by weight —
    the published recipe for tilting a web-scale crawl toward a
    high-quality reference domain without training a classifier.

    Exactness: both models use the repo's INTEGER log2
    (length(bin(n)) - 1 over integer quotients, the q_doc_surprisal
    doctrine) — bits_raw = ilog2(total_raw/cnt) and bits_target =
    ilog2((total_target + V)/(cnt_target + 1)) (add-one smoothing over the
    raw vocabulary, so unseen-in-target terms get a finite penalty).  The
    importance weight is the exact BIGINT sum of per-token bit
    differences; ranking and the quota cut are pure integer comparisons
    (FLOAT_QUALS.md Class A end-to-end — no float anywhere).

    Scale shape: two map-side-combinable token-count groupBys (raw and
    target) whose outputs live on the Zipf-bounded vocabulary; per-term
    bits computed once on that metadata relation with the two 1-row
    totals broadcast; one annotate join back to the exploded tokens and a
    doc-keyed rollup.  The global ranking uses the two-phase distributed
    pattern (per-bucket counts -> broadcast offsets -> within-bucket
    row_number) with weight_bits as the bucket key — the bucket domain is
    the achievable range of bit sums, not corpus volume, so the broadcast
    stays metadata-sized at any scale."""
    from ..functions.text import tokens
    from ._util import spread
    from .analytics_ext import _rfm_rank_two_phase

    from ._util import persist_tracked

    d = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(tokens()).alias("term")
    )
    toks = spread(d, spark, "doc_id")
    # r11-opt: raw/tgt (vocabulary-sized) and per_doc (document-sized) each
    # feed 2-3 downstream references; unpersisted, the chained references
    # re-ran the token explode FOURTEEN times (scan-duplication audit).
    # Persisting the three metadata relations leaves exactly the 3
    # fundamental corpus passes (raw counts, target counts, per-doc rollup).
    raw = persist_tracked(
        toks.groupBy("term").agg(
            F.count(F.lit(1)).cast("long").alias("cnt_r")
        )
    )
    tot = raw.agg(
        F.sum("cnt_r").cast("long").alias("total_r"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
    )
    tgt = persist_tracked(
        toks.filter(F.col("lang") == _DSIR_TARGET_LANG)
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt_t"))
    )
    ttot = tgt.agg(
        F.coalesce(F.sum("cnt_t"), F.lit(0)).cast("long").alias("total_t")
    )
    bits = (
        raw.join(tgt, "term", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ttot))
        .select(
            "term",
            (F.length(F.bin(F.expr("total_r div cnt_r"))) - 1)
            .cast("long")
            .alias("bits_r"),
            (
                F.length(
                    F.bin(
                        F.expr(
                            "(total_t + vocab) div (coalesce(cnt_t, 0) + 1)"
                        )
                    )
                )
                - 1
            )
            .cast("long")
            .alias("bits_t"),
        )
    )
    per_doc = persist_tracked(
        toks.join(bits, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.col("bits_r") - F.col("bits_t"))
            .cast("long")
            .alias("weight_bits"),
        )
    )
    n = per_doc.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    ranked = _rfm_rank_two_phase(
        per_doc, "weight_bits", True, [F.col("doc_id")], "dsir_rank"
    )
    return ranked.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "n_tokens",
        "weight_bits",
        F.col("dsir_rank").cast("long").alias("dsir_rank"),
        F.when(
            F.col("dsir_rank") <= F.expr(f"n_docs div {_DSIR_QUOTA_DEN}"), 1
        )
        .otherwise(0)
        .cast("long")
        .alias("selected"),
    )


# --------------------------------------------------------------------------
# Per-source token-budget sampling (budget-capped corpus assembly)
# --------------------------------------------------------------------------

_BUDGET_HASH_BUCKET = 1 << 44  # 16 contiguous ranges of the 48-bit keyspace


@register(
    "q_token_budget_sample",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, source,
               CAST(len({sql_tokens()}) AS BIGINT) AS n_tokens,
               {sql_hash48("CAST(doc_id AS VARCHAR)")} AS hkey
        FROM documents
        WHERE doc_id IS NOT NULL AND source IS NOT NULL
          AND text IS NOT NULL
    ),
    b AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        FROM d
    ),
    c AS (
        SELECT doc_id, source, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY hkey, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens
        FROM d
    )
    SELECT c.doc_id, c.source, c.n_tokens, c.cum_tokens,
           CAST(CASE WHEN c.cum_tokens
                          <= b.total_tokens // (b.n_sources * 2)
                     THEN 1 ELSE 0 END AS BIGINT) AS kept
    FROM c CROSS JOIN b
    """,
)
def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget-capped per-source sampling — the corpus-assembly step
    that takes each source's documents in a deterministic hash order and
    keeps them until the source's TOKEN budget (here half the mean source
    mass, computed from the corpus itself) is exhausted: the op behind
    "cap every domain at N billion tokens" dataset recipes, where capping
    by token mass (not doc count) is what actually equalizes influence.

    Determinism: the within-source order is (hash48(doc_id), doc_id) —
    content-stable and reshard-safe per the module's sampling doctrine;
    cumulative mass, the budget, and the keep flag are exact BIGINT
    arithmetic end-to-end (FLOAT_QUALS.md Class A).

    Scale shape: the oracle's per-source running SUM is computed with the
    two-phase distributed prefix-sum pattern (q_concat_chunk_packing's
    contract, partitioned per source): per-(source, hash-range-bucket)
    token totals -> running sum over the tiny bucket table broadcast back
    as offsets -> within-bucket cumulative window.  Buckets are contiguous
    ranges of the 48-bit hash keyspace, so within-bucket order + bucket
    offsets reproduce the exact per-source global order; every
    rank-carrying shuffle is keyed by (source, bucket) and parallelism
    equals sources x buckets at any corpus size."""
    from pyspark.sql import Window

    from ..functions.text import tokens

    docs = (
        t(spark, sf_dir, "documents")
        # NULL contract, mirrored in the oracle's WHERE and the streaming
        # twin: a NULL source would silently vanish from the equi-joins
        # below while the oracle's window kept it as a group (code-review
        # finding, r8); NULL text would poison the cumulative sums.
        .filter(
            F.col("doc_id").isNotNull()
            & F.col("source").isNotNull()
            & F.col("text").isNotNull()
        )
        .select(
            "doc_id",
            "source",
            F.size(tokens()).cast("long").alias("n_tokens"),
            hash48(F.col("doc_id").cast("string")).alias("hkey"),
        )
        .withColumn("bucket", F.expr(f"hkey div {_BUDGET_HASH_BUCKET}"))
    )
    b = docs.agg(
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )
    bucket_sums = docs.groupBy("source", "bucket").agg(
        F.sum("n_tokens").alias("bucket_tokens")
    )
    w_off = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bucket_sums.select(
        "source",
        "bucket",
        F.coalesce(F.sum("bucket_tokens").over(w_off), F.lit(0)).alias(
            "bucket_offset"
        ),
    )
    w_in = (
        Window.partitionBy("source", "bucket")
        .orderBy("hkey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        docs.join(F.broadcast(offsets), ["source", "bucket"])
        .withColumn(
            "cum_tokens",
            (F.col("bucket_offset") + F.sum("n_tokens").over(w_in)).cast(
                "long"
            ),
        )
        .crossJoin(F.broadcast(b))
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "cum_tokens",
            F.when(
                F.col("cum_tokens")
                <= F.expr("total_tokens div (n_sources * 2)"),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("kept"),
        )
    )


# --------------------------------------------------------------------------
# Data-constrained epoch allocation (repeat-data budget planner)
# --------------------------------------------------------------------------

_EPOCH_BUDGET_MULT = 2  # token budget = 2x the unique corpus mass
_EPOCH_MAX_MILLI = 4000  # repeat any source at most 4 epochs (milli-units)


@register(
    "q_epoch_allocation",
    oracle=f"""
    WITH d AS (
        SELECT source, CAST(len({sql_tokens()}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    m AS (
        SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS mass_tokens
        FROM d GROUP BY source
    ),
    b AS (
        SELECT CAST({_EPOCH_BUDGET_MULT} * SUM(mass_tokens) AS BIGINT)
                 AS budget,
               CAST(COUNT(*) AS BIGINT) AS n_sources
        FROM m
    ),
    a AS (
        SELECT m.source, m.mass_tokens,
               LEAST(({_EPOCH_MAX_MILLI} * m.mass_tokens) // 1000,
                     b.budget // b.n_sources) AS tokens_served
        FROM m CROSS JOIN b
    )
    SELECT a.source, a.mass_tokens,
           CAST(a.tokens_served AS BIGINT) AS tokens_served,
           CAST((a.tokens_served * 1000) // a.mass_tokens AS BIGINT)
             AS epochs_milli,
           CAST(CASE WHEN a.tokens_served > a.mass_tokens THEN 1 ELSE 0 END
                AS BIGINT) AS flag_repeated,
           CAST(b.budget - (SELECT SUM(tokens_served) FROM a) AS BIGINT)
             AS budget_leftover
    FROM a CROSS JOIN b
    """,
)
def q_epoch_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained epoch allocation — the repeat-data budget planner
    from the data-constrained scaling literature (Muennighoff et al.
    2023: repeating a source up to ~4 epochs retains most of its value;
    beyond that, excess budget should move elsewhere): each source gets
    an equal share of a {_EPOCH_BUDGET_MULT}x-the-corpus token budget,
    capped at 4 epochs of its own unique mass, with the per-source
    milli-epoch count, a repetition flag, and the corpus-level leftover
    the planner would redistribute in its next pass.  All arithmetic is
    exact BIGINT (integer floor division on positive operands, where both
    engines agree — FLOAT_QUALS.md Class A); the 4-epoch cap is the
    LEAST of two integers.

    Scale shape: one map-side-combinable per-source token-mass groupBy
    (the |sources|-row catalog relation), a 1-row budget broadcast, and
    catalog-sized arithmetic — nothing after the first aggregate touches
    corpus volume."""
    from ..functions.text import tokens

    m = (
        t(spark, sf_dir, "documents")
        .select("source", F.size(tokens()).cast("long").alias("n_tokens"))
        .groupBy("source")
        .agg(F.sum("n_tokens").cast("long").alias("mass_tokens"))
    )
    b = m.agg(
        (_EPOCH_BUDGET_MULT * F.sum("mass_tokens"))
        .cast("long")
        .alias("budget"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
    )
    a = m.crossJoin(F.broadcast(b)).select(
        "source",
        "mass_tokens",
        F.least(
            F.expr(f"({_EPOCH_MAX_MILLI} * mass_tokens) div 1000"),
            F.expr("budget div n_sources"),
        )
        .cast("long")
        .alias("tokens_served"),
        "budget",
    )
    tot = a.agg(F.sum("tokens_served").cast("long").alias("served_total"))
    return a.crossJoin(F.broadcast(tot)).select(
        "source",
        "mass_tokens",
        "tokens_served",
        F.expr("(tokens_served * 1000) div mass_tokens")
        .cast("long")
        .alias("epochs_milli"),
        F.when(F.col("tokens_served") > F.col("mass_tokens"), 1)
        .otherwise(0)
        .cast("long")
        .alias("flag_repeated"),
        (F.col("budget") - F.col("served_total"))
        .cast("long")
        .alias("budget_leftover"),
    )


# --------------------------------------------------------------------------
# Incremental aggregate maintenance (materialized-view delta identity)
# --------------------------------------------------------------------------

_MV_CUT = "1997-01-01"


@register(
    "q_incremental_agg_maintenance",
    oracle=f"""
    WITH old AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_old,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE)
                 AS total_old
        FROM orders WHERE o_orderdate < DATE '{_MV_CUT}'
        GROUP BY o_orderpriority
    ),
    delta AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_delta,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE)
                 AS total_delta
        FROM orders WHERE o_orderdate >= DATE '{_MV_CUT}'
        GROUP BY o_orderpriority
    ),
    fresh AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_new,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE)
                 AS total_new
        FROM orders GROUP BY o_orderpriority
    )
    SELECT f.o_orderpriority,
           COALESCE(o.n_old, 0) AS n_old,
           COALESCE(d.n_delta, 0) AS n_delta,
           f.n_new,
           COALESCE(o.total_old, 0.0) AS total_old,
           COALESCE(d.total_delta, 0.0) AS total_delta,
           f.total_new
    FROM fresh f
    LEFT JOIN old o ON o.o_orderpriority = f.o_orderpriority
    LEFT JOIN delta d ON d.o_orderpriority = f.o_orderpriority
    """,
)
def q_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view delta maintenance as a verifiable identity: the
    per-priority order-count/revenue rollup is maintained INCREMENTALLY —
    the pre-{_MV_CUT} base aggregate plus the delta batch's partial
    aggregate, merged by key — and emitted alongside both inputs; the
    ORACLE computes the fresh full recompute independently, so the
    driver's hash equality IS the proof that merge(old, delta) ==
    recompute(all), the contract every incremental pipeline (and every
    streaming sink in update mode) rests on.  Aggregates must be
    decomposable for this to hold: count merges by +, and the revenue
    sums are exact DECIMAL(12,4) (associative — the one property raw
    double sums lack, which is exactly why the engine's doctrine
    quantizes before summing).

    Scale shape: at 100 TB the base aggregate is the stored MV (catalog-
    keyed, metadata-sized) and only the DELTA scan touches new data —
    this query's old/delta branches read disjoint partitions of one scan
    (Catalyst splits the filters), then two broadcast-sized key merges."""
    o = t(spark, sf_dir, "orders")
    cut = F.lit(_MV_CUT).cast("date")
    old = (
        o.filter(F.col("o_orderdate") < cut)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_old"),
            F.sum(F.col("o_totalprice").cast("decimal(12,4)")).alias("t_old"),
        )
    )
    delta = (
        o.filter(F.col("o_orderdate") >= cut)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_delta"),
            F.sum(F.col("o_totalprice").cast("decimal(12,4)")).alias("t_delta"),
        )
    )
    merged = (
        old.join(delta, "o_orderpriority", "full_outer")
        .select(
            "o_orderpriority",
            F.coalesce(F.col("n_old"), F.lit(0)).cast("long").alias("n_old"),
            F.coalesce(F.col("n_delta"), F.lit(0)).cast("long").alias("n_delta"),
            F.coalesce(F.col("t_old"), F.lit(0).cast("decimal(12,4)")).alias(
                "t_old"
            ),
            F.coalesce(F.col("t_delta"), F.lit(0).cast("decimal(12,4)")).alias(
                "t_delta"
            ),
        )
    )
    return merged.select(
        "o_orderpriority",
        "n_old",
        "n_delta",
        (F.col("n_old") + F.col("n_delta")).cast("long").alias("n_new"),
        F.col("t_old").cast("double").alias("total_old"),
        F.col("t_delta").cast("double").alias("total_delta"),
        (F.col("t_old") + F.col("t_delta")).cast("double").alias("total_new"),
    )


# --------------------------------------------------------------------------
# CDC MERGE (upsert) semantics with per-action accounting
# --------------------------------------------------------------------------

_MERGE_CUT = "2024-01-30"


@register(
    "q_cdc_merge_apply",
    oracle=f"""
    WITH target AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_us
        FROM events
        WHERE ts < TIMESTAMP '{_MERGE_CUT}' AND user_id IS NOT NULL
          AND user_id % 10 != 0
        GROUP BY user_id
    ),
    source AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_us
        FROM events
        WHERE ts >= TIMESTAMP '{_MERGE_CUT}' AND user_id IS NOT NULL
        GROUP BY user_id
    ),
    merged AS (
        SELECT COALESCE(t.user_id, s.user_id) AS user_id,
               CASE WHEN t.user_id IS NULL THEN 'insert'
                    WHEN s.user_id IS NULL THEN 'unchanged'
                    ELSE 'update' END AS action,
               COALESCE(t.n_events, 0) + COALESCE(s.n_events, 0) AS n_events,
               GREATEST(COALESCE(t.last_us, -1), COALESCE(s.last_us, -1))
                 AS last_us
        FROM target t FULL OUTER JOIN source s ON s.user_id = t.user_id
    )
    SELECT action,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(SUM(CAST('0x' || substr(md5(
                    CAST(user_id AS VARCHAR) || ':' ||
                    CAST(n_events AS VARCHAR) || ':' ||
                    CAST(last_us AS VARCHAR)), 1, 12) AS BIGINT))
                AS BIGINT) AS state_checksum
    FROM merged GROUP BY action
    """,
)
def q_cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (upsert) semantics on plain tables, with per-action
    accounting AND a content checksum of the post-merge state: the
    pre-{_MERGE_CUT} per-user profile is the target (minus the 10% of
    users with user_id % 10 == 0, the not-yet-onboarded cohort that makes
    the INSERT branch non-empty at every scale factor), the post-cut
    activity the CDC source; matched keys take the merge update
    (counts add, last-seen takes the max), source-only keys insert,
    target-only rows carry over unchanged — exactly the three branches
    of the SQL MERGE statement, expressed as the full-outer-join +
    branch-classification plan Spark executes for MERGE under Delta/
    Iceberg.  The emitted rows are the action-level audit (row counts
    per branch) plus an order-insensitive BIGINT checksum (sum of
    48-bit md5 prefixes of the canonical row rendering), so the oracle
    equality certifies the entire merged STATE, not just its
    cardinality — the audit a CDC pipeline publishes per applied batch.

    Scale shape: both sides reduce to per-key partial aggregates before
    the single full-outer shuffle on the join key (AQE handles skew);
    the checksum is an associative integer sum — no ordering, no
    collect.  At 100 TB the target side is the stored table's
    (metadata-backed) profile relation and only the CDC batch is
    scanned fresh."""
    ev = t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    cut = F.lit(_MERGE_CUT).cast("timestamp")

    def _profile(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max(F.unix_micros(F.col("ts"))).cast("long").alias("last_us"),
        )

    target = _profile(
        ev.filter((F.col("ts") < cut) & (F.col("user_id") % 10 != 0))
    )
    source = _profile(ev.filter(F.col("ts") >= cut))
    tcol = target.select(
        F.col("user_id").alias("t_uid"),
        F.col("n_events").alias("t_n"),
        F.col("last_us").alias("t_last"),
    )
    scol = source.select(
        F.col("user_id").alias("s_uid"),
        F.col("n_events").alias("s_n"),
        F.col("last_us").alias("s_last"),
    )
    merged = tcol.join(
        scol, tcol.t_uid == scol.s_uid, "full_outer"
    ).select(
        F.coalesce(F.col("t_uid"), F.col("s_uid")).alias("user_id"),
        F.when(F.col("t_uid").isNull(), "insert")
        .when(F.col("s_uid").isNull(), "unchanged")
        .otherwise("update")
        .alias("action"),
        (
            F.coalesce(F.col("t_n"), F.lit(0))
            + F.coalesce(F.col("s_n"), F.lit(0))
        )
        .cast("long")
        .alias("n_events"),
        F.greatest(
            F.coalesce(F.col("t_last"), F.lit(-1)),
            F.coalesce(F.col("s_last"), F.lit(-1)),
        )
        .cast("long")
        .alias("last_us"),
    )
    row_hash = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("user_id").cast("string"),
                    F.col("n_events").cast("string"),
                    F.col("last_us").cast("string"),
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    return merged.groupBy("action").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum(row_hash).cast("long").alias("state_checksum"),
    )


# --------------------------------------------------------------------------
# Stratified deterministic sampling (per-stratum rate allocation)
# --------------------------------------------------------------------------
#
# The training-data sampler between uniform hash-sampling and the
# optimization-driven mixtures (q_temperature_mixture / q_epoch_allocation):
# hold the corpus's (source, lang) composition while cutting volume to a
# target budget.  Allocation is proportional with a floor of one —
# minority strata survive — and the keep rule inside each stratum is a
# hash-modulus on doc identity: deterministic, reproducible across
# engines and across DAILY RUNS (yesterday's kept doc stays kept —
# incremental-crawl-stable, unlike any RNG sampler), and executable as a
# scan-stage filter with no per-stratum sort or rank anywhere.

_STRAT_TARGET = 200  # total sampled docs the allocation aims at


def _strat_oracle() -> str:
    h = sql_hash48("('ss:' || CAST(doc_id AS VARCHAR))")
    ck = sql_hash48("('ck:' || CAST(doc_id AS VARCHAR))")
    return f"""
    WITH s AS (
        SELECT source, lang, COUNT(*) AS n_docs
        FROM documents GROUP BY 1, 2
    ),
    n AS (SELECT SUM(n_docs) AS n_total FROM s),
    alloc AS (
        SELECT source, lang, n_docs,
               GREATEST(1, (n_docs * {_STRAT_TARGET}) // n_total) AS quota,
               GREATEST(1, n_docs //
                 GREATEST(1, (n_docs * {_STRAT_TARGET}) // n_total)) AS mod
        FROM s CROSS JOIN n
    ),
    kept AS (
        SELECT d.source, d.lang,
               COUNT(*) AS n_sampled,
               SUM({ck}) AS checksum
        FROM documents d JOIN alloc a
          ON d.source = a.source AND d.lang = a.lang
        WHERE ({h} % a.mod) = 0
        GROUP BY 1, 2
    )
    SELECT a.source, a.lang,
           CAST(a.n_docs AS BIGINT) AS n_docs,
           CAST(a.quota AS BIGINT) AS quota,
           CAST(a.mod AS BIGINT) AS mod,
           CAST(COALESCE(k.n_sampled, 0) AS BIGINT) AS n_sampled,
           CAST(COALESCE(k.checksum, 0) AS BIGINT) AS sample_checksum
    FROM alloc a LEFT JOIN kept k
      ON a.source = k.source AND a.lang = k.lang
    """


@register(
    "q_stratified_sample",
    oracle=_strat_oracle(),
    bench=True,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic downsample to ~{200} docs (see block
    comment): per (source, lang) stratum, the proportional-with-floor
    quota, the hash modulus implementing it, how many docs the modulus
    actually kept, and an order-insensitive checksum of the kept doc ids
    (sum of a second independent 48-bit hash) that PINS the exact sample
    membership in the driver hash — the census proves not just how many
    but WHICH documents ship.

    Shape: one map-side-combinable census groupBy; the allocation table
    is catalog-bounded (|sources| x |langs| rows) and broadcasts back
    onto the scan as a filter — no rank, no sort, no per-stratum window
    at any corpus size.  The rate-based modulus keeps ~quota docs (exact
    quota would need a per-stratum top-k by hash; the repo's
    token-budget sampler covers that shape) — the report shows both so
    the allocation error is measured, not hidden.  All counts BIGINT;
    the checksum is a sum of 48-bit values (no overflow before ~2^15
    docs per stratum x 2^48 — and the driver compares exact integers)."""
    # r11-opt note: the scan-duplication audit counts 5 static references
    # to the documents scan here, but persisting the census/allocation
    # relations measured SLOWER locally (the q_pareto_frontier finding:
    # AQE reuses the census exchange at runtime and the cache write is
    # pure overhead) — deliberately left unpersisted.
    docs = t(spark, sf_dir, "documents")
    s = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    n = s.agg(F.sum("n_docs").alias("n_total"))
    alloc = (
        s.crossJoin(F.broadcast(n))
        .withColumn(
            "quota",
            F.greatest(
                F.lit(1),
                F.expr(f"(n_docs * {_STRAT_TARGET}) div n_total"),
            ),
        )
        .withColumn(
            "mod", F.greatest(F.lit(1), F.expr("n_docs div quota"))
        )
        .select("source", "lang", "n_docs", "quota", "mod")
    )
    kept = (
        docs.join(F.broadcast(alloc), ["source", "lang"])
        .filter(
            hash48(F.concat(F.lit("ss:"), F.col("doc_id").cast("string")))
            % F.col("mod")
            == 0
        )
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum(
                hash48(
                    F.concat(F.lit("ck:"), F.col("doc_id").cast("string"))
                )
            ).alias("checksum"),
        )
    )
    return (
        # Both sides of the census join are catalog-bounded (|sources| x
        # |langs| rows); the kept side is a derived aggregate static stats
        # cannot size, so broadcast it explicitly or it sort-merges.
        alloc.join(F.broadcast(kept), ["source", "lang"], "left")
        .select(
            "source",
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("quota").cast("long").alias("quota"),
            F.col("mod").cast("long").alias("mod"),
            F.coalesce(F.col("n_sampled"), F.lit(0))
            .cast("long")
            .alias("n_sampled"),
            F.coalesce(F.col("checksum"), F.lit(0))
            .cast("long")
            .alias("sample_checksum"),
        )
    )


# --------------------------------------------------------------------------
# Reproducibility: order-invariant per-shard content checksums
# --------------------------------------------------------------------------
#
# The publish-side integrity audit: after a curated corpus is sharded for
# training, emit one row per shard with its cardinality, byte volume, and
# an ORDER-INVARIANT content checksum (sum of a per-row hash).  Re-running
# the pipeline — on a different executor count, partitioning, or engine —
# must reproduce these 16 rows bit-for-bit, which is exactly what the
# DuckDB oracle certifies.  This closes the loop the deterministic
# samplers opened: their membership is checksummed per stratum; this
# checksums the SHIPPED ARTIFACT per shard.
#
# The per-row hash is a 40-bit md5 prefix (not the usual 48) so the
# per-shard BIGINT sum keeps ~2^23 rows of headroom below 2^63 even on
# the 30x/100x scale replicas; the production form at 100 TB would sum
# modulo a Mersenne prime per shard — same associativity, same plan.

_SHARD_N = 16


def _shard_oracle() -> str:
    shard = sql_hash48("('sh:' || CAST(doc_id AS VARCHAR))")
    return f"""
    WITH d AS (
        SELECT {shard} % {_SHARD_N} AS shard,
               n_chars,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                    || md5(text)), 1, 10) AS BIGINT) AS row_h
        FROM documents
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(row_h) AS BIGINT) AS content_checksum
    FROM d GROUP BY 1
    """


@register(
    "q_shard_checksum",
    oracle=_shard_oracle(),
)
def q_shard_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard reproducibility manifest for the shipped corpus: shard
    id (48-bit content hash of doc identity mod {16}), document count,
    character volume, and an order-invariant content checksum — the sum
    of a 40-bit hash of (doc_id, md5(text)) per row, so the checksum
    covers both membership AND text content.  Two pipeline runs that
    disagree anywhere disagree here; the oracle equality certifies the
    artifact is engine- and partitioning-independent (see block comment
    for the 40-bit overflow-headroom rationale).

    Shape: pure scan -> map -> one groupBy on {16} uniform hash-derived
    keys with fully combinable BIGINT sums — map-side partial
    aggregation does almost all the work and the shuffle carries one
    row per (partition, shard).  At 100 TB the shard count rises
    (e.g. 64k) but the output relation stays metadata-sized; no ordering
    anywhere, by construction."""
    doc_id_s = F.col("doc_id").cast("string")
    shard = (
        hash48(F.concat(F.lit("sh:"), doc_id_s)) % _SHARD_N
    ).alias("shard")
    row_h = (
        F.conv(
            F.substring(
                F.md5(F.concat(doc_id_s, F.lit(":"), F.md5("text"))), 1, 10
            ),
            16,
            10,
        )
        .cast("long")
        .alias("row_h")
    )
    return (
        t(spark, sf_dir, "documents")
        .select(shard, F.col("n_chars"), row_h)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.sum("row_h").cast("long").alias("content_checksum"),
        )
        .select(
            F.col("shard").cast("long").alias("shard"),
            "n_docs",
            "n_chars",
            "content_checksum",
        )
    )
