"""Text-analysis operators over ``documents``: token statistics, quality
scoring (incl. Gopher-style repetition signals), heuristic language ID,
document fingerprinting, and fixed-size token chunking.

All data-path computation is built-in Catalyst expressions (split/filter/
aggregate over arrays) — no Python UDFs: the hot path stays inside
whole-stage codegen, and each operator has an exact DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import hash48, sql_hash48, sql_shingle_list, sql_tokens, tokens
from ..plans.registry import register
from ._util import persist_tracked, spread, t

# --------------------------------------------------------------------------
# Token statistics
# --------------------------------------------------------------------------


@register(
    "text_token_stats",
    oracle=f"""
    WITH toks AS (SELECT doc_id, length(text) AS n_chars_actual,
                         {sql_tokens()} AS ts
                  FROM documents)
    SELECT doc_id,
           CAST(len(ts) AS BIGINT) AS n_tokens,
           n_chars_actual AS n_chars,
           CAST(list_sum(list_transform(ts, x -> length(x))) AS BIGINT) AS n_token_chars,
           CAST(list_sum(list_transform(ts, x -> length(x))) AS DOUBLE) / len(ts)
             AS avg_token_len,
           CAST(len(list_distinct(ts)) AS BIGINT) AS n_unique_tokens,
           CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS type_token_ratio
    FROM toks
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts: whitespace tokens, char totals, average
    token length, unique-token (type/token) ratio — the basic quality /
    length-filter signals of a training-data pipeline."""
    ts = tokens()
    token_chars = F.aggregate(
        F.transform(ts, lambda x: F.length(x)), F.lit(0), lambda acc, x: acc + x
    )
    n_tokens = F.size(ts)
    n_unique = F.size(F.array_distinct(ts))
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.length("text").alias("n_chars"),
        token_chars.cast("long").alias("n_token_chars"),
        (token_chars.cast("double") / n_tokens).alias("avg_token_len"),
        n_unique.cast("long").alias("n_unique_tokens"),
        (n_unique.cast("double") / n_tokens).alias("type_token_ratio"),
    )


# --------------------------------------------------------------------------
# Quality scoring
# --------------------------------------------------------------------------

_STOPWORDS = (
    "the", "a", "an", "of", "and", "or", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "from", "that", "this", "be",
)


@register(
    "text_quality_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, text, {sql_tokens()} AS ts FROM documents
    ),
    feat AS (
        SELECT doc_id,
               CAST(len(list_filter(ts, x -> list_contains({list(_STOPWORDS)}, x))) AS DOUBLE)
                 / len(ts) AS stopword_ratio,
               CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                 / length(text) AS punct_ratio,
               CAST(len(ts) AS BIGINT) AS n_tokens
        FROM toks
    )
    SELECT doc_id, stopword_ratio, punct_ratio, n_tokens,
           CASE WHEN n_tokens >= 20 THEN 1.0 ELSE 0.0 END * 0.4
             + least(stopword_ratio * 4, 1.0) * 0.4
             + (1.0 - least(punct_ratio * 10, 1.0)) * 0.2 AS quality_score
    FROM feat
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document-quality score from length, stopword density and
    punctuation density (the C4/Gopher-style cheap filters, reduced to
    deterministic arithmetic).  Score = 0.4*length_ok + 0.4*min(4*stopword
    ratio,1) + 0.2*(1 - min(10*punct_ratio,1))."""
    ts = tokens()
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_tokens = F.size(ts)
    stop_ratio = (
        F.size(F.filter(ts, lambda x: F.array_contains(stop_arr, x))).cast("double")
        / n_tokens
    )
    text_len = F.length("text")
    punct_ratio = (
        (text_len - F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", ""))).cast("double")
        / text_len
    )
    quality = (
        F.when(n_tokens >= 20, 1.0).otherwise(0.0) * 0.4
        + F.least(stop_ratio * 4, F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(punct_ratio * 10, F.lit(1.0))) * 0.2
    )
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        n_tokens.cast("long").alias("n_tokens"),
        quality.alias("quality_score"),
    )


# --------------------------------------------------------------------------
# Heuristic language ID
# --------------------------------------------------------------------------

_LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "a"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "del", "las", "un"),
    "de": ("der", "die", "und", "das", "von", "zu", "mit", "den", "ein", "ist"),
    "fr": ("le", "la", "les", "de", "et", "des", "un", "une", "du", "est"),
}


def _hit_count(ts: Column, words: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(ts, lambda x: F.array_contains(arr, x)))


def _predicted_lang_col() -> Column:
    """The stopword-profile predictor as ONE Catalyst expression over
    ``text`` — argmax of profile hits with a fixed tie-break order, 'und'
    when nothing matches.  A single definition shared by text_lang_id and
    q_lang_confusion so the classifier can never drift between the
    per-document report and its evaluation."""
    ts = tokens()
    hits = {lang: _hit_count(ts, words) for lang, words in _LANG_PROFILES.items()}
    total = sum(hits.values(), F.lit(0))
    return (
        F.when(total == 0, "und")
        .when(hits["en"] >= F.greatest(hits["es"], hits["de"], hits["fr"]), "en")
        .when(hits["es"] >= F.greatest(hits["de"], hits["fr"]), "es")
        .when(hits["de"] >= hits["fr"], "de")
        .otherwise("fr")
    )


# SQL twin of the predictor, shared by the text_lang_id and q_lang_confusion
# oracles so the classifier has exactly one SQL definition too.  The hit
# exprs assume a token-list column named ``ts`` in scope.
_LANG_HITS_SQL = ",\n               ".join(
    f"len(list_filter(ts, x -> list_contains({list(words)}, x))) AS hits_{lang}"
    for lang, words in _LANG_PROFILES.items()
)
_LANG_PRED_CASE_SQL = """CASE WHEN hits_en + hits_es + hits_de + hits_fr = 0 THEN 'und'
                WHEN hits_en >= greatest(hits_es, hits_de, hits_fr) THEN 'en'
                WHEN hits_es >= greatest(hits_de, hits_fr) THEN 'es'
                WHEN hits_de >= hits_fr THEN 'de'
                ELSE 'fr' END"""

_LANG_ID_SQL = f"""
    WITH toks AS (SELECT doc_id, {sql_tokens()} AS ts FROM documents),
    hits AS (
        SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
               {_LANG_HITS_SQL}
        FROM toks
    )
    SELECT doc_id, n_tokens,
           CAST(hits_en AS BIGINT) AS hits_en, CAST(hits_es AS BIGINT) AS hits_es,
           CAST(hits_de AS BIGINT) AS hits_de, CAST(hits_fr AS BIGINT) AS hits_fr,
           {_LANG_PRED_CASE_SQL} AS predicted_lang
    FROM hits
    """


@register(
    "text_lang_id",
    oracle=_LANG_ID_SQL,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (n-gram-free heuristic): count hits
    against tiny per-language function-word lists, argmax with a fixed
    tie-break order, 'und' when nothing matches.  A real pipeline swaps the
    profiles for char-n-gram models; the Spark shape (pure array exprs,
    no shuffle) is identical."""
    ts = tokens()
    hits = {lang: _hit_count(ts, words) for lang, words in _LANG_PROFILES.items()}
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(ts).cast("long").alias("n_tokens"),
        hits["en"].cast("long").alias("hits_en"),
        hits["es"].cast("long").alias("hits_es"),
        hits["de"].cast("long").alias("hits_de"),
        hits["fr"].cast("long").alias("hits_fr"),
        _predicted_lang_col().alias("predicted_lang"),
    )


# --------------------------------------------------------------------------
# Document fingerprinting
# --------------------------------------------------------------------------


@register(
    "text_fingerprint",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, {sql_shingle_list(5)} AS shingle_list FROM documents
    )
    SELECT doc_id,
           CAST(len(shingle_list) AS BIGINT) AS n_shingles,
           CASE WHEN len(shingle_list) = 0 THEN NULL
                ELSE list_min(list_transform(shingle_list, s -> {sql_hash48('s')}))
           END AS fingerprint
    FROM sh
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprint: minimum 48-bit hash over word
    5-gram shingles (content-defined, robust to reordering of far-apart
    sections; NULL for documents shorter than 5 tokens)."""
    from ..functions.text import with_shingles

    docs = with_shingles(t(spark, sf_dir, "documents"), 5)
    hashes = F.transform(F.col("shingle_set"), lambda s: hash48(s))
    return docs.select(
        "doc_id",
        F.size("shingle_set").cast("long").alias("n_shingles"),
        F.when(F.size("shingle_set") == 0, F.lit(None).cast("long"))
        .otherwise(F.array_min(hashes))
        .alias("fingerprint"),
    )


# The GPT-2-style pre-tokenizer pattern (word runs, single digits,
# punctuation) — ONE definition interpolated into every builder and oracle
# that counts subword-ish tokens (text_bpeish_tokens, q_tokenizer_fertility),
# so the Spark and SQL sides cannot drift (code-review finding, r8).
# Restricted to the class syntax where Java regex and RE2/DuckDB agree.
_BPEISH_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


@register(
    "text_bpeish_tokens",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPEISH_RE}')) AS BIGINT)
             AS n_bpeish_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_word_tokens,
           CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_chars_div4
    FROM documents
    """,
)
def text_bpeish_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: a GPT-2-style pre-tokenizer regex (word runs,
    single digits, punctuation) counted per document, plus the chars/4
    rule-of-thumb — the cheap LLM-cost estimators, all via regexp_count
    (JVM regex, no Python).  Pattern restricted to the class syntax where
    Java regex and RE2 agree."""
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_count("text", F.lit(_BPEISH_RE)).cast("long").alias("n_bpeish_tokens"),
        F.regexp_count("text", F.lit(r"[A-Za-z]+")).cast("long").alias("n_word_tokens"),
        F.regexp_count("text", F.lit(r"[0-9]")).cast("long").alias("n_digit_tokens"),
        F.ceil(F.length("text") / 4.0).alias("n_chars_div4"),
    )


# --------------------------------------------------------------------------
# TF-IDF top terms
# --------------------------------------------------------------------------


@register(
    "text_tfidf",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({sql_tokens()}) AS token FROM documents),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id, token, tf, df,
               CAST(tf AS DOUBLE) * n_docs / df AS tfidf,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_id
                   ORDER BY CAST(tf AS DOUBLE) * n_docs / df DESC, token
               ) AS rn
        FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tf, df, tfidf FROM scored WHERE rn <= 3
    """,
    bench=True,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF.

    tf = in-doc term count; df = number of documents containing the term;
    score = tf * N / df — the raw inverse-document-frequency ratio, which is
    order-equivalent to tf*log(N/df) per fixed tf but transcendental-free:
    all inputs are exact integers so the single double division is
    bit-identical across engines (ln() is only ~1-ulp-accurate and could
    flip ranking ties in a cross-engine compare).  Ranking ties are broken
    by token text.

    Scale shape: explode -> two counting aggregations sharing the
    (doc_id, token) shuffle -> broadcast-joined doc count -> per-doc top-k
    window.  The df table is vocabulary-sized; at 100 TB it is still the
    small side and the tf-df join shuffles on token with AQE skew handling
    (stopword tokens are the classic skew keys).
    """
    docs = t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens()).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf", F.col("tf").cast("double") * F.col("n_docs") / F.col("df"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tf", "df", "tfidf")
    )


_WINNOW_K = 20  # character k-gram width
_WINNOW_W = 16  # winnowing window (hashes per window)


@register(
    "text_winnow_fingerprint",
    oracle=f"""
    WITH pos AS (
        SELECT doc_id, text, unnest(range(1, length(text) - {_WINNOW_K - 2})) AS p
        FROM documents WHERE length(text) >= {_WINNOW_K}
    ),
    h AS (
        SELECT doc_id, p,
               {sql_hash48(f"substr(text, CAST(p AS INTEGER), {_WINNOW_K})")} AS hv
        FROM pos
    ),
    win AS (
        SELECT doc_id, p,
               MIN(hv) OVER (PARTITION BY doc_id ORDER BY p
                             ROWS BETWEEN {_WINNOW_W - 1} PRECEDING AND CURRENT ROW)
                   AS fp
        FROM h
    )
    SELECT DISTINCT doc_id, fp
    FROM win WHERE p >= {_WINNOW_W}
    """,
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (the MOSS algorithm): hash every 20-char
    sliding window of the document ("rolling hash"), then keep the minimum
    hash of each run of 16 consecutive window hashes — the guarantee is
    that any match of length >= w+k-1 = 35 chars between two documents
    shares at least one selected fingerprint, at ~2/(w+1) selection
    density.

    Spark plan: positions explode JVM-side (sequence), the per-position
    hash and the ROWS-frame running min are all codegen; DISTINCT collapses
    each plateau of the sliding min.  At 100 TB the position explosion is
    the dominant cost — it pipelines inside one stage (no shuffle until the
    per-doc distinct), and the fingerprint table it produces is the
    content-addressed index plagiarism/overlap detection joins on."""
    docs = t(spark, sf_dir, "documents").filter(F.length("text") >= _WINNOW_K)
    positions = docs.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(1), F.length("text") - F.lit(_WINNOW_K - 1))
        ).alias("p"),
    )
    hashed = positions.select(
        "doc_id", "p", hash48(F.substring(F.col("text"), F.col("p"), _WINNOW_K)).alias("hv")
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(-(_WINNOW_W - 1), Window.currentRow)
    )
    return (
        hashed.select("doc_id", "p", F.min("hv").over(w).alias("fp"))
        .filter(F.col("p") >= _WINNOW_W)
        .select("doc_id", "fp")
        .distinct()
    )


# --------------------------------------------------------------------------
# Token chunking (training-window preparation)
# --------------------------------------------------------------------------

_CHUNK_SIZE = 32
_CHUNK_STRIDE = 24  # overlap = size - stride = 8 tokens


@register(
    "text_chunk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {sql_tokens()} AS ts FROM documents
    ),
    idx AS (
        SELECT doc_id, ts,
               unnest(range(0, CAST(ceil(len(ts) / {_CHUNK_STRIDE}.0) AS BIGINT)))
                 AS cid
        FROM toks
    )
    SELECT doc_id,
           CAST(cid AS INT) AS chunk_id,
           array_to_string(
               list_slice(ts, cid*{_CHUNK_STRIDE}+1, cid*{_CHUNK_STRIDE}+{_CHUNK_SIZE}),
               ' ') AS chunk_text,
           CAST(len(list_slice(ts, cid*{_CHUNK_STRIDE}+1, cid*{_CHUNK_STRIDE}+{_CHUNK_SIZE}))
                AS BIGINT) AS n_chunk_tokens
    FROM idx
    """,
)
def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking with overlap: every document becomes
    ceil(n_tokens/stride) windows of up to 32 tokens, stride 24 (8-token
    overlap) — the standard context-window preparation step of an LLM
    training pipeline.

    The chunk windows are built per row with sequence/transform/slice and
    posexplode — a narrow map with NO shuffle: at 100 TB chunking pipelines
    inside the scan stage, and output partitioning follows the input (so a
    downstream per-chunk dedup or tokenize stage starts co-located).  The
    final (short) tail window is kept, matching the oracle's ceil()."""
    ts = tokens()
    docs = t(spark, sf_dir, "documents").select("doc_id", ts.alias("ts"))
    n_chunks = F.ceil(F.size("ts") / F.lit(_CHUNK_STRIDE)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda cid: F.slice(F.col("ts"), cid * _CHUNK_STRIDE + 1, _CHUNK_SIZE),
    )
    return docs.select(
        "doc_id", F.posexplode(chunks).alias("chunk_id", "chunk")
    ).select(
        "doc_id",
        "chunk_id",
        F.array_join("chunk", " ").alias("chunk_text"),
        F.size("chunk").cast("long").alias("n_chunk_tokens"),
    )


# --------------------------------------------------------------------------
# Repetition signals (Gopher-style quality filters)
# --------------------------------------------------------------------------


@register(
    "text_repetition",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {sql_tokens()} AS ts FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ts)),
                                     i -> ts[i] || ' ' || ts[i+1])) AS bigram
        FROM toks
    ),
    counts AS (
        SELECT doc_id, bigram, count(*) AS c
        FROM bg GROUP BY doc_id, bigram
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_bigrams,
           CAST(max(c) AS DOUBLE) / sum(c) AS top_bigram_frac,
           CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / sum(c)
             AS dup_bigram_frac
    FROM counts
    GROUP BY doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher/MassiveText filters):
    per document, the fraction of bigram occurrences taken by the single
    most frequent bigram, and the fraction covered by any repeated bigram.
    High values flag boilerplate / keyword-stuffing documents that survive
    naive length filters.

    Plan shape: bigrams are built row-side (sequence over token positions —
    no self-join), then ONE shuffle on (doc_id, bigram) for the count and a
    map-side-combinable rollup to doc level.  Keys are (doc, bigram) so
    cardinality grows with corpus size, not corpus size squared; no key is
    hotter than the longest single document — safe at 100 TB."""
    ts = tokens()
    docs = t(spark, sf_dir, "documents").select("doc_id", ts.alias("ts"))
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("ts") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("ts"), i), F.element_at(F.col("ts"), i + 1)
        ),
    )
    counts = (
        docs.filter(F.size("ts") >= 2)
        .select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .count()
    )
    return counts.groupBy("doc_id").agg(
        F.sum("count").cast("long").alias("n_bigrams"),
        (F.max("count").cast("double") / F.sum("count")).alias("top_bigram_frac"),
        (
            F.sum(F.when(F.col("count") > 1, F.col("count")).otherwise(0)).cast("double")
            / F.sum("count")
        ).alias("dup_bigram_frac"),
    )


# --------------------------------------------------------------------------
# Corpus-level n-gram vocabulary stats
# --------------------------------------------------------------------------


@register(
    "q_ngram_topk",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, unnest({sql_shingle_list(2)}) AS bigram FROM documents
    ),
    df AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS doc_freq
           FROM sh GROUP BY bigram)
    SELECT bigram, doc_freq
    FROM df ORDER BY doc_freq DESC, bigram LIMIT 25
    """,
)
def q_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-25 word bigrams by DOCUMENT frequency (distinct
    per doc, so a bigram repeated inside one document counts once) — the
    vocabulary/boilerplate profile a curation pipeline inspects before
    writing filter rules.

    Scale shape: per-doc distinct bigrams are a narrow map; the global count
    is one map-side-combinable groupBy on the bigram (key cardinality =
    vocabulary size, not corpus size); the top-25 compiles to
    TakeOrderedAndProject (per-partition heap + 25-row driver merge), never
    a full sort.  Deterministic tie-break on the bigram string keeps the
    cut exact on both engines."""
    from ..functions.text import with_shingles

    sh = with_shingles(
        t(spark, sf_dir, "documents").select("doc_id", "text"), 2
    ).select("doc_id", F.explode("shingle_set").alias("bigram"))
    return (
        sh.groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), "bigram")
        .limit(25)
    )


# --------------------------------------------------------------------------
# Benchmark-contamination check
# --------------------------------------------------------------------------

_CONTAM_K = 5  # shared word 5-grams between a training doc and the eval set
_EVAL_MOD = 11  # doc_id % 11 == 0 -> held-out "benchmark" partition


@register(
    "q_contamination_check",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, unnest({sql_shingle_list(_CONTAM_K)}) AS sh FROM documents
    ),
    ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % {_EVAL_MOD} = 0)
    SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_5grams
    FROM sh s JOIN ev USING (sh)
    WHERE s.doc_id % {_EVAL_MOD} <> 0
    GROUP BY s.doc_id
    """,
)
def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: flag every training document sharing at
    least one word 5-gram with the held-out benchmark partition (here the
    doc_id % 11 == 0 slice stands in for the eval set), with the shared
    n-gram count as the contamination severity.

    Scale shape: benchmark suites are FIXED-SIZE — they do not grow with the
    training corpus — so in production the distinct eval-shingle set
    broadcasts and the check is a broadcast semi-join-shaped hash join
    against the corpus shingle stream: no corpus-side shuffle until the
    tiny matched subset is grouped per doc.  CAVEAT: this demo's eval set
    is a doc_id % 11 slice of the SAME corpus (testdata has no separate
    benchmark table), so HERE the "eval" side is 1/11 of the corpus and the
    broadcast grows linearly with it — the broadcast-constant claim holds
    only for the real shape (a true fixed eval table swapped in for the
    modulo slice).  This is the decontamination pass every pretraining
    pipeline runs before a data release."""
    from ..functions.text import with_shingles

    sh = with_shingles(
        t(spark, sf_dir, "documents").select("doc_id", "text"), _CONTAM_K
    ).select("doc_id", F.explode("shingle_set").alias("sh"))
    ev = sh.filter((F.col("doc_id") % _EVAL_MOD) == 0).select("sh").distinct()
    return (
        sh.filter((F.col("doc_id") % _EVAL_MOD) != 0)
        .join(F.broadcast(ev), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_5grams"))
    )


# --------------------------------------------------------------------------
# Character-level quality stats
# --------------------------------------------------------------------------


@register(
    "text_char_stats",
    oracle="""
    WITH c AS (
        SELECT doc_id, text, length(text) AS n,
               list_sort(list_distinct(list_transform(
                   range(1, length(text) + 1), i -> substr(text, i, 1)))) AS cs
        FROM documents WHERE length(text) > 0
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_chars,
           CAST(len(cs) AS BIGINT) AS n_distinct_chars,
           CAST(n - length(replace(text, ' ', '')) AS DOUBLE) / n AS space_ratio,
           CAST(n - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / n
             AS digit_ratio,
           list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                   list_transform(cs, ch ->
                       (CAST(length(text) - length(replace(text, ch, ''))
                             AS DOUBLE) / n)
                       * (CAST(length(text) - length(replace(text, ch, ''))
                               AS DOUBLE) / n))),
               (a, b) -> a + b) AS simpson_index
    FROM c
    """,
)
def text_char_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level quality signals per document: distinct-char count,
    whitespace and digit ratios, and the Simpson (collision) index
    sum(p_c^2) — a log-free concentration measure that flags
    low-diversity/garbage text (high index = few characters dominate) the
    way Shannon entropy would, but with purely rational arithmetic so both
    engines agree bit-for-bit (the engine's determinism doctrine avoids
    transcendental functions in hashed outputs).

    Scale shape: narrow per-row map, no shuffle, no UDF — the per-char
    counting is length(text) - length(replace(text, ch, '')) over the
    row's sorted distinct alphabet (alphabet size is bounded by the
    character set, not the document), and the quadratic-looking fold is
    O(|alphabet| x |text|) per row with tiny constants, fully inside
    codegen."""
    txt = F.col("text")
    n = F.length(txt)
    cs = F.array_sort(F.array_distinct(F.split(txt, "")))
    p = lambda ch: (  # noqa: E731
        (n - F.length(F.replace(txt, ch, F.lit("")))).cast("double") / n
    )
    return (
        t(spark, sf_dir, "documents")
        .filter(n > 0)
        .select(
            "doc_id",
            n.cast("long").alias("n_chars"),
            F.size(cs).cast("long").alias("n_distinct_chars"),
            (
                (n - F.length(F.replace(txt, F.lit(" "), F.lit("")))).cast("double")
                / n
            ).alias("space_ratio"),
            (
                (n - F.length(F.regexp_replace(txt, "[0-9]", ""))).cast("double") / n
            ).alias("digit_ratio"),
            F.aggregate(
                cs, F.lit(0.0), lambda acc, ch: acc + p(ch) * p(ch)
            ).alias("simpson_index"),
        )
    )


# --------------------------------------------------------------------------
# Lang-ID evaluation (confusion matrix) + n-gram novelty
# --------------------------------------------------------------------------


@register(
    "q_lang_confusion",
    oracle=f"""
    WITH toks AS (SELECT lang, {sql_tokens()} AS ts FROM documents),
    hits AS (
        SELECT lang,
               {_LANG_HITS_SQL}
        FROM toks
    ),
    pred AS (SELECT lang, {_LANG_PRED_CASE_SQL} AS predicted_lang FROM hits)
    SELECT lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred
    GROUP BY lang, predicted_lang
    """,
)
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lang-ID evaluation: confusion matrix of the labeled language vs the
    stopword-profile prediction — the quality report that decides whether a
    heuristic classifier is good enough to drive the language filter of a
    curation pipeline.  Shares the `_predicted_lang_col` /
    `_LANG_PRED_CASE_SQL` predictor definition with text_lang_id on both
    engines.

    Scale shape: the truth label rides along the predictor's narrow map —
    NO join anywhere (r3 re-joined `documents` to itself on doc_id; that
    shuffle is gone).  One scan, then a map-side-combinable groupBy over at
    most |langs| x (|langs|+1) keys — metadata-sized shuffle at any corpus
    size."""
    return (
        t(spark, sf_dir, "documents")
        .select("lang", _predicted_lang_col().alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


_NOVELTY_K = 3


@register(
    "q_doc_ngram_novelty",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, unnest({sql_shingle_list(_NOVELTY_K)}) AS shingle
        FROM documents
    ),
    firsts AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle),
    novel AS (SELECT first_doc AS doc_id, COUNT(*) AS n_novel
              FROM firsts GROUP BY first_doc),
    tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(t.n_shingles AS BIGINT) AS n_shingles,
           CAST(COALESCE(n.n_novel, 0) AS BIGINT) AS n_novel,
           CAST(COALESCE(n.n_novel, 0) AS DOUBLE) / t.n_shingles AS novelty
    FROM tot t LEFT JOIN novel n ON n.doc_id = t.doc_id
    """,
    bench=True,
)
def q_doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct word
    3-grams whose FIRST corpus occurrence (minimum doc_id) is this document
    — low novelty means the doc is mostly boilerplate/quotation of earlier
    material, the signal incremental crawls use to skip near-rehashes that
    pairwise dedup scores miss.

    Scale shape: unlike pairwise dedup there is NO join on the shingle key —
    first-occurrence is a map-side-combinable MIN per shingle, so hot
    (stop-)shingles cost one combiner cell instead of df^2 join fan-out;
    the per-doc rollups are two more combinable aggregates and a join on
    doc_id.  Everything is linear in corpus size with no skew term, which
    is why novelty scoring scales where all-pairs similarity cannot."""
    from ..functions.text import with_shingles

    from ._util import persist_tracked

    # r11-opt: the shingle pipeline (regex tokenize + k slices + distinct)
    # fed two unpersisted subtrees, so the scan+shingle work ran twice; and
    # the per-doc total is simply size(shingle_set) — a narrow projection —
    # not a second corpus-wide groupBy.  One persisted doc-level relation,
    # one shuffle total (the first-occurrence MIN).  Docs with zero shingles
    # are filtered exactly as the oracle's explode drops them.
    docs_sh = persist_tracked(
        with_shingles(
            t(spark, sf_dir, "documents").select("doc_id", "text"), _NOVELTY_K
        )
        .select("doc_id", "shingle_set")
        .filter(F.size("shingle_set") > 0)
    )
    sh = docs_sh.select("doc_id", F.explode("shingle_set").alias("shingle"))
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    tot = docs_sh.select(
        "doc_id", F.size("shingle_set").cast("long").alias("n_shingles")
    )
    return tot.join(novel, "doc_id", "left").select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
        (
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
            / F.col("n_shingles")
        ).alias("novelty"),
    )


# --------------------------------------------------------------------------
# Corpus length distribution + cross-lingual shingle leakage
# --------------------------------------------------------------------------


@register(
    "q_doc_length_histogram",
    oracle=f"""
    WITH n AS (
        SELECT lang, CAST(len({sql_tokens()}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    b AS (
        SELECT lang, CAST(length(bin(n_tokens)) - 1 AS BIGINT) AS bucket
        FROM n WHERE n_tokens >= 1
    )
    SELECT lang, bucket,
           CAST(power(2, bucket) AS BIGINT) AS lo_tokens,
           CAST(power(2, bucket + 1) - 1 AS BIGINT) AS hi_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM b GROUP BY lang, bucket
    """,
)
def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language log2-bucketed document-length histogram (bucket b holds
    docs with 2^b <= n_tokens < 2^(b+1)) — the length-distribution report
    behind min/max-length filter thresholds and packing efficiency
    estimates for fixed-context training.

    The bucket index is length(bin(n)) - 1 == floor(log2(n)) computed in
    INTEGER arithmetic on both engines — no floating log whose rounding at
    exact powers of two could disagree between engines.

    Scale shape: one narrow pass (tokenize is fused into the scan), then a
    map-side-combinable groupBy over |langs| x ~12 buckets — metadata-sized
    shuffle at any corpus size, same family as q_corpus_token_budget."""
    nt = F.size(tokens()).cast("long")
    bucket = (F.length(F.bin(F.col("n_tokens"))) - 1).cast("long")
    return (
        t(spark, sf_dir, "documents")
        .select("lang", nt.alias("n_tokens"))
        .filter(F.col("n_tokens") >= 1)
        .select("lang", bucket.alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .select(
            "lang",
            "bucket",
            F.pow(F.lit(2.0), F.col("bucket")).cast("long").alias("lo_tokens"),
            (F.pow(F.lit(2.0), F.col("bucket") + 1) - 1)
            .cast("long")
            .alias("hi_tokens"),
            "n_docs",
        )
    )


_XLING_K = 3


@register(
    "q_cross_lingual_overlap",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT lang, sh FROM (
            SELECT lang, unnest({sql_shingle_list(_XLING_K)}) AS sh
            FROM documents
        )
    ),
    tot AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY lang),
    pairs AS (
        SELECT a.lang AS lang_a, b.lang AS lang_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.lang < b.lang
        GROUP BY a.lang, b.lang
    )
    SELECT lang_a, lang_b, n_shared,
           ta.n AS n_a, tb.n AS n_b,
           CAST(n_shared AS DOUBLE) / least(ta.n, tb.n) AS overlap_coef
    FROM pairs
    JOIN tot ta ON ta.lang = pairs.lang_a
    JOIN tot tb ON tb.lang = pairs.lang_b
    """,
)
def q_cross_lingual_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual shingle leakage: for every language pair, how many
    distinct word 3-grams appear in BOTH languages' documents, plus the
    overlap coefficient n_shared / min(|A|, |B|) — the split-leakage audit
    run before treating per-language subsets as independent (boilerplate,
    code fragments, and mislabeled docs all surface here).

    Scale shape: the distinct (lang, shingle) relation is one shuffle with
    map-side combine; the self-join key is the shingle, whose fan-out is
    bounded by |langs| per key BY CONSTRUCTION (each (lang, shingle) row is
    distinct), so the join is skew-safe no matter how hot a stop-shingle
    is — the cap that dedup needs a DF filter for comes free here.  The
    pair aggregate and the totals join are metadata-sized (|langs|^2
    rows)."""
    from ..functions.text import with_shingles

    sh = (
        with_shingles(
            t(spark, sf_dir, "documents").select("lang", "text"), _XLING_K
        )
        .select("lang", F.explode("shingle_set").alias("sh"))
        .distinct()
    )
    tot = sh.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.lang") < F.col("b.lang")),
        )
        .groupBy(
            F.col("a.lang").alias("lang_a"), F.col("b.lang").alias("lang_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    ta = tot.select(F.col("lang").alias("lang_a"), F.col("n").alias("n_a"))
    tb = tot.select(F.col("lang").alias("lang_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(ta), "lang_a")
        .join(F.broadcast(tb), "lang_b")
        .select(
            "lang_a",
            "lang_b",
            "n_shared",
            "n_a",
            "n_b",
            (F.col("n_shared").cast("double") / F.least("n_a", "n_b")).alias(
                "overlap_coef"
            ),
        )
    )


# --------------------------------------------------------------------------
# Mixed-language (code-switching) detection
# --------------------------------------------------------------------------

_PURITY_LANGS = tuple(_LANG_PROFILES)  # en, es, de, fr


@register(
    "q_doc_language_purity",
    oracle=f"""
    WITH toks AS (SELECT doc_id, lang, {sql_tokens()} AS ts FROM documents),
    hits AS (
        SELECT doc_id, lang,
               {_LANG_HITS_SQL}
        FROM toks
    ),
    scored AS (
        SELECT doc_id, lang,
               lang IN ({', '.join(f"'{lg}'" for lg in _PURITY_LANGS)}) AS profiled,
               CASE lang {' '.join(f"WHEN '{lg}' THEN hits_{lg}" for lg in _PURITY_LANGS)}
                    ELSE 0 END AS own_hits,
               greatest({', '.join(f"CASE WHEN lang = '{lg}' THEN -1 ELSE hits_{lg} END" for lg in _PURITY_LANGS)})
                 AS best_other_hits
        FROM hits
    )
    SELECT doc_id, lang,
           CAST(own_hits AS BIGINT) AS own_hits,
           CAST(best_other_hits AS BIGINT) AS best_other_hits,
           CASE WHEN NOT profiled OR own_hits + best_other_hits = 0 THEN NULL
                ELSE CAST(own_hits AS DOUBLE) / (own_hits + best_other_hits)
           END AS purity,
           (profiled AND own_hits + best_other_hits > 0
            AND best_other_hits * 2 > own_hits) AS is_mixed
    FROM scored
    """,
)
def q_doc_language_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-switching / mislabel detection: for each document, function-word
    hits for its LABELED language vs the strongest OTHER language profile;
    purity = own / (own + best_other), flagged mixed when the foreign
    signal exceeds half the native one.  Catches both genuinely
    mixed-language documents and label errors — the docs a per-language
    training split should quarantine.

    Shares the `_LANG_HITS_SQL` / `_hit_count` profile definitions with
    text_lang_id and q_lang_confusion (one classifier, three reports).
    Pure narrow map, no shuffle.  A document is UNSCORED (NULL purity,
    is_mixed false) when its label has no profile (e.g. 'zh' here) — a
    language the classifier cannot see must not be reported as impure —
    or when no profile matches at all ('und'-like documents)."""
    ts = tokens()
    hits = {lg: _hit_count(ts, ws) for lg, ws in _LANG_PROFILES.items()}
    profiled = F.col("lang").isin(*_PURITY_LANGS)
    own = F.lit(0)
    for lg in _PURITY_LANGS:
        own = F.when(F.col("lang") == lg, hits[lg]).otherwise(own)
    best_other = F.greatest(
        *[
            F.when(F.col("lang") == lg, F.lit(-1)).otherwise(hits[lg])
            for lg in _PURITY_LANGS
        ]
    )
    total = own + best_other
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        own.cast("long").alias("own_hits"),
        best_other.cast("long").alias("best_other_hits"),
        F.when(~profiled | (total == 0), F.lit(None).cast("double"))
        .otherwise(own.cast("double") / total)
        .alias("purity"),
        (profiled & (total > 0) & (best_other * 2 > own)).alias("is_mixed"),
    )


# --------------------------------------------------------------------------
# DF-weighted commonness (boilerplate prior)
# --------------------------------------------------------------------------


@register(
    "q_doc_commonness",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, unnest({sql_shingle_list(_NOVELTY_K)}) AS shingle
        FROM documents
    ),
    df AS (
        SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY shingle
    )
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(df.df) AS BIGINT) AS sum_df,
           CAST(MAX(df.df) AS BIGINT) AS max_df,
           CAST(SUM(df.df) AS DOUBLE) / COUNT(*) AS mean_df
    FROM sh JOIN df ON df.shingle = sh.shingle
    GROUP BY sh.doc_id
    """,
)
def q_doc_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document corpus-commonness score: the mean (and max) document
    frequency of the doc's distinct word 3-grams — the complement of
    q_doc_ngram_novelty's first-occurrence signal.  High mean_df means the
    document is built from phrases the whole corpus repeats (templates,
    boilerplate, licence blocks — candidates for downweighting); low
    mean_df means rare content (either valuable or noise — route to the
    quality scorer).  This df-weighted prior is what C4-style pipelines
    consult before dropping high-frequency spans.

    Exactness: df values are integers, sum_df/max_df are exact BIGINT
    aggregates, and mean_df is one IEEE division of exact integers —
    identical on both engines, no quantization needed.

    Scale shape: NO pairwise join — the df table is a map-side-combinable
    groupBy(shingle), then one annotate-join back onto the (doc_id,
    shingle) relation (each row matches exactly ONE df row, so hot
    stop-shingles cost df combiner cells and df annotated rows, never the
    df^2 fan-out the capped dedup join must guard against), then a
    combinable per-doc rollup.  Linear in corpus size with no quadratic
    skew term — same reason novelty scoring scales.  The (doc_id,
    shingle) relation feeds BOTH the df aggregate and the annotate join,
    so it is persisted through the persist_tracked seam — without it the
    tokenize+shingle explode runs twice, which the r6 scale probe first
    measured as the table's steepest curve (14.9 s at 10x-sf0.1); the
    persist removes the recomputation (re-measured 10.1 s at the same
    point, and the 1x base dropped 2.1 -> 1.5 s — the committed SCALING
    row).  The residual ~6.9x-per-10x slope is the df annotate-join
    shuffle growing with the corpus, the same sub-linear
    shuffle-dominated shape as q_doc_ngram_novelty."""
    from ..functions.text import with_shingles
    from ._util import persist_tracked

    sh = persist_tracked(
        with_shingles(
            t(spark, sf_dir, "documents").select("doc_id", "text"), _NOVELTY_K
        ).select("doc_id", F.explode("shingle_set").alias("shingle"))
    )
    df = sh.groupBy("shingle").agg(F.count(F.lit(1)).cast("long").alias("df"))
    return (
        sh.join(df, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum("df").cast("long").alias("sum_df"),
            F.max("df").cast("long").alias("max_df"),
            (F.sum("df").cast("double") / F.count(F.lit(1))).alias("mean_df"),
        )
    )


# --------------------------------------------------------------------------
# Tokenizer training signals: BPE merge candidates + vocabulary coverage
# --------------------------------------------------------------------------

_BPE_TOP = 25


@register(
    "q_bpe_merge_candidates",
    oracle=f"""
    WITH words AS (
        SELECT unnest({sql_tokens()}) AS word FROM documents
    ),
    wf AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS wf
        FROM words WHERE length(word) >= 2 GROUP BY word
    ),
    pairs AS (
        SELECT unnest(list_transform(range(1, length(word)),
                                     i -> substr(word, i, 2))) AS pair, wf
        FROM wf
    ),
    agg AS (
        SELECT pair, CAST(SUM(wf) AS BIGINT) AS n_occurrences
        FROM pairs GROUP BY pair
    )
    SELECT pair, n_occurrences, CAST(rk AS INTEGER) AS rk FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, pair) AS rk
        FROM agg
    ) WHERE rk <= {_BPE_TOP}
    """,
)
def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE-training inner loop as a query: the top-25 adjacent
    character pairs by corpus occurrence count — each training iteration
    of a byte-pair-encoding tokenizer merges exactly the #1 row of this
    table, so this is the step a vocab-induction pipeline runs (over
    merged symbols) until the vocab budget is spent.  Occurrences are
    counted word-internally with multiplicity ('aaa' contributes 'aa'
    twice) and weighted by word frequency, the standard BPE formulation
    (word-boundary markers omitted; single-char words carry no pairs).

    Exactness: pure integer counts; the top-25 cut breaks ties
    (n_occurrences DESC, pair ASC) — fully deterministic on both engines.

    Scale shape: token explode -> groupBy(word) is map-side combinable
    into the VOCAB-bounded word-frequency relation (the corpus-sized
    explode collapses before the exchange); pair generation fans each
    DISTINCT word into len-1 pairs (still vocab-bounded); the pair rollup
    is |alphabet|^2 metadata and the final top-25 is a
    TakeOrderedAndProject.  No stage carries corpus-sized data past the
    first combiner."""
    ts = tokens()
    wf = (
        t(spark, sf_dir, "documents")
        .select(F.explode(ts).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("wf"))
    )
    pair_arr = F.transform(
        F.sequence(F.lit(1), F.length("word") - 1),
        lambda i: F.col("word").substr(i, F.lit(2)),
    )
    agg = (
        wf.select(F.explode(pair_arr).alias("pair"), "wf")
        .groupBy("pair")
        .agg(F.sum("wf").cast("long").alias("n_occurrences"))
    )
    w = Window.orderBy(F.col("n_occurrences").desc(), "pair")
    return (
        agg.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _BPE_TOP)
        .select("pair", "n_occurrences", "rk")
    )


# Sized to the synthetic corpus's ~40-word vocabulary so the curve is a
# real curve (production corpora would use 2^13..2^17 here — the operator
# shape is identical at any sizes).
_VOCAB_SIZES = (5, 10, 25, 50)


def _vocab_coverage_oracle() -> str:
    branches = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({n} AS BIGINT) AS vocab_size,\n"
        f"       (SELECT CAST(SUM(c) AS BIGINT) FROM ranked WHERE rk <= {n})"
        f" AS covered_tokens"
        for n in _VOCAB_SIZES
    )
    return f"""
    WITH words AS (
        SELECT unnest({sql_tokens()}) AS word FROM documents
    ),
    wf AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS c
        FROM words WHERE word <> '' GROUP BY word
    ),
    ranked AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, word) AS rk FROM wf
    ),
    total AS (SELECT CAST(SUM(c) AS BIGINT) AS total_tokens FROM wf),
    sizes AS (
    {branches}
    )
    SELECT s.vocab_size, s.covered_tokens, t.total_tokens,
           CAST(s.covered_tokens AS DOUBLE) / t.total_tokens AS coverage,
           1.0 - CAST(s.covered_tokens AS DOUBLE) / t.total_tokens AS oov_rate
    FROM sizes s CROSS JOIN total t
    """


@register(
    "q_vocab_coverage",
    oracle=_vocab_coverage_oracle(),
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage / OOV-rate curve: for each candidate vocab size
    N (5 / 10 / 25 / 50 here), the fraction of all corpus token
    occurrences covered by the N most frequent words — the curve a
    tokenizer design reads to pick its vocab budget, and the OOV-rate
    audit run before shipping a fixed vocabulary.

    Exactness: covered/total are exact BIGINT sums; ties at the vocab
    boundary break (count DESC, word ASC) identically on both engines;
    coverage and oov_rate are single IEEE divisions of exact integers.

    Scale shape: the corpus-sized token explode collapses map-side into
    the vocab-bounded word-frequency relation, which is persisted once
    and consumed by one 1-row total and four top-N passes — each top-N
    is a TakeOrderedAndProject (per-partition heap of N, no global sort,
    no single-partition window over the vocab — the q_curriculum_order
    lesson applied); the result is 4 rows of metadata."""
    from functools import reduce

    from ._util import persist_tracked

    ts = tokens()
    wf = persist_tracked(
        t(spark, sf_dir, "documents")
        .select(F.explode(ts).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    total = wf.agg(F.sum("c").cast("long").alias("total_tokens"))
    parts = [
        wf.orderBy(F.col("c").desc(), "word")
        .limit(n)
        .agg(F.sum("c").cast("long").alias("covered_tokens"))
        .select(F.lit(n).cast("long").alias("vocab_size"), "covered_tokens")
        for n in _VOCAB_SIZES
    ]
    cov = reduce(lambda a, b: a.unionAll(b), parts)
    return cov.crossJoin(F.broadcast(total)).select(
        "vocab_size",
        "covered_tokens",
        "total_tokens",
        (F.col("covered_tokens").cast("double") / F.col("total_tokens")).alias(
            "coverage"
        ),
        (
            F.lit(1.0)
            - F.col("covered_tokens").cast("double") / F.col("total_tokens")
        ).alias("oov_rate"),
    )


# --------------------------------------------------------------------------
# Inverted-index construction (posting lists)
# --------------------------------------------------------------------------

_INV_TOPK = 25      # report the 25 highest-df terms
_INV_POSTINGS = 10  # posting-list sample depth per term


@register(
    "q_inverted_index",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({sql_tokens()}) AS term FROM documents
    ),
    occ AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS total_tf
        FROM toks GROUP BY term
    ),
    dp AS (SELECT DISTINCT term, doc_id FROM toks),
    dfreq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM dp GROUP BY term
    ),
    post AS (
        SELECT term,
               string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
                 AS postings_sample
        FROM (
            SELECT term, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) AS rn
            FROM dp
        )
        WHERE rn <= {_INV_POSTINGS}
        GROUP BY term
    )
    SELECT f.term, f.df, o.total_tf, p.postings_sample
    FROM dfreq f
    JOIN occ o ON o.term = f.term
    JOIN post p ON p.term = f.term
    ORDER BY f.df DESC, f.term
    LIMIT {_INV_TOPK}
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction — the search-side primitive a corpus
    pipeline builds right after dedup: for the top-25 highest-df terms,
    the document frequency, the total term frequency, and the FIRST 10
    doc_ids of the term's posting list (comma-joined, ascending — the
    bounded sample a UI or an index-health check reads).

    Scale shape: two map-side-combinable aggregates over the exploded
    token relation (total_tf keyed on term; df on the distinct (term,
    doc_id) projection), and the posting sample is a row_number window
    per term with the rank filter ADJACENT to the window so Catalyst
    rewrites it to WindowGroupLimit — each map task keeps only its local
    top-10 smallest doc_ids per term before the shuffle, so a stop-word
    term with a billion-document posting list still moves <= 10 rows per
    map partition, never the full list.  (A REAL index build would sink
    the complete lists partitioned by term range — that is a sink-shaped
    job; this operator is its bounded, verifiable report twin.)  The
    final top-25 is a TakeOrderedAndProject heap under the deterministic
    (df DESC, term) tie-break.

    Exactness: counts are integers; the posting sample is an exact
    string join of sorted BIGINTs — no floats anywhere."""
    toks = (
        spread(t(spark, sf_dir, "documents"), spark)
        .select("doc_id", F.explode(tokens()).alias("term"))
    )
    occ = toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("total_tf")
    )
    dp = toks.select("term", "doc_id").distinct()
    dfreq = dp.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    rn = F.row_number().over(
        Window.partitionBy("term").orderBy(F.col("doc_id").asc())
    )
    post = (
        dp.withColumn("rn", rn)
        .filter(F.col("rn") <= _INV_POSTINGS)
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings_sample")
        )
    )
    return (
        dfreq.join(occ, "term")
        .join(post, "term")
        .select("term", "df", "total_tf", "postings_sample")
        .orderBy(F.col("df").desc(), F.col("term"))
        .limit(_INV_TOPK)
    )


# --------------------------------------------------------------------------
# BM25 more-like-this retrieval (log-free rational-idf variant)
# --------------------------------------------------------------------------

_BM25_N_QUERIES = 8   # doc_id < 8 are the query documents (same ids as the
                      # vector-search query set — q_hybrid_rrf fuses the two)
_BM25_TOPK = 10
_BM25_K1 = "1.2e0"      # literal strings: both engines parse the same double
_BM25_K1P1 = "2.2e0"    # k1 + 1, written as one literal (never computed)
_BM25_B_DL = "0.25e0"   # 1 - b with b = 0.75 (exact in binary)
_BM25_B = "0.75e0"
_BM25_SCALE = 1_000_000  # contribution quantum: floor(contrib * 1e6)


def _bm25_contrib_sql(n: str, df: str, tf: str, dl: str, total: str) -> str:
    """The per-(query-term, doc) BM25 contribution as ONE expression string,
    rendered identically for DuckDB and for Spark's SQL parser — the
    expression TREE being identical is what makes every intermediate double
    bit-identical cross-engine (per-row IEEE ops on identical inputs)."""
    idf = f"((CAST({n} - {df} AS DOUBLE) + 0.5e0) / (CAST({df} AS DOUBLE) + 0.5e0))"
    avgdl = f"(CAST({total} AS DOUBLE) / CAST({n} AS DOUBLE))"
    tfc = (
        f"((CAST({tf} AS DOUBLE) * {_BM25_K1P1}) / (CAST({tf} AS DOUBLE)"
        f" + {_BM25_K1} * ({_BM25_B_DL} + {_BM25_B} * CAST({dl} AS DOUBLE)"
        f" / {avgdl})))"
    )
    return f"CAST(floor({idf} * {tfc} * {float(_BM25_SCALE)}) AS BIGINT)"


@register(
    "q_bm25_mlt_topk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({sql_tokens()}) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, term
    ),
    dl AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(dl) AS BIGINT) AS total
        FROM dl
    ),
    dfreq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    qterms AS (
        SELECT DISTINCT doc_id AS query_id, term FROM toks
        WHERE doc_id < {_BM25_N_QUERIES}
    ),
    contrib AS (
        SELECT q.query_id, tf.doc_id,
               {_bm25_contrib_sql('s.n', 'd.df', 'tf.tf', 'dl.dl', 's.total')} AS cq
        FROM qterms q
        JOIN tf ON tf.term = q.term AND tf.doc_id <> q.query_id
        JOIN dl ON dl.doc_id = tf.doc_id
        JOIN dfreq d ON d.term = q.term
        CROSS JOIN stats s
    ),
    scored AS (
        SELECT query_id, doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shared_terms,
               CAST(SUM(cq) AS BIGINT) AS score_q
        FROM contrib GROUP BY query_id, doc_id
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score_q DESC, doc_id) AS rk
        FROM scored
    )
    SELECT query_id, doc_id, n_shared_terms, score_q,
           CAST(score_q AS DOUBLE) / {float(_BM25_SCALE)} AS score,
           CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= {_BM25_TOPK}
    """,
)
def q_bm25_mlt_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 "more-like-this" retrieval: for each query document (doc_id < 8,
    the SAME ids the vector searches use), rank every other document by the
    BM25 score of the query's distinct terms — the lexical half of a hybrid
    retrieval stack, sitting on exactly the corpus statistics q_inverted_index
    builds (tf, df, dl, avgdl).

    Log-free rational idf (the repo's cross-engine doctrine — the same reason
    text_char_stats uses a Simpson index instead of entropy): classic BM25
    idf is ln((N-df+0.5)/(df+0.5)); ln differs in last-ulp across engines, so
    the scored twin keeps the RATIONAL idf (N-df+0.5)/(df+0.5) — the same
    monotone ordering for any fixed N (ln is monotone), so rankings are
    BM25-faithful.  Every per-row double op is rendered from ONE shared
    expression string (:func:`_bm25_contrib_sql`) so Spark and DuckDB
    evaluate identical expression trees on identical integers; the only
    aggregation over doubles is avoided entirely by quantizing each
    contribution to a BIGINT (floor(contrib * 1e6)) and summing exact
    integers — associative, partial-aggregation-safe (the TWAP trick).

    Scale shape: tf / dl / df are the map-side-combinable aggregates of the
    exploded token relation (at 100 TB these are the persisted index
    relations a real search tier reuses across query batches — built once
    here because the operator is self-contained); the query-term relation is
    |Q| x distinct-terms-per-doc (~hundreds of rows, broadcast with its df
    annotation); candidate scoring is that broadcast join against tf
    co-joined with dl on doc_id; the final ranking is a WindowGroupLimit
    top-10 heap per query.  No shuffle carries more than (|Q| x matching
    docs) rows after the index aggregates."""
    toks = spread(t(spark, sf_dir, "documents"), spark).select(
        "doc_id", F.explode(tokens()).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dl").cast("long").alias("total"),
    )  # 1-row relation
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    qterms = (
        toks.filter(F.col("doc_id") < _BM25_N_QUERIES)
        .select(F.col("doc_id").alias("query_id"), "term")
        .distinct()
        .join(dfreq, "term")  # annotate df once, on the tiny side
    )
    contrib = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(qterms), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            F.expr(
                _bm25_contrib_sql("n", "df", "tf", "dl", "total")
            ).alias("cq"),
        )
    )
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared_terms"),
        F.sum("cq").cast("long").alias("score_q"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_q").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _BM25_TOPK)
        .select(
            "query_id",
            "doc_id",
            "n_shared_terms",
            "score_q",
            (F.col("score_q").cast("double") / float(_BM25_SCALE)).alias("score"),
            F.col("rk").cast("integer").alias("rk"),
        )
    )


# --------------------------------------------------------------------------
# Exact-substring (span-hash) cross-document dedup profile
# --------------------------------------------------------------------------

_SPAN_LEN = 4   # tokens per non-overlapping span.  Production substring
                # dedup uses ~50-token windows (the published exact-substring
                # dedup threshold); 4 fits this corpus's ~35-token documents
                # and its ~30-word vocabulary so shared spans actually occur
                # at test scale.  The plan shape is span-length-independent.
_SPAN_DUP_NUM = 3   # flag_dup threshold as an exact rational: shared/total
_SPAN_DUP_DEN = 10  # >= 3/10, compared in integers (no float boundary).


@register(
    "q_span_dedup",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {sql_tokens()} AS ts FROM documents
    ),
    idx AS (
        SELECT doc_id, ts, unnest(range(0, len(ts) // {_SPAN_LEN})) AS sid
        FROM toks WHERE len(ts) >= {_SPAN_LEN}
    ),
    spans AS (
        SELECT doc_id,
               {sql_hash48(
                   f"array_to_string(list_slice(ts, sid*{_SPAN_LEN}+1,"
                   f" sid*{_SPAN_LEN}+{_SPAN_LEN}), ' ')")} AS span_hash
        FROM idx
    ),
    sdf AS (
        SELECT span_hash, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM spans GROUP BY span_hash
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_spans,
           CAST(SUM(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS shared_frac,
           CAST(CASE WHEN SUM(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END)
                          * {_SPAN_DUP_DEN} >= COUNT(*) * {_SPAN_DUP_NUM}
                     THEN 1 ELSE 0 END AS BIGINT) AS flag_dup
    FROM spans s JOIN sdf d USING (span_hash)
    GROUP BY s.doc_id
    """,
    bench=True,
)
def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup profile: hash every non-overlapping 4-token
    span, count how many DISTINCT documents each span appears in, and
    report per document how much of its text is span-shared with the rest
    of the corpus (plus a >=30% removal flag).  This is the scalable
    chunk-hash approximation of suffix-array exact-substring dedup — the
    pipeline stage that removes boilerplate/licence blocks repeated across
    crawl snapshots, complementary to whole-doc (dedup_exact) and near-doc
    (minhash/simhash) dedup.

    Exactness: span keys are the portable 48-bit md5 over the joined span
    string; counts are integers; shared_frac is one IEEE division of exact
    integers; the flag compares shared*10 >= total*3 IN INTEGERS so the
    30% boundary has no float-rounding edge on either engine.

    Scale shape: the span relation is corpus_tokens/4 narrow (doc_id,
    hash) rows built inside the scan stage (sequence/slice/explode — no
    shuffle); the distinct-doc count is a map-side-combinable
    groupBy(span_hash); the annotate join back is one-row-per-span (a hot
    boilerplate span costs its df combiner cell, never a pairwise
    fan-out — same shape as q_doc_commonness); the per-doc rollup is
    combinable.  Linear in corpus size, uniform 48-bit shuffle keys.  The
    span relation feeds both the df aggregate and the annotate join, so
    it is persisted through the persist_tracked seam."""
    from ._util import persist_tracked

    docs = (
        t(spark, sf_dir, "documents")
        .select("doc_id", tokens().alias("ts"))
        .filter(F.size("ts") >= _SPAN_LEN)
    )
    n_spans = F.expr(f"size(ts) div {_SPAN_LEN}").cast("int")
    span_hashes = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda s: hash48(
            F.array_join(F.slice(F.col("ts"), s * _SPAN_LEN + 1, _SPAN_LEN), " ")
        ),
    )
    spans = persist_tracked(
        spread(docs, spark).select(
            "doc_id", F.explode(span_hashes).alias("span_hash")
        )
    )
    sdf = spans.groupBy("span_hash").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    shared = F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
    return (
        spans.join(sdf, "span_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            shared.cast("long").alias("n_shared_spans"),
            (shared.cast("double") / F.count(F.lit(1))).alias("shared_frac"),
            F.when(
                shared * _SPAN_DUP_DEN >= F.count(F.lit(1)) * _SPAN_DUP_NUM, 1
            )
            .otherwise(0)
            .cast("long")
            .alias("flag_dup"),
        )
    )


# --------------------------------------------------------------------------
# Per-document unigram surprisal (information-density quality proxy)
# --------------------------------------------------------------------------

_SURPRISAL_LOW_BITS = 7  # mean bits/token below this flags low-info docs


@register(
    "q_doc_surprisal",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({sql_tokens()}) AS term FROM documents
    ),
    cnts AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY term
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS total FROM toks
    ),
    tsurp AS (
        SELECT term,
               CAST(length(bin(total // cnt)) - 1 AS BIGINT) AS bits
        FROM cnts CROSS JOIN tot
    ),
    per_doc AS (
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(s.bits) AS BIGINT) AS sum_bits,
               CAST(MAX(s.bits) AS BIGINT) AS max_bits
        FROM toks t JOIN tsurp s ON s.term = t.term
        GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens, sum_bits, max_bits,
           CAST(sum_bits AS DOUBLE) / n_tokens AS mean_bits,
           CAST(CASE WHEN sum_bits < {_SURPRISAL_LOW_BITS} * n_tokens
                     THEN 1 ELSE 0 END AS BIGINT) AS flag_low_info
    FROM per_doc
    """,
)
def q_doc_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram surprisal — the information-density
    quality proxy behind perplexity-style corpus filters: a document made
    of corpus-common tokens (boilerplate, templates, navigation chrome)
    scores low; one with rare vocabulary scores high.  Each token's
    surprisal is floor(log2(total_tokens / its corpus count)) — the
    repo's INTEGER log2 (length(bin(n)) - 1 over the integer quotient,
    the q_doc_length_histogram trick), so the whole spec is exact BIGINT
    arithmetic end-to-end: no floating ln/log whose last-ulp rounding
    could differ cross-engine (the log-free doctrine q_bm25_mlt_topk
    documents), and the low-info flag is the integer comparison
    sum_bits < {_SURPRISAL_LOW_BITS} * n_tokens.  A production pipeline
    swaps in a real LM's token logprobs via the same join shape; the
    integer-log2 unigram form is the deterministic, oracle-checkable
    baseline.

    vs q_doc_commonness: commonness reports mean/max document frequency
    of a doc's shingles (a duplication prior); surprisal is the
    token-level INFORMATION content against the corpus unigram model — a
    compression/quality signal.  Both are annotate-joins, no pairwise
    fan-out.

    Scale shape: the token-count relation is a map-side-combinable
    groupBy over the exploded tokens; per-term surprisal is computed ONCE
    on that metadata-sized relation (distinct vocabulary, not corpus
    volume) with the 1-row total broadcast; the per-doc rollup is one
    annotate join shuffled on the term key.  The vocabulary relation is
    Zipf-bounded, so the join's build side stays small at any corpus
    size."""
    from ._util import persist_tracked

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens()).alias("term")
    )
    docs = spread(docs, spark, "doc_id")
    # r11-opt: the vocabulary relation feeds the total AND the per-term
    # surprisal, and the total is just SUM(cnt) over it — the previous
    # corpus-wide count re-ran the token explode a third time.
    cnts = persist_tracked(
        docs.groupBy("term").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
    )
    tot = cnts.agg(F.sum("cnt").cast("long").alias("total"))
    bits = (
        F.length(F.bin(F.expr("total div cnt"))) - 1
    ).cast("long")
    tsurp = cnts.crossJoin(F.broadcast(tot)).select("term", bits.alias("bits"))
    return (
        docs.join(tsurp, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("bits").cast("long").alias("sum_bits"),
            F.max("bits").cast("long").alias("max_bits"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "sum_bits",
            "max_bits",
            (F.col("sum_bits").cast("double") / F.col("n_tokens")).alias(
                "mean_bits"
            ),
            F.when(
                F.col("sum_bits") < _SURPRISAL_LOW_BITS * F.col("n_tokens"), 1
            )
            .otherwise(0)
            .cast("long")
            .alias("flag_low_info"),
        )
    )


# --------------------------------------------------------------------------
# Bigram language-model surprisal (conditional information content)
# --------------------------------------------------------------------------

_BIGRAM_LOW_BITS = 3  # mean conditional bits/bigram below this = templated


@register(
    "q_doc_bigram_lm",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {sql_tokens()} AS ts FROM documents),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ts)),
                                     i -> ts[i] || ' ' || ts[i+1])) AS bigram
        FROM toks
    ),
    c12 AS (
        SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cnt12 FROM bg GROUP BY bigram
    ),
    ctx AS (
        SELECT split_part(bigram, ' ', 1) AS w1,
               CAST(SUM(cnt12) AS BIGINT) AS cnt_ctx
        FROM c12 GROUP BY 1
    ),
    tb AS (
        SELECT c.bigram,
               CAST(length(bin(x.cnt_ctx // c.cnt12)) - 1 AS BIGINT) AS bits
        FROM c12 c JOIN ctx x ON x.w1 = split_part(c.bigram, ' ', 1)
    ),
    per_doc AS (
        SELECT b.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(t.bits) AS BIGINT) AS sum_bits,
               CAST(MAX(t.bits) AS BIGINT) AS max_bits
        FROM bg b JOIN tb t ON t.bigram = b.bigram
        GROUP BY b.doc_id
    )
    SELECT doc_id, n_bigrams, sum_bits, max_bits,
           CAST(sum_bits AS DOUBLE) / n_bigrams AS mean_bits,
           CAST(CASE WHEN sum_bits < {_BIGRAM_LOW_BITS} * n_bigrams
                     THEN 1 ELSE 0 END AS BIGINT) AS flag_templated
    FROM per_doc
    """,
)
def q_doc_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean BIGRAM surprisal — the conditional-information
    upgrade of q_doc_surprisal's unigram model, and the closest
    oracle-checkable stand-in for the KenLM-perplexity filters production
    corpus pipelines run: a document whose next-token is always predictable
    from the previous token (templates, boilerplate, repeated phrases)
    scores near zero even when its individual tokens are rare.

    Each bigram's surprisal is floor(log2(cnt(w1 as context) /
    cnt(w1 w2))) — an MLE conditional -log2 P(w2|w1) computed with the
    repo's INTEGER log2 (length(bin(n)) - 1 over the integer quotient), so
    the whole spec is exact BIGINT arithmetic end-to-end; the context count
    is the bigram relation grouped by its first token, so numerator and
    denominator come from ONE relation and the quotient is always >= 1.
    The flag is the integer comparison sum_bits < 3 * n_bigrams.  Docs
    with fewer than two tokens have no bigram and no output row (same
    contract on both engines).

    Scale shape: the bigram-count relation is a map-side-combinable
    groupBy over exploded bigrams (Zipf-bounded: distinct observed bigrams
    grow sub-linearly in corpus size); the context relation is a second
    metadata-sized groupBy OF THAT relation (vocabulary-sized, not corpus-
    sized); per-bigram bits are computed once on the joined metadata; the
    per-doc rollup is one annotate join shuffled on the bigram key.  No
    pairwise fan-out anywhere — the same annotate-join discipline as
    q_doc_surprisal, one model order up."""
    docs = t(spark, sf_dir, "documents").select("doc_id", tokens().alias("ts"))
    bg = spread(
        docs.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(ts, 1, size(ts) - 1),"
                    " (x, i) -> concat(x, ' ', element_at(ts, i + 2)))"
                )
            ).alias("bigram"),
        ),
        spark,
        "doc_id",
    )
    from ._util import persist_tracked

    # r11-opt: the bigram-count relation feeds the context rollup and the
    # per-bigram bits join; unpersisted it re-ran the bigram explode twice.
    c12 = persist_tracked(
        bg.groupBy("bigram").agg(
            F.count(F.lit(1)).cast("long").alias("cnt12")
        )
    )
    ctx = c12.groupBy(
        F.substring_index("bigram", " ", 1).alias("w1")
    ).agg(F.sum("cnt12").cast("long").alias("cnt_ctx"))
    tb = c12.join(
        ctx, F.substring_index(c12.bigram, " ", 1) == ctx.w1
    ).select(
        "bigram",
        (F.length(F.bin(F.expr("cnt_ctx div cnt12"))) - 1)
        .cast("long")
        .alias("bits"),
    )
    return (
        bg.join(tb, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("bits").cast("long").alias("sum_bits"),
            F.max("bits").cast("long").alias("max_bits"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "sum_bits",
            "max_bits",
            (F.col("sum_bits").cast("double") / F.col("n_bigrams")).alias(
                "mean_bits"
            ),
            F.when(
                F.col("sum_bits") < _BIGRAM_LOW_BITS * F.col("n_bigrams"), 1
            )
            .otherwise(0)
            .cast("long")
            .alias("flag_templated"),
        )
    )


# --------------------------------------------------------------------------
# Deny-list PII/sensitive-term redaction
# --------------------------------------------------------------------------

# The corpus is synthetic word-salad with no emails/phones/IPs, so the
# scored deny-list uses terms that actually occur; a production list swaps
# in the usual PII patterns (emails, phones, national-id formats) through
# the SAME alternation — the operator shape is identical.
_PII_PATTERN = r"\b(customer|supplier|order)\b"
_PII_TOKEN = "[PII]"


@register(
    "q_pii_redact",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_PATTERN}')) AS BIGINT)
             AS n_hits,
           CAST(length(text) AS BIGINT) AS n_chars_before,
           CAST(length(regexp_replace(text, '{_PII_PATTERN}',
                                      '{_PII_TOKEN}', 'g')) AS BIGINT)
             AS n_chars_after,
           md5(regexp_replace(text, '{_PII_PATTERN}',
                              '{_PII_TOKEN}', 'g')) AS redacted_md5
    FROM documents
    """,
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deny-list sensitive-term redaction — the scrubbing pass every
    training-data pipeline runs before text leaves curation: replace every
    whole-word match of the deny list with a placeholder token, and report
    per-document hit counts plus a content hash of the redacted text (the
    hash is what a downstream exact-dedup pass would key on, so redaction
    and dedup compose).

    One compiled alternation regex over the raw text: a narrow map with NO
    shuffle, no join, no UDF — fully pushed into the scan stage, so cost is
    one pass over corpus bytes at any scale.  Both engines run the same
    pattern (word-boundary alternation is identical in Java regex and
    RE2); hit counts are exact integers and the redacted text is compared
    by md5, so the whole row is engine-exact.  At production list sizes
    (thousands of terms) the alternation compiles into a trie-backed
    automaton (or an Aho-Corasick pandas UDF takes over) — the plan shape,
    a stateless per-row map, does not change."""
    redacted = F.regexp_replace(F.col("text"), _PII_PATTERN, _PII_TOKEN)
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_PII_PATTERN))
        .cast("long")
        .alias("n_hits"),
        F.length("text").cast("long").alias("n_chars_before"),
        F.length(redacted).cast("long").alias("n_chars_after"),
        F.md5(redacted).alias("redacted_md5"),
    )


# --------------------------------------------------------------------------
# Collocation mining (positive-PMI phrase candidates)
# --------------------------------------------------------------------------

_COLLOC_MIN_COUNT = 5  # PMI is unstable on rare pairs; the standard floor


@register(
    "q_collocations",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {sql_tokens()} AS ts FROM documents),
    bg AS (
        SELECT unnest(list_transform(range(1, len(ts)),
                                     i -> ts[i] || ' ' || ts[i+1])) AS bigram
        FROM toks
    ),
    c12 AS (
        SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cnt12
        FROM bg GROUP BY bigram
    ),
    uni1 AS (
        SELECT split_part(bigram, ' ', 1) AS w, CAST(SUM(cnt12) AS BIGINT) AS cnt
        FROM c12 GROUP BY 1
    ),
    uni2 AS (
        SELECT split_part(bigram, ' ', 2) AS w, CAST(SUM(cnt12) AS BIGINT) AS cnt
        FROM c12 GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(cnt12) AS BIGINT) AS n FROM c12),
    pmi AS (
        SELECT c.bigram, c.cnt12,
               CAST(length(bin((c.cnt12 * t.n) // (u1.cnt * u2.cnt))) - 1
                    AS BIGINT) AS pmi_bits
        FROM c12 c
        JOIN uni1 u1 ON u1.w = split_part(c.bigram, ' ', 1)
        JOIN uni2 u2 ON u2.w = split_part(c.bigram, ' ', 2)
        CROSS JOIN tot t
        WHERE c.cnt12 >= {_COLLOC_MIN_COUNT}
          AND c.cnt12 * t.n >= u1.cnt * u2.cnt
    )
    SELECT bigram, cnt12, pmi_bits FROM pmi
    """,
)
def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation (phrase-candidate) mining: bigrams whose joint frequency
    meets or beats the independence expectation, scored by integer-log2
    PMI bits, with the standard min-count floor — the word2vec-phrases
    primitive that turns "new york"-style glue pairs into single tokens
    before tokenizer
    training.  The lexicon keeps every min-count pair AT OR ABOVE
    independence (cnt12 * N >= cnt1 * cnt2 — integer cross-multiplication)
    and reports its integer-log2 PMI in bits; a release picks its glue
    threshold from the bits column (this corpus is near-independent word
    salad, so >= 1-bit pairs are rare by construction — the contract is
    the filter arithmetic, not this corpus's lexicon size).  Complements
    q_bpe_merge_candidates (raw adjacent-pair frequency: finds COMMON
    pairs) and q_doc_bigram_lm (per-doc conditional surprisal): PMI
    normalizes by both unigram frequencies, so it finds
    STRONGLY-ASSOCIATED pairs regardless of their absolute rate.

    Exactness: PMI's log2 is the INTEGER log2 of the integer quotient
    (cnt12 * N) // (cnt_w1 * cnt_w2) — all counts derive from the one
    bigram relation (unigram counts are the bigram relation grouped by
    each position, so numerator and denominator share a universe and the
    ratio is the textbook PMI over bigram events).  cnt12 * N stays well
    inside BIGINT (1e9-token corpus x 1e6-count pair = 1e15); the
    positive-association filter is the integer cross-multiplication
    cnt12 * N >= cnt1 * cnt2, so nothing floats anywhere (Class A).

    Scale shape: one combinable groupBy over exploded bigrams (the
    Zipf-bounded distinct-bigram relation), two vocabulary-sized groupBys
    OF that relation, the 1-row total broadcast, and two metadata joins on
    the unigram key.  Output is the filtered collocation lexicon —
    vocabulary-scale, never corpus-scale."""
    docs = t(spark, sf_dir, "documents").select("doc_id", tokens().alias("ts"))
    bg = spread(
        docs.select(
            F.explode(
                F.expr(
                    "transform(slice(ts, 1, size(ts) - 1),"
                    " (x, i) -> concat(x, ' ', element_at(ts, i + 2)))"
                )
            ).alias("bigram")
        ),
        spark,
    )
    from ._util import persist_tracked

    # r11-opt: the bigram-count relation feeds the context rollup and the
    # per-bigram bits join; unpersisted it re-ran the bigram explode twice.
    c12 = persist_tracked(
        bg.groupBy("bigram").agg(
            F.count(F.lit(1)).cast("long").alias("cnt12")
        )
    )
    c12 = persist_tracked(c12)
    uni = c12.groupBy(
        F.substring_index("bigram", " ", 1).alias("w")
    ).agg(F.sum("cnt12").cast("long").alias("cnt"))
    uni2 = c12.groupBy(
        F.substring_index("bigram", " ", -1).alias("w")
    ).agg(F.sum("cnt12").cast("long").alias("cnt"))
    # Unigram occurrences over bigram EVENTS: as first position + as second
    # position — two groupBys of the same metadata relation; PMI's
    # denominator uses position-marginal counts (u1 from position 1, u2
    # from position 2), the exact bigram-event probability model.
    tot = c12.agg(F.sum("cnt12").cast("long").alias("n"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("cnt").alias("cnt1"))
    u2 = uni2.select(F.col("w").alias("w2"), F.col("cnt").alias("cnt2"))
    joined = (
        c12.filter(F.col("cnt12") >= _COLLOC_MIN_COUNT)
        .withColumn("w1", F.substring_index("bigram", " ", 1))
        .withColumn("w2", F.substring_index("bigram", " ", -1))
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("cnt12") * F.col("n") >= F.col("cnt1") * F.col("cnt2"))
        .select(
            "bigram",
            "cnt12",
            (
                F.length(
                    F.bin(F.expr("(cnt12 * n) div (cnt1 * cnt2)"))
                )
                - 1
            )
            .cast("long")
            .alias("pmi_bits"),
        )
    )
    return joined


# --------------------------------------------------------------------------
# Composed release gate (the keep/drop verdict a corpus release ships)
# --------------------------------------------------------------------------

_GATE_MIN_TOKENS = 20
_GATE_TTR_NUM, _GATE_TTR_DEN = 3, 10  # type/token ratio >= 0.3, cross-mult
# Corpus-calibrated information dials (every release tunes its gate to its
# own corpus distributions): mean unigram surprisal >= 4.03 bits and mean
# bigram conditional surprisal >= 4.3 bits, both applied as exact integer
# cross-multiplications against the component relations' BIGINT sums.
_GATE_UNI_C, _GATE_UNI_D = 403, 100  # sum_bits * 100 >= 403 * n_tokens
_GATE_BI_C, _GATE_BI_D = 43, 10     # bg_sum_bits * 10 >= 43 * n_bigrams


def _quality_gate_oracle() -> str:
    from ..plans import registry as _reg

    return f"""
    WITH tstats AS ({_reg._REGISTRY["text_token_stats"].oracle}),
    surp AS ({_reg._REGISTRY["q_doc_surprisal"].oracle}),
    bglm AS ({_reg._REGISTRY["q_doc_bigram_lm"].oracle}),
    gated AS (
        SELECT t.doc_id, t.n_tokens,
               CASE WHEN t.n_tokens < {_GATE_MIN_TOKENS} THEN 1 ELSE 0 END
                 AS f_short,
               CASE WHEN t.n_unique_tokens * {_GATE_TTR_DEN}
                         < t.n_tokens * {_GATE_TTR_NUM} THEN 1 ELSE 0 END
                 AS f_ttr,
               CASE WHEN COALESCE(s.sum_bits * {_GATE_UNI_D}
                                  < {_GATE_UNI_C} * s.n_tokens, FALSE)
                    THEN 1 ELSE 0 END AS f_lowinfo,
               CASE WHEN COALESCE(b.sum_bits * {_GATE_BI_D}
                                  < {_GATE_BI_C} * b.n_bigrams, FALSE)
                    THEN 1 ELSE 0 END AS f_templated
        FROM tstats t
        LEFT JOIN surp s ON s.doc_id = t.doc_id
        LEFT JOIN bglm b ON b.doc_id = t.doc_id
    )
    SELECT doc_id, n_tokens,
           CAST(CASE WHEN f_short + f_ttr + f_lowinfo + f_templated = 0
                     THEN 1 ELSE 0 END AS BIGINT) AS keep,
           CAST(f_short + 2 * f_ttr + 4 * f_lowinfo + 8 * f_templated
                AS BIGINT) AS reason_mask
    FROM gated
    """


@register(
    "q_quality_gate",
    oracle=_quality_gate_oracle(),
)
def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed keep/drop RELEASE GATE — the verdict table a corpus
    release actually ships, folding three registered quality signals into
    one row per document: minimum length (n_tokens >= 20), lexical
    diversity (type/token ratio >= 0.3 as the integer cross-multiplication
    n_unique * 10 >= n_tokens * 3), unigram information density (mean
    surprisal >= 4.03 bits over q_doc_surprisal's exact BIGINT sums), and
    bigram predictability (mean conditional surprisal >= 4.3 bits over
    q_doc_bigram_lm's sums).  `keep` is the AND of the four rules;
    `reason_mask` is the failure bitmask (1=short, 2=low-TTR, 4=low-info,
    8=templated) a curator histograms to see WHY the corpus shrinks — the
    C4/Gopher-style filter cascade as one auditable table.  The two
    information dials are CORPUS-CALIBRATED (chosen from this corpus's
    measured quartiles, as every release tunes its gate to its own
    distributions) and applied as exact integer cross-multiplications, so
    no rule ever bins a raw double (Class A; FLOAT_QUALS.md).

    Composition discipline: the Spark side calls the three REGISTERED
    builders and joins on doc_id; the oracle splices those specs' oracle
    SQL in verbatim as CTEs (the q_dedup_cluster_stats precedent), so each
    signal's definition exists ONCE per engine and the gate cannot drift
    from its inputs.  Documents too short for a bigram row pass that rule
    by default (no evidence is not a failure), identical on both engines.

    Scale shape: three already-scale-safe annotate pipelines (each a
    combinable groupBy + metadata join — see their own docstrings) joined
    on the uniform doc_id key; the gate adds two doc-keyed joins and a
    narrow map.  At 100 TB the inputs are what a pipeline materializes as
    tables anyway, and the gate is one co-partitioned three-way join."""
    tstats = text_token_stats(spark, sf_dir).select(
        "doc_id", "n_tokens", "n_unique_tokens"
    )
    surp = q_doc_surprisal(spark, sf_dir).select(
        "doc_id",
        F.col("sum_bits").alias("u_sum_bits"),
        F.col("n_tokens").alias("u_n_tokens"),
    )
    bglm = q_doc_bigram_lm(spark, sf_dir).select(
        "doc_id",
        F.col("sum_bits").alias("b_sum_bits"),
        F.col("n_bigrams").alias("b_n_bigrams"),
    )
    f_short = (F.col("n_tokens") < _GATE_MIN_TOKENS).cast("long")
    f_ttr = (
        F.col("n_unique_tokens") * _GATE_TTR_DEN
        < F.col("n_tokens") * _GATE_TTR_NUM
    ).cast("long")
    f_lowinfo = F.coalesce(
        (
            F.col("u_sum_bits") * _GATE_UNI_D
            < F.lit(_GATE_UNI_C) * F.col("u_n_tokens")
        ).cast("long"),
        F.lit(0),
    )
    f_templated = F.coalesce(
        (
            F.col("b_sum_bits") * _GATE_BI_D
            < F.lit(_GATE_BI_C) * F.col("b_n_bigrams")
        ).cast("long"),
        F.lit(0),
    )
    return (
        tstats.join(surp, "doc_id", "left")
        .join(bglm, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.when(f_short + f_ttr + f_lowinfo + f_templated == 0, 1)
            .otherwise(0)
            .cast("long")
            .alias("keep"),
            (f_short + 2 * f_ttr + 4 * f_lowinfo + 8 * f_templated)
            .cast("long")
            .alias("reason_mask"),
        )
    )


# --------------------------------------------------------------------------
# Within-document repetition filters (the MassiveText/Gopher family)
# --------------------------------------------------------------------------

# Integer cross-multiplied thresholds (share > num/den), after the published
# repetition-filter recipe (Rae et al. 2021, MassiveText, Appendix A1.1):
# most-frequent token share > 0.20, most-frequent bigram share > 0.18,
# duplicated-trigram instance share > 0.30.
_REP_TOP1_NUM, _REP_TOP1_DEN = 1, 5
_REP_TOP2_NUM, _REP_TOP2_DEN = 9, 50
_REP_DUP3_NUM, _REP_DUP3_DEN = 3, 10


@register(
    "q_doc_repetition",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {sql_tokens()} AS ts FROM documents),
    t1 AS (
        SELECT doc_id, unnest(ts) AS term FROM toks
    ),
    c1 AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM t1 GROUP BY 1, 2
    ),
    d1 AS (
        SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
               CAST(MAX(cnt) AS BIGINT) AS top_token_cnt
        FROM c1 GROUP BY 1
    ),
    t2 AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ts)),
                                     i -> ts[i] || ' ' || ts[i+1])) AS bigram
        FROM toks
    ),
    c2 AS (
        SELECT doc_id, bigram, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM t2 GROUP BY 1, 2
    ),
    d2 AS (
        SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
               CAST(MAX(cnt) AS BIGINT) AS top_bigram_cnt
        FROM c2 GROUP BY 1
    ),
    t3 AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ts) - 1),
                                     i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))
                 AS trigram
        FROM toks
    ),
    c3 AS (
        SELECT doc_id, trigram, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM t3 GROUP BY 1, 2
    ),
    d3 AS (
        SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_trigrams,
               CAST(SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT)
                 AS dup_trigram_cnt
        FROM c3 GROUP BY 1
    ),
    j AS (
        SELECT d1.doc_id, d1.n_tokens, d1.top_token_cnt,
               COALESCE(d2.n_bigrams, 0) AS n_bigrams,
               COALESCE(d2.top_bigram_cnt, 0) AS top_bigram_cnt,
               COALESCE(d3.n_trigrams, 0) AS n_trigrams,
               COALESCE(d3.dup_trigram_cnt, 0) AS dup_trigram_cnt
        FROM d1 LEFT JOIN d2 ON d2.doc_id = d1.doc_id
                LEFT JOIN d3 ON d3.doc_id = d1.doc_id
    )
    SELECT doc_id, n_tokens, top_token_cnt, n_bigrams, top_bigram_cnt,
           n_trigrams, dup_trigram_cnt,
           CAST(top_token_cnt AS DOUBLE) / n_tokens AS top_token_share,
           CASE WHEN n_trigrams = 0 THEN 0.0
                ELSE CAST(dup_trigram_cnt AS DOUBLE) / n_trigrams
           END AS dup_trigram_share,
           CAST(CASE WHEN {_REP_TOP1_DEN} * top_token_cnt
                          > {_REP_TOP1_NUM} * n_tokens THEN 1 ELSE 0 END
                + CASE WHEN {_REP_TOP2_DEN} * top_bigram_cnt
                            > {_REP_TOP2_NUM} * n_bigrams THEN 2 ELSE 0 END
                + CASE WHEN {_REP_DUP3_DEN} * dup_trigram_cnt
                            > {_REP_DUP3_NUM} * n_trigrams THEN 4 ELSE 0 END
             AS BIGINT) AS rep_mask
    FROM j
    """,
)
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition filters — the published MassiveText/Gopher
    repetition battery (most-frequent-token share, most-frequent-bigram
    share, duplicated-trigram instance share) that removes the
    stuck-in-a-loop / keyword-stuffed documents perplexity filters miss
    (a doc repeating one rare phrase scores HIGH on surprisal but is
    worthless training data).  Each signal is an exact integer count; the
    thresshold battery is integer cross-multiplication (FLOAT_QUALS.md
    Class A) packed into a bitmask (1 = top token > 20%, 2 = top bigram >
    18%, 4 = dup trigrams > 30%, the q_quality_gate reason-mask idiom);
    reported shares are single divisions of those integers (Class B).

    Scale shape: three per-(doc, gram) map-side-combinable groupBys — the
    key domain is each DOCUMENT's OWN grams, so partial aggregation does
    nearly all the work scan-side and the shuffled relation is bounded by
    distinct-grams-per-doc, not corpus volume; the rollups then reduce on
    doc_id alone, and the final assembly is two doc-keyed left joins.  No
    cross-document state at all — the filter parallelizes embarrassingly
    at any corpus size (contrast the corpus-level annotate joins of
    q_doc_surprisal: this battery needs NO vocabulary relation)."""
    docs = t(spark, sf_dir, "documents").select("doc_id", tokens().alias("ts"))
    t1 = spread(
        docs.select("doc_id", F.explode("ts").alias("term")), spark, "doc_id"
    )
    d1 = (
        t1.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.max("cnt").cast("long").alias("top_token_cnt"),
        )
    )
    bg = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(ts, 1, greatest(size(ts) - 1, 0)),"
                " (x, i) -> concat(x, ' ', element_at(ts, i + 2)))"
            )
        ).alias("bigram"),
    )
    d2 = (
        bg.groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_bigrams"),
            F.max("cnt").cast("long").alias("top_bigram_cnt"),
        )
    )
    tg = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(ts, 1, greatest(size(ts) - 2, 0)),"
                " (x, i) -> concat(x, ' ', element_at(ts, i + 2),"
                "                  ' ', element_at(ts, i + 3)))"
            )
        ).alias("trigram"),
    )
    d3 = (
        tg.groupBy("doc_id", "trigram")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_trigrams"),
            F.sum(F.when(F.col("cnt") >= 2, F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("dup_trigram_cnt"),
        )
    )
    j = (
        d1.join(d2, "doc_id", "left")
        .join(d3, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "top_token_cnt",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("top_bigram_cnt", F.lit(0)).alias("top_bigram_cnt"),
            F.coalesce("n_trigrams", F.lit(0)).alias("n_trigrams"),
            F.coalesce("dup_trigram_cnt", F.lit(0)).alias("dup_trigram_cnt"),
        )
    )
    return j.select(
        "doc_id",
        "n_tokens",
        "top_token_cnt",
        "n_bigrams",
        "top_bigram_cnt",
        "n_trigrams",
        "dup_trigram_cnt",
        (F.col("top_token_cnt").cast("double") / F.col("n_tokens")).alias(
            "top_token_share"
        ),
        F.when(F.col("n_trigrams") == 0, F.lit(0.0))
        .otherwise(
            F.col("dup_trigram_cnt").cast("double") / F.col("n_trigrams")
        )
        .alias("dup_trigram_share"),
        (
            F.when(
                _REP_TOP1_DEN * F.col("top_token_cnt")
                > _REP_TOP1_NUM * F.col("n_tokens"),
                1,
            ).otherwise(0)
            + F.when(
                _REP_TOP2_DEN * F.col("top_bigram_cnt")
                > _REP_TOP2_NUM * F.col("n_bigrams"),
                2,
            ).otherwise(0)
            + F.when(
                _REP_DUP3_DEN * F.col("dup_trigram_cnt")
                > _REP_DUP3_NUM * F.col("n_trigrams"),
                4,
            ).otherwise(0)
        )
        .cast("long")
        .alias("rep_mask"),
    )


# --------------------------------------------------------------------------
# Prefix-boilerplate duplicate groups
# --------------------------------------------------------------------------

_PREFIX_DUP_TOKENS = 16  # header length that defines a shared boilerplate


@register(
    "q_doc_prefix_dup",
    oracle=f"""
    WITH p AS (
        SELECT doc_id,
               md5(array_to_string(
                   ({sql_tokens()})[1:{_PREFIX_DUP_TOKENS}], ' ')) AS prefix_md5
        FROM documents
    )
    SELECT prefix_md5,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS survivor_doc_id,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dup_docs
    FROM p GROUP BY prefix_md5 HAVING COUNT(*) >= 2
    """,
)
def q_doc_prefix_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-prefix (boilerplate header) duplicate groups: documents whose
    first {_PREFIX_DUP_TOKENS} tokens hash identically, grouped with a
    min-doc_id survivor — the cheap screen for template/header duplication
    that whole-document exact dedup misses (bodies differ) and pairwise
    near-dup runs too expensively to find (crawl corpora share navigation
    headers across millions of otherwise-distinct pages).  22 groups at
    sf0.01.  md5 prefix hashing is the portable-hash contract
    (functions/text.py); survivor selection is MIN(doc_id), an
    order-independent exact aggregate.

    Scale shape: one narrow scan-stage projection (slice + concat + md5 —
    no explode, the prefix is bounded at {_PREFIX_DUP_TOKENS} tokens
    regardless of document length) into a single map-side-combinable
    groupBy on the uniform 128-bit key; the HAVING prunes the unique mass
    before anything leaves the aggregate.  The same shape at 100 TB: cost
    is one scan plus a combiner shuffle of distinct prefix hashes."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.slice(tokens(), 1, _PREFIX_DUP_TOKENS))
        ).alias("prefix_md5"),
    )
    return (
        docs.groupBy("prefix_md5")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("survivor_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(
            "prefix_md5",
            "n_docs",
            "survivor_doc_id",
            (F.col("n_docs") - 1).cast("long").alias("n_dup_docs"),
        )
    )


# --------------------------------------------------------------------------
# Corpus frequency-spectrum (Zipf) profile
# --------------------------------------------------------------------------


@register(
    "q_zipf_profile",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({sql_tokens()}) AS term FROM documents
    ),
    cnts AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY 1
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS vocab,
               CAST(SUM(cnt) AS BIGINT) AS total_tokens
        FROM cnts
    ),
    dec AS (
        SELECT CAST(length(bin(cnt)) - 1 AS BIGINT) AS freq_decade,
               CAST(COUNT(*) AS BIGINT) AS n_terms,
               CAST(SUM(cnt) AS BIGINT) AS n_instances
        FROM cnts GROUP BY 1
    )
    SELECT freq_decade, n_terms, n_instances,
           CAST(n_terms AS DOUBLE) / vocab AS term_share,
           CAST(n_instances AS DOUBLE) / total_tokens AS mass_share
    FROM dec CROSS JOIN tot
    """,
)
def q_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus frequency-spectrum profile — the Zipf-health report a corpus
    curator reads before trusting any frequency-derived signal: for each
    integer-log2 frequency decade (floor(log2(term count))), how many
    distinct terms live there and how much token MASS they carry.  A
    healthy natural corpus shows the Zipf signature (term count falling
    ~geometrically per decade while mass stays spread); a scrape gone
    wrong shows up instantly as a bulge (template spam inflates one high
    decade) or a missing hapax tail (over-aggressive dedup).  The decade
    is the repo's integer log2 (length(bin(n)) - 1) — exact BIGINT
    end-to-end; the two share columns are single divisions of exact
    integers (FLOAT_QUALS.md Class B, reported only).

    Scale shape: one map-side-combinable term-count groupBy (the same
    Zipf-bounded vocabulary relation q_doc_surprisal builds), then a
    SECOND tiny groupBy OF that metadata relation onto ~20 decade keys
    with the 1-row totals broadcast — the output is constant-size (≤64
    rows) at any corpus size, and nothing after the first aggregate
    touches corpus volume."""
    toks = spread(
        t(spark, sf_dir, "documents").select(
            F.explode(tokens()).alias("term")
        ),
        spark,
    )
    cnts = toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tot = cnts.agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum("cnt").cast("long").alias("total_tokens"),
    )
    dec = (
        cnts.select(
            (F.length(F.bin(F.col("cnt"))) - 1)
            .cast("long")
            .alias("freq_decade"),
            "cnt",
        )
        .groupBy("freq_decade")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("cnt").cast("long").alias("n_instances"),
        )
    )
    return dec.crossJoin(F.broadcast(tot)).select(
        "freq_decade",
        "n_terms",
        "n_instances",
        (F.col("n_terms").cast("double") / F.col("vocab")).alias(
            "term_share"
        ),
        (
            F.col("n_instances").cast("double") / F.col("total_tokens")
        ).alias("mass_share"),
    )


# --------------------------------------------------------------------------
# Per-language tokenizer fertility report
# --------------------------------------------------------------------------

@register(
    "q_tokenizer_fertility",
    oracle=f"""
    WITH d AS (
        SELECT lang,
               CAST(len({sql_tokens()}) AS BIGINT) AS n_ws,
               CAST(len(regexp_extract_all(text,
                    '{_BPEISH_RE}')) AS BIGINT) AS n_bp,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_ws) AS BIGINT) AS n_ws_tokens,
           CAST(SUM(n_bp) AS BIGINT) AS n_bpeish_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(n_bp) AS DOUBLE) / SUM(n_ws) AS fertility,
           CAST(SUM(n_chars) AS DOUBLE) / SUM(n_ws) AS chars_per_word
    FROM d GROUP BY lang
    """,
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility — subword tokens emitted per
    whitespace word, the dial that decides whether a tokenizer taxes some
    languages with 2-3x the sequence length (and therefore 2-3x the
    training/serving cost per sentence): the multilingual-pipeline report
    read before fixing a vocabulary.  Uses the same GPT-2-style
    pre-tokenizer regex as text_bpeish_tokens (restricted to the class
    syntax where Java regex and RE2/DuckDB agree) over the whitespace
    word count; both token counts and char mass are exact BIGINT sums,
    the two ratios single reported divisions (FLOAT_QUALS.md Class B).

    Scale shape: one stateless scan-stage projection (two regexp_counts +
    a length) into a map-side-combinable groupBy on the bounded lang
    key — output is |langs| rows at any corpus size, no join, no second
    pass."""
    d = t(spark, sf_dir, "documents").select(
        "lang",
        F.size(tokens()).cast("long").alias("n_ws"),
        F.regexp_count("text", F.lit(_BPEISH_RE)).cast("long").alias("n_bp"),
        F.length("text").cast("long").alias("n_chars_doc"),
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_ws").cast("long").alias("n_ws_tokens"),
        F.sum("n_bp").cast("long").alias("n_bpeish_tokens"),
        F.sum("n_chars_doc").cast("long").alias("n_chars"),
        (F.sum("n_bp").cast("double") / F.sum("n_ws")).alias("fertility"),
        (F.sum("n_chars_doc").cast("double") / F.sum("n_ws")).alias(
            "chars_per_word"
        ),
    )


# --------------------------------------------------------------------------
# CCNet-style perplexity bucketing (head / middle / tail per language)
# --------------------------------------------------------------------------

_PPL_BUCKETS = 3  # CCNet's head/middle/tail split
_PPL_QKEY_SCALE = 1_000_000  # integer mean-surprisal key: (1e6*sum_bits) div n


@register(
    "q_perplexity_buckets",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({sql_tokens()}) AS term FROM documents
    ),
    cnts AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY term
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM toks),
    tsurp AS (
        SELECT term, CAST(length(bin(total // cnt)) - 1 AS BIGINT) AS bits
        FROM cnts CROSS JOIN tot
    ),
    per_doc AS (
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(s.bits) AS BIGINT) AS sum_bits
        FROM toks t JOIN tsurp s ON s.term = t.term
        GROUP BY t.doc_id
    ),
    keyed AS (
        SELECT d.lang, p.doc_id, p.n_tokens, p.sum_bits,
               ({_PPL_QKEY_SCALE} * p.sum_bits) // p.n_tokens AS surp_q
        FROM documents d JOIN per_doc p ON p.doc_id = d.doc_id
    ),
    bucketed AS (
        SELECT *, NTILE({_PPL_BUCKETS}) OVER (
                      PARTITION BY lang ORDER BY surp_q, doc_id) AS tert
        FROM keyed
    )
    SELECT lang,
           CASE tert WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(sum_bits) AS BIGINT) AS sum_bits,
           CAST(CAST(SUM(sum_bits) AS BIGINT) AS DOUBLE)
             / CAST(SUM(n_tokens) AS BIGINT) AS mean_bits,
           CAST(MIN(surp_q) AS BIGINT) AS min_surp_q,
           CAST(MAX(surp_q) AS BIGINT) AS max_surp_q
    FROM bucketed GROUP BY 1, 2
    """,
)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): within each
    language, rank documents by mean per-token surprisal against the
    corpus unigram model and split them into head / middle / tail
    tertiles — the standard quality stratification a web-scale pipeline
    applies before mixing (train mostly on head+middle, hold tail for
    targeted filtering), reported here as the per-(lang, bucket) census a
    curator signs off on: doc/token/bit mass plus the exact integer
    surprisal cutoffs each bucket spans.

    The per-doc score reuses q_doc_surprisal's exact-BIGINT unigram model
    (integer log2 via length(bin(total // cnt)) - 1); the ranking key is
    the cleared-denominator integer ({_PPL_QKEY_SCALE} * sum_bits) div
    n_tokens — mean surprisal at 1e-6 resolution with NO double division
    anywhere near the order (the FLOAT_QUALS Class-A pattern), ties broken
    by doc_id, so the NTILE boundary is deterministic cross-engine.

    Scale shape: the unigram model is the Zipf-bounded vocabulary relation
    (metadata-sized), the per-doc rollup one term-keyed annotate join —
    both inherited from q_doc_surprisal.  The NTILE is ONE ranking per
    language over an integer key: at 100 TB that is the distributed
    two-phase rank q_customer_rfm already carries (partition-wise
    pre-rank + boundary merge on the bounded lang key); in production the
    tertile CUTOFFS are computed once on a sample and re-applied as
    stateless comparisons — this spec IS the exact-census anchor such a
    sampled path is validated against.  Output is |langs| x {_PPL_BUCKETS}
    rows at any corpus size."""
    from ._util import persist_tracked

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens()).alias("term")
    )
    docs = spread(docs, spark, "doc_id")
    # r11-opt: the vocabulary relation feeds the total AND the per-term
    # surprisal, and the total is just SUM(cnt) over it — the previous
    # corpus-wide count re-ran the token explode a third time.
    cnts = persist_tracked(
        docs.groupBy("term").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
    )
    tot = cnts.agg(F.sum("cnt").cast("long").alias("total"))
    bits = (F.length(F.bin(F.expr("total div cnt"))) - 1).cast("long")
    tsurp = cnts.crossJoin(F.broadcast(tot)).select("term", bits.alias("bits"))
    per_doc = (
        docs.join(tsurp, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("bits").cast("long").alias("sum_bits"),
        )
    )
    keyed = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .join(per_doc, "doc_id")
        .withColumn(
            "surp_q",
            F.expr(f"({_PPL_QKEY_SCALE} * sum_bits) div n_tokens"),
        )
    )
    w = Window.partitionBy("lang").orderBy("surp_q", "doc_id")
    bucketed = keyed.withColumn("tert", F.ntile(_PPL_BUCKETS).over(w))
    return (
        bucketed.groupBy(
            "lang",
            F.when(F.col("tert") == 1, "head")
            .when(F.col("tert") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("sum_bits").cast("long").alias("sum_bits"),
            (
                F.sum("sum_bits").cast("double")
                / F.sum("n_tokens").cast("double")
            ).alias("mean_bits"),
            F.min("surp_q").cast("long").alias("min_surp_q"),
            F.max("surp_q").cast("long").alias("max_surp_q"),
        )
    )


# --------------------------------------------------------------------------
# Gopher-style quality-rule battery (per-source census)
# --------------------------------------------------------------------------

# The "at least 2 of these must appear" stop-list from the Gopher rules
# (Rae et al. 2021, "Scaling Language Models: ... Gopher", Appendix A1.1).
_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
# Published word-count gate [50, 100k]; this corpus's docs span 10-99 words,
# so the lower bound discriminates (the census is not a constant column).
_GOPHER_MIN_WORDS = 50
_GOPHER_MAX_WORDS = 100_000


@register(
    "q_gopher_rules",
    oracle=f"""
    WITH feat AS (
        SELECT source,
               len({sql_tokens()}) AS n_words,
               CAST(list_sum(list_transform({sql_tokens()},
                    w -> length(w))) AS BIGINT) AS word_chars,
               len(list_filter({sql_tokens()},
                    w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
               len(list_filter({sql_tokens()},
                    w -> list_contains({list(_GOPHER_STOPS)}, lower(w))))
                 AS n_stop,
               (length(text) - length(replace(text, '#', '')))
                 + (length(text) - length(replace(text, '...', ''))) // 3
                 AS n_symbols
        FROM documents
    ),
    rules AS (
        SELECT source,
               CASE WHEN n_words BETWEEN {_GOPHER_MIN_WORDS} AND
                         {_GOPHER_MAX_WORDS} THEN 0 ELSE 1 END AS f_wordcount,
               CASE WHEN 3 * n_words <= word_chars
                     AND word_chars <= 10 * n_words THEN 0 ELSE 1
                 END AS f_meanlen,
               CASE WHEN 5 * n_alpha >= 4 * n_words THEN 0 ELSE 1
                 END AS f_alpha,
               CASE WHEN n_stop >= 2 THEN 0 ELSE 1 END AS f_stopword,
               CASE WHEN 10 * n_symbols <= n_words THEN 0 ELSE 1
                 END AS f_symbol
        FROM feat
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(f_wordcount) AS BIGINT) AS fail_wordcount,
           CAST(SUM(f_meanlen) AS BIGINT) AS fail_meanlen,
           CAST(SUM(f_alpha) AS BIGINT) AS fail_alpha,
           CAST(SUM(f_stopword) AS BIGINT) AS fail_stopword,
           CAST(SUM(f_symbol) AS BIGINT) AS fail_symbol,
           CAST(SUM(CASE WHEN f_wordcount + f_meanlen + f_alpha
                              + f_stopword + f_symbol = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all
    FROM rules GROUP BY source
    """,
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source census of the Gopher quality-rule battery (Rae et al.
    2021, Appendix A1.1, adapted to this corpus's scale): word count in
    [{_GOPHER_MIN_WORDS}, {_GOPHER_MAX_WORDS}], mean word length in [3, 10],
    >= 80% of words containing an alphabetic character, >= 2 hits from the
    canonical 8-word stop list, and a <= 0.1 symbol-to-word ratio
    ('#' + '...').  Output: per-rule fail counts plus the pass-all count —
    the per-source report a curation run reads before choosing which rules
    to tighten.

    Unlike text_quality_score (a per-doc soft score), every qualification
    here is exact integer arithmetic: mean-word-length and ratio bounds are
    cross-multiplied (3*n <= chars <= 10*n; 5*alpha >= 4*n; 10*sym <= n),
    so no Class-B/C float boundary exists anywhere (FLOAT_QUALS.md
    doctrine).

    Scale shape: one scan-stage projection computing five integers per
    document (array HOFs inside whole-stage codegen, no explode — the
    token relation never materializes), then one map-side-combinable
    groupBy on the |sources| catalog key.  Nothing downstream of the scan
    touches corpus volume; at 100 TB this is a single pass."""
    ts = tokens()
    stop_arr = F.array(*[F.lit(w) for w in _GOPHER_STOPS])
    n_words = F.size(ts)
    word_chars = F.aggregate(
        F.transform(ts, lambda w: F.length(w)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_alpha = F.size(F.filter(ts, lambda w: w.rlike("[A-Za-z]")))
    n_stop = F.size(F.filter(ts, lambda w: F.array_contains(stop_arr, F.lower(w))))
    n_symbols = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
    ) + (
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit("..."))))
        / F.lit(3)
    ).cast("long")
    feat = t(spark, sf_dir, "documents").select(
        "source",
        n_words.alias("n_words"),
        word_chars.alias("word_chars"),
        n_alpha.alias("n_alpha"),
        n_stop.alias("n_stop"),
        n_symbols.alias("n_symbols"),
    )
    fail = lambda cond: F.when(cond, 0).otherwise(1)  # noqa: E731
    rules = feat.select(
        "source",
        fail(
            F.col("n_words").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
        ).alias("f_wordcount"),
        fail(
            (3 * F.col("n_words") <= F.col("word_chars"))
            & (F.col("word_chars") <= 10 * F.col("n_words"))
        ).alias("f_meanlen"),
        fail(5 * F.col("n_alpha") >= 4 * F.col("n_words")).alias("f_alpha"),
        fail(F.col("n_stop") >= 2).alias("f_stopword"),
        fail(10 * F.col("n_symbols") <= F.col("n_words")).alias("f_symbol"),
    )
    all_pass = (
        F.col("f_wordcount") + F.col("f_meanlen") + F.col("f_alpha")
        + F.col("f_stopword") + F.col("f_symbol")
        == 0
    )
    return rules.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("f_wordcount").cast("long").alias("fail_wordcount"),
        F.sum("f_meanlen").cast("long").alias("fail_meanlen"),
        F.sum("f_alpha").cast("long").alias("fail_alpha"),
        F.sum("f_stopword").cast("long").alias("fail_stopword"),
        F.sum("f_symbol").cast("long").alias("fail_symbol"),
        F.sum(F.when(all_pass, 1).otherwise(0)).cast("long").alias("n_pass_all"),
    )


# --------------------------------------------------------------------------
# Lexical diversity (micro-averaged TTR by length bucket)
# --------------------------------------------------------------------------

_TTR_BUCKET_W = 20  # tokens per length bucket
_TTR_MAX_BUCKET = 9


@register(
    "q_lexical_diversity",
    oracle=f"""
    WITH d AS (
        SELECT least(len({sql_tokens()}) // {_TTR_BUCKET_W},
                     {_TTR_MAX_BUCKET}) AS bucket,
               CAST(len({sql_tokens()}) AS BIGINT) AS n_tok,
               CAST(len(list_distinct({sql_tokens()})) AS BIGINT) AS n_uniq
        FROM documents
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
           CAST(SUM(n_uniq) AS BIGINT) AS sum_distinct,
           CAST(SUM(n_uniq) AS DOUBLE) / SUM(n_tok) AS ttr_micro
    FROM d GROUP BY bucket
    """,
)
def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-averaged type-token ratio by document-length bucket — the
    lexical-diversity curve a curation run reads to spot template/boiler
    plate strata (low TTR at a given length) and to calibrate length-
    normalized diversity filters; TTR falls with length by Heaps' law, so
    a single corpus-wide TTR is meaningless — this is the per-stratum
    version.  Buckets are {_TTR_BUCKET_W}-token-wide, capped at bucket
    {_TTR_MAX_BUCKET}; micro-averaged = SUM(distinct)/SUM(tokens) per
    bucket (exact BIGINT sums; one deterministic double division at the
    end), not a mean of per-doc ratios, so the aggregation is
    map-side-combinable and order-free.

    Scale shape: scan-stage array HOFs (size + array_distinct, no
    explode), one groupBy on a 10-key bucket domain.  Single pass at any
    corpus size."""
    ts = tokens()
    n_tok = F.size(ts).cast("long")
    n_uniq = F.size(F.array_distinct(ts)).cast("long")
    d = t(spark, sf_dir, "documents").select(
        F.least(
            (F.size(ts) / F.lit(_TTR_BUCKET_W)).cast("long"),
            F.lit(_TTR_MAX_BUCKET).cast("long"),
        ).alias("bucket"),
        n_tok.alias("n_tok"),
        n_uniq.alias("n_uniq"),
    )
    return d.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("sum_tokens"),
        F.sum("n_uniq").cast("long").alias("sum_distinct"),
        (F.sum("n_uniq").cast("double") / F.sum("n_tok")).alias("ttr_micro"),
    )


# --------------------------------------------------------------------------
# Linear quality-classifier inference (the fastText/DCLM filter shape)
# --------------------------------------------------------------------------
#
# The other standard model-based quality filter beside the CCNet
# perplexity buckets (q_perplexity_buckets): a LINEAR classifier over
# hashed bag-of-words features — the fastText architecture DataComp/DCLM
# and LLaMA's quality filters use.  The operator is the INFERENCE shape:
# (1) the hashing trick maps every token to one of 2^16 feature ids at
# scan time; (2) the model is a 65,536-row (feature, weight) RELATION
# that broadcasts like any dimension — swap in trained weights and
# nothing else changes; (3) scoring is one broadcast hash join plus a
# per-doc combinable sum; (4) the verdict census per source is bounded
# output.  Weights here are a deterministic splitmix-derived stand-in
# (the engine ships plumbing, not a model); integer weights in
# [-1000, 1000] with the shift-to-nonnegative division so Spark's `div`
# and DuckDB's `//` agree for negative scores (FLOAT_QUALS doctrine).

_QC_FEATURES = 1 << 16
_QC_SALT = 12345


def qc_token_weights(docs: DataFrame) -> DataFrame:
    """(doc_id, source, w) per token occurrence: the hashing trick plus the
    broadcast weight relation as a stream-static-safe join — no aggregation,
    so the streaming twin can run it ahead of applyInPandasWithState and
    fold per-doc scores inside the stateful kernel instead (a streaming
    groupBy before arbitrary state is unsupported by Spark)."""
    from ..functions.text import mix48

    spark = docs.sparkSession
    weights = F.broadcast(
        spark.range(_QC_FEATURES)
        .select(
            F.col("id").alias("f"),
            (mix48(F.col("id") + _QC_SALT) % 2001 - 1000).alias("w"),
        )
    )
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(tokens()).alias("token"),
    ).select(
        "doc_id",
        "source",
        (hash48(F.col("token")) % _QC_FEATURES).alias("f"),
    )
    return toks.join(weights, "f").select("doc_id", "source", "w")


def qc_scored(docs: DataFrame) -> DataFrame:
    """Per-document classifier scoring (batch form): the qc_token_weights
    relation folded per doc with the shift-to-nonnegative integer
    normalization.  Returns (doc_id, source, n_tokens, score, norm_score).
    The streaming twin folds the same token-weight relation inside its
    stateful kernel with the identical integer arithmetic (pinned
    row-for-row in tests/test_streaming_stateful.py)."""
    return (
        qc_token_weights(docs)
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("w").alias("score"),
        )
        .withColumn(
            "norm_score",
            F.expr("((score + 1000 * n_tokens) div n_tokens) - 1000"),
        )
    )


def _qc_oracle() -> str:
    from ..functions.text import sql_mix48

    w = f"(({sql_mix48(f'(f + {_QC_SALT})')}) % 2001) - 1000"
    tok_f = f"({sql_hash48('token')} % {_QC_FEATURES})"
    return f"""
    WITH weights AS (
        SELECT f, {w} AS w
        FROM (SELECT unnest(range({_QC_FEATURES})) AS f)
    ),
    toks AS (
        SELECT doc_id, source, {tok_f} AS f
        FROM (
            SELECT doc_id, source, unnest({sql_tokens('text')}) AS token
            FROM documents
        )
    ),
    scored AS (
        SELECT t.doc_id, t.source,
               COUNT(*) AS n_tokens,
               SUM(w.w) AS score
        FROM toks t JOIN weights w ON t.f = w.f
        GROUP BY 1, 2
    ),
    verdict AS (
        SELECT doc_id, source,
               ((score + 1000 * n_tokens) // n_tokens) - 1000 AS norm_score
        FROM scored
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN norm_score >= 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keep,
           CAST((SUM(CASE WHEN norm_score >= 0 THEN 1 ELSE 0 END) * 1000000)
                // COUNT(*) AS BIGINT) AS keep_ppm,
           CAST(((SUM(norm_score) + 1000 * COUNT(*)) // COUNT(*)) - 1000
                AS BIGINT) AS avg_score,
           CAST(MIN(norm_score) AS BIGINT) AS min_score,
           CAST(MAX(norm_score) AS BIGINT) AS max_score
    FROM verdict
    GROUP BY source
    """


@register(
    "q_quality_classifier",
    oracle=_qc_oracle(),
    bench=True,
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-linear quality-classifier inference (see block comment): per
    source, how many documents the classifier keeps (normalized score
    >= 0), the keep rate in ppm, and the score distribution's
    avg/min/max.  The per-doc normalized score is an exact BIGINT —
    token-count-shifted integer division makes Spark `div` equal
    DuckDB `//` for negative sums (Class A end-to-end).

    Scale shape: the weight table is model-sized (2^16 rows, ~1 MB) and
    BROADCASTS — inference is a scan-stage broadcast hash join feeding a
    per-doc map-side-combinable sum, then a catalog-bounded census.  At
    100 TB the only fact-scale stages are the token explode and the one
    doc-keyed combine; swapping the splitmix stand-in weights for a
    trained fastText head is a one-relation replacement."""
    scored = qc_scored(t(spark, sf_dir, "documents"))
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("norm_score") >= 0, 1).otherwise(0))
        .cast("long")
        .alias("n_keep"),
        F.expr(
            "(sum(CASE WHEN norm_score >= 0 THEN 1 ELSE 0 END) * 1000000)"
            " div count(*)"
        )
        .cast("long")
        .alias("keep_ppm"),
        F.expr("((sum(norm_score) + 1000 * count(*)) div count(*)) - 1000")
        .cast("long")
        .alias("avg_score"),
        F.min("norm_score").cast("long").alias("min_score"),
        F.max("norm_score").cast("long").alias("max_score"),
    )
