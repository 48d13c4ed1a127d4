"""Deep probe: five flagship operators at 100x the sf0.1 fact volume —
the direct answer to "would this plan survive a 100x scale-up?".  Reuses
scale_probe's replication machinery (same key-offset semantics) and writes
SCALING_100X.md with 1x / 10x / 100x wall clock per query.

Queries are chosen one per load-bearing plan family:
  * q1_pricing_summary   — full-scan exact-decimal aggregation (TPC-H Q1)
  * q_customer_rfm       — three two-phase distributed rankings
  * q_ewma_hourly        — calendar-bounded rollup + bounded fan-out
  * q_dataset_card       — one-pass corpus profile (3 shrinking aggregates)
  * sim_ivfpq_topk       — the composed ANN index (assign+encode+ADC+re-rank)

Usage: python tools/deep_probe.py [base_sf_dir]
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from data_ingestion_ex8_producer_spark.plans.registry import all_specs  # noqa: E402
from data_ingestion_ex8_producer_spark.session import build_session  # noqa: E402
from tools.scale_probe import build_replicated, _time_spec  # noqa: E402

DEEP_QUERIES = (
    "q1_pricing_summary",
    "q_customer_rfm",
    "q_ewma_hourly",
    "q_dataset_card",
    "sim_ivfpq_topk",
    # the dedup scale paths: banded MinHash and the span-df annotate join
    "dedup_minhash_lsh",
    "q_span_dedup",
    # r7: the iterative-graph family (VERDICT r6 #3) — edge building rides
    # the order-basket aggregation (grows with facts) while the iteration
    # shuffles the fixed part-catalog edge list, so the curve should track
    # the edge BUILD, not bend super-linear on the iterations.
    "q_part_pagerank",
    "q_copurchase_triangles",
    # r7 additions: the bigram LM's cost rides the distinct-bigram relation
    # (Zipf-sublinear under replication with per-replica suffix tokens) and
    # the robust MAD report rides two value-HISTOGRAM order statistics (key
    # domain = the 1e-2 value grid, not corpus volume) — the two newest
    # annotate-join / histogram plan families.
    "q_doc_bigram_lm",
    "q_robust_outliers",
    # final r7: the iterative-components composition — dedup_clusters'
    # min-label propagation runs inside it, so this is the 100x answer for
    # the last iterative family (connected components over the capped
    # near-dup graph) plus one doc-keyed left join and the hash split.
    "q_leakage_safe_split",
    # final r7: the composed release gate — three annotate pipelines joined
    # on doc_id; its 100x curve tells whether the composed join shape adds
    # anything beyond the sum of its (individually probed) inputs.
    "q_quality_gate",
    # r8 (VERDICT r7 #8): the two steepest unprobed text curves.  The PMI
    # lexicon's cost rides the distinct-bigram/unigram count relations
    # (Zipf-sublinear under replication) plus one broadcast total; the
    # source-similarity matrix's PAIR space is catalog-bounded (sources x
    # sources), so its 100x point should flatten toward the scan cost.
    "q_collocations",
    "q_source_similarity",
    # late r8: the layout key (pure scan-stage integer map into a bounded
    # groupBy — the family where 100x should cost exactly the scan), the
    # Gopher rule battery (the steepest new text curve at 10x: five array
    # HOFs per doc, |sources| keys), and the co-purchase PMI lexicon
    # (pair fan-out bounded by basket size — the same contract as
    # pagerank's edge build, tested at 100x the basket volume).
    "q_zorder_layout",
    "q_gopher_rules",
    "q_item_pmi_similarity",
    # final r8: the sketch story's 100x answer (the KMV set algebra should
    # flatten toward the distinct-groupBy scan — everything past it is
    # K x catalog metadata), the SQ8 flat-code index (the broadcast-scan
    # family's first 100x point: one narrow integer-kernel pass, expected
    # ~linear), and the zone-map layout evaluator (prices the four
    # two-phase distributed ranks at 100x — the same shuffle an OPTIMIZE
    # pays, and the row that proves the r8 single-partition-window fix
    # holds at depth).
    "q_kmv_sketch_setops",
    "sim_sq8_topk",
    "q_zonemap_skipping",
    # r9 (VERDICT r8 #5): the two steepest unprobed r8 shapes.  The CDC
    # MERGE pays one full-outer join keyed on the fact table's own key —
    # the one new join shape whose 100x behavior was asserted but never
    # measured — and the proximity band join's cost contract is the
    # per-time-cell candidate density, tested here at 100x the event
    # volume on the same calendar span (denser cells, fixed cell count).
    "q_cdc_merge_apply",
    "q_event_proximity_pairs",
    # r9 (VERDICT r8 #4): the sampled zone-map advisor beside its full
    # form — everything past the hash-filter scan is a constant ~8192-row
    # sample, so its curve should flatten toward the scan cost while the
    # full evaluator above prices four fact-scale rank pipelines.
    "q_zonemap_skipping_sampled",
    # r9 additions with bounded-relation contracts worth measuring: the
    # equi-depth histogram's prefix sum lives on the DOMAIN-bounded value
    # grid (100x volume should only deepen the map-side combine — the
    # q_robust_outliers growth mode), and the stratified sampler is one
    # census groupBy + a broadcast-filter scan (catalog-bounded strata).
    "q_equidepth_histogram",
    "q_stratified_sample",
    # late r9: the model-inference shape — token explode + broadcast
    # 2^16-row weight join + per-doc combinable sum; its curve should
    # track the token scan like q_doc_surprisal's annotate join.
    "q_quality_classifier",
)


def main() -> None:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    specs = all_specs()
    spark = build_session("deep_probe")
    out10 = "/tmp/deep_probe_x10"
    out100 = "/tmp/deep_probe_x100"
    build_replicated(base, out10, 10)
    build_replicated(base, out100, 100)
    rows = []
    for name in DEEP_QUERIES:
        spec = specs[name]
        # Warm-up against the probe's own base dir (ADVICE r6: a hardcoded
        # sf0.001 path crashed custom-base runs on machines without that
        # fixture): JIT/codegen warm, then caches cleared before timing.
        spec.builder(spark, base).write.format("noop").mode(
            "overwrite"
        ).save()
        spark.catalog.clearCache()
        t1 = _time_spec(spark, spec, base)
        t10 = _time_spec(spark, spec, out10)
        t100 = _time_spec(spark, spec, out100)
        rows.append((name, t1, t10, t100))
        print(f"{name}: 1x {t1:.2f}s  10x {t10:.2f}s  100x {t100:.2f}s")
    lines = [
        "# SCALING_100X — flagship operators at 1x / 10x / 100x fact volume",
        "",
        f"Base = `{base}` (fact tables replicated with the key-offset",
        "semantics of tools/scale_probe.py; dimensions fixed).  Generated by",
        "`tools/deep_probe.py`; min-of-two timings, cache cleared between",
        "runs.  A scale-safe plan's 100x point should sit near 100x-the-1x",
        "cost OR BELOW (fixed overhead amortizes; calendar-bounded key",
        "domains flatten entirely) — never above.",
        "",
        "| query | 1x sec | 10x sec | 100x sec | 100x/1x (data 100x) |",
        "|---|---|---|---|---|",
    ]
    for name, t1, t10, t100 in rows:
        lines.append(
            f"| {name} | {t1:.2f} | {t10:.2f} | {t100:.2f} | {t100 / t1:.1f} |"
        )
    lines += [
        "",
        "Reading: q1 and the dataset card are single-pass scans whose cost",
        "tracks bytes; the RFM rankings shuffle bucket METADATA, so their",
        "curve follows the scan, not the rank; the EWMA rollup's key domain",
        "is the calendar, so added volume only deepens the map-side",
        "combine; the composed IVF-PQ search adds corpus only to the",
        "shuffle-free assign+encode pass and the cell-restricted integer",
        "scan — the re-rank stays constant-size.  The dedup scale paths",
        "carry their banded/annotate join shapes to 100x: MinHash-LSH's",
        "cost is the signature pass plus band-bucket groupBys (bucket",
        "population grows with corpus, pair work only with true",
        "collisions), and span dedup is the df annotate join on uniform",
        "48-bit keys.  The iterative-graph pair ride the co-purchase edge",
        "relation: replication grows ORDERS over a FIXED part catalog, so",
        "edge WEIGHTS grow ~Kx while the edge/vertex sets stay bounded by",
        "the catalog — the realistic growth mode of a marketplace graph.",
        "PageRank's per-iteration shuffle volume is therefore constant in",
        "K (the persisted edge list), and only the edge-building basket",
        "aggregation tracks the fact volume; triangles likewise pay K in",
        "the weight rollup and a catalog-bounded cost in the",
        "degree-ordered wedge join.  A super-linear bend here would mean",
        "the iteration is shuffling fact-scale data — the defect the probe",
        "exists to catch.  The bigram LM is q_doc_surprisal's shape one",
        "model order up: corpus volume enters the combinable bigram-count",
        "groupBy and the per-doc annotate join; the bits table lives on the",
        "distinct-bigram vocabulary, which replication grows sub-linearly.",
        "The MAD report's order statistics are selected from per-type value",
        "histograms — the histogram key domain is the 1e-2 value grid, so",
        "100x volume only deepens the map-side combine, the",
        "q_ewma_hourly growth mode.  The leakage-safe split carries the",
        "iterative connected-components family to 100x: label-propagation",
        "rounds shuffle only the near-dup EDGE relation (bounded by the",
        "DF-capped pair join, which replication grows ~linearly since",
        "suffix-token replicas are not near-dups of each other), and the",
        "split itself is one doc-keyed left join plus a narrow hash map —",
        "a super-linear bend here would indict the per-iteration join,",
        "not the split.  The release gate composes three annotate",
        "pipelines (token stats, unigram surprisal, bigram LM) through",
        "two doc-keyed joins; its curve should track the slowest input",
        "(the bigram LM) plus join overhead — nothing in the composition",
        "itself grows super-linearly.  The PMI lexicon (q_collocations)",
        "pays replication only in the combinable bigram/unigram count",
        "groupBys; the association filter and integer-log2 bits run on the",
        "DISTINCT-bigram relation, which Zipf grows sub-linearly.  The",
        "source-similarity matrix's output and join fan-in are bounded by",
        "the sources-x-sources catalog (a constant), so past the point",
        "where the shingle-count scan dominates, its curve should flatten",
        "toward pure scan cost — the probe verifies the catalog bound is",
        "real and not swamped by a hidden pair-space term.  The Z-order",
        "layout report is the purest scan-shape in the set (unrolled",
        "shift/mask projection into a <=64k-key combinable groupBy): its",
        "curve IS the parquet scan cost, and anything above linear would",
        "mean the cell rollup leaked volume.  The Gopher battery is the",
        "same shape with heavier per-row expressions (five array HOFs),",
        "so it tracks CPU-bound scan cost.  The item-PMI lexicon grows",
        "pair volume with ORDERS (baskets) over the fixed part catalog:",
        "per-order fan-out is bounded by basket size, the pair relation",
        "by the catalog squared, so the 100x point should track the",
        "basket aggregation like the other co-purchase family members.",
        "The KMV set algebra is the sketch doctrine's 100x proof: corpus",
        "volume dies at the DISTINCT (source, shingle) groupBy, the",
        "bottom-K windows run on per-source partitions, and every",
        "pairwise statistic touches only K x catalog sketch rows — past",
        "scan dominance the curve should flatten like the",
        "source-similarity matrix it replaces at scale.  The SQ8 index",
        "is the broadcast-scan family's 100x point: one narrow",
        "integer-kernel pass over the 64 B/vector code relation, linear",
        "by construction, and the first direct evidence the flat-scan",
        "ANN baseline itself survives depth.  The zone-map evaluator",
        "prices four two-phase distributed ranks (bucket counts ->",
        "broadcast offsets -> within-bucket row_number) at 100x — the",
        "same shuffle an OPTIMIZE rewrite pays per layout, and the row",
        "that proves the r8 single-partition-window fix holds at depth",
        "(its cost should track the sort shuffles, ~linear).  The r9",
        "probes: the CDC MERGE pays one full-outer join keyed on the",
        "fact table's own key — its curve is that join's shuffle, and",
        "the per-action accounting past it is a bounded rollup.  The",
        "proximity band join's contract is per-time-cell candidate",
        "density: 100x events on the same calendar span makes every",
        "cell 100x denser, so the candidate relation grows ~100x and",
        "the curve should track it linearly — a super-linear bend would",
        "mean the 3-probe cell equi-join degenerated toward the theta",
        "join it replaces.  The SAMPLED zone-map advisor holds a",
        "constant ~8192-row sample (mod = n div 8192), so its rank",
        "pipelines are scale-free and only the hash-filter scan grows:",
        "beside the full evaluator's row it is the measured case for",
        "advise-on-a-sample, pay-full-price-once.  The equi-depth",
        "histogram's prefix sum lives on the DOMAIN-bounded cents grid",
        "(map-side combine deepens, the relation does not grow), and",
        "the stratified sampler is one catalog-bounded census groupBy",
        "plus a broadcast-filter scan — both should flatten toward",
        "scan cost.  The quality classifier is the model-INFERENCE",
        "shape: a 2^16-row weight relation broadcasts, the token",
        "explode + join + per-doc sum all ride the scan stage, so its",
        "curve should track the token volume linearly like the",
        "surprisal annotate joins.",
    ]
    with open(REPO / "SCALING_100X.md", "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print("wrote SCALING_100X.md")
    shutil.rmtree(out10, ignore_errors=True)
    shutil.rmtree(out100, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
