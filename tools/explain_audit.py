"""Generate EXPLAINS.md: the physical plan of every bench-flagged query at
sf0.1, plus a scan-health audit (pushed filters, read schemas, join
strategies) — the evidence that plans are the ones a 100 TB deployment
wants.  Run after changing any bench query.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from data_ingestion_ex8_producer_spark.plans.registry import all_specs  # noqa: E402
from data_ingestion_ex8_producer_spark.session import build_session  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = build_session("explain_audit")
    specs = {n: s for n, s in all_specs().items() if s.bench}

    lines = [
        "# EXPLAINS — physical plans of the bench query set",
        "",
        f"Generated by `tools/explain_audit.py` against `{sf_dir}`.",
        "Summary first; full `explain(formatted)` output below.",
        "",
        "| query | scans (cols read) | pushed filters | joins | exchanges |",
        "|---|---|---|---|---|",
    ]
    details: list[str] = []
    for name in sorted(specs):
        df = specs[name].builder(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        pushed = re.findall(r"PushedFilters: \[([^\]]+)\]", plan)
        pushed = [p for p in pushed if p.strip()]
        n_bhj = plan.count("BroadcastHashJoin")
        n_smj = plan.count("SortMergeJoin")
        n_ex = plan.count("Exchange")
        scan_summary = "; ".join(f"{s.count(',') + 1} cols" for s in scans[:4])
        join_summary = f"{n_bhj} broadcast, {n_smj} sort-merge"
        lines.append(
            f"| {name} | {len(scans)} scans ({scan_summary}) | "
            f"{len(pushed)} | {join_summary} | {n_ex} |"
        )
        details.append(f"\n## {name}\n\n```\n{plan[:6000]}\n```")

    lines += ["", *_skew_evidence(spark, sf_dir)]
    lines += ["", *_ivf_evidence(spark, sf_dir)]
    with open(REPO / "EXPLAINS.md", "w") as fh:
        fh.write("\n".join(lines) + "\n" + "\n".join(details) + "\n")
    print("wrote EXPLAINS.md")
    spark.stop()


def _skew_evidence(spark, sf_dir: str) -> list[str]:
    """Measure what the stop-shingle DF cap removes at this SF: the skew
    profile of the shingle join key with and without the cap, and the
    candidate-pair counts of the capped (PRIMARY) vs uncapped (baseline)
    jaccard forms.  This is the before/after record for the skew-hardening
    posture (AQE skew-join stays enabled session-wide as the runtime
    backstop for residual imbalance)."""
    from pyspark.sql import functions as F

    from data_ingestion_ex8_producer_spark.operators import dedup

    out = ["## Skew hardening — stop-shingle DF cap (dedup_ngram_jaccard)", ""]
    for key in ("spark.sql.adaptive.enabled", "spark.sql.adaptive.skewJoin.enabled"):
        out.append(f"- `{key}` = `{spark.conf.get(key)}`")
    uncapped = dedup._shingle_relation(spark, sf_dir, None)
    df_profile = uncapped.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    stats = df_profile.agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.max("df").alias("max_df"),
        F.sum(F.when(F.col("df") > dedup._DF_CAP, 1).otherwise(0)).alias("over_cap"),
        F.sum(
            F.when(F.col("df") > dedup._DF_CAP, F.col("df") * F.col("df")).otherwise(0)
        ).alias("pairs_blowup_over_cap"),
    ).first()
    specs = all_specs()
    pairs_capped = {
        "capped": specs["dedup_ngram_jaccard"].builder(spark, sf_dir).count(),
        "uncapped": specs["dedup_ngram_jaccard_exact"].builder(spark, sf_dir).count(),
    }
    out += [
        f"- distinct shingles: {stats['n_shingles']:,}; hottest shingle df = "
        f"{stats['max_df']:,} (uncapped join fan-out ~df^2 on that one key)",
        f"- shingles over cap (df > {dedup._DF_CAP}): {stats['over_cap']:,} — the "
        f"broadcast anti-join removes ~{stats['pairs_blowup_over_cap']:,} same-key "
        "candidate comparisons these would have generated",
        f"- candidate pairs after cap (PRIMARY form): {pairs_capped['capped']:,} vs "
        f"uncapped baseline: {pairs_capped['uncapped']:,}",
        "",
        "At 100x the corpus, the uncapped key-frequency distribution keeps its "
        "shape (stop-shingles scale linearly with docs), so the uncapped join's "
        "hottest partitions grow quadratically while the capped form stays "
        "bounded at df_cap^2 per shingle.",
    ]
    return out


def _ivf_evidence(spark, sf_dir: str) -> list[str]:
    """Record that sim_ivf_topk's coarse-quantizer broadcast is constant-size
    (fixed K, not corpus-proportional as in r2) straight from the physical
    plan: the centroid subplan must be a TakeOrderedAndProject with
    limit=_IVF_K feeding a BroadcastExchange."""
    from data_ingestion_ex8_producer_spark.operators import similarity

    spec = all_specs()["sim_ivf_topk"]
    plan = spec.builder(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    n_vec = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    k = similarity._IVF_K
    has_topk = f"TakeOrderedAndProject(limit={k}" in plan
    broadcast_bytes = k * similarity._DIM * 4
    return [
        "## Constant-size ANN quantizer broadcast (sim_ivf_topk)",
        "",
        f"- corpus vectors at this SF: {n_vec:,}; coarse centroids: K={k} "
        "(fixed — smallest salted md5 of vec_id, deterministic at any corpus size)",
        f"- centroid subplan is TakeOrderedAndProject(limit={k}) feeding a "
        f"BroadcastExchange: {has_topk}",
        f"- quantizer broadcast stays K x {similarity._DIM} floats "
        f"(~{broadcast_bytes // 1024} KB) no matter how large the corpus grows; "
        "r2's stride selection grew the broadcast as n/61 and is gone.",
        "- measured growth curves for the bucketed-vs-exact operator families "
        "are in `SCALING.md` (tools/scale_probe.py).",
    ]


if __name__ == "__main__":
    main()
