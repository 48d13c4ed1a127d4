"""Round-10 window probe: 1x-vs-10x curves for the rotated driver-window
specs that had no measured row in SCALING.md / SCALING_100X.md.

The r10 scored window is the 49 never-driver-scored specs (registry
_PRIORITY); most are early-round scalar/window/text shapes that predate
the probe suite.  This measures every one of them that lacked a curve,
using the same replication semantics and min-of-two timing discipline as
tools/scale_probe.py, and appends one table to SCALING.md.

The deliberately-quadratic oracle anchor in the set
(dedup_containment_exact) is probed at the sf0.01 base like its siblings
in the exact-twin table — running an all-pairs anchor at 10x sf0.1 is
hours by design, which is the point the primary/exact split makes.

Usage: python tools/window_probe.py [K] [base_sf_dir]
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from data_ingestion_ex8_producer_spark.plans.registry import all_specs  # noqa: E402
from data_ingestion_ex8_producer_spark.session import build_session  # noqa: E402
from tools.scale_probe import (  # noqa: E402
    _probe_set,
    build_replicated,
    replica_dir,
)

WINDOW_MISSING = (
    # joins / aggregation / windows / scalars
    "q_salted_join",
    "q_enrich_events",
    "q_percentiles",
    "q_approx_percentile",
    "q_listagg",
    "q_mode_priority",
    "q_bool_bit_aggs",
    "q_histogram",
    "q_percent_of_total",
    "q_multi_grain_rollup",
    "q_window_lag_lead",
    "q_window_first_last",
    "q_window_count_distinct",
    "q_sliding_window",
    "q_posexplode",
    "q_array_funcs",
    "q_math_funcs",
    "q_from_json_struct",
    "q_case_null",
    "q_unpivot",
    # dedup / text
    "dedup_exact_normalized",
    "q_source_dup_profile",
    "text_quality_score",
    "text_fingerprint",
    "text_bpeish_tokens",
    "text_winnow_fingerprint",
    "text_char_stats",
    "q_ngram_topk",
    "q_doc_language_purity",
    # similarity / embeddings / multimodal
    "q_ivf_argmax_margin_canary",
    "emb_centroid_by_label",
    "emb_dim_stats",
    "q_embedding_outliers",
    "q_emb_dim_quantiles",
    "mm_resize",
    # UDAF / curation
    "udaf_cogroup_reconcile",
    "q_train_test_split",
    "q_source_quota_cap",
    "q_packing_efficiency",
    "q_source_diversity",
)
EXACT_ANCHOR = ("dedup_containment_exact",)


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    base = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    exact_base = "/root/testdata/sf0.01"
    # Base-keyed cache dirs (tools/scale_probe.replica_dir): a custom base
    # argv can never silently reuse a replica built from a different corpus.
    out_dir = replica_dir(base, k)
    exact_dir = replica_dir(exact_base, k, exact=True)
    if not os.path.exists(f"{out_dir}/lineitem.parquet"):
        print(f"building {k}x replica of {base} in {out_dir} ...")
        build_replicated(base, out_dir, k)
    if not os.path.exists(f"{exact_dir}/lineitem.parquet"):
        print(f"building {k}x replica of {exact_base} in {exact_dir} ...")
        build_replicated(exact_base, exact_dir, k)

    spark = build_session("window_probe")
    specs = all_specs()
    rows = _probe_set(spark, specs, WINDOW_MISSING, base, out_dir, k)
    exact_rows = _probe_set(spark, specs, EXACT_ANCHOR, exact_base, exact_dir, k)

    lines = [
        "",
        f"## Round 10: the rotated driver-window specs at 1x vs {k}x",
        "",
        "The r10 window retires the driver-coverage debt (the 49 specs no",
        "prior round scored); this table retires their SCALE-evidence debt —",
        "every window spec that had no measured curve, probed with the same",
        f"replication and min-of-two discipline as the main table (`{base}`",
        "base; the quadratic containment anchor at the sf0.01 base like its",
        "exact-twin siblings).  Sub-second 1x cells are fixed-overhead-",
        "dominated, so their ratios overstate growth.  Generated by",
        "`tools/window_probe.py`.",
        "",
        f"| query | 1x sec | {k}x sec | time ratio (data ratio {k}.0) |",
        "|---|---|---|---|",
    ]
    for name, tb, tg, r in rows:
        lines.append(f"| {name} | {tb:.2f} | {tg:.2f} | {r:.1f} |")
    lines += [
        f"| dedup_containment_exact (sf0.01 base) | {exact_rows[0][1]:.2f} "
        f"| {exact_rows[0][2]:.2f} | {exact_rows[0][3]:.1f} |",
    ]
    with open(REPO / "SCALING.md", "a") as fh:
        fh.write("\n".join(lines) + "\n")
    print("appended to SCALING.md")
    spark.stop()


if __name__ == "__main__":
    main()
