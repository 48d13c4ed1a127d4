"""Registry-completion probe: 1x-vs-Kx curves for every registered spec
that still has no measured row in SCALING.md / SCALING_100X.md after the
main, window, exact-twin, and deep probes.

This is the systematic version of the hunt that found the r10 AQE
pandas-group inversion: probe EVERYTHING remaining, then read the table
for anomalies (a ratio far above the data ratio on a non-trivial base =
a quadratic stage; a heavy 1x next to a light Kx = an under-parallelized
stage).  Most of these specs are classic scan/agg/window/TPC-H shapes
whose curves are expected to sit at or below the data ratio — the value
is that the expectation becomes a measured row for all 266 specs.

The probe list is computed at runtime (registry minus names already in
the SCALING docs), so re-running after doc updates only probes what is
still missing.

Usage: python tools/registry_probe.py [K] [base_sf_dir]
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
    scaling_row_names,
)


def missing_names() -> list[str]:
    covered = scaling_row_names(
        REPO / "SCALING.md", REPO / "SCALING_100X.md"
    )
    return [n for n in all_specs() if n not in covered]


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    base = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    names = missing_names()
    if not names:
        print("no uncovered specs - nothing to probe")
        return
    print(f"{len(names)} uncovered specs")
    out_dir = replica_dir(base, k)
    if not os.path.exists(f"{out_dir}/lineitem.parquet"):
        print(f"building {k}x replica of {base} in {out_dir} ...")
        build_replicated(base, out_dir, k)

    spark = build_session("registry_probe")
    specs = all_specs()
    rows = _probe_set(spark, specs, names, base, out_dir, k)

    lines = [
        "",
        f"## Registry completion: every remaining spec at 1x vs {k}x",
        "",
        "The specs no earlier probe table covered — mostly classic scan/",
        "agg/window/set-op/TPC-H shapes plus the secondary similarity and",
        "multimodal evaluators — so that every registered spec carries a",
        f"measured curve (`{base}` base, min-of-two, cache-cold; sub-second",
        "1x cells are fixed-overhead-dominated and overstate growth).",
        "Generated by `tools/registry_probe.py`.",
        "",
        f"| query | 1x sec | {k}x sec | time ratio (data ratio {k}.0) |",
        "|---|---|---|---|",
    ]
    for name, tb, tg, r in rows:
        lines.append(f"| {name} | {tb:.2f} | {tg:.2f} | {r:.1f} |")
    with open(REPO / "SCALING.md", "a") as fh:
        fh.write("\n".join(lines) + "\n")
    print("appended to SCALING.md")
    spark.stop()


if __name__ == "__main__":
    main()
