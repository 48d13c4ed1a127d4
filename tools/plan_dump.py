"""Dump `.explain("formatted")` for bench queries into plans/<round>/.

Usage:
    python tools/plan_dump.py <round> <suffix> [query ...]

Writes plans/<round>/<query>_<suffix>.txt for every bench-flagged query (or
the named subset).  <round> names the plans/ subdirectory (e.g. `r13`) and is
required, so one round's plans never land in another's.  <suffix> is
`before` / `after` — the optimization-round evidence files plan claims are
checked against.  A named query that is not a registered bench query exits 2
with `unknown queries: ...` before Spark starts.
"""

from __future__ import annotations

import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_ingestion_ex8_producer_spark.plans.registry import all_specs  # noqa: E402
from data_ingestion_ex8_producer_spark.session import build_session  # noqa: E402

_PLANS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                          "plans")


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    round_name, suffix = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    specs = {n: s for n, s in all_specs().items() if s.bench}
    unknown = sorted(only - specs.keys())
    if unknown:
        print(f"unknown queries: {', '.join(unknown)}", file=sys.stderr)
        sys.exit(2)
    if only:
        specs = {n: s for n, s in specs.items() if n in only}
    sf_dir = os.getenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(_PLANS_DIR, round_name)
    os.makedirs(out_dir, exist_ok=True)
    spark = build_session("plan_dump")
    for name in sorted(specs):
        df = specs[name].builder(spark, sf_dir)
        # DataFrame.explain prints to stdout; capture it.
        buf = io.StringIO()
        stdout = sys.stdout
        try:
            sys.stdout = buf
            df.explain("formatted")
        finally:
            sys.stdout = stdout
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        spark.catalog.clearCache()
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
