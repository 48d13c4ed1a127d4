"""Simulate the DRIVER's consumption of __spark_entry__.py as closely as we
can guess it: a plain SparkSession (none of our session.py tuning), entry()
smoke at sf0.001, then every queries() entry at sf0.01 compared against
oracle_sql() via DuckDB with the same fingerprint logic as
tools/check_correctness.py.  If this passes, hidden dependencies on our own
session config (timezone, shuffle partitions, Arrow) are ruled out.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
from pyspark.sql import SparkSession

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from tools.check_correctness import TABLES, frame_fingerprint  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402


def main() -> int:
    sf_smoke = "/root/testdata/sf0.001"
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    spark = (
        SparkSession.builder.master("local[8]").appName("driver_sim").config(
            "spark.ui.enabled", "false"
        ).getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    df = entrymod.entry(spark)
    rows = df.collect()
    print(f"entry(): {len(rows)} rows, schema: {df.schema.simpleString()}")
    assert len(rows) >= 0 and len(df.columns) > 0

    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in sorted(qs.items()):
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            # Driver-faithfulness (r10): the real driver canonicalizes via a
            # pandas row sort, which RAISES on array/map/struct columns —
            # our fingerprint stringifies rows and would silently pass, so
            # enforce the scalar-output contract here for EVERY spec (the
            # q_array_funcs lesson: latent until a rotation scored it).
            from pyspark.sql import types as T

            complex_cols = [
                f.name
                for f in sdf.schema.fields
                if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
            ]
            if complex_cols:
                raise TypeError(
                    f"non-scalar output columns {complex_cols} - the driver's "
                    "pandas comparator cannot sort these; project to "
                    "canonical scalars"
                )
            s_fp = frame_fingerprint(list(sdf.columns), [tuple(r) for r in sdf.collect()])
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark: {exc}")
            continue
        if name not in oracles:
            print(f"ok    {name}: rows-only {s_fp[0]} rows ({time.time()-t0:.1f}s)")
            continue
        cur = con.execute(oracles[name])
        o_fp = frame_fingerprint([d[0] for d in cur.description], cur.fetchall())
        if s_fp != o_fp:
            failures.append(name)
            diff = [
                k for k, (a, b) in enumerate(zip(("rows", "cols", "hash"), zip(s_fp, o_fp)))
            ]
            print(f"FAIL  {name}: spark={s_fp[:2]} oracle={o_fp[:2]} hash_eq={s_fp[2]==o_fp[2]}")
        else:
            print(f"ok    {name}: {s_fp[0]} rows ({time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
