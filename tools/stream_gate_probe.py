"""Streaming quality-gate throughput probe (VERDICT r9 #4): time a full
availableNow pass of ``quality_classifier_stream`` — the per-token explode
into applyInPandasWithState, the one r9 kernel whose Python-side cost was
unmeasured — at 1x and Kx of the documents table, and report the time
ratio against the data ratio.

The batch census (q_quality_classifier) is already probed (9.7x at 100x,
SCALING_100X.md); this measures the TWIN, the shape a crawl pipeline
actually tails: token-weight rows cross an Arrow boundary into a pandas
per-doc fold holding five BIGINTs of state per source.  State size is
constant, so the pass should scale with the token-row volume (~K), never
worse.

Replication is tools/scale_probe.py's documents contract, imported from
there (build_documents_replica) so the two probes' replicas stay
comparable by construction.

Usage: python tools/stream_gate_probe.py [K] [base_sf_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import duckdb  # noqa: E402

from data_ingestion_ex8_producer_spark.session import build_session  # noqa: E402
from data_ingestion_ex8_producer_spark.streaming.events import (  # noqa: E402
    stream_documents_fixture,
)
from data_ingestion_ex8_producer_spark.streaming.stateful import (  # noqa: E402
    quality_classifier_stream,
)
from tools.scale_probe import build_documents_replica  # noqa: E402


def time_pass(spark, sf_dir: str, work: str, reps: int = 3) -> float:
    """Min-of-reps wall clock for one availableNow pass of the gate over
    `sf_dir`'s documents, each rep from a fresh staging dir + fresh
    (temporary) checkpoint so state always starts empty.  The timed
    region ends when the pass TERMINATES (before q.stop()'s teardown);
    a pass that outlives the timeout raises instead of being recorded
    as a fake ~timeout-sized measurement."""
    best = float("inf")
    for i in range(reps):
        staging = os.path.join(work, f"stage_{i}")
        docs = stream_documents_fixture(spark, sf_dir, staging)
        t0 = time.perf_counter()
        q = (
            quality_classifier_stream(docs)
            .writeStream.format("noop")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(600)
        elapsed = time.perf_counter() - t0
        q.stop()
        if not finished:
            raise RuntimeError(
                f"availableNow pass over {sf_dir} exceeded 600 s - "
                "not a valid measurement"
            )
        best = min(best, elapsed)
    return best


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    base = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    spark = build_session("stream-gate-probe")
    work = tempfile.mkdtemp(prefix="stream_gate_probe_")
    try:
        kx_dir = os.path.join(work, f"docs_{k}x")
        build_documents_replica(base, kx_dir, k)

        con = duckdb.connect()
        n1 = con.sql(
            f"SELECT count(*) FROM '{base}/documents.parquet'"
        ).fetchone()[0]
        nk = con.sql(
            f"SELECT count(*) FROM '{kx_dir}/documents.parquet'"
        ).fetchone()[0]
        con.close()

        # Warm-up pass at the smallest SF: JVM/codegen/Arrow worker init.
        time_pass(spark, "/root/testdata/sf0.001", os.path.join(work, "warm"), 1)

        t1 = time_pass(spark, base, os.path.join(work, "w1"))
        tk = time_pass(spark, kx_dir, os.path.join(work, "wk"))
        print(
            f"stream_quality_gate: base={base} docs_1x={n1} docs_{k}x={nk}\n"
            f"  1x availableNow pass: {t1:.2f}s ({n1 / t1:.0f} docs/s)\n"
            f"  {k}x availableNow pass: {tk:.2f}s ({nk / tk:.0f} docs/s)\n"
            f"  time ratio {tk / t1:.1f}x vs data ratio {k}x"
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
