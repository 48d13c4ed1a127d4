"""Benchmark of record for the ingest engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds nothing: it imports the engine package from the checkout it sits in,
generates the workload's inputs from ``--seed``, sets up (the session build,
which launches the JVM, and the workload's first, cold operation), warms up,
times the workload for ``--seconds`` and checks every output.  The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  Lines before it start with ``#`` and give
sample counts, tail percentiles and the tracing overhead.  Traced runs also
write their spans to ``.perfbench/traces/``.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback

import harness
import workloads
from harness import Run, StageCounters, describe, median, tree_cpu_s

# name -> unit; BENCHMARK.json lists the same names (checked by the tests).
END_TO_END = {
    "setup_s": "s",
    "rows_per_cpu_s": "rows/cpu-s",
}
PER_LAYER = {
    "process.peak_rss_mb": "MB",
    "session.build_s": "s",
    "csv_source.probe_s": "s",
    "csv_source.scan_s": "s",
    "encode.encode_s": "s",
    "avro_codec.encode_rows_per_s": "rows/s",
    "avro_codec.decode_rows_per_s": "rows/s",
    "datum_sink.write_s": "s",
    "datum_sink.bytes_per_row": "bytes",
    "datum_sink.files": "count",
    "stream.freshness_ms_p50": "ms",
    "stream.trigger_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.latest_offset_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms",
    "stream.planning_ms_p50": "ms",
    "stream.batches": "count",
    "stream.rows_per_batch_p50": "rows",
    "stream.lateness_ms_p50": "ms",
    "kafka_source.decode_s": "s",
    "readback.silver_agg_s": "s",
    **{f"query.{name}_s": "s" for name in (
        "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue", "q_window_rank",
        "q_tumbling_window", "dedup_minhash_lsh", "dedup_simhash", "sim_ivfpq_topk",
        "sim_bruteforce_topk", "text_tfidf", "mm_decode_meta", "udf_accent_fold",
    )},
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "trace.overhead_pct": "%",
}


def _phases(marks: dict[str, float]) -> str:
    names = list(marks)
    return "phases (s): " + " ".join(
        f"{b}={marks[b] - marks[a]:.2f}" for a, b in zip(names, names[1:]))


def execute(run: Run, seconds: float, metrics: dict[str, float], info: list[str]) -> None:
    """Set up, measure and check; fills ``metrics`` and ``info``."""
    wl = workloads.WORKLOADS[run.workload](run)
    phases = {"start": time.perf_counter()}
    # Inputs are generated before the JVM launches, so no benchmark work
    # overlaps a timed region.
    wl.prepare()
    phases["prepare"] = time.perf_counter()
    cpu0 = tree_cpu_s()
    run.build()
    build_cpu = tree_cpu_s() - cpu0
    phases["build"] = time.perf_counter()
    first = wl.first_op()
    # Set-up in CPU seconds of the process tree, like rows_per_cpu_s: wall
    # clock moved with the host's steal (see README.md).
    setup_s = build_cpu + (wl.cpu[0] if wl.cpu else 0.0)
    phases["first op"] = time.perf_counter()
    wl.warm()
    phases["warm-up"] = time.perf_counter()
    info.append(f"set-up, wall clock: session build {run.build_s:.4f} s + first operation {first:.4f} s")
    info.append(f"set-up, CPU: session build {build_cpu:.2f} cpu-s, total {setup_s:.2f} cpu-s")

    if not run.tracer.enabled:
        metrics["setup_s"] = setup_s
        wl.measure(seconds)
        phases["measure"] = time.perf_counter()
        info.append(_phases(phases))
        info.append(f"peak RSS, JVM + Python driver: {run.peak_rss_mb():.1f} MB")
        info.append(describe("operation latency", wl.samples, "s"))
        info.append(describe("operation CPU", wl.cpu, "cpu-s"))
        info.append(f"wall-clock rows/s at the median latency: {wl.rows / median(wl.samples):.1f}")
        info.append(f"latencies: {[round(s, 3) for s in wl.samples]}")
        info.append(f"CPU seconds: {[round(s, 3) for s in wl.cpu]}")
        metrics.update(wl.e2e())
        return

    # Traced: half the window untraced, half traced, then the layer split.
    run.tracer.enabled = False
    wl.measure(seconds / 2)
    untraced = wl.e2e()
    run.tracer.enabled = True
    counters = StageCounters(run.spark)
    counters.start()
    before = run.attempted
    wl.measure(seconds / 2)
    ops = max(run.attempted - before, 1)
    traced = wl.e2e()
    spark_totals = counters.stop()
    phases["measure"] = time.perf_counter()
    metrics["process.peak_rss_mb"] = run.peak_rss_mb()
    # The analytics star schema and DuckDB oracles, before any layer is timed.
    analytics = workloads.AnalyticsMix(run)
    analytics.prepare()
    phases["analytics prepare"] = time.perf_counter()
    metrics.update(wl.layers(small=False))
    phases["layers"] = time.perf_counter()
    # The other workloads' layers, on small inputs.
    others = [cls(run) for cls in workloads.SWEEP if cls.name != run.workload]
    for other in [*others, analytics]:
        metrics.update(other.layers(small=True))
        phases[f"sweep {other.name}"] = time.perf_counter()
    info.append(_phases(phases))
    metrics.update(workloads.codec_layers(run.seed))
    metrics["session.build_s"] = run.build_s
    metrics.update({k: v / ops for k, v in spark_totals.items()})
    overhead = untraced["rows_per_cpu_s"] / traced["rows_per_cpu_s"] - 1.0
    metrics["trace.overhead_pct"] = 100.0 * overhead
    for k in untraced:
        info.append(f"tracing overhead {k}: untraced {untraced[k]:.4f} traced {traced[k]:.4f}")
    path = os.path.join(harness.ROOT, ".perfbench", "traces",
                        f"{run.workload}-seed{run.seed}-{run.tracer.run_id}.json")
    run.tracer.write(path, {"workload": run.workload, "seed": run.seed, "env": run.env,
                            "metrics": metrics, "untraced": untraced, "traced": traced})
    info.append(f"trace written to {os.path.relpath(path, harness.ROOT)}")
    for name, value in sorted(run.tracer.self_times().items()):
        info.append(f"self time {name}: {value:.4f} s")


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=list(workloads.WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = parser.parse_args(argv)

    if not os.path.isfile(os.path.join(harness.ROOT, harness.PACKAGE, "__init__.py")):
        print(f"perfbench: no {harness.PACKAGE} package next to perfbench/", file=sys.stderr)
        return 2

    # A terminated run still stops its JVM and removes its work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args.workload, args.seed, bool(args.trace))
    metrics: dict[str, float] = {}
    info = [f"workload {args.workload} seed {args.seed} env {run.env}"]
    run.open()
    try:
        execute(run, args.seconds, metrics, info)
    except Exception:  # noqa: BLE001 — the run still reports, as one more failed operation
        traceback.print_exc(file=sys.stderr)
        run.attempted += 1
        run.failed += 1
    finally:
        run.close()

    units = PER_LAYER if args.trace else END_TO_END
    if not run.failed and set(metrics) != set(units):
        raise RuntimeError(f"metric names differ from the table: {sorted(set(metrics) ^ set(units))}")
    for line in info:
        print(f"# {line}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
