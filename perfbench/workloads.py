"""The two workloads of record, and the stream and analytics sweeps of traced
runs.  Each drives the engine only through its public functions, times the
calls from outside, and checks every output it times against expectations
computed by ``fixtures`` without the engine.

A workload's life in one run (see ``run.py``):

    prepare()          generate inputs and expectations (untimed)
    first_op()         the cold first operation after the session build;
                       returns its seconds
    warm()             untimed operations until timings settle
    measure(seconds)   the timed window; fills ``samples``
    e2e()              end-to-end metrics of the last window
    layers(small)      traced runs only: the per-layer split, on small
                       inputs when the layer is not this workload's own;
                       the sweep-only workloads implement just this
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import math
import os
import sys
import threading
import time
import traceback

import fixtures
from harness import ROOT, median, tree_cpu_s

OP = "op"  # span name of one timed operation


class Workload:
    name = ""
    WARM_OPS = 3  # untimed operations after set-up, before the window
    rows = 0  # rows one operation processes

    def __init__(self, run) -> None:
        self.run = run
        self.tracer = run.tracer
        self.samples: list[float] = []  # per-operation latency, seconds
        self.cpu: list[float] = []  # per-operation CPU seconds of the process tree

    @property
    def spark(self):
        return self.run.spark

    def attempt(self, fn, *args):
        """Run one operation; an exception counts as a failed operation."""
        self.run.attempted += 1
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 — recorded and counted, never hidden
            self.run.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    def check(self, ok: bool, what: str) -> bool:
        """Record a wrong result of an operation already counted."""
        if not ok:
            self.run.failed += 1
            print(f"perfbench: WRONG {self.name}: {what}", file=sys.stderr)
        return ok

    def timed_loop(self, seconds: float, op) -> list[float]:
        """Closed loop: run ``op`` until ``seconds`` have passed (at least
        once); returns the latencies of the operations that succeeded."""
        out: list[float] = []
        end = time.perf_counter() + seconds
        while True:
            took = self.attempt(op)
            if took is not None:
                out.append(took)
            if time.perf_counter() >= end:
                return out

    def registered(self) -> bool:
        """True once per session: whether per-session set-up already ran."""
        done = getattr(self, "_session", None) is self.spark
        self._session = self.spark
        return done

    def prepare(self) -> None: ...

    def first_op(self) -> float:
        return self.attempt(self.op) or 0.0

    def warm(self) -> None:
        """The JIT keeps speeding operations up for several after the cold
        one.  Its progress follows the operation count, not the clock, so
        the warm-up is a fixed count."""
        for _ in range(self.WARM_OPS):
            self.attempt(self.op)

    def measure(self, seconds: float) -> None:
        self.cpu = []
        self.samples = self.timed_loop(seconds, self.op)

    def e2e(self) -> dict[str, float]:
        """Rows per CPU second of the process tree, from the median
        operation of the last window."""
        return {"rows_per_cpu_s": self.rows / median(self.cpu)}


# ---- ingest_batch ------------------------------------------------------------


def _manifest(directory: str) -> list[tuple[str, int]]:
    with open(os.path.join(directory, "_SUCCESS")) as fh:
        return [(name, int(n)) for name, n in (line.split("\t") for line in fh if line.strip())]


class IngestBatch(Workload):
    """The reference's whole job: CSV landing directory -> replay_all_batch ->
    avro_datum_dir sink, one operation per full replay."""

    name = "ingest_batch"
    FILES, ROWS_PER_FILE = 4, 25_000
    SMALL = (2, 5_000)

    def prepare(self, small: bool = False) -> None:
        files, rows = self.SMALL if small else (self.FILES, self.ROWS_PER_FILE)
        tag = "small" if small else "full"
        self.landing = fixtures.Landing(
            self.run.path(f"landing-{tag}"), self.run.seed, files, rows
        )
        self.expected_datums = self.landing.datum_digest()
        self.expected_records = self.landing.record_digest()
        self.rows = self.landing.good
        self.decoded = False
        self.ops = 0

    def _write(self) -> tuple[float, str]:
        from data_ingestion_ex8_producer_spark.sinks.datum_sink import AvroDatumDirDataSource
        from data_ingestion_ex8_producer_spark.streaming.ingest import replay_all_batch

        out = self.run.path("out", f"op{self.ops}")
        self.ops += 1
        if not self.registered():
            self.spark.dataSource.register(AvroDatumDirDataSource)
        c0, t0 = tree_cpu_s(), time.perf_counter()
        with self.tracer.span(OP):
            with self.tracer.span("streaming.ingest.replay_all_batch"):
                frame = replay_all_batch(self.spark, self.landing.directory)
            with self.tracer.span("datum_sink.save"):
                frame.write.format("avro_datum_dir").option("path", out).mode("append").save()
        took = time.perf_counter() - t0
        self.cpu.append(tree_cpu_s() - c0)
        return took, out

    def op(self) -> float:
        took, out = self._write()
        self._check_output(out)
        return took

    def _check_output(self, out: str) -> None:
        """Manifest counts, skipped rows and an order-insensitive digest of
        the committed datum bytes against the fixture encoder's.  The first
        output is also decoded with decode_record and compared with the
        generated records."""
        import shutil

        from data_ingestion_ex8_producer_spark.functions.avro_codec import decode_record
        from data_ingestion_ex8_producer_spark.sinks.datum_sink import read_datum_file

        manifest = _manifest(out)
        committed = sum(n for _, n in manifest)
        names = {name for name, _ in manifest}
        on_disk = {n for n in os.listdir(out) if n != "_SUCCESS"}
        datums = [d for name in sorted(names) for d in read_datum_file(os.path.join(out, name))]
        problems = []
        if on_disk != names:
            problems.append(f"files outside the manifest: {sorted(on_disk ^ names)}")
        if not committed == len(datums) == self.landing.good:
            problems.append(f"committed {committed}/{len(datums)} rows, expected {self.landing.good}")
        if self.landing.rows - committed != self.landing.blanks:
            problems.append(f"skipped {self.landing.rows - committed}, injected {self.landing.blanks}")
        if fixtures.multiset_digest(datums) != self.expected_datums:
            problems.append("datum bytes differ from the expected encoding")
        if not self.decoded:
            self.decoded = True
            records = [tuple(decode_record(d).values()) for d in datums]
            if fixtures.multiset_digest(records) != self.expected_records:
                problems.append("decoded records differ from the generated ones")
        self.check(not problems, "; ".join(problems))
        self.tracer.count("csv_source.rows_in", self.landing.rows)
        self.tracer.count("datum_sink.rows_committed", committed)
        self.sink_files = len(names)
        self.sink_bytes_per_row = sum(
            os.path.getsize(os.path.join(out, n)) for n in names) / max(committed, 1)
        shutil.rmtree(out, ignore_errors=True)

    def layers(self, small: bool) -> dict[str, float]:
        """Probe, scan, encode and sink split of one replay, each timed as
        its own job: scan = bronze frame -> noop; encode = scan +
        avro_value_frame -> noop, minus scan; sink = replay -> datum dir,
        minus probe, scan and encode."""
        from data_ingestion_ex8_producer_spark.sinks.encode import avro_value_frame
        from data_ingestion_ex8_producer_spark.sources.csv_source import read_reclamacoes_batch

        if small:
            self.prepare(small=True)
            self.attempt(self.op)  # warm this path in a foreign workload
        splits: dict[str, float] = {}

        def timed(name: str, fn):
            t0 = time.perf_counter()
            with self.tracer.span(name):
                out = fn()
            splits[name] = time.perf_counter() - t0
            return out

        def split() -> float:
            bronze = timed("csv_source.read_reclamacoes_batch",
                           lambda: read_reclamacoes_batch(self.spark, self.landing.directory))
            timed("csv_source.scan", lambda: bronze.write.format("noop").mode("overwrite").save())
            timed("encode.avro_value_frame",
                  lambda: avro_value_frame(bronze).write.format("noop").mode("overwrite").save())
            return self.op()

        took = self.attempt(split)
        probe = splits["csv_source.read_reclamacoes_batch"]
        scan = splits["csv_source.scan"]
        scan_encode = splits["encode.avro_value_frame"]
        return {
            "csv_source.probe_s": probe,
            "csv_source.scan_s": scan,
            "encode.encode_s": scan_encode - scan,
            "datum_sink.write_s": took - probe - scan_encode,
            "datum_sink.bytes_per_row": self.sink_bytes_per_row,
            "datum_sink.files": self.sink_files,
        }


# ---- ingest_stream -----------------------------------------------------------


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class _Progress:
    """Collects every micro-batch's progress through a
    StreamingQueryListener (``recentProgress`` keeps only the last 100)."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.lock = threading.Lock()
        self.batches: dict[tuple[str, int], dict] = {}

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
                pass

            def onQueryProgress(self, event) -> None:  # noqa: N802
                p = event.progress
                start = _epoch(p.timestamp)
                rec = {
                    "rows": p.numInputRows, "start": start,
                    "commit": start + p.durationMs.get("triggerExecution", 0) / 1000.0,
                    "ms": dict(p.durationMs),
                }
                with outer.lock:
                    outer.batches[(str(p.id), p.batchId)] = rec

            def onQueryIdle(self, event) -> None:  # noqa: N802
                pass

            def onQueryTerminated(self, event) -> None:  # noqa: N802
                pass

        self.listener = Listener()

    def of(self, query_id: str) -> dict[int, dict]:
        with self.lock:
            return {b: r for (q, b), r in self.batches.items() if q == query_id}


def _batch_of_files(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log
    (plain and compacted entries)."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def _committed_values(output: str) -> list[bytes]:
    """Every ``value`` in the parquet files the sink's log committed."""
    import pyarrow.parquet as pq

    paths = set()
    for log in glob.glob(os.path.join(output, "_spark_metadata", "*")):
        if os.path.basename(log).startswith("."):
            continue
        with open(log) as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    if entry.get("action", "add") == "add":
                        paths.add(entry["path"].removeprefix("file:"))
    values: list[bytes] = []
    for p in sorted(paths):
        values.extend(pq.read_table(p, columns=["value"]).column("value").to_pylist())
    return values


class IngestStream(Workload):
    """Open loop: one fixed-size CSV lands every INTERVAL seconds into
    build_ingest_stream(sink="parquet", trigger_seconds=1); a file's
    freshness is the time from its scheduled landing to the commit of its
    micro-batch.  Not a workload of record: traced runs sweep it once for
    the streaming layers."""

    name = "ingest_stream"
    INTERVAL, ROWS_PER_FILE = 0.25, 1_200  # 4,800 rows/s landed
    WARM_S = 2.0  # a new query's first batches run slow; their files are not timed
    TIMED_S = 2.0
    WAIT_S = 60.0

    def _session_listener(self) -> None:
        if not self.registered():
            self.progress = _Progress()
            self.spark.streams.addListener(self.progress.listener)

    def _wait(self, query, files: list[str], batch_of: dict, deadline: float) -> dict[int, dict]:
        """Until every file sits in a committed micro-batch."""
        while True:
            batches = self.progress.of(str(query.id))
            batch_of.update(_batch_of_files(self._ckpt))
            if all(f in batch_of and batch_of[f] in batches for f in files):
                return batches
            if query.exception() is not None:
                raise RuntimeError(f"stream failed: {query.exception()}")
            if time.time() > deadline:
                raise TimeoutError(f"{sum(f not in batch_of for f in files)} files never committed")
            time.sleep(0.05)

    def _query(self) -> None:
        """One query: pre-land a first file, wait for batch 0, then land
        files for WARM_S untimed and TIMED_S timed seconds, wait for their
        commits, stop, and check the output holds every good row exactly
        once."""
        from data_ingestion_ex8_producer_spark.streaming.ingest import build_ingest_stream

        self._session_listener()
        base = self.run.path("stream")
        land, self._ckpt, out = (os.path.join(base, d) for d in ("land", "ckpt", "out"))
        os.makedirs(land)
        n_warm = int(round(self.WARM_S / self.INTERVAL))
        n_files = n_warm + int(round(self.TIMED_S / self.INTERVAL))
        batches = [fixtures.Batch(self.run.seed * 100_000 + i, self.ROWS_PER_FILE)
                   for i in range(n_files + 1)]
        names = [f"f{i:05d}.csv" for i in range(n_files + 1)]
        fixtures.write_csv(os.path.join(land, names[0]), batches[0])

        query = build_ingest_stream(
            self.spark, land, self._ckpt, sink="parquet", output_path=out, trigger_seconds=1
        )
        batch_of: dict[str, int] = {}
        try:
            self._wait(query, names[:1], batch_of, time.time() + self.WAIT_S)
            # Processing-time triggers fire on whole seconds of the wall
            # clock; files land mid-slot on a grid aligned to them, so the
            # wait for the next trigger is the same in every run.
            due: list[float] = []
            t0 = math.floor(time.time()) + 1 + self.INTERVAL / 2
            for i in range(1, n_files + 1):
                due.append(t0 + (i - 1) * self.INTERVAL)
                pause = due[-1] - time.time()
                if pause > 0:
                    time.sleep(pause)
                fixtures.write_csv(os.path.join(land, names[i]), batches[i])
                self.lateness.append(time.time() - due[-1])
            done = self._wait(query, names, batch_of, time.time() + self.WAIT_S)
        finally:
            query.stop()
        measured = {batch_of[n] for n in names[1 + n_warm:]}
        for i, name in enumerate(names[1 + n_warm:], start=n_warm):
            self.samples.append(done[batch_of[name]]["commit"] - due[i])
            self.tracer.add("stream.file_freshness", due[i], done[batch_of[name]]["commit"])
        for b in sorted(measured):
            rec = done[b]
            self.rows_per_batch.append(rec["rows"])
            for k, v in rec["ms"].items():
                self.batch_ms.setdefault(k, []).append(v)
            self.tracer.add("stream.micro_batch", rec["start"], rec["commit"])
        self.tracer.count("stream.files_landed", len(names))
        self.tracer.count("stream.rows_committed", sum(done[b]["rows"] for b in done))
        values = _committed_values(out)
        expected = fixtures.multiset_digest(d for b in batches for d in b.datums())
        self.check(fixtures.multiset_digest(values) == expected,
                   f"{len(values)} rows committed, expected each of {expected[0]} once")

    def layers(self, small: bool = True) -> dict[str, float]:
        """One query; each landed file counts as one operation."""
        self.lateness: list[float] = []
        self.batch_ms: dict[str, list[float]] = {}
        self.rows_per_batch: list[float] = []
        n_before = self.run.attempted
        self.attempt(self._query)
        self.run.attempted = n_before + max(len(self.samples), 1)

        def p50(values: list[float]) -> float:
            return median(values or [0.0])

        return {
            "stream.freshness_ms_p50": p50(self.samples) * 1000.0,
            "stream.trigger_ms_p50": p50(self.batch_ms.get("triggerExecution", [])),
            "stream.add_batch_ms_p50": p50(self.batch_ms.get("addBatch", [])),
            "stream.latest_offset_ms_p50": p50(self.batch_ms.get("latestOffset", [])),
            "stream.wal_commit_ms_p50": p50(self.batch_ms.get("walCommit", [])),
            "stream.planning_ms_p50": p50(self.batch_ms.get("queryPlanning", [])),
            "stream.batches": len(self.rows_per_batch),
            "stream.rows_per_batch_p50": p50(self.rows_per_batch),
            "stream.lateness_ms_p50": p50(self.lateness) * 1000.0,
        }


# ---- readback ----------------------------------------------------------------


class Readback(Workload):
    """Datum ``value`` parquet -> kafka_source.decode_value_frame ->
    schemas.silver_columns() -> per institution/quarter complaint aggregate."""

    name = "readback"
    FILES, ROWS_PER_FILE = 4, 25_000
    SMALL = (2, 5_000)

    def prepare(self, small: bool = False) -> None:
        files, rows = self.SMALL if small else (self.FILES, self.ROWS_PER_FILE)
        self.source = self.run.path("datums-small" if small else "datums")
        records = fixtures.write_datum_parquet(self.source, self.run.seed, files, rows)
        self.rows = len(records)
        self.expected = fixtures.complaint_aggregate(records)

    def _aggregate(self):
        from pyspark.sql import functions as F

        from data_ingestion_ex8_producer_spark.schemas import silver_columns
        from data_ingestion_ex8_producer_spark.sources.kafka_source import decode_value_frame

        with self.tracer.span("kafka_source.decode_value_frame"):
            bronze = decode_value_frame(self.spark.read.parquet(self.source))
        return bronze, (
            bronze.select(*silver_columns())
            .groupBy("instituicao_financeira", "quarter_start")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("quantidade_total_de_reclamacoes").alias("total"),
                F.sum("indice").alias("indice_sum"),
            )
        )

    def op(self) -> float:
        c0, t0 = tree_cpu_s(), time.perf_counter()
        with self.tracer.span(OP):
            _, agg = self._aggregate()
            with self.tracer.span("readback.collect"):
                rows = agg.collect()
        took = time.perf_counter() - t0
        self.cpu.append(tree_cpu_s() - c0)
        self.tracer.count("kafka_source.rows_decoded", self.rows)
        self.tracer.count("readback.groups", len(rows))
        got = {
            (r["instituicao_financeira"], r["quarter_start"].isoformat()):
                (r["n"], r["total"], r["indice_sum"])
            for r in rows
        }
        self.check(len(rows) == len(got) and got == self.expected,
                   f"aggregate differs ({len(rows)} groups, expected {len(self.expected)})")
        return took

    def layers(self, small: bool) -> dict[str, float]:
        """decode = datum parquet -> decode_value_frame -> noop; the silver
        projection and aggregate are the rest of a full readback."""
        if small:
            self.prepare(small=True)
            self.attempt(self.op)
        bronze, _ = self._aggregate()
        t0 = time.perf_counter()
        with self.tracer.span("kafka_source.decode_noop"):
            bronze.write.format("noop").mode("overwrite").save()
        decode = time.perf_counter() - t0
        took = self.attempt(self.op)
        return {
            "kafka_source.decode_s": decode,
            "readback.silver_agg_s": took - decode,
        }


# ---- analytics_mix -----------------------------------------------------------

SPECS = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue", "q_window_rank",
    "q_tumbling_window", "dedup_minhash_lsh", "dedup_simhash", "sim_ivfpq_topk",
    "sim_bruteforce_topk", "text_tfidf", "mm_decode_meta", "udf_accent_fold",
)
TOOLS = os.path.join(ROOT, "tools")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


class AnalyticsMix(Workload):
    """Registered specs from plans.registry over a generated star schema,
    each run once, cold, and checked against its DuckDB oracle.  Traced runs
    sweep it for the operators layer; it is not a workload of record."""

    name = "analytics_mix"

    def prepare(self) -> None:
        import duckdb

        from data_ingestion_ex8_producer_spark.plans.registry import all_specs

        # The repository's correctness checker renders and hashes results.
        if TOOLS not in sys.path:
            sys.path.insert(0, TOOLS)
        from check_correctness import frame_fingerprint

        self.fingerprint = frame_fingerprint

        self.star = self.run.path("star")
        fixtures.write_star_schema(self.star, self.run.seed)
        self.specs = {name: all_specs()[name] for name in SPECS}
        con = duckdb.connect(config={"threads": 1})
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.star}/{t}.parquet')")
        self.expected = {}
        for name, spec in self.specs.items():
            cur = con.execute(spec.oracle)
            self.expected[name] = self.fingerprint([d[0] for d in cur.description],
                                                   cur.fetchall())
        con.close()

    def query(self, name: str) -> float:
        """One spec, materialized with collect() (results are small), so
        the timed run is also the checked run; the check is untimed."""
        t0 = time.perf_counter()
        with self.tracer.span(f"query.{name}"):
            frame = self.specs[name].builder(self.spark, self.star)
            rows = [tuple(r) for r in frame.collect()]
        took = time.perf_counter() - t0
        self.spark.catalog.clearCache()
        self.tracer.count(f"query.{name}.rows_out", len(rows))
        got = self.fingerprint(list(frame.columns), rows)
        self.check(got == self.expected[name], f"{name}: {got[:2]} vs oracle {self.expected[name][:2]}")
        return took

    def layers(self, small: bool = True) -> dict[str, float]:
        """One cold pass over every spec."""
        return {f"query.{n}_s": self.attempt(self.query, n) or 0.0 for n in SPECS}


# Workloads of record (--workload choices), then every workload a traced
# run sweeps for its layers.
WORKLOADS = {w.name: w for w in (IngestBatch, Readback)}
SWEEP = (IngestBatch, IngestStream, Readback)
CODEC_ROWS = 20_000


def codec_layers(seed: int) -> dict[str, float]:
    """avro_codec in process, no Spark: encode_batches over pandas batches
    and decode_record over the datums, median of three passes each."""
    import pandas as pd

    from data_ingestion_ex8_producer_spark.functions.avro_codec import (
        decode_record,
        encode_batches,
    )

    batch = fixtures.Batch(seed, CODEC_ROWS)
    names = [name for name, _ in fixtures.FIELDS]
    frame = pd.DataFrame(
        {n: [v if v != "" else None for v in col] for n, col in zip(names, batch.columns)},
        dtype=object,
    )
    chunks = [frame.iloc[i : i + 10_000] for i in range(0, CODEC_ROWS, 10_000)]
    datums = batch.datums()

    def encode() -> int:
        return sum(len(out) for out in encode_batches(iter(chunks), names))

    def decode() -> int:
        return len([decode_record(d) for d in datums])

    def rate(fn) -> float:
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            n = fn()
            times.append(time.perf_counter() - t0)
        return n / median(times)

    return {
        "avro_codec.encode_rows_per_s": rate(encode),
        "avro_codec.decode_rows_per_s": rate(decode),
    }
