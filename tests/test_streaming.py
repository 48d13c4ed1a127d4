"""Structured Streaming tests: the ingestion pipeline end-to-end through a
real StreamingQuery (file source -> Avro encode -> parquet sink, checkpointed
once-per-file), and event-time analytics streams vs their batch twins
(SURVEY.md §5.2 item 5).
"""

from __future__ import annotations

import time
from collections import Counter
from pathlib import Path

import pytest

from data_ingestion_ex8_producer_spark.functions.avro_codec import decode_record
from data_ingestion_ex8_producer_spark.operators.events import q_tumbling_window
from data_ingestion_ex8_producer_spark.streaming.events import (
    dedup_stream,
    stream_events_fixture,
    tumbling_counts,
)
from data_ingestion_ex8_producer_spark.streaming.ingest import (
    build_ingest_stream,
    replay_all_batch,
)

SF = "/root/testdata/sf0.001"

CSV_HEADER = (
    "Ano;Trimestre;Categoria;Tipo;CNPJ IF;Instituição financeira;Índice;"
    "Quantidade de reclamações reguladas procedentes;"
    "Quantidade de reclamações reguladas - outras;"
    "Quantidade de reclamações não reguladas;"
    "Quantidade total de reclamações;"
    "Quantidade total de clientes  CCS e SCR;"
    "Quantidade de clientes  CCS;"
    "Quantidade de clientes  SCR"
)


def _write_csv(path: Path, rows: list[str]) -> None:
    path.write_bytes(("\n".join([CSV_HEADER, *rows]) + "\n").encode("iso-8859-1"))


def _observed(query) -> Counter:
    """The ingest stream's observed counters, summed over its micro-batches."""
    total: Counter = Counter()
    for p in query.recentProgress:
        if "ingest" in p.observedMetrics:
            total.update(p.observedMetrics["ingest"].asDict())
    return total


def _rows_in(query) -> int:
    """CSV rows the query's micro-batches parsed: the observed ``rows_in``."""
    return _observed(query)["rows_in"]


@pytest.mark.slow
def test_ingest_stream_parquet_sink(spark, tmp_path: Path) -> None:
    src = tmp_path / "landing"
    src.mkdir()
    _write_csv(
        src / "a.csv",
        ["2024;1º;Cat;Tipo;123;BANCO A;1,0;1;1;1;3;10;5;5"],
    )
    _write_csv(
        src / "b.csv",
        [
            "2024;2º;Cat;Tipo;456;BANCO B;2,0;2;2;2;6;20;10;10",
            "2024;2º;Cat;Tipo;;BANCO C;3,0;3;;;3;30;;",
        ],
    )
    out = tmp_path / "out"
    checkpoint = tmp_path / "ckpt"

    query = build_ingest_stream(
        spark,
        str(src),
        str(checkpoint),
        sink="parquet",
        output_path=str(out),
        trigger_seconds=1,
    )
    # Wait for both files to be processed through micro-batches.
    deadline = time.time() + 90
    while time.time() < deadline:
        try:
            if spark.read.parquet(str(out)).count() >= 3:
                break
        except Exception:  # noqa: BLE001 — sink dir not created yet
            pass
        time.sleep(1)
    # Rows in per micro-batch: numInputRows counts the files read whole, the
    # observed rows_in counts their CSV rows.  Progress is posted after the
    # sink commit, so wait for it too.
    while time.time() < deadline and _rows_in(query) < 3:
        time.sleep(0.5)
    query.stop()
    query.awaitTermination(30)
    assert _rows_in(query) == 3
    assert sum(p.numInputRows for p in query.recentProgress) == 2

    datums = [bytes(r["value"]) for r in spark.read.parquet(str(out)).collect()]
    decoded = {d["instituicao_financeira"] for d in map(decode_record, datums)}
    assert decoded == {"BANCO A", "BANCO B", "BANCO C"}

    # Once-per-file semantics: restarting against the same checkpoint with no
    # new files must process nothing new (unlike the reference's re-ingest-
    # forever loop, SURVEY.md §3 delta 1).
    n_before = len(datums)
    query2 = build_ingest_stream(
        spark,
        str(src),
        str(checkpoint),
        sink="parquet",
        output_path=str(out),
        trigger_seconds=1,
    )
    time.sleep(5)
    query2.stop()
    query2.awaitTermination(30)
    assert spark.read.parquet(str(out)).count() == n_before


@pytest.mark.slow
def test_ingest_stream_maps_each_files_header(spark, tmp_path: Path) -> None:
    """The stream maps every file through its own header, as batch does: a
    file whose columns are reordered lands beside a canonical one with
    ``ano``/``trimestre`` in their places."""
    src = tmp_path / "landing_reordered"
    src.mkdir()
    names = CSV_HEADER.split(";")
    names[0], names[1] = names[1], names[0]  # Trimestre;Ano;...
    (src / "a.csv").write_bytes(
        (";".join(names) + "\n1º;2024;Cat;Tipo;123;BANCO A;1,0;1;1;1;3;10;5;5\n")
        .encode("iso-8859-1")
    )
    _write_csv(src / "b.csv", ["2023;2º;Cat;Tipo;456;BANCO B;2,0;2;2;2;6;20;10;10"])
    out = tmp_path / "reordered_out"
    query = build_ingest_stream(
        spark,
        str(src),
        str(tmp_path / "reordered_ckpt"),
        sink="parquet",
        output_path=str(out),
        trigger_seconds=1,
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    datums = [bytes(r["value"]) for r in spark.read.parquet(str(out)).collect()]
    got = sorted((d["ano"], d["trimestre"]) for d in map(decode_record, datums))
    assert got == [("2023", "2º"), ("2024", "1º")]


@pytest.mark.slow
def test_ingest_stream_counts_rejected_rows(spark, tmp_path: Path) -> None:
    """A row with an empty required field is counted in ``rows_in`` and not
    in ``rows_committed``, on the pass that encodes it; the stream commits
    what ``replay_all_batch`` commits."""
    src = tmp_path / "landing_rejects"
    src.mkdir()
    _write_csv(
        src / "a.csv",
        [
            "2024;1º;Cat;Tipo;123;BANCO A;1,0;1;1;1;3;10;5;5",
            "2024;1º;Cat;Tipo;456;;2,0;2;2;2;6;20;10;10",
            "2024;1º;Cat;Tipo;;BANCO C;3,0;3;;;3;30;;",
        ],
    )
    out = tmp_path / "rejects_out"
    query = build_ingest_stream(
        spark,
        str(src),
        str(tmp_path / "rejects_ckpt"),
        sink="parquet",
        output_path=str(out),
        trigger_seconds=1,
    )
    try:
        query.processAllAvailable()
        deadline = time.time() + 60
        while time.time() < deadline and _rows_in(query) < 3:
            time.sleep(0.5)
    finally:
        query.stop()
        query.awaitTermination(30)
    assert _observed(query) == {"rows_in": 3, "rows_committed": 2}
    assert spark.read.parquet(str(out)).count() == 2
    assert replay_all_batch(spark, str(src)).count() == 2


@pytest.mark.slow
def test_streaming_tumbling_equals_batch(spark, tmp_path: Path) -> None:
    events = stream_events_fixture(spark, SF, str(tmp_path / "events_stage"))
    agg = tumbling_counts(events)
    query = (
        agg.writeStream.format("memory")
        .queryName("stream_tumbling")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    query.stop()

    got = {
        (r["window_start"], r["window_end"], r["event_type"]): (
            r["n_events"],
            r["total_value"],
        )
        for r in spark.sql("SELECT * FROM stream_tumbling").collect()
    }
    expected = {
        (r["window_start"], r["window_end"], r["event_type"]): (
            r["n_events"],
            r["total_value"],
        )
        for r in q_tumbling_window(spark, SF).collect()
    }
    assert got == expected  # prefix-consistency: stream result == batch result


@pytest.mark.slow
def test_stream_dedup(spark, tmp_path: Path) -> None:
    events = stream_events_fixture(spark, SF, str(tmp_path / "events_stage2"))
    deduped = dedup_stream(events)
    query = (
        deduped.writeStream.format("memory")
        .queryName("stream_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    query.stop()
    n = spark.sql("SELECT count(*) AS n FROM stream_dedup").collect()[0]["n"]
    n_distinct = spark.read.parquet(f"{SF}/events.parquet").count()
    assert n == n_distinct  # event_ids unique in fixture -> nothing dropped


@pytest.mark.slow
def test_stream_static_join(spark, tmp_path: Path) -> None:
    """Stream-static join: the streaming events enriched against the static
    customer dimension must equal the batch join (dimension broadcast per
    micro-batch, no state)."""
    from pyspark.sql import functions as F

    events = stream_events_fixture(spark, SF, str(tmp_path / "ss_stage"))
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    enriched = events.join(
        F.broadcast(cust), events.user_id == cust.c_custkey
    ).select("event_id", "c_mktsegment")
    query = (
        enriched.writeStream.format("memory")
        .queryName("stream_static")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    query.stop()
    got = {
        (r["event_id"], r["c_mktsegment"])
        for r in spark.sql("SELECT * FROM stream_static").collect()
    }
    from data_ingestion_ex8_producer_spark.sources.tables import load_table

    batch = load_table(spark, SF, "events")
    expected = {
        (r["event_id"], r["c_mktsegment"])
        for r in batch.join(cust, batch.user_id == cust.c_custkey)
        .select("event_id", "c_mktsegment")
        .collect()
    }
    assert len(expected) > 0
    assert got == expected


@pytest.mark.slow
def test_streaming_session_window_equals_batch(spark, tmp_path: Path) -> None:
    from data_ingestion_ex8_producer_spark.operators.events import q_session_window
    from data_ingestion_ex8_producer_spark.streaming.events import session_values

    events = stream_events_fixture(spark, SF, str(tmp_path / "events_stage3"))
    stream = session_values(events)
    query = (
        stream.writeStream.format("memory")
        .queryName("stream_sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    query.stop()

    def as_map(rows):
        return {
            (r["user_id"], r["session_start"], r["session_end"]): (
                r["n_events"],
                r["total_value"],
            )
            for r in rows
        }

    batch = q_session_window(spark, SF)
    assert stream.columns == batch.columns
    got = as_map(spark.sql("SELECT * FROM stream_sessions").collect())
    assert got == as_map(batch.collect())


@pytest.mark.slow
def test_stream_dedup_within_watermark(spark, tmp_path: Path) -> None:
    """dropDuplicatesWithinWatermark: redelivered event_ids within the
    watermark horizon are dropped; state is evictable (bounded), unlike
    plain dropDuplicates keyed on a non-watermark column."""
    from data_ingestion_ex8_producer_spark.streaming.events import (
        dedup_stream_within_watermark,
    )

    staging = tmp_path / "dupes"
    staging.mkdir()
    base = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 7, "click", 1.0, "{}"),
            (2, "2024-01-01 10:00:30", 7, "view", 1.0, "{}"),
            (1, "2024-01-01 10:01:00", 7, "click", 1.0, "{}"),  # redelivery of 1
            (3, "2024-01-01 10:02:00", 8, "click", 1.0, "{}"),
            (2, "2024-01-01 10:02:30", 7, "view", 1.0, "{}"),  # redelivery of 2
        ],
        "event_id long, ts_s string, user_id long, event_type string, value double, props string",
    ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "user_id", "event_type", "value", "props")
    base.coalesce(1).write.parquet(str(staging / "batch0"))

    schema = spark.read.parquet(str(staging / "batch0")).schema
    stream = spark.readStream.schema(schema).parquet(str(staging / "*"))
    query = (
        dedup_stream_within_watermark(stream, "10 minutes")
        .writeStream.format("memory")
        .queryName("stream_dedup_ww")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    query.stop()
    rows = spark.sql(
        "SELECT event_id, count(*) AS n FROM stream_dedup_ww GROUP BY event_id"
    ).collect()
    assert {r["event_id"]: r["n"] for r in rows} == {1: 1, 2: 1, 3: 1}


@pytest.mark.slow
def test_rate_source_windowed_counts(spark, tmp_path: Path) -> None:
    """Rate source -> event-time tumbling window: the built-in load-generator
    source (monotonic timestamp + value rows) driven through the same
    windowed-count shape the events stream uses.  Pins that (a) the rate
    source produces rows at the configured rate, (b) watermarked tumbling
    aggregation over it reaches the sink in availableNow mode."""
    from pyspark.sql import functions as F

    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 500)
        .option("numPartitions", 2)
        .load()
        .withWatermark("timestamp", "0 seconds")
        .groupBy(F.window("timestamp", "1 second").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("start"), "n")
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_counts")
        .outputMode("complete")
        .trigger(processingTime="1 second")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        rows: list = []
        for _ in range(60):  # rate source needs wall-clock time to emit
            time.sleep(1)
            rows = spark.sql("SELECT * FROM rate_counts").collect()
            if rows and sum(r["n"] for r in rows) >= 500:
                break
    finally:
        q.stop()
    assert rows, "rate source produced no windows"
    assert sum(r["n"] for r in rows) > 0


def test_streaming_ohlc_bars_equals_batch(spark, tmp_path: Path) -> None:
    """The OHLC rollup streams with the identical combinable aggregate
    plan: every (type, hour) bar — open/high/low/close selections
    included — matches the batch operator exactly."""
    from data_ingestion_ex8_producer_spark.operators.events import q_ohlc_bars
    from data_ingestion_ex8_producer_spark.streaming.events import (
        ohlc_bars_stream,
        stream_events_fixture,
    )

    events = stream_events_fixture(spark, SF, str(tmp_path / "ohlc_stage"))
    stream = ohlc_bars_stream(events)
    query = (
        stream.writeStream.format("memory")
        .queryName("stream_ohlc")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    query.stop()

    def as_map(rows):
        return {
            (r["event_type"], r["hour_start"]): (
                r["open"], r["high"], r["low"], r["close"],
                r["n_events"], r["volume"],
            )
            for r in rows
        }

    batch = q_ohlc_bars(spark, SF)
    assert stream.columns == batch.columns
    got = as_map(spark.sql("SELECT * FROM stream_ohlc").collect())
    expected = as_map(batch.collect())
    assert got == expected and len(got) > 0
