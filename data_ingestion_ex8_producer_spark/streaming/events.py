"""Streaming event-time analytics: the Structured Streaming twins of the
batch queries in ``operators/events.py`` (same groupings, same results per
the prefix-consistency model), plus the stateful pieces that only exist in
streaming: watermarks, late-data drop, stateful dropDuplicates.

These functions take an already-streaming DataFrame (file/kafka/rate source,
or a replayed parquet fixture via ``stream_events_fixture``) so tests can
drive them deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_events_fixture(spark: SparkSession, sf_dir: str, staging_dir: str) -> DataFrame:
    """Replay the events parquet as a file-source stream (one file = one
    micro-batch input).  Nanosecond ts is converted exactly as in the batch
    loader."""
    import shutil
    from pathlib import Path

    from ..sources.tables import _normalize_event_ts

    staging = Path(staging_dir)
    staging.mkdir(parents=True, exist_ok=True)
    shutil.copy(f"{sf_dir}/events.parquet", staging / "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(str(staging / "events.parquet"))
    stream = spark.readStream.schema(batch.schema).parquet(str(staging))
    return stream.withColumn("ts", _normalize_event_ts(batch))


def tumbling_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling 1 h windows per event type; rows later than the
    watermark past the window end are dropped and their state reclaimed."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,4)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_values(events: DataFrame, gap: str = "10 minutes") -> DataFrame:
    """Watermarked session windows per user (state merges as events arrive;
    sessions close when the watermark passes start+gap)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful exact dedup on event_id, the streaming twin of distinct().

    The state is NOT bounded: the dedup key excludes the watermark column
    ``ts``, so the watermark never evicts a key and every event_id seen is
    kept for the life of the query.  Use ``dedup_stream_within_watermark``
    for an unbounded stream."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def dedup_stream_within_watermark(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Dedup with GUARANTEED bounded state: unlike dropDuplicates (which
    keys state on event_id forever when event_id isn't the watermark column),
    dropDuplicatesWithinWatermark evicts each key once the watermark passes
    its event time + delay — the only safe exact-dedup form for an unbounded
    100 TB/day stream.  Duplicates are removed only when they arrive within
    the watermark delay of the first occurrence, which is the at-least-once
    redelivery window of any real source."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_to_memory(streaming_df: DataFrame, name: str, output_mode: str = "append") -> None:
    """Drive a streaming frame over all currently-available input into an
    in-memory table, then stop (availableNow trigger).  Aggregations need
    output_mode="complete"; row-wise streams use "append"."""
    query = (
        streaming_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(180)
    query.stop()


__all__ = [
    "stream_events_fixture",
    "tumbling_counts",
    "session_values",
    "dedup_stream",
    "run_to_memory",
]


def ohlc_bars_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of the batch q_ohlc_bars rollup: watermarked tumbling
    1 h OHLC bars per event type.  min_by/max_by over the (ts, event_id)
    struct are ordinary declarative aggregates, so the SAME combinable
    partial-agg plan runs incrementally with bounded state — one live
    aggregation row per (type, open window); rows later than the watermark
    past window end are dropped and their state reclaimed.  Pinned
    row-for-row against the batch operator in tests/test_streaming.py."""
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,4)"))
            .cast("double")
            .alias("volume"),
        )
        .select(
            F.col("window.start").alias("hour_start"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_events",
            "volume",
        )
    )


def stream_documents_fixture(
    spark: SparkSession, sf_dir: str, staging_dir: str
) -> DataFrame:
    """Replay the documents parquet as a file-source stream (one file = one
    micro-batch input) — the fixture for document-pipeline streaming twins
    (token-budget gate)."""
    import shutil
    from pathlib import Path

    staging = Path(staging_dir)
    staging.mkdir(parents=True, exist_ok=True)
    shutil.copy(f"{sf_dir}/documents.parquet", staging / "documents.parquet")
    batch = spark.read.parquet(str(staging / "documents.parquet"))
    return spark.readStream.schema(batch.schema).parquet(str(staging))
