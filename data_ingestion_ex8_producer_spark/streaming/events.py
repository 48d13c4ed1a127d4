"""Streaming event-time analytics: the batch rollups of
``operators/events.py`` applied unchanged to watermarked streams (so each
stream result equals the batch result over the stream's prefix), plus the
stateful pieces that only exist in streaming: late-data drop and stateful
dropDuplicates.

These functions take an already-streaming DataFrame (file/kafka/rate source,
or a replayed parquet fixture via ``stream_events_fixture``) so tests can
drive them deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import events as batch_ops

# Rows later than this past a window's end are dropped and its state reclaimed.
_WATERMARK = "2 hours"
_DEDUP_WATERMARK = "1 hour"


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


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Watermarked ``q_tumbling_window``: 1 h windows per event type."""
    return batch_ops.tumbling_counts(events.withWatermark("ts", _WATERMARK))


def session_values(events: DataFrame) -> DataFrame:
    """Watermarked ``q_session_window``: sessions per user close when the
    watermark passes last event + gap."""
    return batch_ops.session_values(events.withWatermark("ts", _WATERMARK))


def ohlc_bars_stream(events: DataFrame) -> DataFrame:
    """Watermarked ``q_ohlc_bars``: min_by/max_by are ordinary combinable
    aggregates, so the batch plan runs incrementally with one live row per
    (type, open window)."""
    return batch_ops.ohlc_bars(events.withWatermark("ts", _WATERMARK))


def dedup_stream(events: DataFrame) -> DataFrame:
    """Stateful exact dedup on event_id, the streaming twin of distinct().

    The state is NOT bounded: the dedup key excludes the watermark column
    ``ts``, so the watermark never evicts a key and every event_id seen is
    kept for the life of the query.  Use ``dedup_stream_within_watermark``
    for an unbounded stream."""
    return events.withWatermark("ts", _DEDUP_WATERMARK).dropDuplicates(["event_id"])


def dedup_stream_within_watermark(
    events: DataFrame, watermark: str = _DEDUP_WATERMARK
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

