"""Kafka source: read back the Avro datums the ingest pipeline produces.

The reference is produce-only (no consumer anywhere, SURVEY.md §2); this
module closes the loop so the analytics surface can query the ingested
stream.  Layered so the Avro decode is testable without a broker:

* ``read_kafka_stream`` / ``read_kafka_batch`` — the broker-facing readers
  (require the spark-sql-kafka package; not present in this container).
* ``decode_value_frame`` — turns any DataFrame with a ``value: binary``
  column (from Kafka, or from the parquet sink) back into bronze
  reclamacoes rows in one ``mapInArrow`` pass over the engine's Arrow
  decoder (``functions/avro_codec.decode_arrow``, pinned against the
  golden-tested ``decode_record``; spark-avro is not on this classpath).
  A malformed or NULL ``value`` fails the task with a ValueError naming
  the fault.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ..config import EngineConfig
from ..functions.avro_codec import decode_arrow
from ..schemas import BRONZE_SCHEMA


def read_kafka_stream(spark: SparkSession) -> DataFrame:
    """Streaming reader over the ingest topic (value: binary Avro datums)."""
    cfg = EngineConfig()
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", cfg.kafka_bootstrap_servers)
        .option("subscribe", cfg.kafka_topic)
        .option("startingOffsets", "earliest")
        .load()
    )


def read_kafka_batch(spark: SparkSession) -> DataFrame:
    cfg = EngineConfig()
    return (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", cfg.kafka_bootstrap_servers)
        .option("subscribe", cfg.kafka_topic)
        .option("startingOffsets", "earliest")
        .option("endingOffsets", "latest")
        .load()
    )


def _bronze_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        yield decode_arrow(batch.column(0))


def decode_value_frame(df: DataFrame) -> DataFrame:
    """value: binary -> bronze reclamacoes rows (inverse of
    sinks.encode.avro_value_frame)."""
    return df.select("value").mapInArrow(_bronze_batches, BRONZE_SCHEMA)
