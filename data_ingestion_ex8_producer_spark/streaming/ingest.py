"""The ingestion pipeline — the reference's entire job (S3 CSV poll -> Avro
-> Kafka, ``app.py:176-196``) as ONE checkpointed Structured Streaming query.

Reference loop -> Spark mapping (SURVEY.md §3):
  list_csv_files + re-scan forever  -> FileStreamSource listing + checkpoint
                                       (once-per-file; ``replay_all_batch``
                                       below reproduces bug-compatible
                                       re-ingestion)
  60 s poll sleep                   -> trigger(processingTime="60 seconds")
  CHUNK_SIZE=10 + 20 s sleep        -> micro-batch boundaries; the 0.5 rows/s
                                       throttle is deliberately NOT reproduced
  csv.DictReader + per-row Avro     -> one ``mapInArrow`` pass per landing
  datum                                file: ``csv_source._parse`` then the
                                       Arrow encoder (``sinks.encode``)
  keyless Kafka produce + flush     -> Kafka sink, epoch-committed
  skip-and-log on bad record        -> a NULL required field gives a NULL
                                       ``value``, filtered before the sink;
                                       short rows pad with NULL (strictly
                                       narrower blast radius than the
                                       reference's drop-rest-of-chunk,
                                       app.py:157-158)

Sinks: ``kafka`` (production) and ``parquet`` (broker-less; the file sink's
``_spark_metadata`` log commits each micro-batch exactly once).

The source reads each landing file whole (``sources/csv_source.py``), so a
micro-batch's ``numInputRows`` counts files.  The stream observes, on the
same pass, the CSV rows it parsed and the rows it commits:
``observedMetrics["ingest"]["rows_in"]`` and ``["rows_committed"]``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..config import PROCESS_INTERVAL_SECONDS, EngineConfig
from ..sinks.encode import value_batch
from ..sources.csv_source import landing_file_stream, landing_files, parse_files


def sink_options(
    cfg: EngineConfig, sink: str, output_path: str | None
) -> tuple[str, dict[str, str]]:
    """Format and options of the ingest sink, validated; shared by the
    stream and the CLI's one-shot replay.

    sink="kafka": production parity (requires the spark-sql-kafka package and
    a broker).  sink="parquet": broker-less — writes the same ``value``
    binary column to parquet files at ``output_path``."""
    if sink == "kafka":
        return "kafka", {
            "kafka.bootstrap.servers": cfg.kafka_bootstrap_servers,
            "topic": cfg.kafka_topic,
        }
    if sink == "parquet":
        if not output_path:
            raise ValueError("output_path required for parquet sink")
        return "parquet", {"path": output_path}
    raise ValueError(f"unknown sink {sink!r}")


def _encode_files(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    return map(value_batch, parse_files(batches))


def _datums(files: DataFrame) -> DataFrame:
    """Landing files -> one ``value`` per CSV row, in one Python pass: each
    file is parsed and encoded in the same ``mapInArrow`` worker.  A row
    with a NULL required field has a NULL ``value``; callers filter it."""
    return files.select("content").mapInArrow(_encode_files, "value binary")


def build_ingest_stream(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    sink: str = "kafka",
    output_path: str | None = None,
    trigger_seconds: int = PROCESS_INTERVAL_SECONDS,
) -> StreamingQuery:
    """Start the ingestion stream into ``sink`` (see ``sink_options``)."""
    fmt, options = sink_options(EngineConfig(), sink, output_path)
    datums = _datums(landing_file_stream(spark, source_path)).observe(
        "ingest",
        F.count(F.lit(1)).alias("rows_in"),
        F.count("value").alias("rows_committed"),
    )
    return (
        datums.where("value IS NOT NULL")
        .writeStream.format(fmt)
        .options(**options)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def replay_all_batch(spark: SparkSession, source_path: str) -> DataFrame:
    """Bug-compatible replay mode: encode EVERY file currently present,
    regardless of checkpoint state — one cycle of the reference's
    re-ingest-forever loop (``app.py:176-196``), on demand instead of
    unbounded."""
    return _datums(landing_files(spark, source_path)).where("value IS NOT NULL")
