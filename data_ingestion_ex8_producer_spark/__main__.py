"""CLI entry point — the engine's equivalent of the reference daemon
(``python -m ex8_producer.app``, ``app.py:199-215``):

    python -m data_ingestion_ex8_producer_spark [--sink kafka|parquet]
        [--source PATH] [--checkpoint PATH] [--output PATH] [--replay]

Reads the same environment variables as the reference (S3 bucket/prefix,
Kafka bootstrap/topic, AWS creds — see config.py); without ``--source`` a
missing ``S3_BUCKET_NAME`` is fatal before the session starts (same contract
as ``app.py:202-203``), and so is an invalid sink (``--sink parquet``
without ``--output``).  Starts the checkpointed ingestion stream and blocks
until terminated.  ``--replay``
instead appends one batch cycle of the reference's loop to the same sink.
"""

from __future__ import annotations

import argparse
import sys

from .config import EngineConfig
from .session import build_session
from .streaming.ingest import build_ingest_stream, replay_all_batch, sink_options


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="data_ingestion_ex8_producer_spark")
    parser.add_argument("--sink", choices=["kafka", "parquet"], default="kafka")
    parser.add_argument("--source", help="override source path (default: s3a bucket/prefix from env)")
    parser.add_argument("--checkpoint", default="_checkpoints/ingest")
    parser.add_argument("--output", help="output path (parquet sink only)")
    parser.add_argument(
        "--replay", action="store_true",
        help="bug-compatible one-shot replay of every file currently present",
    )
    args = parser.parse_args(argv)

    cfg = EngineConfig()
    source = args.source or cfg.source_path
    fmt, options = sink_options(cfg, args.sink, args.output)
    spark = build_session("ex8-ingest")

    if args.replay:
        replay_all_batch(spark, source).write.format(fmt).options(**options).mode("append").save()
        print(f"replayed {source} to the {args.sink} sink")
        return 0

    query = build_ingest_stream(
        spark,
        source,
        args.checkpoint,
        sink=args.sink,
        output_path=args.output,
    )
    query.awaitTermination()
    return 0


if __name__ == "__main__":
    sys.exit(main())
