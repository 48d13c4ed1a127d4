"""PySpark-native analytics engine with the capabilities of the reference
``eEDB-Grupo-5/data_ingestion_ex8-producer`` (a single-process S3-CSV → Avro →
Kafka producer), rebuilt Spark-first and extended with the analytics /
LLM-data-pipeline surface mandated by the build contract.

Layout:
  config.py     env-driven configuration (same env-var names as the reference's
                ``settings.py:11-18``)
  session.py    SparkSession factory (AQE, Arrow, s3a wiring)
  worker_daemon.py  Python worker daemon: takes Spark's zip and jar archives
                off the task workers' sys.path, so they import the
                installed pyspark; its ``drop_loaded_archives`` takes them
                off a planner worker once pyspark and py4j are loaded.  It
                is imported through this package before the daemon's edit,
                so this file must not import pyspark.
  schemas.py    Avro record fields (name, order, nullability), bronze
                StructType, raw landing header, silver projection
  functions/    names.py (header sanitize port), text.py (tokens, positional
                word n-grams, k-shingles and hashes, each with its DuckDB
                twin: ngrams/sql_ngrams, ...), avro_codec.py (Avro datum
                codec)
  sources/      batch + streaming readers (csv, parquet star schema, kafka)
  sinks/        encode.py (Avro value frame) + datum_sink.py (avro_datum_dir)
  operators/    the analytics query surface (driver-scored via plans.registry)
  plans/        query registry: name -> (spark builder, DuckDB oracle SQL)
  streaming/    ingestion pipeline parity + event-time queries
"""

__version__ = "0.1.0"
