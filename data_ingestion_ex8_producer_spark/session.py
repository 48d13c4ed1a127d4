"""SparkSession factory.

One place to encode the session posture: Arrow for any Python-side exchange,
UTC session time zone (determinism across engines), and s3a credentials wired
from the same env vars the reference reads (``settings.py:11-14``), including a
custom endpoint for MinIO-style deployments (``AWS_ENDPOINT_URL``).  AQE
(partition coalescing, skew-join splitting) and 128 MiB file splits are
Spark's own defaults.

Local sessions size themselves from the host: N task slots, where N is
``SPARK_GRAFT_CPUS`` or else the CPUs this process may use, N shuffle
partitions (AQE coalesces downward at runtime), and a driver heap of
``SPARK_GRAFT_DRIVER_MEM`` or else half of physical memory, at most 12g.  On
a real cluster the same builder is used with master/memory supplied by the
cluster manager.

Python task workers (``mapInArrow``, ``mapInPandas``, Python data-source
readers and writers, RDD functions) start from the engine's own daemon,
``worker_daemon.py``.  Spark puts ``pyspark.zip``, the py4j zip and the
spark-core jar first on a worker's path; a worker that imports from them
keeps zip finders that re-read each archive's directory at the start of every
task (PySpark calls ``importlib.invalidate_caches()`` there), about 0.2 cpu-s
a task.  The daemon removes those files under ``$SPARK_HOME`` from
``sys.path``, so workers import the installed pyspark and py4j the driver
uses, from bytecode.  It falls back to Spark's path, unchanged, when
``SPARK_HOME`` is unset, or when either installed package is missing or of
another version than the archive's.  Like every package function a worker
runs, the daemon must be importable by the worker: from the working
directory, ``PYTHONPATH`` or an install.  Spark's planner workers (Python
data-source lookup, write planning and commit) start from Spark's default
daemon, which this conf does not reach, and import pyspark from the archives.
Importing ``sinks/datum_sink.py``, which every ``avro_datum_dir`` planner
call unpickles, takes the archives off such a worker
(``worker_daemon.drop_loaded_archives``), so from its second call on its
``importlib.invalidate_caches()`` re-reads none.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .config import EngineConfig

# Spark runs `python -m WORKER_DAEMON <worker module>` and forks task workers from it.
WORKER_DAEMON = "data_ingestion_ex8_producer_spark.worker_daemon"


def build_session(
    app_name: str = "data_ingestion_ex8_producer_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cfg = EngineConfig()
    cpus = int(os.getenv("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    half_ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 // 2**20
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not os.getenv("SPARK_MASTER") and "SPARK_ENV_LOADED" not in os.environ:
        builder = builder.master(f"local[{cpus}]")

    conf: dict[str, str] = {
        # In local mode the driver JVM IS the executor: the 1g default heap
        # starves the task threads (a 10x-corpus probe OOMed in a banded
        # join under it).
        "spark.driver.memory": os.getenv("SPARK_GRAFT_DRIVER_MEM")
        or f"{min(half_ram_mb, 12 * 1024)}m",
        "spark.sql.shuffle.partitions": str(cpus),
        # Deterministic timestamp semantics across Spark and the DuckDB oracle.
        "spark.sql.session.timeZone": "UTC",
        # Arrow for pandas UDF / toPandas exchange (the only sanctioned Python path).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": os.getenv("SPARK_GRAFT_UI", "false"),
        "spark.python.daemon.module": WORKER_DAEMON,
    }

    # s3a wiring from the reference's env surface (settings.py:11-14).
    if cfg.aws_access_key_id:
        conf["spark.hadoop.fs.s3a.access.key"] = cfg.aws_access_key_id
    if cfg.aws_secret_access_key:
        conf["spark.hadoop.fs.s3a.secret.key"] = cfg.aws_secret_access_key
    if cfg.aws_endpoint_url:
        conf["spark.hadoop.fs.s3a.endpoint"] = cfg.aws_endpoint_url
        conf["spark.hadoop.fs.s3a.path.style.access"] = "true"
    if cfg.aws_default_region:
        conf["spark.hadoop.fs.s3a.endpoint.region"] = cfg.aws_default_region

    if extra_conf:
        conf.update(extra_conf)
    for key, value in conf.items():
        builder = builder.config(key, value)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
