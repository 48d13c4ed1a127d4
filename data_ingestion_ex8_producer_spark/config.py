"""Engine configuration.

Mirrors the reference's env surface (``src/ex8_producer/settings.py:11-18``) so a
user of the reference can point this engine at the same S3 bucket / Kafka topic
with the same environment variables.  The tuning constants keep the reference's
names (``settings.py:4-6``) but are interpreted Spark-natively:

* ``CHUNK_SIZE``   -> advisory micro-batch sizing (``maxFilesPerTrigger``); the
  reference used it as a 10-row Kafka flush unit (``app.py:161-173``).
* ``PROCESS_INTERVAL`` -> streaming trigger cadence (reference: poll-loop sleep,
  ``app.py:187,196``).

``RETRY_DELAY``, the reference's 20 s inter-chunk sleep (``app.py:171``), has no
counterpart: a distributed engine does not reproduce a sleep-based throttle.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


def _env(name: str, default: str | None = None) -> str | None:
    value = os.getenv(name, default)
    return value if value != "" else default


@dataclass(frozen=True)
class EngineConfig:
    # S3 / object store (reference settings.py:11-16)
    aws_default_region: str | None = field(default_factory=lambda: _env("AWS_DEFAULT_REGION"))
    aws_access_key_id: str | None = field(default_factory=lambda: _env("AWS_ACCESS_KEY_ID"))
    aws_secret_access_key: str | None = field(default_factory=lambda: _env("AWS_SECRET_ACCESS_KEY"))
    aws_endpoint_url: str | None = field(default_factory=lambda: _env("AWS_ENDPOINT_URL"))
    s3_bucket_name: str | None = field(default_factory=lambda: _env("S3_BUCKET_NAME"))
    s3_path_prefix: str = field(default_factory=lambda: _env("S3_PATH_PREFIX", "") or "")

    # Kafka (reference settings.py:17-18)
    kafka_bootstrap_servers: str = field(
        default_factory=lambda: _env("KAFKA_BOOTSTRAP_SERVERS", "localhost:9092") or "localhost:9092"
    )
    kafka_topic: str = field(default_factory=lambda: _env("KAFKA_TOPIC", "my-topic") or "my-topic")

    # Tuning constants (reference settings.py:4-6); see module docstring.
    chunk_size: int = 10
    process_interval_seconds: int = 60

    # Spark-side knobs (engine-only).
    shuffle_partitions: int = field(
        default_factory=lambda: int(_env("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32") or 32)
    )
    local_cores: str = field(default_factory=lambda: _env("SPARK_GRAFT_CPUS", "32") or "32")

    @property
    def source_path(self) -> str:
        """s3a:// path of the CSV landing zone (bucket+prefix, settings.py:15-16)."""
        if not self.s3_bucket_name:
            raise ValueError("S3_BUCKET_NAME is required (reference app.py:202-203)")
        prefix = self.s3_path_prefix.strip("/")
        return f"s3a://{self.s3_bucket_name}/{prefix}" if prefix else f"s3a://{self.s3_bucket_name}"

    def validate_for_ingest(self) -> None:
        """Startup validation, same contract as reference ``app.py:202-203``."""
        missing = [
            name
            for name, val in (
                ("S3_BUCKET_NAME", self.s3_bucket_name),
                ("KAFKA_BOOTSTRAP_SERVERS", self.kafka_bootstrap_servers),
                ("KAFKA_TOPIC", self.kafka_topic),
            )
            if not val
        ]
        if missing:
            raise ValueError(f"Missing required configuration: {', '.join(missing)}")


def load_config() -> EngineConfig:
    return EngineConfig()
