"""Engine configuration.

``EngineConfig`` mirrors the reference's env surface
(``src/ex8_producer/settings.py:11-18``) so a user of the reference can point
this engine at the same S3 bucket / Kafka topic with the same environment
variables; each consumer builds it where the values are used.  The tuning
constants keep the reference's names (``settings.py:4-6``) but are
interpreted Spark-natively:

* ``CHUNK_SIZE``   -> micro-batch sizing (``maxFilesPerTrigger``); the
  reference used it as a 10-row Kafka flush unit (``app.py:161-173``).
* ``PROCESS_INTERVAL_SECONDS`` -> default streaming trigger cadence
  (reference: poll-loop sleep, ``app.py:187,196``).

``RETRY_DELAY``, the reference's 20 s inter-chunk sleep (``app.py:171``), has no
counterpart: a distributed engine does not reproduce a sleep-based throttle.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

CHUNK_SIZE = 10
PROCESS_INTERVAL_SECONDS = 60


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

    @property
    def source_path(self) -> str:
        """s3a:// path of the CSV landing zone (bucket+prefix, settings.py:15-16)."""
        if not self.s3_bucket_name:
            raise ValueError("S3_BUCKET_NAME is required (reference app.py:202-203)")
        prefix = self.s3_path_prefix.strip("/")
        return f"s3a://{self.s3_bucket_name}/{prefix}" if prefix else f"s3a://{self.s3_bucket_name}"
