"""``build_session`` sizes a local session from the host and leaves Spark's
own defaults alone.  Each case builds its session in a fresh interpreter,
because a JVM's master and driver heap are fixed when it starts."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]

_DEFAULTED = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "134217728b",
}

_PROBE = f"""
import json
from data_ingestion_ex8_producer_spark.session import build_session
spark = build_session("session-probe")
conf = {{k: spark.conf.get(k) for k in {sorted(_DEFAULTED) + ["spark.sql.shuffle.partitions"]!r}}}
memory = spark.sparkContext.getConf().get("spark.driver.memory")
conf["driver_mb"] = spark._jvm.org.apache.spark.util.Utils.memoryStringToMb(memory)
conf["master"] = spark.sparkContext.master
spark.stop()
print(json.dumps(conf))
"""


def _probe(**env: str) -> dict:
    clean = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_MASTER")
    }
    done = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=ROOT,
        env={**clean, **env},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert done.returncode == 0, done.stderr[-2000:]
    return json.loads(done.stdout.strip().splitlines()[-1])


@pytest.mark.slow
def test_session_sized_from_host() -> None:
    conf = _probe()
    cpus = len(os.sched_getaffinity(0))
    assert conf["master"] == f"local[{cpus}]"
    assert conf["spark.sql.shuffle.partitions"] == str(cpus)
    half_ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 // 2**20
    assert conf["driver_mb"] <= min(12 * 1024, half_ram_mb)
    assert {k: conf[k] for k in _DEFAULTED} == _DEFAULTED


@pytest.mark.slow
def test_session_cpus_from_env() -> None:
    conf = _probe(SPARK_GRAFT_CPUS="3")
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
