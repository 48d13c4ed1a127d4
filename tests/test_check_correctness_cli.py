"""``tools/check_correctness.py`` rejects bad arguments before it starts
Spark.  Each case runs with ``SPARK_HOME`` pointing at an empty directory, so
a session build would fail with a traceback (exit 1), not a usage error."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _run(tmp_path: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(ROOT / "tools" / "check_correctness.py"), *args],
        cwd=ROOT,
        env={**os.environ, "SPARK_HOME": str(tmp_path)},
        capture_output=True,
        text=True,
        timeout=120,
    )


def test_help_prints_usage(tmp_path) -> None:
    done = _run(tmp_path, "--help")
    assert done.returncode == 0, done.stderr
    assert done.stdout.startswith("usage: check_correctness.py")


def test_unknown_flag_is_a_usage_error(tmp_path) -> None:
    done = _run(tmp_path, "--bogus")
    assert done.returncode == 2
    assert "unrecognized arguments: --bogus" in done.stderr


def test_unknown_query_names_are_an_error(tmp_path) -> None:
    done = _run(tmp_path, str(tmp_path), "q1_pricing_summary", "q1_pricing_summaryy", "no_such_q")
    assert done.returncode == 2
    assert "unknown queries: no_such_q, q1_pricing_summaryy" in done.stderr
    assert "failures" not in done.stdout
