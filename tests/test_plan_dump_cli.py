"""``tools/plan_dump.py`` rejects query names it will not dump before it
starts Spark.  The run has ``SPARK_HOME`` pointing at an empty directory, so
a session build would fail with a traceback (exit 1), not a usage error."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_unknown_query_names_are_an_error(tmp_path) -> None:
    round_name = "unknown_query_names_check"
    done = subprocess.run(
        [
            sys.executable,
            str(ROOT / "tools" / "plan_dump.py"),
            round_name,
            "after",
            "q1_pricing_summary",
            "q1_pricing_summaryy",
            "q_k_anonymity",  # registered, but not bench-flagged
        ],
        cwd=ROOT,
        env={**os.environ, "SPARK_HOME": str(tmp_path)},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert done.returncode == 2, done.stderr
    assert "unknown queries: q1_pricing_summaryy, q_k_anonymity" in done.stderr
    assert not (ROOT / "plans" / round_name).exists()
