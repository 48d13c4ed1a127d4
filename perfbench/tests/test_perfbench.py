"""Benchmark-local tests: seeded inputs are byte-identical per seed, the
fixture encoder agrees with the engine's, the span arithmetic is right, and
the metric names the benchmark prints are the ones BENCHMARK.json lists.

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import fixtures  # noqa: E402
import harness  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _same_tree(a, b) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    return all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


def test_landing_files_are_byte_identical_for_a_seed(tmp_path) -> None:
    one = fixtures.Landing(str(tmp_path / "a"), 7, 2, 3000)
    two = fixtures.Landing(str(tmp_path / "b"), 7, 2, 3000)
    other = fixtures.Landing(str(tmp_path / "c"), 8, 2, 3000)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")
    assert one.datum_digest() == two.datum_digest() != other.datum_digest()
    assert one.blanks == len(one.batches[0].bad) + len(one.batches[1].bad) > 0
    assert one.good == one.rows - one.blanks


def test_landing_csv_shape(tmp_path) -> None:
    fixtures.Landing(str(tmp_path), 3, 1, 2000)
    with open(tmp_path / "reclamacoes-000.csv", encoding="iso-8859-1") as fh:
        lines = fh.read().splitlines()
    assert lines[0].split(";") == fixtures.RAW_HEADER
    rows = [line.split(";") for line in lines[1:]]
    assert len(rows) == 2000 and all(len(r) == 14 for r in rows)
    assert any("ç" in r[5] or "ã" in r[5].lower() for r in rows)  # accented values
    assert any(r[4] == "" for r in rows)  # empty optional field


def test_datum_and_star_files_are_byte_identical_for_a_seed(tmp_path) -> None:
    a = fixtures.write_datum_parquet(str(tmp_path / "d1"), 5, 1, 1000)
    b = fixtures.write_datum_parquet(str(tmp_path / "d2"), 5, 1, 1000)
    assert a == b and _same_tree(tmp_path / "d1", tmp_path / "d2")
    fixtures.write_star_schema(str(tmp_path / "s1"), 5)
    fixtures.write_star_schema(str(tmp_path / "s2"), 5)
    assert _same_tree(tmp_path / "s1", tmp_path / "s2")


def test_fixture_encoder_matches_the_engine() -> None:
    from data_ingestion_ex8_producer_spark.functions.avro_codec import decode_record, encode_record

    batch = fixtures.Batch(11, 500)
    names = [n for n, _ in fixtures.FIELDS]
    records, datums = batch.records(), batch.datums()
    assert len(records) == len(datums) == 500 - len(batch.bad)
    for rec, datum in zip(records, datums):
        assert encode_record(dict(zip(names, rec))) == datum
        assert tuple(decode_record(datum).values()) == rec


def test_complaint_aggregate_sums_exactly() -> None:
    recs = [("2024", "2º", "c", "t", None, "BANCO", "1,10", "0", None, None, "5", "9", None, None),
            ("2024", "2º", "c", "t", None, "BANCO", "2,25", "0", None, None, "7", "9", None, None)]
    agg = fixtures.complaint_aggregate(recs)
    assert agg == {("BANCO", "2024-04-01"): (2, 12, fixtures.Decimal("3.35"))}


def test_self_time_subtracts_children() -> None:
    tracer = harness.Tracer(True)
    parent = tracer.add("op", 0.0, 10.0)
    tracer.add("child", 1.0, 4.0, parent)
    tracer.add("child", 3.0, 6.0, parent)  # overlaps the first child
    assert tracer.self_times() == {"op": 5.0, "child": 6.0}
    assert harness.Tracer(False).add("x", 0, 1) == -1


def test_tree_cpu_counts_child_processes() -> None:
    before = harness.tree_cpu_s()
    subprocess.run([sys.executable, "-c", "import time\nend = time.process_time() + 0.5\n"
                    "while time.process_time() < end: pass"], check=True)
    assert harness.tree_cpu_s() - before >= 0.4


def test_tail_percentile_needs_ten_samples_beyond() -> None:
    assert harness.tail(list(range(20))) is None
    assert harness.tail(list(range(40)))[0] == "p75"
    assert harness.tail(list(range(100)))[0] == "p90"


def test_metric_tables_match_benchmark_json() -> None:
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {f"query.{n}_s" for n in workloads.SPECS} <= set(run.PER_LAYER)


def test_a_failed_run_still_prints_an_incorrect_result(monkeypatch, capsys) -> None:
    def fail(r, seconds, metrics, info) -> None:
        metrics["setup_s"] = 1.5
        raise RuntimeError("engine failed")

    monkeypatch.setattr(run, "execute", fail)
    monkeypatch.setattr(harness.Run, "open", lambda self: None)
    assert run.main(["--workload", "readback", "--seed", "1", "--seconds", "1"]) == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert result["correct"] is False and result["attempted"] == result["failed"] == 1
    assert set(result["metrics"]) == set(run.END_TO_END)
    assert result["metrics"]["setup_s"]["value"] == 1.5


@pytest.mark.slow
@pytest.mark.parametrize("trace", [0, 1])
def test_printed_metric_names_match_benchmark_json(trace: int) -> None:
    """One short run per mode; the last line names exactly the metrics
    BENCHMARK.json lists for that mode, and every check passed."""
    spec = _spec()
    proc = subprocess.run(
        [*spec["command"], "--workload", "readback", "--seed", "1", "--seconds", "1",
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted
    }
