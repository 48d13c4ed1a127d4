"""The engine's Python worker daemon: task workers import the installed
pyspark, not Spark's archives, and the path rule keeps everything else;
planner workers drop the archives once pyspark and py4j are imported."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import types
import zipfile
import zipimport
from pathlib import Path

import pytest

from data_ingestion_ex8_producer_spark.worker_daemon import drop_loaded_archives, worker_path

ROOT = Path(__file__).resolve().parents[1]


def test_task_worker_imports_installed_pyspark_without_zip_finders(spark) -> None:
    def report(batches):
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark

        for _ in batches:
            pass
        finders = sys.path_importer_cache.values()
        yield pa.RecordBatch.from_pylist([{
            "pyspark_file": pyspark.__file__,
            "zip_finders": sum(isinstance(f, zipimport.zipimporter) for f in finders),
        }])

    (row,) = (
        spark.range(1, numPartitions=1)
        .mapInArrow(report, "pyspark_file string, zip_finders long")
        .collect()
    )
    assert os.path.isfile(row.pyspark_file), row.pyspark_file
    assert row.zip_finders == 0


def test_planner_workers_drop_spark_archives(spark, tmp_path) -> None:
    """Spark starts planner workers from its own daemon, so they import
    pyspark from its archives; after the datum sink's import they hold no
    zip finder, and pyspark stays the module they loaded first."""
    from tests.planner_probe import ProbeDatumDirDataSource

    spark.dataSource.register(ProbeDatumDirDataSource)
    report = tmp_path / "report.jsonl"
    frame = spark.createDataFrame([(b"x",)], "value binary")
    for _ in range(2):
        (frame.write.format(ProbeDatumDirDataSource.name()).mode("append")
         .option("path", str(tmp_path / "batch")).option("report", str(report)).save())
    src = tmp_path / "src"
    for i in range(2):
        frame.coalesce(1).write.parquet(str(src / f"f{i}"))
    query = (
        spark.readStream.schema("value binary")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
        .writeStream.format(ProbeDatumDirDataSource.name())
        .option("path", str(tmp_path / "stream")).option("report", str(report))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    query.stop()

    commits = [json.loads(line) for line in report.read_text().splitlines()]
    assert [c["kind"] for c in commits] == ["batch", "batch", "stream", "stream"]
    for first, second in (commits[:2], commits[2:]):
        assert second["zip_finders"] == 0, commits
        assert first["pyspark_file"] == second["pyspark_file"], commits
        for c in (first, second):
            assert c["pyspark_file"] == c["loaded_from"], commits


def _zip(path: Path, files: dict[str, str]) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)
    return str(path)


def _package(site: Path, name: str, version_py: str) -> None:
    (site / name).mkdir(parents=True)
    (site / name / "__init__.py").write_text("")
    (site / name / "version.py").write_text(version_py)


@pytest.fixture
def spark_layout(tmp_path, monkeypatch):
    """A Spark install reached through a symlink, its archives on the path
    the way Spark gives them (the jar by its real path), a user archive, and
    a site directory with pyspark and py4j installed."""
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    real = tmp_path / "spark-9.9.9-bin"
    home = tmp_path / "spark"
    home.symlink_to(real, target_is_directory=True)
    _zip(real / "python/lib/pyspark.zip", {
        "pyspark/__init__.py": "", "pyspark/version.py": "__version__: str = '9.9.9'\n",
    })
    _zip(real / "python/lib/py4j-0.1-src.zip", {
        "py4j/__init__.py": "", "py4j/version.py": "__version__ = '0.1'\n",
    })
    jar = _zip(real / "jars/spark-core.jar", {"org/python/core/x.class": ""})
    user_zip = _zip(tmp_path / "deps.zip", {"userlib/__init__.py": ""})
    site = tmp_path / "site"
    _package(site, "pyspark", "__version__: str = '9.9.9'\n")
    _package(site, "py4j", "__version__ = '0.1'\n")
    app = tmp_path / "app"
    app.mkdir()
    path = [
        str(app),
        str(home / "python/lib/pyspark.zip"),
        str(home / "python/lib/py4j-0.1-src.zip"),
        os.path.realpath(jar),
        str(home / "python"),
        user_zip,
        str(site),
    ]
    return home, site, path


def test_worker_path_drops_only_spark_archives(spark_layout) -> None:
    home, site, path = spark_layout
    before = list(path)
    # The directory under SPARK_HOME is not an archive; the user's zip stays.
    assert worker_path(path, str(home)) == [path[0], path[4], path[5], path[6]]
    assert path == before


def test_worker_path_keeps_spark_path_on_version_mismatch(spark_layout) -> None:
    home, site, path = spark_layout
    (site / "pyspark" / "version.py").write_text("__version__: str = '9.9.8'\n")
    assert worker_path(path, str(home)) == path


def test_worker_path_keeps_spark_path_without_installed_pyspark(spark_layout) -> None:
    home, site, path = spark_layout
    assert worker_path(path[:-1], str(home)) == path[:-1]
    assert worker_path(path, None) == path


def test_package_import_leaves_pyspark_unimported() -> None:
    code = (
        "import sys, data_ingestion_ex8_producer_spark.worker_daemon; "
        "print(sorted(m for m in ('pyspark', 'py4j') if m in sys.modules))"
    )
    done = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=60
    )
    assert done.returncode == 0, done.stderr
    assert done.stdout.strip() == "[]"


@pytest.fixture
def planner_worker(spark_layout, monkeypatch):
    """The layout as a planner worker sees it: Spark's archives on
    ``sys.path``, a zip finder for each archive and for a package directory
    inside it, the user zip's finders, and pyspark and py4j imported."""
    home, _, path = spark_layout
    monkeypatch.setattr(sys, "path", list(path))
    monkeypatch.setenv("SPARK_HOME", str(home))
    for package in ("pyspark", "py4j"):
        monkeypatch.setitem(sys.modules, package, types.ModuleType(package))
    spark_keys = [
        path[1], os.path.join(path[1], "pyspark"), path[2], os.path.join(path[2], "py4j"), path[3]
    ]
    user_keys = [path[5], os.path.join(path[5], "userlib")]
    for key in spark_keys + user_keys:
        sys.path_importer_cache[key] = zipimport.zipimporter(key)
    return path, spark_keys


def test_drop_loaded_archives_drops_spark_archives_and_their_finders(planner_worker) -> None:
    path, spark_keys = planner_worker
    cache = dict(sys.path_importer_cache)
    drop_loaded_archives()
    assert sys.path == [path[0], path[4], path[5], path[6]]
    assert sys.path_importer_cache == {k: v for k, v in cache.items() if k not in spark_keys}


@pytest.mark.parametrize("unset", ["SPARK_HOME", "pyspark", "py4j"])
def test_drop_loaded_archives_waits_for_spark_home_and_imports(
    planner_worker, monkeypatch, unset
) -> None:
    if unset == "SPARK_HOME":
        monkeypatch.delenv(unset)
    else:
        monkeypatch.delitem(sys.modules, unset)
    path, _ = planner_worker
    cache = dict(sys.path_importer_cache)
    drop_loaded_archives()
    assert sys.path == path
    assert sys.path_importer_cache == cache
