"""The engine's Python worker daemon: task workers import the installed
pyspark, not Spark's archives, and the path rule keeps everything else."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

from data_ingestion_ex8_producer_spark.worker_daemon import worker_path

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
