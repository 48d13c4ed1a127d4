"""An `avro_datum_dir` sink whose batch and stream commits report the import
state of the planner worker that runs them, one JSON line per commit in the
file named by the ``report`` option.  Planner workers import this module by
name from the working directory (the repository root)."""

from __future__ import annotations

import json
import sys
import zipimport

import pyspark

# Read before the datum sink's import, which takes Spark's archives off.
LOADED_FROM = pyspark.__file__

from data_ingestion_ex8_producer_spark.sinks.datum_sink import (  # noqa: E402
    AvroDatumDirDataSource,
    _BatchWriter,
    _StreamWriter,
)


def _report(report: str, kind: str) -> None:
    finders = list(sys.path_importer_cache.values())
    line = {
        "kind": kind,
        "loaded_from": LOADED_FROM,
        "pyspark_file": sys.modules["pyspark"].__file__,
        "zip_finders": sum(isinstance(f, zipimport.zipimporter) for f in finders),
    }
    with open(report, "a") as fh:
        fh.write(json.dumps(line) + "\n")


class _ProbeBatchWriter(_BatchWriter):
    def __init__(self, path: str, overwrite: bool, report: str) -> None:
        super().__init__(path, overwrite)
        self._report = report

    def commit(self, messages) -> None:
        super().commit(messages)
        _report(self._report, "batch")


class _ProbeStreamWriter(_StreamWriter):
    def __init__(self, path: str, report: str) -> None:
        super().__init__(path)
        self._report = report

    def commit(self, messages, batchId: int) -> None:
        super().commit(messages, batchId)
        _report(self._report, "stream")


class ProbeDatumDirDataSource(AvroDatumDirDataSource):
    @classmethod
    def name(cls) -> str:
        return "avro_datum_probe"

    def writer(self, schema, overwrite: bool) -> _ProbeBatchWriter:
        return _ProbeBatchWriter(self.options["path"], overwrite, self.options["report"])

    def streamWriter(self, schema, overwrite: bool) -> _ProbeStreamWriter:
        return _ProbeStreamWriter(self.options["path"], self.options["report"])
