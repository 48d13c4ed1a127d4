"""`avro_datum_dir` — a Spark 4 Python DataSource WRITER (batch + streaming)
that lands raw Avro binary datums in a directory, one length-framed record
per row.

The payload contract mirrors the reference's Kafka producer
(`app.py:142-158`): each row is ONE opaque binary value (no key, no headers,
no Confluent framing — SURVEY.md §1.1 "Message"); since a directory has no
message boundaries, records are framed with a 4-byte big-endian length
prefix, the minimal self-describing container.

Commit protocol (the part worth copying):

* each TASK writes to a private ``_tmp_<uuid>.bin`` and returns the temp
  name + final name in its WriterCommitMessage;
* the DRIVER commits by renaming every temp file to its final name and
  writing a ``_SUCCESS`` manifest listing the committed files — readers that
  honor the manifest see an atomic all-or-nothing batch;
* on abort the driver deletes the temp files, so a failed job leaves no
  partial output visible.

This is the same two-phase rename protocol Spark's own FileOutputCommitter
(v1) uses, expressed in ~40 lines of Python.  Streaming epochs land in
``epoch=<batchId>/`` subdirectories: a replayed epoch whose ``_SUCCESS``
already exists is skipped (its temp files are discarded), and a replay
after a crash mid-rename removes the crashed attempt's orphan part files
before publishing its own manifest — so manifest-honoring AND glob readers
both see exactly one attempt's files per epoch.
"""

from __future__ import annotations

import os
import struct
import uuid
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)
from pyspark.sql.types import Row, StructType


class _DatumCommit(WriterCommitMessage):
    def __init__(self, tmp_path: str, final_path: str, n_rows: int) -> None:
        self.tmp_path = tmp_path
        self.final_path = final_path
        self.n_rows = n_rows


def _write_partition(directory: str, rows: Iterator[Row]) -> _DatumCommit:
    """Task-side: stream length-framed datums into a private temp file."""
    os.makedirs(directory, exist_ok=True)
    token = uuid.uuid4().hex
    tmp = os.path.join(directory, f"_tmp_{token}.bin")
    n = 0
    with open(tmp, "wb") as fh:
        for row in rows:
            value = row["value"]
            payload = bytes(value) if value is not None else b""
            fh.write(struct.pack(">I", len(payload)))
            fh.write(payload)
            n += 1
    return _DatumCommit(tmp, os.path.join(directory, f"part-{token}.bin"), n)


def _commit(messages: list[_DatumCommit | None], directory: str) -> None:
    """Driver-side: rename temps to finals, then publish the manifest.

    The manifest is ALWAYS written — a successful zero-row batch publishes
    an empty ``_SUCCESS``, so manifest-honoring readers can distinguish
    "committed empty" from "never committed"."""
    os.makedirs(directory, exist_ok=True)
    committed = []
    for m in messages:
        if m is None:
            continue
        os.replace(m.tmp_path, m.final_path)
        committed.append((os.path.basename(m.final_path), m.n_rows))
    with open(os.path.join(directory, "_SUCCESS"), "w") as fh:
        for name, n in sorted(committed):
            fh.write(f"{name}\t{n}\n")


def _abort(messages: list[_DatumCommit | None]) -> None:
    for m in messages:
        if m is not None and os.path.exists(m.tmp_path):
            os.remove(m.tmp_path)


class _BatchWriter(DataSourceWriter):
    def __init__(self, path: str) -> None:
        self._path = path

    def write(self, iterator: Iterator[Row]) -> _DatumCommit:
        return _write_partition(self._path, iterator)

    def commit(self, messages) -> None:
        _commit(messages, self._path)

    def abort(self, messages) -> None:
        _abort(messages)


class _StreamWriter(DataSourceStreamWriter):
    """Tasks write epoch-agnostic temp files; the driver learns the batchId
    only at commit time and publishes into ``epoch=<batchId>/`` there — so
    the task side stays oblivious to streaming progress and a replayed epoch
    (failure before commit) can never half-publish."""

    def __init__(self, path: str) -> None:
        self._path = path

    def write(self, iterator: Iterator[Row]) -> _DatumCommit:
        return _write_partition(self._path, iterator)

    def commit(self, messages, batchId: int) -> None:
        epoch_dir = os.path.join(self._path, f"epoch={batchId}")
        if os.path.exists(os.path.join(epoch_dir, "_SUCCESS")):
            # Replay of an already-committed epoch (at-least-once foreachBatch
            # upstream): the first manifest wins; discard this attempt's temps.
            _abort(messages)
            return
        os.makedirs(epoch_dir, exist_ok=True)
        moved = []
        kept_names = set()
        for m in messages:
            if m is None:
                continue
            final = os.path.join(epoch_dir, os.path.basename(m.final_path))
            os.replace(m.tmp_path, final)
            kept_names.add(os.path.basename(final))
            moved.append(_DatumCommit(final, final, m.n_rows))
        # A crash between renames and the manifest leaves a prior attempt's
        # part files orphaned here; remove anything this commit didn't place
        # so glob readers (not just manifest readers) see one attempt only.
        for name in os.listdir(epoch_dir):
            if name.startswith("part-") and name not in kept_names:
                os.remove(os.path.join(epoch_dir, name))
        _commit(moved, epoch_dir)

    def abort(self, messages, batchId: int) -> None:
        _abort(messages)


class AvroDatumDirDataSource(DataSource):
    """Directory sink for raw Avro datums (see module docstring).

    Expects a single binary column named ``value`` (same contract as the
    Kafka sink).  Option: ``path`` — destination directory."""

    @classmethod
    def name(cls) -> str:
        return "avro_datum_dir"

    def schema(self) -> StructType | str:
        return "value binary"

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return _BatchWriter(self.options["path"])

    def streamWriter(self, schema: StructType, overwrite: bool) -> DataSourceStreamWriter:
        return _StreamWriter(self.options["path"])


def read_datum_file(path: str) -> list[bytes]:
    """Decode one length-framed datum file back to its payload list (test /
    downstream-consumer helper)."""
    out = []
    with open(path, "rb") as fh:
        while True:
            head = fh.read(4)
            if not head:
                return out
            (length,) = struct.unpack(">I", head)
            out.append(fh.read(length))
