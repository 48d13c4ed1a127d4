"""`avro_datum_dir` — a Spark 4 Python DataSource WRITER (batch + streaming)
that lands raw Avro binary datums in a directory, one length-framed record
per row.  Tasks receive Arrow batches (``DataSourceArrowWriter``,
``DataSourceStreamArrowWriter``) and frame each batch's ``value`` column in
one numpy step; no row reaches Python.

The payload contract mirrors the reference's Kafka producer
(`app.py:142-158`): each row is ONE opaque binary value (no key, no headers,
no Confluent framing — SURVEY.md §1.1 "Message"); since a directory has no
message boundaries, records are framed with a 4-byte big-endian length
prefix, the minimal self-describing container.

Commit protocol (the part worth copying):

* each TASK writes to a private ``_tmp_<token>.bin`` and returns the temp
  name in its WriterCommitMessage;
* the DRIVER commits with one routine, ``_commit``: it renames every temp
  file to ``part-<token>.bin`` and publishes a ``_SUCCESS`` manifest listing
  the committed files — readers that honor the manifest see an atomic
  all-or-nothing batch;
* on abort the driver deletes the temp files (a failed task deletes its
  own), so a failed job leaves no partial output visible.  A NULL ``value``
  fails the job: it is never written as an empty datum.

This is the same two-phase rename protocol Spark's own FileOutputCommitter
(v1) uses.  A batch ``mode("overwrite")`` replaces the directory's part files
and manifest; ``mode("append")`` adds to them.  Streaming epochs land in
``epoch=<batchId>/`` subdirectories, committed in replace mode: a replayed
epoch whose ``_SUCCESS`` already exists is skipped (its temp files are
discarded), and a replay after a crash mid-rename removes the crashed
attempt's orphan part files — so manifest-honoring AND glob readers both see
exactly one attempt's files per epoch.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from ..functions.avro_codec import binary_offsets
from ..worker_daemon import drop_loaded_archives

# Write planning and commit unpickle this module in Spark's planner workers,
# which import pyspark from Spark's archives and re-read every cached zip
# finder at the start of each call; taking the archives off here spares the
# calls that follow in the same worker.  The driver and the engine's task
# workers hold no archive, so there it changes nothing.
drop_loaded_archives()


class _DatumCommit(WriterCommitMessage):
    def __init__(self, tmp_path: str, n_rows: int) -> None:
        self.tmp_path = tmp_path
        self.n_rows = n_rows


def _write_partition(directory: str, batches: Iterator[pa.RecordBatch]) -> _DatumCommit:
    """Task-side: write each batch's ``value`` column, length-framed, into a
    private temp file.  A NULL ``value`` or a batch without a ``value``
    column fails the task; the driver's abort never sees a failed task's
    temp file, so the task removes it itself."""
    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, f"_tmp_{uuid.uuid4().hex}.bin")
    n = 0
    try:
        with open(tmp, "wb") as fh:
            for batch in batches:
                value = batch.column("value")
                if value.null_count:
                    raise ValueError("avro_datum_dir: NULL value; every row must be one datum")
                offsets = binary_offsets(value)
                payload = np.frombuffer(value.buffers()[2], np.uint8)[offsets[0] : offsets[-1]]
                # Each record's 4-byte big-endian length goes in front of its first byte.
                headers = np.diff(offsets).astype(">u4").view(np.uint8)
                fh.write(np.insert(payload, np.repeat(offsets[:-1] - offsets[0], 4), headers))
                n += len(value)
    except BaseException:
        os.remove(tmp)
        raise
    return _DatumCommit(tmp, n)


def _commit(messages: list[_DatumCommit | None], directory: str, replace: bool) -> None:
    """Driver-side, both writers: move the temps into place, drop the part
    files this commit did not place (replace) or merge the old manifest
    (append), then publish the manifest by rename.

    The manifest is ALWAYS written — a successful zero-row batch publishes
    an empty ``_SUCCESS``, so manifest-honoring readers can distinguish
    "committed empty" from "never committed"."""
    os.makedirs(directory, exist_ok=True)
    placed = {}
    for m in messages:
        if m is None:
            continue
        name = "part-" + os.path.basename(m.tmp_path).removeprefix("_tmp_")
        os.replace(m.tmp_path, os.path.join(directory, name))
        placed[name] = m.n_rows
    manifest = os.path.join(directory, "_SUCCESS")
    if replace:
        for name in os.listdir(directory):
            if name.startswith("part-") and name not in placed:
                os.remove(os.path.join(directory, name))
    elif os.path.exists(manifest):
        with open(manifest) as fh:
            placed = {**dict(line.split("\t") for line in fh.read().splitlines()), **placed}
    staged = os.path.join(directory, "_tmp_SUCCESS")
    with open(staged, "w") as fh:
        for name, n in sorted(placed.items()):
            fh.write(f"{name}\t{n}\n")
    os.replace(staged, manifest)


def _abort(messages: list[_DatumCommit | None]) -> None:
    for m in messages:
        if m is not None and os.path.exists(m.tmp_path):
            os.remove(m.tmp_path)


class _BatchWriter(DataSourceArrowWriter):
    def __init__(self, path: str, overwrite: bool) -> None:
        self._path = path
        self._overwrite = overwrite

    def write(self, iterator: Iterator[pa.RecordBatch]) -> _DatumCommit:
        return _write_partition(self._path, iterator)

    def commit(self, messages) -> None:
        _commit(messages, self._path, replace=self._overwrite)

    def abort(self, messages) -> None:
        _abort(messages)


class _StreamWriter(DataSourceStreamArrowWriter):
    """Tasks write epoch-agnostic temp files; the driver learns the batchId
    only at commit time and publishes into ``epoch=<batchId>/`` there — so
    the task side stays oblivious to streaming progress and a replayed epoch
    (failure before commit) can never half-publish."""

    def __init__(self, path: str) -> None:
        self._path = path

    def write(self, iterator: Iterator[pa.RecordBatch]) -> _DatumCommit:
        return _write_partition(self._path, iterator)

    def commit(self, messages, batchId: int) -> None:
        epoch_dir = os.path.join(self._path, f"epoch={batchId}")
        if os.path.exists(os.path.join(epoch_dir, "_SUCCESS")):
            # Replay of an already-committed epoch: the first manifest wins;
            # discard this attempt's temps.
            _abort(messages)
            return
        # Replace mode removes the part files a crash between renames and
        # the manifest left behind, so glob readers see one attempt only.
        _commit(messages, epoch_dir, replace=True)

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

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceArrowWriter:
        return _BatchWriter(self.options["path"], overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool) -> DataSourceStreamArrowWriter:
        return _StreamWriter(self.options["path"])


def read_datum_file(path: str) -> list[bytes]:
    """Decode one length-framed datum file back to its payload list (test /
    downstream-consumer helper).  A truncated frame raises ``ValueError``."""
    out = []
    with open(path, "rb") as fh:
        while head := fh.read(4):
            length = int.from_bytes(head, "big")
            payload = fh.read(length)
            if len(head) < 4 or len(payload) < length:
                offset = fh.tell() - len(head) - len(payload)
                raise ValueError(f"{path}: truncated datum frame at offset {offset}")
            out.append(payload)
    return out
