"""Reclamacoes CSV source: the reference's scan semantics (S1/S2, SURVEY.md
§2), one scan for batch and stream.

Reference behavior being reproduced:
* ``;``-delimited, ISO-8859-1, first row is the header (``app.py:121-124``);
* header names sanitized + lowercased (``app.py:129``);
* only whitelisted columns kept, unknown columns dropped (``app.py:130``);
* empty strings -> NULL in every kept column (``app.py:131``);
* only ``*.csv`` keys are picked up (``app.py:94-99``).

Batch and stream list the ``*.csv`` files with Spark's ``binaryFile``
source (``landing_files``, ``landing_file_stream``) and turn each file's
bytes into one bronze batch, rows in file order, with ``_parse``: the
header contract, applied to every file's own header.
``read_reclamacoes_batch`` runs it alone in one ``mapInArrow`` pass; the
ingest path (``streaming/ingest.py``) runs it and
the Avro encoder in the same pass, so bronze never returns to the JVM.
Unlike the reference (which re-reads every file forever,
``app.py:176-196``), the stream is a checkpointed file source: once-per-file,
incremental listing.  ``maxFilesPerTrigger`` bounds micro-batch size.

Trade-off: a file is one row and one task, so reads are not splittable and
a file is held whole while it is parsed, as the reference holds whole
objects (``app.py:121``).  A file larger than
``spark.sql.sources.binaryFile.maxLength`` (2 GiB by default) fails its task.
"""

from __future__ import annotations

import csv
import io
from collections.abc import Iterator

import pyarrow as pa
from pyarrow import csv as pa_csv
from pyspark.sql import DataFrame, SparkSession

from ..config import CHUNK_SIZE
from ..functions.names import sanitize_columns
from ..schemas import FIELD_ORDER

_ENCODING = "ISO-8859-1"
# binaryFile's fixed schema: a file stream needs its schema up front.
_FILES_SCHEMA = "path string, modificationTime timestamp, length long, content binary"
# Every bronze column nullable: a NULL required field reaches the encoder,
# which gives that row a NULL datum (the reference's DatumWriter error path).
_BRONZE_DDL = ", ".join(f"{name} string" for name in FIELD_ORDER)


def _parse(content: bytes) -> pa.RecordBatch | None:
    """The header contract: one landing file's bytes -> the 14 bronze
    columns in ``FIELD_ORDER``, read as the reference's per-file
    ``csv.DictReader(delimiter=';')`` reads it, rows in file order.

    Names are sanitized (``app.py:129``) with last-wins on collisions
    (``Ano;ANO`` keeps the second), only the whitelisted bronze names are
    kept (``app.py:130``), empty strings become NULL (``app.py:131``) and a
    field the header lacks is NULL.  A file without a header (zero bytes
    or a blank first line) gives no rows.  One ``csv`` reader reads the
    header; ``pyarrow.csv`` parses the whole file, header as row 0.
    ``pyarrow.csv`` cannot pad a ragged row, so a file with one is read on
    by the same ``csv`` reader instead, blank rows skipped and each row
    padded with NULL or cut to the header as ``DictReader`` does.
    """
    text = io.TextIOWrapper(io.BytesIO(content), _ENCODING, newline="")
    reader = csv.reader(text, delimiter=";")
    header = next(reader, None)
    if not header:
        return None
    index = {name: i for i, name in enumerate(sanitize_columns(header))}
    names = [f"c{i}" for i in range(len(header))]
    ragged = False

    def skip_ragged(_row) -> str:
        nonlocal ragged
        ragged = True
        return "skip"

    table = pa_csv.read_csv(
        io.BytesIO(content),
        read_options=pa_csv.ReadOptions(column_names=names, encoding=_ENCODING, use_threads=False),
        parse_options=pa_csv.ParseOptions(
            delimiter=";", newlines_in_values=True, invalid_row_handler=skip_ragged
        ),
        convert_options=pa_csv.ConvertOptions(
            column_types=dict.fromkeys(names, pa.string()),
            null_values=[""],
            strings_can_be_null=True,
        ),
    )
    if ragged:
        width = len(header)
        rows = [(row + [""] * width)[:width] for row in reader if row]
        columns = [pa.array([row[i] or None for row in rows], pa.string()) for i in range(width)]
    else:
        columns = [column.combine_chunks() for column in table.slice(1).columns]
    return pa.RecordBatch.from_arrays(
        [columns[index[c]] if c in index else pa.nulls(len(columns[0]), pa.string())
         for c in FIELD_ORDER],
        names=FIELD_ORDER,
    )


def parse_files(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """``binaryFile`` ``content`` batches -> one bronze batch per landing
    file that has a header (``_parse``)."""
    for batch in batches:
        for content in batch.column(0).to_pylist():
            bronze = _parse(content)
            if bronze is not None:
                yield bronze


def landing_files(spark: SparkSession, path: str) -> DataFrame:
    """The ``*.csv`` files under a path, directory or glob: one
    ``binaryFile`` row per file."""
    return spark.read.format("binaryFile").option("pathGlobFilter", "*.csv").load(path)


def landing_file_stream(spark: SparkSession, path: str) -> DataFrame:
    """The ``*.csv`` files of a landing directory as they land: listing,
    the filter and new-file tracking are the file source's and its
    checkpoint's; ``maxFilesPerTrigger`` bounds a micro-batch."""
    return (
        spark.readStream.format("binaryFile")
        .schema(_FILES_SCHEMA)
        .option("pathGlobFilter", "*.csv")
        .option("maxFilesPerTrigger", str(CHUNK_SIZE))
        .load(path)
    )


def read_reclamacoes_batch(spark: SparkSession, path: str) -> DataFrame:
    """Batch scan of a reclamacoes CSV file, directory or glob (bronze)."""
    return landing_files(spark, path).select("content").mapInArrow(parse_files, _BRONZE_DDL)
