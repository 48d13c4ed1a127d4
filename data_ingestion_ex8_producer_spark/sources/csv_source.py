"""Reclamacoes CSV source: the reference's scan semantics (S1/S2, SURVEY.md
§2) as declarative reader options, batch and streaming.

Reference behavior being reproduced:
* ``;``-delimited, ISO-8859-1, first row is the header (``app.py:121-124``);
* header names sanitized + lowercased (``app.py:129``);
* only whitelisted columns kept, unknown columns dropped (``app.py:130``);
* empty strings -> NULL in every kept column (``app.py:131``);
* only ``*.csv`` keys are picked up (``app.py:94-99``).

The header contract lives in one function, ``bronze_exprs``: batch applies
it to each file's own header line, stream to the one canonical raw header
it accepts.  Unlike the reference (which re-reads every file forever and
materializes whole objects in memory, ``app.py:121,176-196``), the streaming
variant is a checkpointed file source: once-per-file, incremental listing,
splittable reads.  ``maxFilesPerTrigger`` bounds micro-batch size at scale.
"""

from __future__ import annotations

import csv
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from ..config import CHUNK_SIZE
from ..functions.names import sanitize_columns
from ..schemas import BRONZE_SCHEMA, FIELD_ORDER, RAW_BACEN_HEADER

_READER_OPTIONS = {
    "sep": ";",
    "encoding": "ISO-8859-1",
    "header": "true",
    # Reference: csv.DictReader default quoting.  PERMISSIVE loads a short
    # or malformed row with NULLs instead of failing the file (app.py:136-139
    # abandons the rest of a file on any parse error); a row left without a
    # required field is then skipped, uncounted, by the encode kernel.
    "mode": "PERMISSIVE",
}


def _positional_schema(n: int) -> StructType:
    return StructType([StructField(f"_c{i}", StringType(), True) for i in range(n)])


def _split_header(header_line: str) -> list[str]:
    return next(csv.reader([header_line], delimiter=";"), [])


def bronze_exprs(header_line: str) -> list[str]:
    """The header contract: a raw header line -> SQL select expressions for
    the 14 bronze columns in ``FIELD_ORDER``, over a frame whose columns are
    positional (``_c0``...).

    Names are sanitized (``app.py:129``) with ``csv.DictReader`` last-wins on
    collisions (``Ano;ANO`` keeps the second), only the whitelisted bronze
    names are kept (``app.py:130``), empty strings become NULL
    (``app.py:131``) and fields the header lacks become NULL (they then fail
    Avro encode for non-nullable fields, same surface as the reference's
    DatumWriter error path).  Strings for ``selectExpr`` rather than
    ``Column`` objects: building 14 Columns costs ~60 Py4J calls per scan.
    """
    index = {name: i for i, name in enumerate(sanitize_columns(_split_header(header_line)))}
    return [
        f"nullif(_c{index[c]}, '') AS {c}" if c in index else f"CAST(NULL AS STRING) AS {c}"
        for c in FIELD_ORDER
    ]


def _csv_headers(spark: SparkSession, path: str) -> dict[str, list[str]]:
    """``*.csv`` files under ``path`` (a file, directory or glob), grouped by
    their first line read as ISO-8859-1.  Listed once on the driver through
    the Hadoop FileSystem, so local paths and s3a behave alike.  Hidden
    (``_``/``.``) names are skipped as Spark's own listing does; empty files
    have no header and no rows, so they are left out."""
    jvm = spark.sparkContext._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    files = []
    for status in fs.globStatus(root) or []:
        children = fs.listStatus(status.getPath()) if status.isDirectory() else [status]
        files += [c.getPath() for c in children if c.isFile()]
    groups: dict[str, list[str]] = {}
    for f in sorted(files, key=lambda p: p.toString()):
        name = f.getName()
        if not name.endswith(".csv") or name.startswith(("_", ".")):
            continue
        stream = fs.open(f)
        try:
            header = jvm.java.io.BufferedReader(
                jvm.java.io.InputStreamReader(stream, "ISO-8859-1")
            ).readLine()
        finally:
            stream.close()
        if header is not None:
            groups.setdefault(header, []).append(f.toString())
    return groups


def read_reclamacoes_batch(spark: SparkSession, path: str) -> DataFrame:
    """Batch scan of a reclamacoes CSV file/directory (bronze).

    Every file is mapped through its own header (``bronze_exprs``), the
    way the reference's per-file ``csv.DictReader`` does: files are grouped
    by header line, each group is one positional scan (Spark's own header
    handling would rename duplicates ``Ano``/``ANO`` -> ``Ano0``/``ANO1``),
    and the groups are unioned.  The scan reads exactly the listed files, so
    a non-``*.csv`` neighbour is never ingested.  An empty landing zone gives
    an empty bronze frame with the full schema (the reference would loop
    forever doing nothing, ``app.py:187``).
    """
    frames = [
        spark.read.options(**_READER_OPTIONS)
        .option("enforceSchema", "true")  # positional: bronze_exprs maps the names
        .schema(_positional_schema(len(_split_header(header))))
        .csv(files)
        .selectExpr(*bronze_exprs(header))
        for header, files in _csv_headers(spark, path).items()
    ]
    if not frames:
        return spark.createDataFrame([], BRONZE_SCHEMA)
    return reduce(DataFrame.union, frames)


def read_reclamacoes_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming file-source scan (S1: listing, ``*.csv`` filter, new-file
    tracking all handled by FileStreamSource + checkpoint).

    A stream needs its schema before any file arrives, so it accepts one
    header: the canonical raw BACEN header (``schemas.RAW_BACEN_HEADER``),
    checked per file with ``enforceSchema=false``.  A file with any other
    header (reordered, extra or missing columns) fails the micro-batch with
    Spark's ``CSV header does not conform to the schema`` error instead of
    being re-mapped by position; land such files through
    ``read_reclamacoes_batch``, which honours each file's own header.  The
    accepted columns go through the same ``bronze_exprs`` contract.
    """
    df = (
        spark.readStream.options(**_READER_OPTIONS)
        .option("enforceSchema", "false")
        .option("pathGlobFilter", "*.csv")
        .option("maxFilesPerTrigger", str(CHUNK_SIZE))
        .schema(StructType([StructField(n, StringType(), True) for n in RAW_BACEN_HEADER]))
        .csv(path)
    )
    positional = df.toDF(*_positional_schema(len(RAW_BACEN_HEADER)).fieldNames())
    return positional.selectExpr(*bronze_exprs(";".join(RAW_BACEN_HEADER)))
