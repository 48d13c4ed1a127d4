"""Bronze rows -> Kafka-shaped frame: one ``value: binary`` Avro datum per
row, ``key`` absent (the reference sends keyless messages => round-robin
partitioning; adding a key would change partition/ordering semantics —
SURVEY.md §3 delta 2).

Encoding is one ``mapInArrow`` pass over the Arrow encoder in
``functions/avro_codec`` (spark-avro's ``to_avro`` is not on this
classpath); its bytes are pinned by the golden tests.  A row with a NULL in
a required field gets a NULL ``value`` and is filtered out, the
reference's DatumWriter error path applied per row.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame

from ..functions.avro_codec import encode_arrow
from ..schemas import FIELD_ORDER


def value_batch(bronze: pa.RecordBatch) -> pa.RecordBatch:
    """Bronze batch -> ``value`` batch, NULL where a required field is NULL."""
    return pa.RecordBatch.from_arrays([encode_arrow(bronze)], names=["value"])


def _value_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    return map(value_batch, batches)


def avro_value_frame(df: DataFrame) -> DataFrame:
    """Encode bronze reclamacoes rows to the reference wire format."""
    return (
        df.select(*FIELD_ORDER)
        .mapInArrow(_value_batches, "value binary")
        .where("value IS NOT NULL")
    )
