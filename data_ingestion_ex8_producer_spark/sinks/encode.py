"""Bronze rows -> Kafka-shaped frame: one ``value: binary`` Avro datum per
row, ``key`` absent (the reference sends keyless messages => round-robin
partitioning; adding a key would change partition/ordering semantics —
SURVEY.md §3 delta 2).

Encoding is Arrow-batched ``mapInPandas`` over the column-wise codec in
``functions/avro_codec`` (spark-avro's ``to_avro`` is not on this classpath);
its bytes are pinned by the golden tests.  Rows with a NULL in a required
field are skipped by the codec, the reference's DatumWriter error path
applied per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.avro_codec import encode_batches
from ..schemas import FIELD_ORDER


def avro_value_frame(df: DataFrame) -> DataFrame:
    """Encode bronze reclamacoes rows to the reference wire format."""

    def run(batches):
        yield from encode_batches(batches, FIELD_ORDER)

    return df.mapInPandas(run, "value binary")
