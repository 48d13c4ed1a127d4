"""Streaming incremental near-dup detection: documents arrive as a stream;
each micro-batch's MinHash band signatures are joined against a persistent
signature store, candidate pairs are appended to an output table, and the
batch's signatures are appended to the store.

This is how LSH dedup runs CONTINUOUSLY on a growing 100 TB corpus — the
batch query (`operators/dedup.py::dedup_minhash_lsh`) recomputes all-pairs
from scratch; this operator does O(|batch| x bands) new work per batch:

* per batch: signatures for the new docs only (the expensive shingle+hash
  pass never re-reads old documents);
* candidates = new-vs-store join PLUS new-vs-new self-join (both sides are
  band-bucketed equi-joins, never a pair cross product);
* the store is an append-only parquet table partitioned by ``band`` — at
  scale a lakehouse table compacted/bucketed on (band, r0..r3) so the
  per-batch join prunes to matching band partitions.

foreachBatch is the right primitive: the store is both read and written
inside one epoch, which no declarative streaming join supports (a
stream-stream self-join cannot see rows from *previous* epochs' output
table).  foreachBatch itself is at-least-once, so BOTH writes are keyed by
epoch and made idempotent: each epoch's signatures and pairs land in their
own ``epoch=<id>`` partition with overwrite semantics, and the store read
excludes the current epoch's partition — a replayed epoch therefore
rewrites exactly the same rows instead of appending duplicates, restoring
effective exactly-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import band_match_condition, minhash_band_signatures

_STORE_SCHEMA = "doc_id long, band int, r0 long, r1 long, r2 long, r3 long"


def incremental_minhash_dedup(
    docs_stream: DataFrame, store_dir: str, pairs_dir: str
) -> "pyspark.sql.streaming.DataStreamWriter":  # noqa: F821
    """Wire a (doc_id, text) stream into the incremental LSH pipeline.
    Returns the DataStreamWriter (caller adds checkpoint/trigger/start)."""

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        new_bands = minhash_band_signatures(batch_df).persist()
        root = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(store_dir)
        if root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()).exists(root):
            # The epoch partition column comes from the directory layout;
            # exclude the CURRENT epoch so a replayed (crashed mid-write)
            # attempt never joins against its own partial output.
            store = (
                spark.read.schema(f"{_STORE_SCHEMA}, epoch long")
                .parquet(store_dir)
                .filter(F.col("epoch") != epoch_id)
                .select("doc_id", "band", "r0", "r1", "r2", "r3")
            )
        else:  # first epoch: the store does not exist yet
            store = spark.createDataFrame([], _STORE_SCHEMA)
        # new-vs-store (both directions via the ordered-pair condition on the
        # union) + new-vs-new, in one join: candidates must involve >=1 new doc.
        all_bands = store.unionByName(new_bands)
        pairs = (
            all_bands.alias("a")
            .join(new_bands.alias("b"), band_match_condition())
            .select(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .union(
                new_bands.alias("a")
                .join(store.alias("b"), band_match_condition())
                .select(
                    F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
                )
            )
            .distinct()
        )
        # Epoch-keyed idempotent writes: a replay of epoch N overwrites
        # epoch N's own partitions with identical content (at-least-once
        # foreachBatch -> effective exactly-once output).
        pairs.write.mode("overwrite").parquet(f"{pairs_dir}/epoch={epoch_id}")
        new_bands.write.partitionBy("band").mode("overwrite").parquet(
            f"{store_dir}/epoch={epoch_id}"
        )
        new_bands.unpersist()

    return docs_stream.writeStream.foreachBatch(process_batch).outputMode("update")
