"""Incremental streaming MinHash dedup: cross-batch near-dup pairs are
found without recomputing old documents' signatures, across a stream
restart (the store + checkpoint carry all state)."""

from __future__ import annotations

from pathlib import Path

import pytest

SCHEMA = "doc_id long, text string"

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill every single morning"
)
OTHER = (
    "completely different content about distributed query engines and "
    "columnar storage formats for analytical workloads at scale"
)
UNRELATED = (
    "recipe for sourdough bread requires patience flour water salt and "
    "a healthy starter fed twice daily at room temperature"
)


def _add_batch(spark, rows, in_dir: str, name: str, tmp: Path) -> None:
    """Write one parquet FILE into the stream's input dir (the file source
    lists only the top level — a nested directory would be invisible)."""
    import shutil

    staging = tmp / f"stage_{name}"
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(str(staging))
    part = next(staging.glob("part-*.parquet"))
    Path(in_dir).mkdir(exist_ok=True)
    shutil.move(str(part), str(Path(in_dir) / f"{name}.parquet"))
    shutil.rmtree(staging)


def _run_epoch(spark, in_dir: str, ckpt: str, store: str, pairs: str) -> None:
    from data_ingestion_ex8_producer_spark.streaming.dedup import (
        incremental_minhash_dedup,
    )

    stream = spark.readStream.schema(SCHEMA).parquet(in_dir)
    q = (
        incremental_minhash_dedup(stream, store, pairs)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination(180)
    q.stop()


@pytest.mark.slow
def test_incremental_dedup_across_batches(spark, tmp_path: Path) -> None:
    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")
    pairs = str(tmp_path / "pairs")

    # Epoch 1: docs 1 and 2 are near-dups of each other; 5 is unrelated.
    _add_batch(spark, [(1, BASE), (2, BASE + " extra"), (5, OTHER)], in_dir, "batch1", tmp_path)
    _run_epoch(spark, in_dir, ckpt, store, pairs)

    got1 = {
        (r.doc_a, r.doc_b) for r in spark.read.parquet(pairs).collect()
    }
    assert (1, 2) in got1
    assert not any(5 in p for p in got1)

    # Epoch 2 (fresh file, SAME checkpoint — simulates the job running on):
    # doc 3 duplicates doc 1 -> cross-batch pairs, found without re-reading
    # epoch 1's documents.
    _add_batch(spark, [(3, BASE), (6, UNRELATED)], in_dir, "batch2", tmp_path)
    _run_epoch(spark, in_dir, ckpt, store, pairs)

    got2 = {
        (r.doc_a, r.doc_b) for r in spark.read.parquet(pairs).collect()
    }
    assert (1, 3) in got2  # cross-batch dup
    assert (2, 3) in got2  # transitively similar, same signature
    # the unrelated docs never pair with anything
    assert not any(5 in p or 6 in p for p in got2)

    # The signature store holds all 5 docs x 8 bands.
    store_df = spark.read.parquet(store)
    assert store_df.count() == 5 * 8

    # Consistency with the batch operator: pairs over the full corpus via
    # the same banding helper give the same candidate set.
    from data_ingestion_ex8_producer_spark.operators.dedup import (
        band_match_condition,
        minhash_band_signatures,
    )
    from pyspark.sql import functions as F

    all_docs = spark.createDataFrame(
        [(1, BASE), (2, BASE + " extra"), (5, OTHER), (3, BASE), (6, UNRELATED)],
        SCHEMA,
    )
    bands = minhash_band_signatures(all_docs)
    batch_pairs = {
        (r.doc_a, r.doc_b)
        for r in bands.alias("a")
        .join(bands.alias("b"), band_match_condition())
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .collect()
    }
    assert got2 == batch_pairs


@pytest.mark.slow
def test_incremental_dedup_fails_on_unreadable_store(spark, tmp_path: Path) -> None:
    """A store that exists but cannot be read fails the micro-batch; it is
    never mistaken for the empty store of a first epoch."""
    from pyspark.errors import StreamingQueryException

    in_dir = str(tmp_path / "in")
    store = tmp_path / "store"
    store.mkdir()
    (store / "part-00000.parquet").write_bytes(b"not a parquet file")
    _add_batch(spark, [(1, BASE), (2, BASE + " extra")], in_dir, "batch1", tmp_path)
    with pytest.raises(StreamingQueryException):
        _run_epoch(spark, in_dir, str(tmp_path / "ckpt"), str(store), str(tmp_path / "pairs"))
