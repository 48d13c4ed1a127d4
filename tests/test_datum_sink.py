"""The `avro_datum_dir` Python DataSource writer: batch two-phase commit with
_SUCCESS manifest, streaming epoch directories, and payload round-trip through
the engine's own Avro codec.
"""

from __future__ import annotations

import struct
from pathlib import Path

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.errors import PythonException
from pyspark.sql import functions as F

from data_ingestion_ex8_producer_spark.functions.avro_codec import (
    decode_record,
    encode_record,
)
from data_ingestion_ex8_producer_spark.sinks.datum_sink import (
    AvroDatumDirDataSource,
    _write_partition,
    read_datum_file,
)

_ROWS = [
    {"ano": "2024", "trimestre": "1º", "categoria": "Cat", "tipo": "T",
     "cnpj_if": None, "instituicao_financeira": "BANCO A", "indice": "1,23",
     "quantidade_de_reclamacoes_reguladas_procedentes": "1",
     "quantidade_de_reclamacoes_reguladas_outras": None,
     "quantidade_de_reclamacoes_nao_reguladas": "2",
     "quantidade_total_de_reclamacoes": "3",
     "quantidade_total_de_clientes_ccs_e_scr": "10",
     "quantidade_de_clientes_ccs": "5", "quantidade_de_clientes_scr": "5"},
    {"ano": "2023", "trimestre": "4º", "categoria": "Out", "tipo": "U",
     "cnpj_if": "123", "instituicao_financeira": "BANCO B", "indice": "9,99",
     "quantidade_de_reclamacoes_reguladas_procedentes": "7",
     "quantidade_de_reclamacoes_reguladas_outras": "1",
     "quantidade_de_reclamacoes_nao_reguladas": "0",
     "quantidade_total_de_reclamacoes": "8",
     "quantidade_total_de_clientes_ccs_e_scr": "20",
     "quantidade_de_clientes_ccs": "9", "quantidade_de_clientes_scr": "11"},
]


def _collect_datums(root: Path) -> list[bytes]:
    out: list[bytes] = []
    manifest = root / "_SUCCESS"
    assert manifest.exists(), "commit must publish a _SUCCESS manifest"
    for line in manifest.read_text().splitlines():
        name, _n = line.split("\t")
        out.extend(read_datum_file(str(root / name)))
    return out


def test_datum_sink_batch_roundtrip(spark, tmp_path: Path) -> None:
    spark.dataSource.register(AvroDatumDirDataSource)
    values = [(encode_record(r),) for r in _ROWS]
    df = spark.createDataFrame(values, "value binary")
    dest = tmp_path / "datums"
    df.coalesce(2).write.format("avro_datum_dir").option("path", str(dest)).mode(
        "append"
    ).save()

    datums = _collect_datums(dest)
    decoded = sorted(
        (decode_record(d) for d in datums), key=lambda r: r["ano"]
    )
    assert decoded == sorted(_ROWS, key=lambda r: r["ano"])
    # no stray temp files after commit
    assert not list(dest.glob("_tmp_*"))


def _save(spark, dest: Path, rows: list[dict], mode: str) -> None:
    spark.createDataFrame([(encode_record(r),) for r in rows], "value binary").coalesce(
        1
    ).write.format("avro_datum_dir").option("path", str(dest)).mode(mode).save()


def _manifest_names(root: Path) -> set[str]:
    return {line.split("\t")[0] for line in (root / "_SUCCESS").read_text().splitlines()}


def _by_ano(rows) -> list[dict]:
    return sorted(rows, key=lambda r: r["ano"])


def test_datum_sink_append_keeps_earlier_batches(spark, tmp_path: Path) -> None:
    """Two appends into one directory: the manifest lists both batches'
    part files, so a manifest reader sees the union of their rows."""
    spark.dataSource.register(AvroDatumDirDataSource)
    dest = tmp_path / "appended"
    _save(spark, dest, _ROWS[:1], "append")
    _save(spark, dest, _ROWS[1:], "append")

    names = _manifest_names(dest)
    assert len(names) == 2
    assert names == {p.name for p in dest.glob("part-*.bin")}
    assert _by_ano(map(decode_record, _collect_datums(dest))) == _by_ano(_ROWS)


def test_datum_sink_overwrite_replaces_parts(spark, tmp_path: Path) -> None:
    """``mode("overwrite")`` after an append leaves only the new part files,
    on disk and in the manifest."""
    spark.dataSource.register(AvroDatumDirDataSource)
    dest = tmp_path / "overwritten"
    _save(spark, dest, _ROWS, "append")
    _save(spark, dest, _ROWS[1:], "overwrite")

    names = _manifest_names(dest)
    assert len(names) == 1
    assert names == {p.name for p in dest.glob("part-*.bin")}
    assert _by_ano(map(decode_record, _collect_datums(dest))) == _ROWS[1:]
    assert not list(dest.glob("_tmp_*"))


def test_datum_sink_null_value_fails_and_leaves_nothing(spark, tmp_path: Path) -> None:
    """A NULL ``value`` is not a datum: the write fails instead of committing
    a zero-length record, and no manifest, part or temp file is left."""
    spark.dataSource.register(AvroDatumDirDataSource)
    dest = tmp_path / "nulls"
    df = spark.createDataFrame([(None,), (b"\x08abcd",)], "value binary").coalesce(1)
    with pytest.raises(PythonException, match="NULL value"):
        df.write.format("avro_datum_dir").option("path", str(dest)).mode("append").save()
    assert not [
        p.name for pattern in ("_SUCCESS", "part-*", "_tmp_*") for p in dest.glob(pattern)
    ]


def test_datum_sink_requires_value_column(spark, tmp_path: Path) -> None:
    """The sink takes one binary column named ``value``: a frame whose only
    column is ``payload binary`` fails, and no manifest, part or temp file
    is left."""
    spark.dataSource.register(AvroDatumDirDataSource)
    dest = tmp_path / "renamed"
    df = spark.createDataFrame([(b"\x08abcd",)], "payload binary").coalesce(1)
    with pytest.raises(PythonException, match='"value" does not exist'):
        df.write.format("avro_datum_dir").option("path", str(dest)).mode("append").save()
    assert not [
        p.name for pattern in ("_SUCCESS", "part-*", "_tmp_*") for p in dest.glob(pattern)
    ]


@pytest.mark.slow
def test_datum_sink_streaming_epochs(spark, tmp_path: Path) -> None:
    spark.dataSource.register(AvroDatumDirDataSource)
    src = tmp_path / "src"
    src.mkdir()
    for i, row in enumerate(_ROWS):
        spark.createDataFrame([(encode_record(row),)], "value binary").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / f"f{i}"))

    stream = (
        spark.readStream.schema("value binary")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    dest = tmp_path / "stream_datums"
    q = (
        stream.writeStream.format("avro_datum_dir")
        .option("path", str(dest))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()

    epoch_dirs = sorted(p for p in dest.glob("epoch=*") if p.is_dir())
    assert len(epoch_dirs) == 2, f"expected one epoch dir per micro-batch: {epoch_dirs}"
    decoded = []
    for ed in epoch_dirs:
        decoded.extend(decode_record(d) for d in _collect_datums(ed))
    assert sorted(decoded, key=lambda r: r["ano"]) == sorted(
        _ROWS, key=lambda r: r["ano"]
    )


# ---------------------------------------------------------------------------
# Driver-side commit-protocol unit tests (no Spark session needed)
# ---------------------------------------------------------------------------


def _mk_temp(directory: Path, token: str, n_rows: int = 1):
    from data_ingestion_ex8_producer_spark.sinks.datum_sink import _DatumCommit

    directory.mkdir(parents=True, exist_ok=True)
    tmp = directory / f"_tmp_{token}.bin"
    tmp.write_bytes(b"\x00\x00\x00\x01x" * n_rows)
    return _DatumCommit(str(tmp), n_rows)


def test_commit_empty_batch_publishes_manifest(tmp_path: Path) -> None:
    """A successful zero-partition batch must still publish an (empty)
    _SUCCESS, so manifest readers can tell 'committed empty' from
    'never committed'."""
    from data_ingestion_ex8_producer_spark.sinks.datum_sink import _commit

    dest = tmp_path / "empty"
    _commit([None, None], str(dest), replace=False)
    assert (dest / "_SUCCESS").read_text() == ""


def test_stream_recommit_skips_committed_epoch(tmp_path: Path) -> None:
    """A replayed epoch whose _SUCCESS already exists must keep the first
    manifest and discard the replay's temp files."""
    from data_ingestion_ex8_producer_spark.sinks.datum_sink import _StreamWriter

    dest = tmp_path / "sink"
    w = _StreamWriter(str(dest))
    first = _mk_temp(dest, "aaaa")
    w.commit([first], batchId=3)
    manifest_v1 = (dest / "epoch=3" / "_SUCCESS").read_text()
    assert "part-aaaa.bin" in manifest_v1

    replay = _mk_temp(dest, "bbbb")
    w.commit([replay], batchId=3)
    assert (dest / "epoch=3" / "_SUCCESS").read_text() == manifest_v1
    assert not (dest / "epoch=3" / "part-bbbb.bin").exists()
    assert not list(dest.glob("_tmp_*")), "replay temps must be cleaned up"


def test_stream_recommit_clears_orphans_after_crash(tmp_path: Path) -> None:
    """Crash mid-rename (some part files placed, no _SUCCESS): the replayed
    commit must remove the crashed attempt's orphans so glob readers see
    exactly one attempt's files."""
    from data_ingestion_ex8_producer_spark.sinks.datum_sink import _StreamWriter

    dest = tmp_path / "sink"
    epoch_dir = dest / "epoch=7"
    epoch_dir.mkdir(parents=True)
    (epoch_dir / "part-dead.bin").write_bytes(b"orphan")  # crashed attempt

    w = _StreamWriter(str(dest))
    retry = _mk_temp(dest, "cccc")
    w.commit([retry], batchId=7)
    files = sorted(p.name for p in epoch_dir.glob("part-*.bin"))
    assert files == ["part-cccc.bin"]
    manifest = (epoch_dir / "_SUCCESS").read_text()
    assert "part-cccc.bin" in manifest and "part-dead.bin" not in manifest


@pytest.mark.parametrize(
    "tail, offset",
    [
        (b"\x00\x00\x00\x0aabcde", 9),  # declares 10 payload bytes, 5 present
        (b"\x00\x00", 9),  # a 2-byte tail where a length header belongs
    ],
    ids=["short_payload", "short_length"],
)
def test_read_datum_file_rejects_truncated_frame(tmp_path: Path, tail: bytes, offset: int) -> None:
    """A truncated frame fails loudly, naming the file and the frame's
    offset, instead of returning a short payload or a bare struct.error."""
    path = tmp_path / "part.avro"
    path.write_bytes(b"\x00\x00\x00\x05hello" + tail)
    with pytest.raises(ValueError, match=f"{path.name}.*offset {offset}"):
        read_datum_file(str(path))


# ---------------------------------------------------------------------------
# Task-side framing, pinned against the per-record definition (no Spark)
# ---------------------------------------------------------------------------


def _framing(payloads: list[bytes]) -> bytes:
    return b"".join(struct.pack(">I", len(p)) + p for p in payloads)


def _value_batch(payloads: list[bytes], value_type: pa.DataType = pa.binary()) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays([pa.array(payloads, value_type)], names=["value"])


def _written(tmp_path: Path, batches: list[pa.RecordBatch]) -> bytes:
    commit = _write_partition(str(tmp_path), iter(batches))
    assert commit.n_rows == sum(b.num_rows for b in batches)
    return Path(commit.tmp_path).read_bytes()


@pytest.mark.parametrize(
    "payloads, start, value_type",
    [
        ([b"\x08abcd", b"xyz"], 0, pa.binary()),
        ([b"\x08abcd", b"", b"xyz"], 2, pa.binary()),
        ([b"", b"a", b""], 0, pa.binary()),
        ([], 0, pa.binary()),
        ([b"a", bytes(range(256)) * 300], 0, pa.binary()),
        ([b"abc", b"", b"defgh"], 1, pa.large_binary()),
    ],
    ids=["plain", "sliced", "empty_payloads", "empty_batch", "over_64KiB", "large_binary"],
)
def test_write_partition_framing(
    tmp_path: Path, payloads: list[bytes], start: int, value_type: pa.DataType
) -> None:
    """The one-step numpy framing equals a 4-byte big-endian length then the
    payload, record by record: from a slice's offset, for empty payloads
    (a trailing one too), an empty batch, a 76,800-byte payload whose
    length has a non-zero third byte, and a sliced ``large_binary`` column
    (int64 offsets; Spark sends one under
    ``spark.sql.execution.arrow.useLargeVarTypes``)."""
    batch = _value_batch([b"skip"] * start + payloads, value_type).slice(start)
    assert batch.column("value").offset == start
    assert _written(tmp_path, [batch]) == _framing(payloads)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.lists(st.binary(max_size=40), max_size=8), max_size=4),
    st.integers(0, 3),
)
def test_write_partition_framing_property(tmp_path_factory, parts, cut) -> None:
    """Several batches, each sliced by ``cut`` rows, land as one framed file
    in batch order, and ``read_datum_file`` gives the payloads back."""
    batches = [_value_batch(p).slice(min(cut, len(p))) for p in parts]
    payloads = [p for part in parts for p in part[cut:]]
    tmp = tmp_path_factory.mktemp("framing")
    assert _written(tmp, batches) == _framing(payloads)
    (path,) = tmp.glob("_tmp_*.bin")
    assert read_datum_file(str(path)) == payloads
