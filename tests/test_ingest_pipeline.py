"""End-to-end ingestion parity tests (SURVEY.md §5.2 item 4): ;-delimited
ISO-8859-1 CSV with raw BACEN headers -> scan -> sanitize -> project ->
empty->NULL -> Avro encode -> decode back.
"""

from __future__ import annotations

from collections import Counter
from pathlib import Path

import pytest

from data_ingestion_ex8_producer_spark.functions.avro_codec import decode_record
from data_ingestion_ex8_producer_spark.schemas import FIELD_ORDER, RAW_BACEN_HEADER
from data_ingestion_ex8_producer_spark.sinks.encode import avro_value_frame
from data_ingestion_ex8_producer_spark.sources.csv_source import read_reclamacoes_batch
from data_ingestion_ex8_producer_spark.sources.kafka_source import decode_value_frame
from data_ingestion_ex8_producer_spark.streaming.ingest import replay_all_batch

RAW_HEADER = (
    "Ano;Trimestre;Categoria;Tipo;CNPJ IF;Instituição financeira;Índice;"
    "Quantidade de reclamações reguladas procedentes;"
    "Quantidade de reclamações reguladas - outras;"
    "Quantidade de reclamações não reguladas;"
    "Quantidade total de reclamações;"
    "Quantidade total de clientes  CCS e SCR;"
    "Quantidade de clientes  CCS;"
    "Quantidade de clientes  SCR;"
    "Coluna desconhecida"  # unknown column: must be dropped (app.py:130)
)

ROWS = [
    # full row
    "2024;1º;Bancos e financeiras;Banco Múltiplo;00000000;BANCO ALFA;25,74;10;4;7;21;1000;600;400;lixo",
    # empty nullable fields -> NULL
    "2024;1º;Bancos e financeiras;Banco Comercial;;BANCO BETA;10,00;5;;;5;500;;;x",
    # empty NON-nullable field (indice) -> row fails Avro encode, is skipped
    "2023;2º;Bancos e financeiras;Banco Múltiplo;11111111;BANCO GAMA;;1;1;1;3;100;50;50;y",
]


@pytest.fixture(scope="module")
def fixture_csv(tmp_path_factory) -> str:
    path = tmp_path_factory.mktemp("reclamacoes") / "reclamacoes_2024.csv"
    content = "\n".join([RAW_HEADER, *ROWS]) + "\n"
    path.write_bytes(content.encode("iso-8859-1"))
    return str(path)


def test_bronze_normalization(spark, fixture_csv: str) -> None:
    df = read_reclamacoes_batch(spark, fixture_csv)
    assert df.columns == FIELD_ORDER  # whitelist + avsc order, unknown dropped
    rows = {r["instituicao_financeira"]: r.asDict() for r in df.collect()}
    assert set(rows) == {"BANCO ALFA", "BANCO BETA", "BANCO GAMA"}

    alfa = rows["BANCO ALFA"]
    assert alfa["ano"] == "2024"
    assert alfa["trimestre"] == "1º"  # ISO-8859-1 decoded correctly
    assert alfa["indice"] == "25,74"

    beta = rows["BANCO BETA"]
    assert beta["cnpj_if"] is None  # empty -> NULL (app.py:131)
    assert beta["quantidade_de_reclamacoes_reguladas_outras"] is None
    assert beta["quantidade_de_clientes_scr"] is None

    gama = rows["BANCO GAMA"]
    assert gama["indice"] is None  # empty non-nullable also nulled at bronze


def test_avro_encode_roundtrip(spark, fixture_csv: str) -> None:
    bronze = read_reclamacoes_batch(spark, fixture_csv)
    encoded = avro_value_frame(bronze)
    assert encoded.columns == ["value"]
    datums = [bytes(r["value"]) for r in encoded.collect()]
    # GAMA has NULL in non-nullable 'indice' -> skipped at encode, like the
    # reference's DatumWriter error path (but per-row, not per-chunk).
    assert len(datums) == 2
    decoded = {d["instituicao_financeira"]: d for d in map(decode_record, datums)}
    assert set(decoded) == {"BANCO ALFA", "BANCO BETA"}
    assert decoded["BANCO ALFA"]["indice"] == "25,74"
    assert decoded["BANCO BETA"]["cnpj_if"] is None


def test_replay_all_batch(spark, fixture_csv: str) -> None:
    out = replay_all_batch(spark, fixture_csv)
    assert out.count() == 2


def test_cli_replay_writes_parquet_sink(spark, fixture_csv: str, tmp_path: Path, monkeypatch) -> None:
    """``--replay`` writes one batch cycle through the stream's sink: the
    parquet output decodes to exactly replay_all_batch's rows."""
    from data_ingestion_ex8_producer_spark import __main__ as cli

    monkeypatch.setattr(cli, "build_session", lambda *_args, **_kw: spark)
    landing = str(Path(fixture_csv).parent)
    out = tmp_path / "replay_out"
    argv = ["--sink", "parquet", "--source", landing, "--output", str(out), "--replay"]
    assert cli.main(argv) == 0

    written = spark.read.parquet(str(out))
    assert written.columns == ["value"]

    def rows(df) -> Counter:
        return Counter(tuple(r) for r in decode_value_frame(df).collect())

    got = rows(written)
    assert got == rows(replay_all_batch(spark, landing))
    assert sum(got.values()) == 2


def test_kafka_sink_options_need_no_bucket(monkeypatch) -> None:
    """The Kafka sink needs only the broker and topic: with no S3 bucket
    configured (a ``--source`` run never reads S3) it still resolves."""
    from data_ingestion_ex8_producer_spark.config import EngineConfig
    from data_ingestion_ex8_producer_spark.streaming.ingest import sink_options

    monkeypatch.delenv("S3_BUCKET_NAME", raising=False)
    monkeypatch.setenv("KAFKA_BOOTSTRAP_SERVERS", "broker:9092")
    monkeypatch.setenv("KAFKA_TOPIC", "reclamacoes")
    assert sink_options(EngineConfig(), "kafka", None) == (
        "kafka",
        {"kafka.bootstrap.servers": "broker:9092", "topic": "reclamacoes"},
    )


def test_cli_without_source_requires_bucket(tmp_path: Path, monkeypatch) -> None:
    """Without ``--source`` the landing zone is the S3 bucket, so a missing
    ``S3_BUCKET_NAME`` is fatal before any session starts (app.py:202-203)."""
    from data_ingestion_ex8_producer_spark import __main__ as cli

    monkeypatch.delenv("S3_BUCKET_NAME", raising=False)
    monkeypatch.setattr(cli, "build_session", lambda *_a, **_kw: pytest.fail("session built"))
    argv = ["--replay", "--sink", "parquet", "--output", str(tmp_path / "out")]
    with pytest.raises(ValueError, match="S3_BUCKET_NAME"):
        cli.main(argv)


def test_cli_checks_sink_before_session(tmp_path: Path, monkeypatch) -> None:
    """``--sink parquet`` without ``--output`` is fatal before any session
    starts, as the missing bucket is."""
    from data_ingestion_ex8_producer_spark import __main__ as cli

    monkeypatch.setattr(cli, "build_session", lambda *_a, **_kw: pytest.fail("session built"))
    argv = ["--sink", "parquet", "--source", str(tmp_path), "--replay"]
    with pytest.raises(ValueError, match="output_path"):
        cli.main(argv)


def test_duplicate_header_last_wins(spark, tmp_path: Path) -> None:
    # Two raw headers sanitizing to "ano": DictReader semantics keep the last.
    path = tmp_path / "dup.csv"
    path.write_bytes("Ano;ANO;Índice\n1999;2024;1,0\n".encode("iso-8859-1"))
    df = read_reclamacoes_batch(spark, str(path))
    row = df.collect()[0]
    assert row["ano"] == "2024"
    assert row["indice"] == "1,0"
    assert row["categoria"] is None  # missing column materializes as NULL


def _write(path: Path, header: list[str], rows: list[list[str]]) -> None:
    lines = [";".join(header), *(";".join(r) for r in rows)]
    path.write_bytes(("\n".join(lines) + "\n").encode("iso-8859-1"))


def test_mixed_headers_match_canonical(spark, tmp_path: Path) -> None:
    """Each file is mapped through its own header: a reordered file and a
    file with a duplicated plus an unknown column give the same bronze rows
    as the same data landed with the canonical header."""
    header = list(RAW_BACEN_HEADER)
    rows = [r.split(";")[:14] for r in ROWS]
    canonical, mixed = tmp_path / "canonical", tmp_path / "mixed"
    canonical.mkdir()
    mixed.mkdir()
    for i, row in enumerate(rows):
        _write(canonical / f"f{i}.csv", header, [row])

    _write(mixed / "f0.csv", header, [rows[0]])
    order = [1, 0, *range(2, 14)]  # Trimestre;Ano;...
    _write(mixed / "f1.csv", [header[i] for i in order], [[rows[1][i] for i in order]])
    # "ANO" first is shadowed by the later "Ano" (last wins); the unknown
    # trailing column is dropped.
    _write(
        mixed / "f2.csv",
        ["ANO", *header, "Coluna desconhecida"],
        [["1999", *rows[2], "lixo"]],
    )

    def bronze(path: Path) -> list[tuple]:
        return sorted(tuple(r) for r in read_reclamacoes_batch(spark, str(path)).collect())

    got = bronze(mixed)
    assert got == bronze(canonical)
    assert {r[0] for r in got} == {"2024", "2023"}  # ano, never a trimestre


def test_batch_reads_only_csv(spark, tmp_path: Path) -> None:
    """Only ``*.csv`` files are ingested (app.py:94-99): a CSV-shaped
    ``notes.txt`` beside the landing file adds no rows."""
    d = tmp_path / "landing"
    d.mkdir()
    _write(d / "reclamacoes.csv", list(RAW_BACEN_HEADER), [ROWS[0].split(";")[:14]])
    _write(d / "notes.txt", list(RAW_BACEN_HEADER), [ROWS[1].split(";")[:14]])
    got = [r["instituicao_financeira"] for r in read_reclamacoes_batch(spark, str(d)).collect()]
    assert got == ["BANCO ALFA"]


def test_empty_landing_dir(spark, tmp_path: Path) -> None:
    """An empty landing zone yields an empty bronze frame with the full
    schema (the reference would just loop forever doing nothing)."""
    empty = tmp_path / "empty_landing"
    empty.mkdir()
    df = read_reclamacoes_batch(spark, str(empty))
    assert df.columns == FIELD_ORDER
    assert df.count() == 0


def test_header_only_file(spark, tmp_path: Path) -> None:
    """A file with only a header row produces zero records, not an error."""
    path = tmp_path / "header_only.csv"
    path.write_bytes((RAW_HEADER + "\n").encode("iso-8859-1"))
    df = read_reclamacoes_batch(spark, str(path))
    assert df.count() == 0


def test_short_rows_pad_with_nulls(spark, tmp_path: Path) -> None:
    """Rows with fewer fields than the header pad with NULLs, as
    ``csv.DictReader`` does, instead of killing the rest of the file like
    the reference's abandon-on-error policy (app.py:136-139)."""
    path = tmp_path / "short.csv"
    content = RAW_HEADER + "\n2024;1º;Cat\n"
    path.write_bytes(content.encode("iso-8859-1"))
    df = read_reclamacoes_batch(spark, str(path))
    row = df.collect()[0]
    assert row["ano"] == "2024"
    assert row["categoria"] == "Cat"
    assert row["tipo"] is None


_CELLS = ROWS[0].split(";")[:14]
_HEADER = ";".join(RAW_BACEN_HEADER)


def _line(**cells: str) -> str:
    """``_CELLS`` with the named bronze fields replaced, as one CSV line."""
    return ";".join(cells.get(name, cell) for name, cell in zip(FIELD_ORDER, _CELLS))


def _record(**fields) -> tuple:
    return tuple(fields.get(name, cell) for name, cell in zip(FIELD_ORDER, _CELLS))


# name -> ({file name: ISO-8859-1 text}, the decoded records replay commits)
_PARSE_CASES = {
    "quoted_semicolon": (
        {"a.csv": f'{_HEADER}\n{_line(categoria=chr(34) + "Cat;X" + chr(34))}\n'},
        [_record(categoria="Cat;X")],
    ),
    "crlf": (
        {"a.csv": f"{_HEADER}\r\n{_line()}\r\n{_line(instituicao_financeira='BANCO Z')}\r\n"},
        [_record(), _record(instituicao_financeira="BANCO Z")],
    ),
    "blank_lines": (
        {"a.csv": f"{_HEADER}\n\n{_line()}\n\n\n{_line(ano='2023')}\n\n"},
        [_record(), _record(ano="2023")],
    ),
    "long_row_drops_extra_cells": (
        {"a.csv": f"{_HEADER}\n{_line()};extra;cells\n"},
        [_record()],
    ),
    "nullable_tail_missing": (
        {"a.csv": f"{_HEADER}\n{';'.join(_CELLS[:12])}\n"},
        [_record(quantidade_de_clientes_ccs=None, quantidade_de_clientes_scr=None)],
    ),
    "zero_byte_file": (
        {"empty.csv": "", "a.csv": f"{_HEADER}\n{_line()}\n"},
        [_record()],
    ),
    "unterminated_header_only": (
        {"empty.csv": _HEADER, "a.csv": f"{_HEADER}\n{_line()}"},
        [_record()],
    ),
    "hidden_files_ignored": (
        {
            "_x.csv": f"{_HEADER}\n{_line(ano='1999')}\n",
            ".y.csv": f"{_HEADER}\n{_line(ano='1998')}\n",
            "a.csv": f"{_HEADER}\n{_line()}\n",
        },
        [_record()],
    ),
    "quoted_newline": (
        {"a.csv": f'{_HEADER}\n{_line(instituicao_financeira=chr(34) + "BANCO" + chr(10) + "A" + chr(34))}\n'},
        [_record(instituicao_financeira="BANCO\nA")],
    ),
}


@pytest.mark.parametrize("case", list(_PARSE_CASES))
def test_parse_semantics(spark, tmp_path: Path, case: str) -> None:
    """The reference's ``csv.DictReader(delimiter=';')`` semantics, end to
    end: the landed files replay to exactly these decoded records."""
    files, expected = _PARSE_CASES[case]
    for name, text in files.items():
        (tmp_path / name).write_bytes(text.encode("iso-8859-1"))
    got = Counter(tuple(r) for r in decode_value_frame(replay_all_batch(spark, str(tmp_path))).collect())
    assert got == Counter(expected)


def _ragged_file(path: Path) -> list[str]:
    """One landing file whose full rows (2001, 2003, 2005) and short rows
    (2002, 2004: the two nullable tail fields missing) interleave; returns
    the ``ano`` of each row in file order."""
    years = ["2001", "2002", "2003", "2004", "2005"]
    lines = [_line(ano=y) if int(y) % 2 else _line(ano=y).rsplit(";", 2)[0] for y in years]
    path.write_bytes(("\n".join([_HEADER, *lines]) + "\n").encode("iso-8859-1"))
    return years


def test_rows_keep_file_order(spark, tmp_path: Path) -> None:
    """Full and short rows of one file come back in file order, as the
    reference's ``DictReader`` yields them."""
    years = _ragged_file(tmp_path / "a.csv")
    rows = read_reclamacoes_batch(spark, str(tmp_path)).collect()
    assert [r["ano"] for r in rows] == years
    assert [r["quantidade_de_clientes_scr"] for r in rows] == [_CELLS[13], None] * 2 + [_CELLS[13]]


def test_datums_keep_file_order(spark, tmp_path: Path) -> None:
    """The ``avro_datum_dir`` part file that ``replay_all_batch`` writes
    holds one datum per row in file order."""
    from data_ingestion_ex8_producer_spark.sinks.datum_sink import (
        AvroDatumDirDataSource,
        read_datum_file,
    )

    landing, dest = tmp_path / "landing", tmp_path / "datums"
    landing.mkdir()
    years = _ragged_file(landing / "a.csv")
    spark.dataSource.register(AvroDatumDirDataSource)
    replay_all_batch(spark, str(landing)).write.format("avro_datum_dir").option(
        "path", str(dest)
    ).mode("overwrite").save()
    (part,) = [line.split("\t")[0] for line in (dest / "_SUCCESS").read_text().splitlines()]
    assert [decode_record(d)["ano"] for d in read_datum_file(str(dest / part))] == years


def test_header_with_quoted_newline() -> None:
    """A quoted newline inside a header name is part of one CSV record:
    the header and two data lines give exactly two rows."""
    from data_ingestion_ex8_producer_spark.sources.csv_source import _parse

    header = _HEADER.rsplit(";", 1)[0] + ';"Quantidade de clientes\n SCR"'
    content = "\n".join([header, _line(ano="2001"), _line(ano="2002")]) + "\n"
    bronze = _parse(content.encode("iso-8859-1"))
    assert bronze.column("ano").to_pylist() == ["2001", "2002"]
