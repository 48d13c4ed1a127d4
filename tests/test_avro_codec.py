"""Golden-bytes tests for the Avro binary datum codec (SURVEY.md §5.2 item 2).

The hand-assembled goldens below encode the Avro 1.12 spec by hand —
length-prefixed UTF-8 strings, zig-zag varints, union indexes — pinning the
exact wire format the reference produces per row (raw datum, no container
header, no Confluent framing, ``app.py:147-153``).
"""

from __future__ import annotations

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from data_ingestion_ex8_producer_spark.functions.avro_codec import (
    decode_arrow,
    decode_record,
    encode_arrow,
    encode_record,
    encode_string,
    zigzag_varint,
)
from data_ingestion_ex8_producer_spark.schemas import FIELD_ORDER, RECLAMACOES_FIELDS

FULL_ROW = {
    "ano": "2024",
    "trimestre": "1º",
    "categoria": "Bancos e financeiras",
    "tipo": "Banco Múltiplo",
    "cnpj_if": "00000000",
    "instituicao_financeira": "BANCO EXEMPLO S.A.",
    "indice": "25,74",
    "quantidade_de_reclamacoes_reguladas_procedentes": "10",
    "quantidade_de_reclamacoes_reguladas_outras": "4",
    "quantidade_de_reclamacoes_nao_reguladas": "7",
    "quantidade_total_de_reclamacoes": "21",
    "quantidade_total_de_clientes_ccs_e_scr": "1000",
    "quantidade_de_clientes_ccs": "600",
    "quantidade_de_clientes_scr": "400",
}


def test_zigzag_varint_spec_values() -> None:
    # Values straight from the Avro spec's varint table.
    assert zigzag_varint(0) == b"\x00"
    assert zigzag_varint(-1) == b"\x01"
    assert zigzag_varint(1) == b"\x02"
    assert zigzag_varint(-2) == b"\x03"
    assert zigzag_varint(64) == b"\x80\x01"
    assert zigzag_varint(-65) == b"\x81\x01"


def test_encode_string_golden() -> None:
    # "2024" -> length 4 (zigzag 8) + ascii bytes
    assert encode_string("2024") == b"\x08" + b"2024"
    # "1º" is 3 UTF-8 bytes -> length prefix 6
    assert encode_string("1º") == b"\x06" + "1º".encode()


def test_record_golden_bytes_prefix() -> None:
    datum = encode_record(FULL_ROW)
    # First field: "2024" with length prefix.
    assert datum.startswith(b"\x082024")
    # Second field follows immediately: "1º".
    assert datum[5:9] == b"\x061\xc2\xba"


def test_nulls_encode_as_union_index_zero() -> None:
    row = dict(FULL_ROW)
    for name, nullable in RECLAMACOES_FIELDS:
        if nullable:
            row[name] = None
    datum = encode_record(row)
    decoded = decode_record(datum)
    for name, nullable in RECLAMACOES_FIELDS:
        assert decoded[name] == (None if nullable else FULL_ROW[name])


def test_non_nullable_none_raises() -> None:
    row = dict(FULL_ROW)
    row["ano"] = None
    try:
        encode_record(row)
    except TypeError as exc:
        assert "ano" in str(exc)
    else:  # pragma: no cover
        raise AssertionError("expected TypeError")


maybe_text = st.one_of(st.none(), st.text(max_size=40))
required_text = st.text(max_size=40)


@settings(max_examples=200)
@given(st.fixed_dictionaries(
    {
        name: (maybe_text if nullable else required_text)
        for name, nullable in RECLAMACOES_FIELDS
    }
))
def test_roundtrip(row: dict) -> None:
    assert decode_record(encode_record(row)) == row


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.fixed_dictionaries(
            {
                name: (maybe_text if nullable else st.one_of(st.none(), required_text))
                for name, nullable in RECLAMACOES_FIELDS
            }
        ),
        max_size=20,
    )
)
def test_column_wise_batch_encoder_equals_per_row(rows: list[dict]) -> None:
    """The shipped mapInPandas kernel (column-wise encode_batches, r10)
    must be byte-identical to per-row encode_record, INCLUDING the
    skip-policy: a row with a null in a non-nullable field is dropped in
    order, exactly as the per-row path's TypeError skip did."""
    import pandas as pd

    from data_ingestion_ex8_producer_spark.functions.avro_codec import (
        encode_batches,
    )

    columns = [name for name, _ in RECLAMACOES_FIELDS]
    pdf = pd.DataFrame(
        {c: [r[c] for r in rows] for c in columns}, dtype=object
    )
    got = list(
        pd.concat(
            list(encode_batches(iter([pdf]), columns)), ignore_index=True
        )["value"]
    ) if rows else []
    want = []
    for r in rows:
        try:
            want.append(encode_record(r))
        except TypeError:
            continue
    assert got == want


# ---- Arrow kernels, pinned byte-for-byte against the per-record references --


def _batch(rows: list[dict]) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array([r[c] for r in rows], pa.string()) for c in FIELD_ORDER], names=FIELD_ORDER
    )


def _reference_datums(rows: list[dict]) -> list[bytes | None]:
    """encode_record per row; None where it raises (a NULL required field)."""
    out = []
    for r in rows:
        try:
            out.append(encode_record(r))
        except TypeError:
            out.append(None)
    return out


def _assert_kernels_match(rows: list[dict]) -> None:
    want = _reference_datums(rows)
    assert encode_arrow(_batch(rows)).to_pylist() == want
    datums = [d for d in want if d is not None]
    decoded = decode_arrow(pa.array(datums, pa.binary()))
    assert decoded.schema.names == FIELD_ORDER
    assert decoded.to_pylist() == [decode_record(d) for d in datums]


# Past 64 UTF-8 bytes a length takes a 2-byte varint (zigzag(64) = 128).
long_text = st.text(max_size=150)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.fixed_dictionaries({name: st.one_of(st.none(), long_text) for name in FIELD_ORDER}),
        max_size=20,
    )
)
def test_arrow_kernels_equal_references(rows: list[dict]) -> None:
    _assert_kernels_match(rows)


@pytest.mark.parametrize("length", [63, 64, 8191, 8192])
def test_arrow_kernels_varint_boundaries(length: int) -> None:
    """Lengths on each side of the 1/2- and 2/3-byte varint boundaries, in a
    required and a nullable field, ASCII and 2-byte UTF-8."""
    rows = []
    for text in ("x" * length, "é" * (length // 2) + "x" * (length % 2)):
        row = dict(FULL_ROW, categoria=text, cnpj_if=text)
        assert len(text.encode()) == length
        rows.append(row)
    _assert_kernels_match(rows)


def test_arrow_kernels_null_versus_empty_optional() -> None:
    null_row = dict(FULL_ROW, cnpj_if=None)
    empty_row = dict(FULL_ROW, cnpj_if="")
    got = encode_arrow(_batch([null_row, empty_row])).to_pylist()
    assert got[0] != got[1]
    _assert_kernels_match([null_row, empty_row])
    assert [r["cnpj_if"] for r in decode_arrow(pa.array(got)).to_pylist()] == [None, ""]


def test_arrow_encoder_null_required_field_gives_null_value() -> None:
    rows = [FULL_ROW, dict(FULL_ROW, instituicao_financeira=None), FULL_ROW]
    assert encode_arrow(_batch(rows)).to_pylist() == [
        encode_record(FULL_ROW), None, encode_record(FULL_ROW)
    ]


def test_arrow_kernels_empty_batch() -> None:
    values = encode_arrow(_batch([]))
    assert values.type == pa.binary() and len(values) == 0
    decoded = decode_arrow(values)
    assert decoded.num_rows == 0 and decoded.schema.names == FIELD_ORDER


def test_arrow_decoder_sliced_values() -> None:
    """A slice keeps its parent's buffers: offsets start at the slice's
    offset, not at zero."""
    rows = [dict(FULL_ROW, ano=str(year)) for year in range(2000, 2010)]
    values = pa.array([encode_record(r) for r in rows], pa.binary()).slice(3, 4)
    assert values.offset == 3
    assert decode_arrow(values).to_pylist() == rows[3:7]


def test_encode_batches_all_null_column() -> None:
    """An all-NULL object column is typed string, not inferred as null."""
    import pandas as pd

    from data_ingestion_ex8_producer_spark.functions.avro_codec import encode_batches

    rows = [dict(FULL_ROW, cnpj_if=None, ano=str(y)) for y in (2023, 2024)]
    pdf = pd.DataFrame({c: [r[c] for r in rows] for c in FIELD_ORDER}, dtype=object)
    (out,) = encode_batches(iter([pdf]), FIELD_ORDER)
    assert list(out["value"]) == [encode_record(r) for r in rows]
    pdf["ano"] = None  # all-NULL required column: every row skipped
    (out,) = encode_batches(iter([pdf]), FIELD_ORDER)
    assert len(out) == 0


_DATUM = encode_record(FULL_ROW)
_CNPJ_TAG = sum(len(encode_string(FULL_ROW[c])) for c in FIELD_ORDER[:4])
assert _DATUM[_CNPJ_TAG] == 2


@pytest.mark.parametrize(
    ("datum", "fault"),
    [
        (b"", "truncated"),
        (_DATUM[:3], "truncated"),
        (_DATUM[:-1], "truncated"),
        (_DATUM[:_CNPJ_TAG] + b"\x04" + _DATUM[_CNPJ_TAG + 1 :], "union index 2 out of range"),
        (_DATUM[:_CNPJ_TAG] + b"\x01" + _DATUM[_CNPJ_TAG + 1 :], "union index -1 out of range"),
        (b"\x01" + _DATUM[1:], "negative length"),
        (b"\x80" * 11, "varint longer"),
        (_DATUM[:1] + b"\xff" + _DATUM[2:], "invalid UTF-8"),
        (_DATUM + b"\x00", "trailing bytes"),
    ],
    ids=[
        "empty", "first_field_cut", "last_byte_missing", "union_index_2",
        "union_index_negative", "negative_length", "long_varint", "bad_utf8", "trailing",
    ],
)
def test_malformed_datum_raises_in_both_decoders(datum: bytes, fault: str) -> None:
    with pytest.raises(ValueError, match=fault):
        decode_record(datum)
    with pytest.raises(ValueError, match=fault):
        decode_arrow(pa.array([_DATUM, datum], pa.binary()))


def test_arrow_decoder_rejects_null_value() -> None:
    with pytest.raises(ValueError, match="NULL value at row 1"):
        decode_arrow(pa.array([_DATUM, None], pa.binary()))
