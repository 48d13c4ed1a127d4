"""Avro *binary datum* codec for the reclamacoes record.

Implements exactly the wire format the reference emits per row
(``app.py:147-153``): a raw Avro binary datum — no object-container header,
no Confluent 5-byte wire framing — encoded against the reclamacoes schema
(every field ``string`` or union ``["null","string"]``).

Written from the public Avro 1.12 specification (binary encoding section):

* ``long`` — zig-zag then base-128 varint, little-endian 7-bit groups;
* ``string`` — long byte-length prefix + UTF-8 bytes;
* ``union`` — long index of the branch (0 = null here), then the branch datum;
* ``record`` — field datums concatenated in schema order, no framing.

The container ships no avro-python / spark-avro, so the codec is written
here, in two forms:

* ``encode_arrow`` / ``decode_arrow`` — the engine's kernels, one Arrow
  batch at a time with pyarrow compute and numpy (``mapInArrow`` in
  ``sinks/encode.py``, ``streaming/ingest.py`` and
  ``sources/kafka_source.py``);
* ``encode_record`` / ``decode_record`` — one record at a time, the
  spec-level references the golden tests and the kernel pin tests compare
  against.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..schemas import FIELD_ORDER, RECLAMACOES_FIELDS

# An Avro long is 64 bits: ten 7-bit groups at most.
_MAX_VARINT_BYTES = 10


def zigzag_varint(n: int) -> bytes:
    """Avro long: zig-zag mapping then base-128 varint."""
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        bits = z & 0x7F
        z >>= 7
        if z:
            out.append(bits | 0x80)
        else:
            out.append(bits)
            return bytes(out)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """One zig-zag varint at ``pos``: (value, position after it).  A datum
    that ends inside it raises IndexError."""
    acc = shift = 0
    while True:
        byte = buf[pos]
        pos += 1
        acc |= (byte & 0x7F) << shift
        if not byte & 0x80:
            return (acc >> 1) ^ -(acc & 1), pos
        shift += 7
        if shift == 7 * _MAX_VARINT_BYTES:
            raise ValueError(f"varint longer than {_MAX_VARINT_BYTES} bytes at byte {pos}")


def encode_string(value: str) -> bytes:
    data = value.encode("utf-8")
    return zigzag_varint(len(data)) + data


def encode_record(values: dict[str, str | None]) -> bytes:
    """One raw binary datum in reclamacoes field order.

    Non-nullable fields raise TypeError on None — the same failure surface as
    the reference's DatumWriter (``app.py:157-158`` catches and drops); callers
    choose quarantine-or-drop policy.
    """
    out = bytearray()
    for name, nullable in RECLAMACOES_FIELDS:
        value = values.get(name)
        if nullable:
            if value is None:
                out += b"\x00"  # union index 0 = null (zigzag(0))
            else:
                out += b"\x02"  # union index 1 = string (zigzag(1))
                out += encode_string(value)
        else:
            if value is None:
                raise TypeError(f"field {name!r} is non-nullable but got None")
            out += encode_string(value)
    return bytes(out)


def decode_record(datum: bytes) -> dict[str, str | None]:
    """Inverse of encode_record.  A malformed datum raises ValueError naming
    the fault: truncated, union index out of range, negative length,
    varint over 10 bytes, invalid UTF-8 or trailing bytes."""
    values: dict[str, str | None] = {}
    pos = 0
    try:
        for name, nullable in RECLAMACOES_FIELDS:
            if nullable:
                index, pos = _read_varint(datum, pos)
                if index == 0:
                    values[name] = None
                    continue
                if index != 1:
                    raise ValueError(f"union index {index} out of range for field {name!r}")
            length, pos = _read_varint(datum, pos)
            end = pos + length
            if not pos <= end <= len(datum):
                if length < 0:
                    raise ValueError(f"negative length {length} for field {name!r}")
                raise ValueError(f"truncated datum: field {name!r} runs past byte {len(datum)}")
            values[name] = datum[pos:end].decode("utf-8")
            pos = end
    except IndexError:
        raise ValueError(f"truncated datum: field {name!r} runs past byte {len(datum)}") from None
    except UnicodeDecodeError as exc:
        raise ValueError(f"invalid UTF-8 in field {name!r}") from exc
    if pos != len(datum):
        raise ValueError(f"trailing bytes: consumed {pos} of {len(datum)}")
    return values


def binary_offsets(values: pa.Array) -> np.ndarray:
    """The ``len(values) + 1`` offsets of a ``binary``/``string`` array into
    its data buffer, at the array's own width (int64 for the ``large_``
    types), honoring the array's slice offset."""
    large = pa.types.is_large_binary(values.type) or pa.types.is_large_string(values.type)
    offsets = np.frombuffer(values.buffers()[1], np.int64 if large else np.int32)
    return offsets[values.offset : values.offset + len(values) + 1]


def _length_prefixes(lengths: np.ndarray, present: np.ndarray | None) -> pa.Array:
    """Per row, the bytes that go before a string field's UTF-8 bytes: the
    zig-zag varint of its byte length, behind the union index for a
    nullable field (``present`` given) — ``\\x02`` + varint where the value
    is present, ``\\x00`` alone where it is NULL."""
    z = lengths.astype(np.uint64) << np.uint64(1)  # zig-zag of a length >= 0
    width = np.ones(len(z), np.int64)
    for k in range(1, 5):  # int32 lengths take at most 5 varint bytes
        width += z >= np.uint64(1 << (7 * k))
    start = np.zeros(len(z) + 1, np.int64)
    if present is None:
        np.cumsum(width, out=start[1:])
        data = np.empty(start[-1], np.uint8)
        rows = slice(None)
        at = start[:-1]
    else:
        np.cumsum(np.where(present, width + 1, 1), out=start[1:])
        data = np.empty(start[-1], np.uint8)
        data[start[:-1]] = np.where(present, 2, 0).astype(np.uint8)
        rows = present
        at = start[:-1][present] + 1
    z, width = z[rows], width[rows]
    for k in range(5):
        more = width > k
        if not more.any():
            break
        byte = (z[more] >> np.uint64(7 * k)) & np.uint64(0x7F)
        byte |= np.where(width[more] > k + 1, np.uint64(0x80), np.uint64(0))
        data[at[more] + k] = byte.astype(np.uint8)
    return pa.Array.from_buffers(
        pa.binary(), len(start) - 1,
        [None, pa.py_buffer(start.astype(np.int32)), pa.py_buffer(data)],
    )


def encode_arrow(bronze: pa.RecordBatch) -> pa.Array:
    """Bronze batch (the 14 string columns, by name) -> one raw datum per
    row, ``binary``.  Byte-identical to ``encode_record`` row by row; a row
    with a NULL required field gets a NULL datum, which the caller filters
    (the reference's DatumWriter error path, per row)."""
    parts = []
    for name, nullable in RECLAMACOES_FIELDS:
        value = bronze.column(name).cast(pa.binary())
        lengths = np.diff(binary_offsets(value))
        if nullable:
            present = value.is_valid().to_numpy(zero_copy_only=False)
            parts += [_length_prefixes(lengths, present), value.fill_null(b"")]
        else:
            parts += [_length_prefixes(lengths, None), value]
    # A NULL required value makes the joined datum NULL (null_handling="emit_null").
    return pc.binary_join_element_wise(*parts, b"")


def _read_varints(
    data: np.ndarray, pos: np.ndarray, end: np.ndarray, active: np.ndarray, name: str
) -> tuple[np.ndarray, np.ndarray]:
    """The zig-zag varint at ``pos`` of every ``active`` row: (values, the
    position after each).  Inactive rows read nothing and give 0."""
    acc = np.zeros(len(pos), np.uint64)
    after = pos.copy()
    rows = np.flatnonzero(active)
    for k in range(_MAX_VARINT_BYTES):
        if not len(rows):
            break
        at = pos[rows] + k
        short = at >= end[rows]
        if short.any():
            raise ValueError(f"truncated datum at row {rows[short][0]}: field {name!r}")
        byte = data[at]
        acc[rows] |= (byte & 0x7F).astype(np.uint64) << np.uint64(7 * k)
        after[rows] = at + 1
        rows = rows[byte >= 0x80]
    if len(rows):
        raise ValueError(
            f"varint longer than {_MAX_VARINT_BYTES} bytes at row {rows[0]}: field {name!r}"
        )
    value = (acc >> np.uint64(1)).astype(np.int64) ^ -(acc & np.uint64(1)).astype(np.int64)
    return value, after


def decode_arrow(values: pa.Array) -> pa.RecordBatch:
    """``binary`` datums -> bronze batch (14 ``string`` columns in
    ``FIELD_ORDER``), the inverse of ``encode_arrow``.  Raises ValueError on
    the faults ``decode_record`` names, and on a NULL datum."""
    if values.null_count:
        row = values.is_null().to_numpy(zero_copy_only=False).argmax()
        raise ValueError(f"NULL value at row {row}: every row must be one datum")
    values = values.cast(pa.binary())
    n = len(values)
    offsets = binary_offsets(values)
    buffer = values.buffers()[2]
    data = np.frombuffer(buffer, np.uint8) if buffer is not None else np.empty(0, np.uint8)
    pos = offsets[:-1].astype(np.int64)
    end = offsets[1:].astype(np.int64)
    every = np.ones(n, bool)
    columns = []
    for name, nullable in RECLAMACOES_FIELDS:
        present = every
        if nullable:
            index, pos = _read_varints(data, pos, end, every, name)
            bad = (index != 0) & (index != 1)
            if bad.any():
                row = np.flatnonzero(bad)[0]
                raise ValueError(f"union index {index[row]} out of range at row {row}: field {name!r}")
            present = index == 1
        length, pos = _read_varints(data, pos, end, present, name)
        if (length < 0).any():
            row = np.flatnonzero(length < 0)[0]
            raise ValueError(f"negative length {length[row]} at row {row}: field {name!r}")
        if (pos + length > end).any():
            row = np.flatnonzero(pos + length > end)[0]
            raise ValueError(f"truncated datum at row {row}: field {name!r} needs {length[row]} bytes")
        # Field i of row r spans [pos[r], pos[r] + length[r]): the string
        # view over the datum bytes with offsets pos, end, pos, end, ... holds
        # every field at an even index, so one take gathers the column.
        bounds = np.zeros(max(2 * n, 1), np.int32)
        bounds[: 2 * n : 2], bounds[1 : 2 * n : 2] = pos, pos + length
        view = pa.StringArray.from_buffers(max(2 * n - 1, 0), pa.py_buffer(bounds), buffer)
        rows = np.arange(0, 2 * n, 2)
        column = view.take(pa.array(rows, mask=None if present is every else ~present))
        try:
            column.validate(full=True)
        except pa.ArrowInvalid as exc:
            raise ValueError(f"invalid UTF-8 in field {name!r}: {exc}") from exc
        columns.append(column)
        pos = pos + length
    if (pos != end).any():
        row = np.flatnonzero(pos != end)[0]
        raise ValueError(
            f"trailing bytes at row {row}: consumed {pos[row] - offsets[row]} of "
            f"{end[row] - offsets[row]}"
        )
    return pa.RecordBatch.from_arrays(columns, names=FIELD_ORDER)


def encode_batches(batches: Iterator, columns: list[str]) -> Iterator:
    """pandas adapter over ``encode_arrow`` for in-process callers holding
    pandas frames: DataFrame[bronze columns] -> DataFrame[value] of the rows
    that encode, in order.  A field not in ``columns`` is NULL; each column
    is typed ``string`` so an all-NULL one is not inferred as ``null``."""
    import pandas as pd

    for pdf in batches:
        bronze = pa.RecordBatch.from_arrays(
            [
                pa.array(pdf[name], pa.string(), from_pandas=True)
                if name in columns
                else pa.nulls(len(pdf), pa.string())
                for name in FIELD_ORDER
            ],
            names=FIELD_ORDER,
        )
        yield pd.DataFrame({"value": encode_arrow(bronze).drop_null().to_pylist()}, dtype=object)
