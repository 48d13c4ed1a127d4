"""Seeded inputs for the benchmark, and their expected outputs.

Everything here is computed without Spark and without importing the engine:
the expected Avro datums come from a second encoder written from the Avro
1.12 specification, so an engine bug cannot hide behind a shared helper.

* ``Landing`` — BACEN-shaped ``;``/ISO-8859-1 CSVs with the raw accented
  header, empty optional cells and a known number of rows whose required
  field is empty (the engine must skip exactly those).
* ``write_datum_parquet`` — the ``value: binary`` column the readback workload
  decodes, written with pyarrow.
* ``write_star_schema`` — a small TPC-H-shaped star schema plus the
  ``events``/``documents``/``embeddings`` tables the analytics specs read.
"""

from __future__ import annotations

import os
from decimal import Decimal

# Avro field order and nullability of the reclamacoes schema.
FIELDS: list[tuple[str, bool]] = [
    ("ano", False),
    ("trimestre", False),
    ("categoria", False),
    ("tipo", False),
    ("cnpj_if", True),
    ("instituicao_financeira", False),
    ("indice", False),
    ("quantidade_de_reclamacoes_reguladas_procedentes", False),
    ("quantidade_de_reclamacoes_reguladas_outras", True),
    ("quantidade_de_reclamacoes_nao_reguladas", True),
    ("quantidade_total_de_reclamacoes", False),
    ("quantidade_total_de_clientes_ccs_e_scr", False),
    ("quantidade_de_clientes_ccs", True),
    ("quantidade_de_clientes_scr", True),
]

RAW_HEADER = [
    "Ano",
    "Trimestre",
    "Categoria",
    "Tipo",
    "CNPJ IF",
    "Instituição financeira",
    "Índice",
    "Quantidade de reclamações reguladas procedentes",
    "Quantidade de reclamações reguladas - outras",
    "Quantidade de reclamações não reguladas",
    "Quantidade total de reclamações",
    "Quantidade total de clientes  CCS e SCR",
    "Quantidade de clientes  CCS",
    "Quantidade de clientes  SCR",
]

_CATEGORIAS = ["Bancos e financeiras", "Demais bancos, financeiras e instituições de pagamento"]
_TIPOS = [
    "Banco Múltiplo",
    "Banco Comercial",
    "Cooperativa de Crédito",
    "Instituição de Pagamento",
    "Sociedade de Crédito, Financiamento e Investimento",
]
_NAME_STEMS = [
    "BANCO DO NORDESTE",
    "CAIXA ECONÔMICA FEDERAL",
    "BANCO SÃO JOÃO",
    "CRÉDITO AÇORIANO",
    "FINANCEIRA ITAÚ",
    "COOPERATIVA PIONEIRA",
    "BANCO CONFIANÇA",
    "PAGAMENTOS GAÚCHOS",
]
_INSTITUTIONS = [f"{stem} {i}" for stem in _NAME_STEMS for i in range(12)]
_OPTIONAL = [i for i, (_, nullable) in enumerate(FIELDS) if nullable]
_REQUIRED_BLANKABLE = [5, 6, 10]  # instituicao_financeira, indice, total
BLANK_EVERY = 397  # one row in this many has an empty required field


class Batch:
    """``n`` BACEN rows held column-wise (14 lists of cell strings, ``""`` =
    empty cell) plus which rows had a required field emptied."""

    def __init__(self, seed: int, n: int) -> None:
        import numpy as np

        rng = np.random.default_rng(seed)

        def pick(options: list[str]) -> np.ndarray:
            return np.asarray(options)[rng.integers(0, len(options), n)]

        def digits(lo: int, hi: int, width: int = 0) -> np.ndarray:
            out = rng.integers(lo, hi, n).astype(str)
            return np.char.zfill(out, width) if width else out

        cols = [
            digits(2019, 2025),
            pick(["1º", "2º", "3º", "4º"]),
            pick(_CATEGORIAS),
            pick(_TIPOS),
            digits(0, 10**8, 8),
            pick(_INSTITUTIONS),
            np.char.add(np.char.add(digits(0, 200), ","), digits(0, 100, 2)),
            digits(0, 800),
            digits(0, 400),
            digits(0, 400),
            digits(0, 5000),
            digits(1000, 10**7),
            digits(0, 10**6),
            digits(0, 10**6),
        ]
        cols = [c.astype(object) for c in cols]
        empty = rng.random((len(_OPTIONAL), n)) < 0.08
        for j, mask in zip(_OPTIONAL, empty):
            cols[j][mask] = ""
        bad = np.arange(seed % BLANK_EVERY, n, BLANK_EVERY)
        which = np.asarray(_REQUIRED_BLANKABLE)[rng.integers(0, 3, len(bad))]
        for i, j in zip(bad.tolist(), which.tolist()):
            cols[j][i] = ""
        self.columns: list[list[str]] = [c.tolist() for c in cols]
        self.bad: set[int] = set(bad.tolist())

    def lines(self) -> list[str]:
        return [";".join(t) for t in zip(*self.columns)]

    def records(self) -> list[tuple]:
        """Decoded records the engine must emit (skipped rows left out)."""
        nulled = [[v if v != "" else None for v in c] for c in self.columns]
        return [r for i, r in enumerate(zip(*nulled)) if i not in self.bad]

    def datums(self) -> list[bytes]:
        """Expected raw Avro binary datums, in row order (skipped rows left
        out).  Spec: string = zig-zag length varint + UTF-8 bytes; a
        nullable field is a union, index 0 (null) or 1 (string) first."""
        pieces = []
        for (_, nullable), col in zip(FIELDS, self.columns):
            memo: dict[str, bytes] = {}
            for v in set(col):
                data = v.encode("utf-8")
                enc = _varint(len(data)) + data
                memo[v] = (b"\x00" if v == "" else b"\x02" + enc) if nullable else enc
            pieces.append([memo[v] for v in col])
        return [b"".join(t) for i, t in enumerate(zip(*pieces)) if i not in self.bad]


def write_csv(path: str, batch: Batch) -> None:
    """One landing file: raw header, ``;``-separated, ISO-8859-1.  Written
    under a dot-name and renamed, so a watching reader never sees half."""
    text = "\n".join([";".join(RAW_HEADER)] + batch.lines()) + "\n"
    head, tail = os.path.split(path)
    tmp = os.path.join(head, "." + tail + ".tmp")
    with open(tmp, "w", encoding="iso-8859-1", newline="") as fh:
        fh.write(text)
    os.replace(tmp, path)


def _varint(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while z > 0x7F:
        out.append((z & 0x7F) | 0x80)
        z >>= 7
    out.append(z)
    return bytes(out)


def multiset_digest(items) -> tuple[int, int]:
    """Order-insensitive digest: (count, sum of item hashes mod 2**64).
    Duplicates count; only comparable within one process."""
    count = total = 0
    for item in items:
        count += 1
        total += hash(item)
    return count, total & (2**64 - 1)


class Landing:
    """A landing directory and the expected outcome of ingesting it."""

    def __init__(self, directory: str, seed: int, n_files: int, rows_per_file: int) -> None:
        os.makedirs(directory, exist_ok=True)
        self.directory = directory
        self.batches = []
        for k in range(n_files):
            batch = Batch(seed * 1000 + k, rows_per_file)
            write_csv(os.path.join(directory, f"reclamacoes-{k:03d}.csv"), batch)
            self.batches.append(batch)
        self.rows = n_files * rows_per_file
        self.blanks = sum(len(b.bad) for b in self.batches)
        self.good = self.rows - self.blanks

    def datum_digest(self) -> tuple[int, int]:
        return multiset_digest(d for b in self.batches for d in b.datums())

    def record_digest(self) -> tuple[int, int]:
        return multiset_digest(r for b in self.batches for r in b.records())


def write_datum_parquet(directory: str, seed: int, n_files: int, rows_per_file: int) -> list[tuple]:
    """Parquet files of ``value: binary`` datums; returns the records."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    records: list[tuple] = []
    for k in range(n_files):
        batch = Batch(seed * 1000 + 500 + k, rows_per_file)
        records.extend(batch.records())
        table = pa.table({"value": pa.array(batch.datums(), pa.binary())})
        pq.write_table(table, os.path.join(directory, f"part-{k:03d}.parquet"))
    return records


def complaint_aggregate(records) -> dict[tuple, tuple]:
    """Expected readback aggregate: per (institution, quarter start) the row
    count, the summed complaint total and the summed decimal-comma index."""
    out: dict[tuple, list] = {}
    for r in records:
        key = (r[5], f"{int(r[0]):04d}-{(int(r[1][0]) - 1) * 3 + 1:02d}-01")
        acc = out.setdefault(key, [0, 0, Decimal(0)])
        acc[0] += 1
        acc[1] += int(r[10])
        acc[2] += Decimal(r[6].replace(",", "."))
    return {k: tuple(v) for k, v in out.items()}


# ---- analytics star schema --------------------------------------------------

_WORDS = (
    "key agg row scan slow fast table value part hash a merge batch spark the "
    "line sort window join small customer query data column order group big "
    "stream filter vector"
).split()
_LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]


def write_star_schema(directory: str, seed: int) -> None:
    """TPC-H-shaped parquet tables: 4,000 orders, ~16,000 lineitems."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(directory, exist_ok=True)
    n_cust, n_supp, n_part, n_orders = 400, 40, 500, 4000
    epoch = np.datetime64("1995-01-01", "D")

    def cents(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    tables: dict[str, pa.Table] = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": cents(-999, 9999, n_cust),
            "c_mktsegment": rng.choice(
                ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"], n_cust
            ),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": cents(-999, 9999, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(["small", "red", "large", "blue"], n_part),
                rng.choice(["ring", "widget", "bolt", "gear"], n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
        }),
    }
    order_days = rng.integers(0, 2400, n_orders)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": cents(1000, 500000, n_orders),
        "o_orderdate": pa.array((epoch + order_days).astype("datetime64[us]")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders
        ),
    })
    lines_per_order = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders), lines_per_order)
    n_line = len(l_order)
    l_number = np.concatenate([np.arange(1, k + 1) for k in lines_per_order])
    ship = epoch + order_days[l_order] + rng.integers(1, 120, n_line)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(l_number, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(float),
        "l_extendedprice": cents(900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })
    n_events = 6000
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + ev_us),
        "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_events),
        "value": np.round(rng.uniform(0.01, 490, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    n_docs = 200
    texts = []
    for i in range(n_docs):
        if i % 10 == 9:  # near-duplicate of an earlier document
            words = texts[i - 9].split()
            words[rng.integers(0, len(words))] = str(rng.choice(_WORDS))
        else:
            words = list(rng.choice(_WORDS, rng.integers(6, 30)))
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n_vec, dim = 500, 64
    vecs = rng.normal(0, 0.125, (n_vec, dim)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
