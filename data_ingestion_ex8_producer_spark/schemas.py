"""Schemas for the reclamacoes (BACEN bank-complaints) ingestion surface.

Three artifacts, mirroring the reference's three-layer schema system
(SURVEY.md §1.2):

* ``RECLAMACOES_FIELDS`` — the output record's field names, order and
  nullability, as in the reference's
  ``src/ex8_producer/schemas/reclamacoes.avsc:5-82`` (14 fields, all string or
  nullable-string); the Avro kernels and the reference codec both read it.
* ``BRONZE_SCHEMA`` — StructType of the bronze frame; nullable exactly on
  the 5 Avro union fields.  ``RAW_BACEN_HEADER`` is the landing files' header
  before sanitization.
* ``silver_columns()`` — typed projection realizing the *intent* of the
  reference's dead-code type map (``settings.py:22-37``): int casts for counts,
  decimal-comma parse for ``indice``, a proper quarter date.  Additive engine
  surface, not parity (the reference never casts — SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

# Field name -> nullable, in authoritative Avro order (reclamacoes.avsc:5-82).
RECLAMACOES_FIELDS: list[tuple[str, bool]] = [
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

FIELD_ORDER: list[str] = [name for name, _ in RECLAMACOES_FIELDS]

# The raw BACEN header, in file order: what a landing file's first line holds
# before sanitization.  FIELD_ORDER doubles as the projection whitelist the
# reference checks row fields against (settings.py:22-37, app.py:130).
RAW_BACEN_HEADER: tuple[str, ...] = (
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
)

BRONZE_SCHEMA = StructType(
    [StructField(name, StringType(), nullable) for name, nullable in RECLAMACOES_FIELDS]
)

# Count fields whose settings.py type string said "int" (settings.py:23,30-36).
_INT_FIELDS = [
    "ano",
    "quantidade_de_reclamacoes_reguladas_procedentes",
    "quantidade_de_reclamacoes_reguladas_outras",
    "quantidade_de_reclamacoes_nao_reguladas",
    "quantidade_total_de_reclamacoes",
    "quantidade_total_de_clientes_ccs_e_scr",
    "quantidade_de_clientes_ccs",
    "quantidade_de_clientes_scr",
]


def silver_columns() -> list[Column]:
    """Typed view over the bronze columns (engine-only; see module docstring)."""
    cols: list[Column] = []
    for name in FIELD_ORDER:
        if name in _INT_FIELDS:
            cols.append(F.col(name).cast("long").alias(name))
        elif name == "indice":
            # Brazilian decimal comma, e.g. "25,74" -> 25.74.
            cols.append(
                F.regexp_replace(F.col(name), ",", ".").cast("decimal(18,2)").alias(name)
            )
        else:
            cols.append(F.col(name))
    # Derived quarter start date from ano + trimestre ("1º".."4º").
    quarter = F.regexp_extract(F.col("trimestre"), r"(\d)", 1).cast("int")
    cols.append(
        F.make_date(F.col("ano").cast("int"), (quarter - 1) * 3 + 1, F.lit(1)).alias(
            "quarter_start"
        )
    )
    return cols
