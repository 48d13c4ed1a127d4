"""Property + example tests for the header sanitizer port (reference
``utils/functions.py:5-20`` composed with ``.lower()`` at ``app.py:129``).

The examples pin the verified behaviors from SURVEY.md §2 T1 / FIXTURES.md §1;
the properties pin the invariants the whitelist projection depends on.
"""

from __future__ import annotations

import re
import string

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from data_ingestion_ex8_producer_spark.functions.names import sanitize_columns, sanitize_name
from data_ingestion_ex8_producer_spark.schemas import FIELD_ORDER, RAW_BACEN_HEADER

# Raw BACEN header -> expected sanitized name (FIXTURES.md §1 table).
EXAMPLES = {
    "Ano": "ano",
    "Trimestre": "trimestre",
    "Categoria": "categoria",
    "Tipo": "tipo",
    "CNPJ IF": "cnpj_if",
    "Instituição financeira": "instituicao_financeira",
    "Índice": "indice",
    "Quantidade de reclamações reguladas procedentes": "quantidade_de_reclamacoes_reguladas_procedentes",
    "Quantidade de reclamações reguladas - outras": "quantidade_de_reclamacoes_reguladas_outras",
    "Quantidade de reclamações não reguladas": "quantidade_de_reclamacoes_nao_reguladas",
    "Quantidade total de reclamações": "quantidade_total_de_reclamacoes",
    "Quantidade total de clientes  CCS e SCR": "quantidade_total_de_clientes_ccs_e_scr",
    "Quantidade de clientes  CCS": "quantidade_de_clientes_ccs",
    "Quantidade de clientes  SCR": "quantidade_de_clientes_scr",
    "123 coluna": "col_123_coluna",
}


@pytest.mark.parametrize(("raw", "expected"), sorted(EXAMPLES.items()))
def test_known_headers(raw: str, expected: str) -> None:
    assert sanitize_name(raw) == expected


def test_canonical_header_sanitizes_to_field_order() -> None:
    assert sanitize_columns(list(RAW_BACEN_HEADER)) == FIELD_ORDER


printable_text = st.text(
    alphabet=string.ascii_letters + string.digits + " -_ãçéíõÁÊÇ.,;()º",
    min_size=1,
    max_size=60,
)


@settings(max_examples=300)
@given(printable_text)
def test_idempotent(text: str) -> None:
    once = sanitize_name(text)
    assert sanitize_name(once) == once


@settings(max_examples=300)
@given(printable_text)
def test_output_charset(text: str) -> None:
    out = sanitize_name(text)
    # lowercase word chars only, no leading/trailing underscore, no runs
    assert re.fullmatch(r"[a-z0-9_]*", out), out
    assert not out.startswith("_") and not out.endswith("_")
    assert "__" not in out
    if out and out[0].isdigit():
        pytest.fail(f"digit-leading output {out!r} should have col_ prefix")


def test_accent_folding() -> None:
    assert sanitize_name("ção") == "cao"
    assert sanitize_name("ÍNDICE") == "indice"


def test_digit_prefix_and_collapse() -> None:
    assert sanitize_name("  9 --- x  ") == "col_9_x"
