"""Column-name sanitization.

Behavioral port of the reference's header normalizer (``sinitize_text`` —
misspelling theirs — ``src/ex8_producer/utils/functions.py:5-20``) composed
with the ``.lower()`` applied at its only call site (``app.py:129``).  Verified
behavior (SURVEY.md §2 T1):

    "Instituição financeira"                       -> "instituicao_financeira"
    "Quantidade de reclamações reguladas - outras" -> "quantidade_de_reclamacoes_reguladas_outras"
    "123 coluna"                                   -> "col_123_coluna"

This runs once per landing file, on its header, inside the CSV parse
(``sources/csv_source._parse``), never per row.
"""

from __future__ import annotations

import re
import unicodedata

_NON_WORD = re.compile(r"[^\w\s]")
_SPACES = re.compile(r"\s+")
_UNDERSCORES = re.compile(r"_+")
_LEADING_DIGIT = re.compile(r"^\d")


def sanitize_name(raw: str) -> str:
    """NFKD-fold accents, drop punctuation, squash whitespace/underscores to a
    single ``_``, prefix ``col_`` when digit-leading, lowercase.

    NFKD decomposition turns e.g. ``ç`` into ``c`` + combining cedilla; the
    combining mark is then removed by the non-word regex (``\\w`` matches the
    base letter but not the combining character only after explicit filtering),
    so combining marks are stripped explicitly first.
    """
    decomposed = unicodedata.normalize("NFKD", raw)
    stripped = "".join(ch for ch in decomposed if not unicodedata.combining(ch))
    no_punct = _NON_WORD.sub("", stripped)
    underscored = _SPACES.sub("_", no_punct)
    collapsed = _UNDERSCORES.sub("_", underscored)
    trimmed = collapsed.strip("_").strip()
    if _LEADING_DIGIT.match(trimmed):
        trimmed = f"col_{trimmed}"
    return trimmed.lower()


def sanitize_columns(columns: list[str]) -> list[str]:
    """Sanitize a header list; last-wins on collisions is handled by callers
    (matches ``csv.DictReader`` semantics the reference inherits)."""
    return [sanitize_name(c) for c in columns]
