"""Street-name scalar functions (F1-F3, F6) as pure Column expressions.

Behavioral parity targets in the reference:
- ``string.capwords`` on official English names (parse_clean_and_csv.py:315)
- the 14-entry typo/case fix map (:81-100) applied via F2
- bilingual split of a combined ``name`` value (:402-408) with
  ``ENG_NAME_RE``/``CHI_NAME_RE`` (:40-41)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# First run of >=4 Latin-ish chars (reference ENG_NAME_RE, :41).
ENG_NAME_RE = "[ ]*([A-Za-z0-9'\\-,. ]{4,})"
# Run of >=2 non-Latin chars, optional digit inside (reference CHI_NAME_RE, :40).
CHI_NAME_RE = "([^A-Za-z'\\-,. ]+[0-9]?[^A-Za-z'\\-,. ]+)"

# Typo/case fixes the Lands Department file needs after capwords
# (reference to_change_in_official, :81-100).
OFFICIAL_NAME_FIXES = {
    "Aberdeent Tuntntel": "Aberdeen Tunnel",
    "Wan Chai Interchantge": "Wan Chai Interchange",
    "半山徑　": "半山徑",
    "D'aguilar Street": "D'Aguilar Street",
    "O'brien Road": "O'Brien Road",
    "Cape D'aguilar Road": "Cape D'Aguilar Road",
    "Mcgregor Street": "McGregor Street",
    "Boulevard De Cascade": "Boulevard de Cascade",
    "Boulevard De Fontaine": "Boulevard de Fontaine",
    "Boulevard De Foret": "Boulevard de Foret",
    "Boulevard De Mer": "Boulevard de Mer",
    "Boulevard Du Lac": "Boulevard du Lac",
    "Boulevard Du Palais": "Boulevard du Palais",
    "Haven Of Hope Road": "Haven of Hope Road",
}

# Streets sharing names with Shenzhen streets across the border —
# blacklisted from the official list (reference sz_street_names, :80).
SZ_STREET_NAMES = ["文昌街", "福民路", "福祥街", "丹桂路"]


def capwords(col: Column) -> Column:
    """Python ``string.capwords`` equivalent: trim, collapse internal
    whitespace runs to one space, then capitalize each word (F1).

    ``initcap(lower(x))`` matches capwords word-by-word for
    whitespace-delimited text; the trim+collapse mirrors capwords'
    split/join. Known capwords artifacts (``D'aguilar``) are then
    patched by :data:`OFFICIAL_NAME_FIXES`, same as the reference.
    """
    collapsed = F.regexp_replace(F.trim(col), "\\s+", " ")
    return F.initcap(F.lower(collapsed))


def remap_values(col: Column, mapping: dict[str, str]) -> Column:
    """F2: dictionary value remap as a when-chain (small constant map —
    folds into codegen; no join needed)."""
    expr = None
    for src, dst in mapping.items():
        cond = col == F.lit(src)
        expr = F.when(cond, F.lit(dst)) if expr is None else expr.when(cond, F.lit(dst))
    return expr.otherwise(col) if expr is not None else col


def extract_english_name(value: Column) -> Column:
    """F3: first >=4-char Latin run of a combined bilingual name, or NULL."""
    return F.nullif(F.regexp_extract(value, ENG_NAME_RE, 1), F.lit(""))


def extract_chinese_name(value: Column) -> Column:
    """F3: first non-Latin run of a combined bilingual name, or NULL."""
    return F.nullif(F.regexp_extract(value, CHI_NAME_RE, 1), F.lit(""))

