"""Column-expression library: the reference's scalar surface (SURVEY.md §2.7).

Every function here is a pure ``Column -> Column`` built from JVM-side
builtins — zero Python UDFs (SURVEY.md §2.10: nothing in the reference
needs one). These stay inside whole-stage codegen and vectorize at any
scale.

String functions take a column name or Column as it is: Spark casts a
non-string input to string implicitly, and each ``F.col`` or ``Column``
method call (``cast``, ``alias``) costs ~1 ms of py4j calls that record
the Python call site, on every pipeline run.

Documented deviations from pandas semantics (SURVEY.md §7.4):
- ``astype(str)`` renders NaN as the string "nan" in the reference; here
  NULL stays NULL.
- Python ``str.title()`` breaks words on any non-alpha; Spark ``initcap``
  breaks on whitespace — hyphenated names differ ("o'brien" → "O'brien").
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Ordered day-first format list replacing pandas' heuristic
# pd.to_datetime(dayfirst=True, errors="coerce") (reference:
# etl/transform.py:17,65,150,214). Invalid strings coerce to NULL.
DAYFIRST_FORMATS = (
    "d/M/yyyy H:mm:ss",
    "d/M/yyyy H:mm",
    "d/M/yyyy",
    "d-M-yyyy H:mm:ss",
    "d-M-yyyy",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd",
)


def parse_date_dayfirst(col: Column | str) -> Column:
    """C10: flexible day-first timestamp parse, invalid → NULL."""
    c = F.trim(col)
    return F.coalesce(*[F.try_to_timestamp(c, F.lit(fmt)) for fmt in DAYFIRST_FORMATS])


def fmt_ymd(col: Column | str) -> Column:
    """C11: format timestamp as yyyy-MM-dd string (NULL-propagating)."""
    return F.date_format(col, "yyyy-MM-dd")


def first_token(col: Column | str) -> Column:
    """C5: first space-separated token (reference extraer_codigo,
    etl/transform.py:20-21)."""
    return F.substring_index(col, " ", 1)


def extract_project_code(col: Column | str) -> Column:
    """C5 conditional variant (reference extraer_codigo_proyecto,
    etl/transform.py:68-78): if trimmed value starts with 'P' take the
    first token, else pass the trimmed value through; NULL stays NULL."""
    t = F.trim(col)
    # NULL input: the startswith test is NULL, so t (NULL) passes through
    return F.when(t.startswith("P"), F.substring_index(t, " ", 1)).otherwise(t)


def normalize_num_cursos(curso_col: Column | str, num_col: Column | str) -> Column:
    """C18 (reference normalizar_num_cursos, etl/transform.py:81-92):
    0 when the course text is NULL or doesn't start with 'P', else the
    original count."""
    n = F.col(num_col) if isinstance(num_col, str) else num_col
    # NULL text: the startswith test is NULL, which takes the 0 branch
    return F.when(F.trim(curso_col).startswith("P"), n).otherwise(F.lit(0))


def money(col: Column | str) -> Column:
    """C13 (reference: etl/transform.py:111,182,262):
    to_numeric(errors='coerce').fillna(0).round(2) → try_cast + default 0."""
    return F.round(F.coalesce(F.trim(col).try_cast("double"), F.lit(0.0)), 2)


# C16: payment-account normalization maps (reference etl/transform.py:156-178
# primera-cuota variant, 221-239 regular variant with ' / P' entries).
ACCOUNT_MAP_PRIMERA = {
    "BANCO DE LA NACIÓN": "Banco de la Nación",
    "SCOTIABANK": "Scotiabank",
    "INTERBANK": "Interbank",
    "YAPE": "Yape",
    "PLIN": "Plin",
    "BBVA": "BBVA",
    "BCP": "BCP",
    "TARJETA LINK": "Tarjeta LINK",
    "PAYPAL": "Paypal",
    "BANCO DE MÉXICO": "Banco de México",
    "BANCO DE MEXICO": "Banco de México",
    "BANCO DE ECUADOR": "Banco de Ecuador",
    "BANCO DE COLOMBIA": "Banco de Colombia",
    "BANCO DE CHILE": "Banco de Chile",
    "OTROS": "Sin Especificar",
}

ACCOUNT_MAP_REGULAR = {
    **ACCOUNT_MAP_PRIMERA,
    "BANCO DE ECUADOR / P": "Banco de Ecuador",
    "BANCO DE MÉXICO / P": "Banco de México",
}


def _sql_str(value: str) -> str:
    """``value`` as a Spark SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_map(entries: dict[str, str]) -> str:
    """A SQL ``map(...)`` literal of string keys to SQL value expressions.
    Parsed by the JVM in one call, it folds to a single map literal."""
    return "map(" + ", ".join(f"{_sql_str(k)}, {v}" for k, v in entries.items()) + ")"


def normalize_account(col: Column | str, mapping: dict[str, str]) -> Column:
    """C16: dict lookup on upper(trim(value)) with a title-case fallback;
    falsy input (NULL / empty string) → NULL (reference
    normalize_account, etl/transform.py:173-178).

    One ``try_element_at`` on a map literal of ``mapping``; a key the map
    lacks (NULL and "" among them) falls back to ``initcap``.
    """
    c = F.col(col) if isinstance(col, str) else col
    s = c.cast("string")
    table = F.expr(_sql_map({k: _sql_str(v) for k, v in mapping.items()}))
    # fallback ≈ value.title(); deviation documented above
    return F.coalesce(F.try_element_at(table, F.upper(F.trim(s))), F.initcap(F.nullif(s, F.lit(""))))


# C17: currency by the RAW payment-method value, exact match (reference
# currency_fixed, etl/transform.py:248-256); anything else is PEN.
CURRENCY_BY_METHOD = {
    "Banco de México": "MXN",
    "Banco de Mexico": "MXN",
    "Banco de México / P": "MXN",
    "Banco de Ecuador / P": "MXN",
    "Banco de Ecuador": "USD",
    "PAYPAL": "USD",
    "Paypal": "USD",
    "Banco de Chile": "CLP",
}


def currency_fixed(raw_method: Column | str) -> Column:
    """C17: exact-match lookup of the RAW payment-method value in
    ``CURRENCY_BY_METHOD``, default PEN — deliberately NOT normalized
    first (the reference applies it to the raw column at
    etl/transform.py:264; mixed-case raw data falls through to PEN — the
    quirk is part of the contract and golden-pinned in tests)."""
    c = F.col(raw_method) if isinstance(raw_method, str) else raw_method
    table = F.expr(_sql_map({k: _sql_str(v) for k, v in CURRENCY_BY_METHOD.items()}))
    return F.coalesce(F.try_element_at(table, c.cast("string")), F.lit("PEN"))


# C19: ordered phone-prefix rules (reference detectar_pais_telefono,
# etl/transform.py:291-339). First match wins — list order is semantics.
PHONE_RULES: tuple[tuple[str, str, str], ...] = (
    # (country, dial code, digit-prefix regex on the normalized number)
    ("Argentina", "54", "^549"),
    ("Chile", "56", "^569"),
    ("Perú", "51", "^51"),
    ("Colombia", "57", "^57"),
    ("Ecuador", "593", "^593"),
    ("Bolivia", "591", "^591"),
    ("Panamá", "507", "^507"),
    ("México", "52", "^52"),  # reference's 521-or-52 collapses to ^52
    ("Brasil", "55", "^55"),
    ("Estados Unidos / Puerto Rico", "1", "^1.{10}$"),  # exactly 11 digits
    ("Italia", "39", "^39"),
    ("España", "34", "^34"),
    ("Francia", "33", "^33"),
    ("Alemania", "49", "^49"),
)


def digits_only(col: Column | str) -> Column:
    """C7: strip every non-digit (reference: etl/transform.py:300)."""
    return F.regexp_replace(col, "[^0-9]", "")


def _phone_lookup(rules: tuple[tuple[str, str, str], ...]) -> tuple[str, str]:
    """``PHONE_RULES`` as one ordered alternation and a SQL map literal
    keyed by what it matches.

    Each rule's pattern is ``^`` + a digit prefix + an optional tail
    condition, which becomes a lookahead, so the match is the prefix
    alone (``^1.{10}$`` → ``1(?=.{10}$)``). The regex engine tries the
    alternatives left to right, so the first rule that matches wins, as
    in the rule list."""
    alternatives, entries = [], {}
    for pais, cod, pattern in rules:
        m = re.fullmatch(r"\^([0-9]+)(.*)", pattern)
        if m is None or m.group(1) in entries:
            raise ValueError(f"phone rule {pattern!r}: needs a distinct leading digit prefix")
        prefix, tail = m.groups()
        alternatives.append(prefix + (f"(?={tail})" if tail else ""))
        entries[prefix] = f"named_struct('pais', {_sql_str(pais)}, 'codigo_pais', {_sql_str(cod)})"
    return "^(" + "|".join(alternatives) + ")", _sql_map(entries)


_PHONE_PREFIX_RE, _PHONE_MAP_SQL = _phone_lookup(PHONE_RULES)


def phone_country(col: Column | str) -> Column:
    """C19: phone → struct{pais, codigo_pais, numero_e164} via the ordered
    prefix rules; NULL input and no-match both yield 'Desconocido'.

    The matched prefix keys a map literal of the rules; no match extracts
    "", which the map lacks."""
    num = digits_only(col)
    rule = F.try_element_at(F.expr(_PHONE_MAP_SQL), F.regexp_extract(num, _PHONE_PREFIX_RE, 1))
    return F.named_struct(
        F.lit("pais"), F.coalesce(rule.getField("pais"), F.lit("Desconocido")),
        F.lit("codigo_pais"), rule.getField("codigo_pais"),
        F.lit("numero_e164"), F.concat(F.lit("+"), F.nullif(num, F.lit(""))),
    )
