"""The five shaping transforms (reference-parity, SURVEY.md §2.2 P1).

Each is a single ``select`` of column expressions from
``functions/cleaning.py`` over the ingested raw grid, plus the keep-last
PK dedup / prefix filters the reference applies. Declarative end to end:
Catalyst prunes unused raw columns and pushes the startswith filters to
the source.

Every raw grid column is a string (``sources/grid.py``), so a column
that lands unchanged is selected by name, with no cast, and output names
are set by one ``toDF`` per select (``_select_as``) instead of a
``Column.alias`` each: see ``functions/cleaning.py`` on what each
``Column`` method call costs.

Reference mapping (file:line in /root/reference):
- transform_cursos        → etl/transform.py:7-51
- transform_matriculas    → etl/transform.py:56-140
- transform_pagos_primera → etl/transform.py:142-201
- transform_pagos_regular → etl/transform.py:205-280
- transform_estudiantes   → etl/transform.py:283-367
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .functions.cleaning import (
    ACCOUNT_MAP_PRIMERA,
    ACCOUNT_MAP_REGULAR,
    currency_fixed,
    extract_project_code,
    first_token,
    fmt_ymd,
    money,
    normalize_account,
    normalize_num_cursos,
    parse_date_dayfirst,
    phone_country,
)
from .operators.integrity import dedupe_keep_last
from .sources.grid import ROW_IDX


def _select_as(df: DataFrame, columns: dict[str, Column | str]) -> DataFrame:
    """``df.select`` of ``{output name: expression or raw column name}``."""
    return df.select(*columns.values()).toDF(*columns)


def _strict_int(col: str) -> Column:
    """C14: the reference's astype(int) raises on bad input; cast-to-null
    would silently corrupt. try_cast + a validation predicate lets the
    caller assert no new nulls (integrity.assert_castable)."""
    return F.trim(col).try_cast("int")


def transform_cursos(df: DataFrame) -> DataFrame:
    """Raw cursos grid (header row 2) → cursos table; keep-last PK dedup."""
    shaped = _select_as(df, {
        "codigo_curso": "CÓDIGO_C",
        "nombre_curso": "NOMBRE_C",
        "numero_modulo": _strict_int("I1"),
        "fecha_inicio": fmt_ymd(parse_date_dayfirst("FECHA DE INICIO")),
        "codigo_profesor": first_token("PROFESOR"),
        "horarios": "HORARIOS",
        ROW_IDX: ROW_IDX,
    })
    return dedupe_keep_last(shaped, "codigo_curso").drop(ROW_IDX)


def transform_matriculas(df: DataFrame) -> DataFrame:
    """Raw matriculas grid (header row 3) → matriculas table.

    Keep-last dedup on the PK, then the project-prefix filter (rows whose
    codigo_curso doesn't start with 'P' are excluded — reference
    etl/transform.py:121-127; dedup-then-filter order preserved)."""
    shaped = _select_as(df, {
        "codigo_matricula": "Código de matrícula",
        "codigo_curso": extract_project_code("Cursos de matrícula"),
        "num_cursos": normalize_num_cursos("Cursos de matrícula", _strict_int("num cursos")),
        "fecha_matricula": fmt_ymd(parse_date_dayfirst("Fecha de pago de la primera cuota")),
        "condicion_alumno": "Condición del alumno",
        "codigo_estudiante": "Código de estudiante FINAL",
        "valor_matricula": money("Monto de Pago"),
        ROW_IDX: ROW_IDX,
    })
    deduped = dedupe_keep_last(shaped, "codigo_matricula")
    return deduped.filter(F.startswith("codigo_curso", F.lit("P"))).drop(ROW_IDX)


def transform_pagos_primera_cuota(df: DataFrame) -> DataFrame:
    """Raw matriculas grid → first-installment pagos rows (no dedup —
    reference transform_pagos_primera_cuota applies none)."""
    return _select_as(df, {
        "codigo_matricula": "Código de matrícula",
        "monto_pago": money("Primera Cuota"),
        "metodo_pago": normalize_account("Método de Pago", ACCOUNT_MAP_PRIMERA),
        "moneda": "Moneda",
        "encargado": "Encargado de Registro",
        "fecha_pago": fmt_ymd(parse_date_dayfirst("Fecha de pago de la primera cuota")),
    })


def transform_regular_pagos(df: DataFrame) -> DataFrame:
    """Raw pagos grid (header row 6) → regular pagos rows.

    ``moneda`` derives from the RAW payment method (currency_fixed quirk —
    reference etl/transform.py:264), while ``metodo_pago`` uses the
    normalized map with ' / P' variants."""
    return _select_as(df, {
        "codigo_matricula": "Código de matrícula",
        "monto_pago": money("Monto de Pago"),
        "metodo_pago": normalize_account("Método de Pago", ACCOUNT_MAP_REGULAR),
        "moneda": currency_fixed("Método de Pago"),
        "encargado": "Encargado de Registro",
        "fecha_pago": fmt_ymd(parse_date_dayfirst("Fecha de pago")),
    })


def transform_estudiantes(df: DataFrame) -> DataFrame:
    """Raw estudiantes grid (header row 2) → estudiantes table with the
    phone-derived country (struct expanded, only pais kept — reference
    etl/transform.py:341,350). ``_row_idx`` is carried through for the
    pipeline's keep-last dedup before the upsert (reference
    etl/load.py:49-58)."""
    return _select_as(df, {
        "codigo_estudiante": "CODIGO_E",
        "nombres": F.initcap(F.trim("NOMBRES_E")),
        "apellidos": F.initcap(F.trim("APELLIDOS_E")),
        "correo": F.lower(F.trim("CORREO_E")),
        "numero": F.trim("NUMERO_E"),
        "pais": phone_country("NUMERO_E").getField("pais"),
        "genero": "GÉNERO_E",
        "red_contacto": "RED DE CONTACTO_E",
        "nivel_educacion": "GRADO DE INSTRUCCIÓN_E",
        ROW_IDX: ROW_IDX,
    })
