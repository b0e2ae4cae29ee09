"""Transform goldens over the fixture grids (SURVEY.md §5.3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_data_peri_institute_spark.operators.integrity import dedupe_keep_last
from etl_data_peri_institute_spark.sources.grid import PAGOS_CANONICAL, ROW_IDX, grid_to_df
from etl_data_peri_institute_spark.transforms import (
    transform_cursos,
    transform_estudiantes,
    transform_matriculas,
    transform_pagos_primera_cuota,
    transform_regular_pagos,
)
from tests.fixtures import (
    CURSOS_GRID,
    ESTUDIANTES_GRID,
    MATRICULAS_GRID,
    PAGOS_GRID,
)


def test_cursos_golden(spark):
    out = transform_cursos(grid_to_df(spark, CURSOS_GRID, header_row=2))
    rows = {r["codigo_curso"]: r.asDict() for r in out.collect()}
    assert set(rows) == {"P101", "P102", "P103"}
    # keep-LAST: the second P101 row wins
    assert rows["P101"]["nombre_curso"] == "Intro Riego v2"
    assert rows["P101"]["codigo_profesor"] == "T09"
    assert rows["P101"]["fecha_inicio"] == "2024-03-06"
    assert rows["P102"]["fecha_inicio"] == "2024-03-12"  # dd-MM-yyyy parsed
    assert rows["P103"]["fecha_inicio"] is None  # garbage date → null
    assert rows["P102"]["numero_modulo"] == 2


def test_matriculas_golden(spark):
    out = transform_matriculas(grid_to_df(spark, MATRICULAS_GRID, header_row=3))
    rows = {r["codigo_matricula"]: r.asDict() for r in out.collect()}
    # M003 is non-P → filtered; M001 dedup keep-last
    assert set(rows) == {"M001", "M002", "M005", "M006"}
    assert rows["M001"]["condicion_alumno"] == "Becado"  # last row won
    assert rows["M001"]["num_cursos"] == 3
    assert rows["M001"]["valor_matricula"] == 400.0
    assert rows["M002"]["valor_matricula"] == 0.0  # bad numeric → 0
    assert rows["M002"]["codigo_curso"] == "P102"


def test_pagos_primera_golden(spark):
    out = transform_pagos_primera_cuota(grid_to_df(spark, MATRICULAS_GRID, header_row=3))
    rows = out.orderBy("codigo_matricula", "monto_pago").collect()
    assert len(rows) == 6  # no dedup in this transform
    by_first = rows[0].asDict()
    assert by_first["codigo_matricula"] == "M001"
    methods = {r["codigo_matricula"]: r["metodo_pago"] for r in rows}
    assert methods["M002"] == "Banco de México"  # lower-case key mapped
    assert methods["M003"] == "Plin"
    # fallback title-case for unmapped value
    assert "Transferencia Bcp" in {r["metodo_pago"] for r in rows}


def test_pagos_regulares_golden(spark):
    raw = grid_to_df(spark, PAGOS_GRID, header_row=6, canonical=PAGOS_CANONICAL)
    out = transform_regular_pagos(raw)
    rows = out.orderBy("_row_tmp" if False else "codigo_matricula").collect()
    by_key = {(r["codigo_matricula"], r["monto_pago"]): r.asDict() for r in rows}
    eq = by_key[("M001", 120.75)]
    assert eq["metodo_pago"] == "Banco de Ecuador"  # ' / P' variant mapped
    assert eq["moneda"] == "MXN"  # currency quirk: raw ' / P' string → MXN
    chile = by_key[("M002", 80.0)]
    assert chile["moneda"] == "CLP"
    assert chile["fecha_pago"] is None  # empty cell → null
    assert by_key[("M999", 99.0)]["moneda"] == "PEN"  # YAPE → PEN


def test_estudiantes_golden(spark):
    out = transform_estudiantes(grid_to_df(spark, ESTUDIANTES_GRID, header_row=2))
    rows = {r["codigo_estudiante"]: r.asDict() for r in out.collect()}
    assert rows["E001"]["nombres"] == "María José"
    assert rows["E001"]["correo"] == "mj@mail.com"
    assert rows["E001"]["pais"] == "Perú"
    assert rows["E002"]["pais"] == "Argentina"
    assert rows["E003"]["pais"] == "Chile"
    assert rows["E004"]["pais"] == "Desconocido"
    assert rows["E005"]["pais"] == "Estados Unidos / Puerto Rico"


def test_estudiantes_keep_last_follows_sheet_order_not_partitions(spark):
    """Keep-last ranks by the sheet's ``_row_idx``, which
    ``transform_estudiantes`` carries through. Later sheet rows are put in
    earlier partitions here: an id built from the partition index (as
    ``monotonically_increasing_id`` is) would rank the first E001 row
    last."""
    grid = ESTUDIANTES_GRID + [
        ["E001", "ana v2", "pérez", "ana@mail.com", "+51 911", "F", "Web", "Superior"]
    ]
    raw = grid_to_df(spark, grid, header_row=2).repartitionByRange(3, F.desc(ROW_IDX))
    out = dedupe_keep_last(transform_estudiantes(raw), "codigo_estudiante").drop(ROW_IDX)
    rows = {r["codigo_estudiante"]: r.asDict() for r in out.collect()}
    assert len(rows) == 5
    assert rows["E001"]["nombres"] == "Ana V2"
    assert "_row_idx" not in out.columns
