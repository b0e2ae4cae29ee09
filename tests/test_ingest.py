"""Ingest-layer tests (SURVEY.md §5.4): header offset/repair, fuzzy
rename, empty-row drop, row-index order, the Arrow-backed scan, plus
property tests."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from etl_data_peri_institute_spark.sources.grid import (
    PAGOS_CANONICAL,
    fuzzy_rename,
    grid_to_df,
    repair_header,
)
from tests.fixtures import ALL_GRIDS, CURSOS_GRID, PAGOS_GRID


def test_header_at_row_2(spark):
    df = grid_to_df(spark, CURSOS_GRID, header_row=2)
    assert df.columns[:3] == ["CÓDIGO_C", "NOMBRE_C", "I1"]
    assert "_row_idx" in df.columns


def test_all_empty_rows_dropped(spark):
    df = grid_to_df(spark, CURSOS_GRID, header_row=2)
    assert df.count() == 4  # 5 data rows minus the all-empty one


def test_row_idx_preserves_sheet_order(spark):
    df = grid_to_df(spark, CURSOS_GRID, header_row=2)
    rows = df.orderBy("_row_idx").select("CÓDIGO_C").collect()
    assert [r[0] for r in rows] == ["P101", "P102", "P103", "P101"]


def test_header_at_row_6_with_fuzzy_rename(spark):
    df = grid_to_df(spark, PAGOS_GRID, header_row=6, canonical=PAGOS_CANONICAL)
    assert "Fecha de pago" in df.columns  # 'fecha_pago' renamed
    assert df.count() == 4


def test_ensure_missing_column_created_null(spark):
    grid = [r[:-1] for r in PAGOS_GRID]  # drop the date column entirely
    df = grid_to_df(
        spark, grid, header_row=6, canonical=PAGOS_CANONICAL, ensure_columns=("Fecha de pago",)
    )
    assert "Fecha de pago" in df.columns
    assert df.filter(df["Fecha de pago"].isNotNull()).count() == 0


def test_too_few_rows_raises(spark):
    with pytest.raises(ValueError, match="header expected"):
        grid_to_df(spark, [["only one row"]], header_row=6)


def test_repair_header_blank_and_dupes():
    assert repair_header(["A", "", "A", " B ", "A"]) == ["A", "col_1", "A_1", "B", "A_2"]


def test_fuzzy_rename_substring_and_fold():
    cols = ["FECHA_P", "Monto"]
    renames = fuzzy_rename(cols, {"Fecha de pago": ["FECHA_P", "fecha_pago"]})
    assert renames == {"FECHA_P": "Fecha de pago"}


@given(
    st.lists(
        st.lists(st.one_of(st.just(""), st.text(max_size=6)), min_size=1, max_size=6),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=25, deadline=None)
def test_repair_header_always_unique_nonempty(rows):
    names = repair_header([str(c) for c in rows[0]])
    assert len(set(names)) == len(names)
    assert all(n for n in names)


# cells as a worksheet API returns them: text, blanks, None, numbers
_CELL = st.one_of(
    st.none(),
    st.just(""),
    st.text(max_size=4),
    st.integers(-99, 99),
    st.floats(allow_nan=False, allow_infinity=False, width=16),
    st.booleans(),
)


def _grid_model(grid, header_row):
    """Plain-Python grid_to_df: (column names, rows ordered by _row_idx)."""
    names = repair_header([str(c) for c in grid[header_row - 1]])
    rows = []
    for i, raw in enumerate(grid[header_row:]):
        cells = [None if c is None or c == "" else str(c) for c in raw[: len(names)]]
        cells += [None] * (len(names) - len(cells))
        if any(v is not None for v in cells):
            rows.append((*cells, i))
    return [*names, "_row_idx"], rows


@given(
    banner=st.integers(0, 2),
    header=st.lists(_CELL, min_size=1, max_size=5),
    body=st.lists(
        st.one_of(
            st.lists(_CELL, max_size=7),  # ragged: short and long rows
            st.lists(st.sampled_from([None, ""]), max_size=5),  # all-empty rows
        ),
        max_size=9,  # 0: a header-only grid
    ),
)
@settings(max_examples=30, deadline=None)
def test_grid_to_df_matches_model(spark, banner, header, body):
    grid = [["banner"]] * banner + [header] + body
    names, rows = _grid_model(grid, banner + 1)
    df = grid_to_df(spark, grid, header_row=banner + 1)
    assert df.columns == names
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["string"] * (
        len(names) - 1
    ) + ["bigint"]
    assert df.schema.fields[-1].nullable is False
    assert sorted((tuple(r) for r in df.collect()), key=lambda r: r[-1]) == rows


def test_header_only_grid_gives_empty_frame_with_schema(spark):
    df = grid_to_df(spark, [["banner"], ["A", "", "A"]], header_row=2)
    assert df.columns == ["A", "col_1", "A_1", "_row_idx"]
    assert df.collect() == []


def test_grid_scan_needs_no_python_worker(spark):
    """The sheet crosses as Arrow batches into a LocalRelation: the
    physical plan scans it locally, with no RDD of pickled Python rows."""
    for name, header_row in (("cursos", 2), ("estudiantes", 2), ("matriculas", 3), ("pagos", 6)):
        df = grid_to_df(spark, ALL_GRIDS[name], header_row=header_row)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan, plan
        assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan


def test_infer_column_types(spark):
    from etl_data_peri_institute_spark.sources.grid import grid_to_df, infer_column_types

    grid = [
        ["n_int", "n_float", "mixed", "txt"],
        ["1", "1.5", "2", "a"],
        [" -42 ", "-0.25", "x", " b "],
        ["7", "3.0", "", ""],
    ]
    df = infer_column_types(grid_to_df(spark, grid, header_row=1))
    types = dict(df.dtypes)
    assert types["n_int"] == "bigint"
    assert types["n_float"] == "double"
    assert types["mixed"] == "string" and types["txt"] == "string"
    rows = {r["_row_idx"]: r for r in df.collect()}
    assert rows[1]["n_int"] == -42        # trimmed before cast
    assert rows[1]["txt"] == "b"          # values trimmed
    assert rows[2]["mixed"] is None       # empty → NULL


# --------------------------------------------------------------------------
# Spark 4 Python Data Source: distributed sheet-grid scan
# --------------------------------------------------------------------------


def _write_grid_csv(path, rows):
    import csv

    with open(path, "w", newline="", encoding="utf-8") as fh:
        csv.writer(fh).writerows(rows)


def test_sheetgrid_datasource_parallel_scan(spark, tmp_path):
    from etl_data_peri_institute_spark.sources.pydatasource import (
        SheetGridDataSource,
    )

    # two worksheet exports with drifting physical headers: sheet_b is
    # missing 'Estado' and has a blank + duplicate header cell
    _write_grid_csv(
        tmp_path / "sheet_a.csv",
        [["title junk"], ["Nombre", "Estado"], ["ana", "ok"], ["", ""], ["bo", "x"]],
    )
    _write_grid_csv(
        tmp_path / "sheet_b.csv",
        [["title junk"], ["Nombre", "", "Nombre"], ["cleo", "z1", "z2"]],
    )
    spark.dataSource.register(SheetGridDataSource)
    df = (
        spark.read.format("sheetgrid")
        .option("path", str(tmp_path))
        .option("columns", "Nombre,Estado")
        .option("header_row", 2)
        .load()
    )
    assert df.columns == ["_sheet", "_row_idx", "Nombre", "Estado"]
    # one input partition per worksheet file
    assert df.rdd.getNumPartitions() == 2
    rows = {(r._sheet, r._row_idx): (r.Nombre, r.Estado) for r in df.collect()}
    # blank row dropped, per-file row indexes, missing column → NULL
    assert rows == {
        ("sheet_a", 0): ("ana", "ok"),
        ("sheet_a", 2): ("bo", "x"),
        ("sheet_b", 0): ("cleo", None),
    }


def test_sheetgrid_datasource_requires_columns(spark, tmp_path):
    from etl_data_peri_institute_spark.sources.pydatasource import (
        SheetGridDataSource,
    )

    _write_grid_csv(tmp_path / "s.csv", [["h"], ["Nombre"], ["x"]])
    spark.dataSource.register(SheetGridDataSource)
    with pytest.raises(Exception, match="columns"):
        (
            spark.read.format("sheetgrid")
            .option("path", str(tmp_path))
            .load()
            .collect()
        )
