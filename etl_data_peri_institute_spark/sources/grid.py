"""Worksheet-grid ingest: raw all-string grids → typed-ready DataFrames.

Replaces the reference's Google-Sheets extraction layer
(etl/extract.py:15-309). The network fetch stays a thin driver-side
concern (a worksheet is ≤10M cells by Sheets' hard limit — driver-sized
by definition; at scale the landing zone is object storage read by
``spark.read``); everything after the fetch is reproduced here:

- header at an arbitrary 1-based sheet row (rows 2/3/6 in the reference,
  etl/extract.py:172-177, 222-227, 271-276), junk banner rows above it;
- header repair: strip names, fill empties with ``col_{i}``, dedupe
  duplicates with ``_N`` suffixes (etl/extract.py:49-62);
- fuzzy canonical renaming via NFKD unicode fold (etl/extract.py:107-155);
- all-empty-row drop (etl/extract.py:98-100);
- a ``_row_idx`` ingest-order column — required for faithful keep-LAST
  dedup downstream (pandas ``keep="last"`` depends on row order, which a
  distributed engine must carry explicitly; SURVEY.md §7.4.2).

Header slicing is positional, which Spark's file readers can't do
(``option("header")`` only handles row 1), so grid → columns happens on
the driver. The sheet crosses to the JVM as Arrow record batches (string
columns plus an int64 ``_row_idx``), not as pickled rows: Spark keeps it
as a ``LocalRelation`` below ``spark.sql.execution.arrow.
localRelationThreshold`` (48 MB by default) and as a JVM-side Arrow RDD
above it, so no scan of a sheet waits on a Python worker. Everything
after is distributed.

Over a ``LocalRelation`` the optimizer folds deterministic projections
and filters into a new local relation on the driver
(``ConvertToLocalRelation``): the ``estudiantes`` shaping select costs
~0.2 s of driver time on 13k rows in each query that plans it. That rule
is not to be switched off with a session-wide
``spark.sql.optimizer.excludedRules``: the same session folds every
other small local frame, and the fold is what spares those queries a
scan task.
"""

from __future__ import annotations

import unicodedata

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

ROW_IDX = "_row_idx"

Grid = list[list[str]]


def repair_header(cells: list[str]) -> list[str]:
    """Strip, fill blanks with col_{i}, dedupe duplicates with _N suffixes
    (reference: etl/extract.py:49-62,188)."""
    names: list[str] = []
    seen: dict[str, int] = {}
    for i, raw in enumerate(cells):
        name = (raw or "").strip() or f"col_{i}"
        if name in seen:
            seen[name] += 1
            name = f"{name}_{seen[name]}"
        seen.setdefault(name, 0)
        names.append(name)
    return names


def _fold(name: str) -> str:
    """NFKD unicode fold → ascii lower with non-alnum → _ (reference
    _normalize_col_name, etl/extract.py:107-114)."""
    ascii_ = unicodedata.normalize("NFKD", name).encode("ascii", "ignore").decode()
    out = "".join(ch.lower() if ch.isalnum() else "_" for ch in ascii_)
    while "__" in out:
        out = out.replace("__", "_")
    return out.strip("_")


def fuzzy_rename(columns: list[str], canonical: dict[str, list[str]]) -> dict[str, str]:
    """Map existing column names to canonical names by normalized equality
    then substring match (reference _find_column + normalize_columns,
    etl/extract.py:117-155). Returns {current_name: canonical_name}."""
    renames: dict[str, str] = {}
    folded = {col: _fold(col) for col in columns}
    for canon, candidates in canonical.items():
        if canon in columns:
            continue
        targets = [_fold(c) for c in [canon, *candidates]]
        hit = next(
            (col for col, f in folded.items() if f in targets),
            None,
        ) or next(
            (col for col, f in folded.items() if any(t in f or f in t for t in targets if t)),
            None,
        )
        if hit is not None and hit not in renames:
            renames[hit] = canon
    return renames


def grid_to_df(
    spark: SparkSession,
    grid: Grid,
    header_row: int = 2,
    canonical: dict[str, list[str]] | None = None,
    ensure_columns: tuple[str, ...] = (),
) -> DataFrame:
    """All-string grid → DataFrame with repaired names and ``_row_idx``.

    ``header_row`` is the 1-based sheet row holding the header (2 for
    cursos/estudiantes, 3 for matriculas, 6 for pagos — reference
    extract_sheet_pi_1/2/3). Raises on too-few rows like the reference
    (etl/extract.py:28-29). ``ensure_columns`` adds missing columns as
    NULL (the pagos extractor guarantees a date column,
    etl/extract.py:290-295).
    """
    if len(grid) < header_row:
        raise ValueError(
            f"worksheet has {len(grid)} rows; header expected at row {header_row}"
        )
    import pyarrow as pa

    header = repair_header([str(c) for c in grid[header_row - 1]])
    width = len(header)
    columns: list[list[str | None]] = [[] for _ in range(width)]
    row_idx: list[int] = []
    for i, raw in enumerate(grid[header_row:]):
        cells = [str(c) if c not in (None, "") else None for c in raw[:width]]
        if all(v is None for v in cells):
            continue  # F5: all-empty-row drop
        for column, value in zip(columns, cells):
            column.append(value)
        for column in columns[len(cells) :]:
            column.append(None)  # ragged row: missing trailing cells
        row_idx.append(i)
    schema = T.StructType(
        [T.StructField(name, T.StringType(), True) for name in header]
        + [T.StructField(ROW_IDX, T.LongType(), False)]
    )
    table = pa.Table.from_arrays(
        [pa.array(column, pa.string()) for column in columns]
        + [pa.array(row_idx, pa.int64())],
        names=[*header, ROW_IDX],
    )
    df = spark.createDataFrame(table, schema)
    if canonical:
        renames = fuzzy_rename(header, canonical)
        if renames:
            df = df.withColumnsRenamed(renames)
    for col in ensure_columns:
        if col not in df.columns:
            df = df.withColumn(col, F.lit(None).cast("string"))
    return df


# Canonical candidate sets from the reference's normalize_columns
# (etl/extract.py:136-155).
PAGOS_CANONICAL = {
    "Fecha de pago": ["fecha_pago", "FECHA_P", "FechaEntrega", "fecha de pago"],
    "Estado": ["estado"],
}


def infer_column_types(df: DataFrame) -> DataFrame:
    """S5 type-inference policy (reference get_all_records_robust,
    etl/extract.py:76-96: int-regex → int, float-regex → float, else
    trimmed string; empty → None).

    The reference infers per CELL into mixed-type object columns — a
    shape a relational engine rejects by design. The faithful relational
    form is per COLUMN: a column becomes LongType/DoubleType only when
    every non-null cell matches the numeric regex (deviation noted in
    SURVEY.md §1.3; per-cell mixing would need a variant/union type).
    One pass computes all match-counts, then casts are applied lazily.
    """
    cols = [c for c in df.columns if c != ROW_IDX]
    trimmed = {c: F.trim(F.col(c)) for c in cols}
    stats = df.agg(
        *[
            F.struct(
                F.count(F.when(trimmed[c].isNotNull() & (trimmed[c] != ""), 1)).alias("n"),
                F.count(
                    F.when(trimmed[c].rlike("^-?[0-9]+$"), 1)
                ).alias("n_int"),
                F.count(
                    F.when(trimmed[c].rlike("^-?[0-9]+\\.[0-9]+$"), 1)
                ).alias("n_float"),
            ).alias(c)
            for c in cols
        ]
    ).first()
    out = df
    for c in cols:
        s = stats[c]
        target = None
        if s["n"] > 0 and s["n_int"] == s["n"]:
            target = "long"
        elif s["n"] > 0 and s["n_int"] + s["n_float"] == s["n"]:
            target = "double"
        cleaned = F.when(trimmed[c] == "", None).otherwise(trimmed[c])
        out = out.withColumn(c, cleaned.cast(target) if target else cleaned)
    return out
