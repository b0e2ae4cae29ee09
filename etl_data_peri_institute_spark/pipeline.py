"""The daily pipeline DAG (reference run_pipeline, etl/pipeline.py:27-253).

Masters (cursos, estudiantes → UPSERT) then transactionals (matriculas,
pagos → incremental date filter + INSERT with FK enforcement), then the
pagos consolidation union. Two orderings are hard dependencies (O1):
estudiantes land before the matriculas FK check, and matriculas land
before the pagos semi-filters and FK check. Everything else may overlap,
so ``run_pipeline`` runs the independent branches concurrently.

Faithful behaviors preserved (SURVEY.md §7.4):
- incremental filter on date(Marca temporal) == target_date (default
  yesterday) — F1, etl/pipeline.py:34-37,119-127,168-176;
- primera-cuota pagos semi-filtered by today's valid matriculas — F3;
- regular pagos semi-filter SKIPPED when today's matriculas are empty —
  the reference's conditional at etl/pipeline.py:194 changes which rows
  reach the FK check, so it is kept verbatim;
- shared matriculas extract feeds two transforms (O2); the frames that
  several writes read (today's valid matriculas, the day's pagos) are
  materialized once;
- FK-missing and required-null rows audit to CSV then drop (or abort,
  per policy flags — O6).
"""

from __future__ import annotations

import json
import os
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from . import schemas
from .operators.integrity import (
    IntegrityError,
    assert_pk_absent,
    dedupe_keep_last,
    fk_split,
    required_not_null_split,
)
from .sinks import Landed, ParquetStore, audit_csv
from .sources.grid import PAGOS_CANONICAL, ROW_IDX, Grid, grid_to_df
from .transforms import (
    transform_cursos,
    transform_estudiantes,
    transform_matriculas,
    transform_pagos_primera_cuota,
    transform_regular_pagos,
)

PAGOS_REQUIRED = ["fecha_pago"]  # etl/load.py:33-37


@dataclass
class PipelineResult:
    """``counts``: rows landed per table (an upsert counts its incoming
    rows). ``stages``: per table, ``rows_in``, ``rows_kept``,
    ``rejected`` (rows per audit reason), ``delta_rows`` (rows that
    reached the table), and the data ``files`` and ``bytes`` landed —
    all taken from the writes themselves. ``manifest``: the JSON file
    holding ``stages``."""

    counts: dict[str, int] = field(default_factory=dict)
    audits: list[str] = field(default_factory=list)
    stages: dict[str, dict] = field(default_factory=dict)
    manifest: str | None = None


def _incremental_filter(df: DataFrame, ts_col: str, target_date: str) -> DataFrame:
    """F1: keep rows whose parsed timestamp falls on target_date."""
    from .functions.cleaning import parse_date_dayfirst

    return df.filter(F.to_date(parse_date_dayfirst(ts_col)) == F.to_date(F.lit(target_date)))


def run_pipeline(
    spark: SparkSession,
    grids: dict[str, Grid],
    store: ParquetStore,
    target_date: str | None = None,
    audit_dir: str | None = None,
    drop_missing_students: bool = True,
    drop_missing_matriculas: bool = True,
) -> PipelineResult:
    """grids: {'cursos': .., 'estudiantes': .., 'matriculas': .., 'pagos': ..}
    raw worksheet grids (list-of-lists of strings).

    Every count comes from a write's observed row count (sinks.py), and
    stored tables are read with their ``schemas`` contracts, so the
    pipeline itself launches no counting or schema-inference job. A
    table never written yet reads as empty: on a first day with payments
    but no enrollments, every payment fails the FK and is audited, as
    the reference's check against an empty table does.

    The day runs as its DAG, on a thread pool that lives for this call.
    The calling thread runs estudiantes → matriculas → pagos; beside it
    run the ``cursos`` branch (nothing reads ``cursos``) and the pagos
    sheet's ingest from the start, and each insert's audit beside that
    insert. O1 holds: the FK read of ``estudiantes`` follows its upsert,
    and everything that reads today's matriculas follows their insert.
    Every branch started before a transactional insert must succeed
    before that insert commits (``before_commit``), so a failure leaves
    the transactional tables as the sequential run would; only a master
    upsert, which a rerun repeats harmlessly, may have landed beside a
    failing branch. The call raises only after every started branch has
    finished. Results (counts, stages, audits) are gathered in the
    sequential order."""
    target = target_date or (date.today() - timedelta(days=1)).isoformat()
    audit_dir = audit_dir or f"{store.root}/_audit"
    audits: list[Landed] = []
    stages: dict[str, dict] = dict.fromkeys(("cursos", "estudiantes", "matriculas", "pagos"))

    def stage(landed: Landed, rejected: dict[str, Landed]) -> dict:
        rows = {reason: a.rows for reason, a in rejected.items()}
        return {
            "rows_in": landed.rows + sum(rows.values()),
            "rows_kept": landed.rows,
            "rejected": {k: v for k, v in rows.items() if v},
            "delta_rows": landed.delta_rows,
            "files": landed.files,
            "bytes": landed.bytes,
        }

    def cursos_branch() -> Landed:
        cursos = transform_cursos(grid_to_df(spark, grids["cursos"], header_row=2))
        return store.upsert(cursos, "cursos", "codigo_curso")

    def pagos_sheet() -> DataFrame:
        raw_pagos = grid_to_df(
            spark,
            grids["pagos"],
            header_row=6,
            canonical=PAGOS_CANONICAL,
            ensure_columns=("Fecha de pago",),
        )
        return transform_regular_pagos(_incremental_filter(raw_pagos, "Marca temporal", target))

    with ThreadPoolExecutor(max_workers=3, thread_name_prefix="daily-dag") as pool:

        def fork(fn, *args) -> Future:
            # job groups and local properties follow the caller
            return pool.submit(inheritable_thread_target(spark)(fn), *args)

        # -- masters: UPSERT ------------------------------------------------
        cursos_f = fork(cursos_branch)
        regulares_f = fork(pagos_sheet)

        # keep-last in sheet order: the sheet's _row_idx, not an id that
        # encodes the scan's partitioning
        estudiantes = dedupe_keep_last(
            transform_estudiantes(grid_to_df(spark, grids["estudiantes"], header_row=2)),
            "codigo_estudiante",
        ).drop(ROW_IDX)
        stages["estudiantes"] = stage(store.upsert(estudiantes, "estudiantes", "codigo_estudiante"), {})

        # -- matriculas: incremental INSERT with FK → estudiantes -----------
        raw_mats = grid_to_df(spark, grids["matriculas"], header_row=3)
        todays_raw = _incremental_filter(raw_mats, "Marca temporal", target)  # O2

        matriculas = transform_matriculas(todays_raw)
        students = store.read("estudiantes", schemas.ESTUDIANTES)
        split = fk_split(matriculas, students, "codigo_estudiante")
        if not drop_missing_students and (n := split.missing.count()):
            raise IntegrityError(f"{n} matriculas reference unknown estudiantes")
        mat_audit_f = fork(audit_csv, split.missing, audit_dir, "matriculas_fk_missing")
        # today's valid matriculas feed the PK guard, the insert and the
        # pagos semi-filters: materialized once, in the partitions AQE
        # coalesced them to (a cached plan keeps every shuffle partition,
        # and each became a small file of the insert)
        valid = split.valid.localCheckpoint(eager=False)
        # J1: abort if any incoming PK already exists in the target
        # (reference etl/load.py:59-85 — re-running the same day must not
        # double-insert)
        assert_pk_absent(
            valid, store.read("matriculas", schemas.MATRICULAS), "codigo_matricula", "matriculas"
        )
        mats_landed = store.insert(
            valid, "matriculas", before_commit=lambda: (cursos_f.result(), mat_audit_f.result())
        )
        stages["cursos"] = stage(cursos_f.result(), {})
        audits.append(mat_audit_f.result())
        stages["matriculas"] = stage(mats_landed, {"matriculas_fk_missing": audits[-1]})

        # valid matricula keys for the pagos semi-filters (F3); a semi join
        # needs no distinct build side
        valid_keys = valid.select("codigo_matricula")
        todays_mats_empty = mats_landed.rows == 0

        # -- pagos: primera cuota + regulares, consolidated -----------------
        primera = transform_pagos_primera_cuota(todays_raw)
        regulares = regulares_f.result()
        if not todays_mats_empty:
            # reference applies the primera semi-filter only when today's
            # matriculas are non-empty (etl/pipeline.py:135); otherwise the
            # rows flow on to the stored-table FK check and its audit. It
            # skips the regulares filter the same way (etl/pipeline.py:194)
            # — quirk preserved
            primera = primera.join(F.broadcast(valid_keys), "codigo_matricula", "left_semi")
            regulares = regulares.join(F.broadcast(valid_keys), "codigo_matricula", "left_semi")

        # read by the audits and the insert below: materialized once. Each
        # branch scans a sheet cut into up to defaultParallelism slices, and
        # today's rows fill every slice of a sheet folded down to them: the
        # union is coalesced back to that width, as each non-empty partition
        # lands as one file of the insert and of the audit
        width = spark.sparkContext.defaultParallelism
        pagos = primera.unionByName(regulares).coalesce(width).localCheckpoint(eager=False)

        pg_rejected = {}
        if todays_mats_empty:
            # FK → matriculas (against the full stored table). With
            # matriculas today, the semi-filters above kept only keys just
            # inserted into that table, so no payment can fail this check
            # and it is skipped.
            pg_split = fk_split(
                pagos, store.read("matriculas", schemas.MATRICULAS), "codigo_matricula"
            )
            if not drop_missing_matriculas and (n := pg_split.missing.count()):
                raise IntegrityError(f"{n} pagos reference unknown matriculas")
            audits.append(audit_csv(pg_split.missing, audit_dir, "pagos_fk_missing"))
            pg_rejected["pagos_fk_missing"] = audits[-1]
            pagos = pg_split.valid

        # required-not-null (fecha_pago) with audit backup — F4
        rq = required_not_null_split(pagos, PAGOS_REQUIRED)
        rq_audit_f = fork(audit_csv, rq.missing, audit_dir, "pagos_required_null")
        pagos_landed = store.insert(rq.valid, "pagos", before_commit=rq_audit_f.result)
        audits.append(rq_audit_f.result())
        pg_rejected["pagos_required_null"] = audits[-1]
        stages["pagos"] = stage(pagos_landed, pg_rejected)

    return PipelineResult(
        counts={t: st["rows_kept"] for t, st in stages.items()},
        audits=[a.path for a in audits if a.path],
        stages=stages,
        manifest=_write_manifest(audit_dir, target, stages),
    )


def _write_manifest(audit_dir: str, target: str, stages: dict[str, dict]) -> str:
    """The day's stage figures as JSON in ``_manifests/`` beside the
    audit dir (a driver-side file write, no Spark job)."""
    out_dir = os.path.join(os.path.dirname(os.path.normpath(audit_dir)), "_manifests")
    os.makedirs(out_dir, exist_ok=True)
    stamp = datetime.now(timezone.utc).strftime("%Y%m%d_%H%M%S_%f")
    path = os.path.join(out_dir, f"{target}_{stamp}.json")
    with open(path, "w") as fh:
        json.dump({"target_date": target, "stages": stages}, fh, indent=1, sort_keys=True)
    return path


def _read_grid_csv(path: str) -> Grid:
    """Raw worksheet dump as CSV → all-string grid (the landing-zone
    format replacing the live Sheets fetch; cells arrive verbatim)."""
    import csv

    with open(path, newline="") as fh:
        return [list(row) for row in csv.reader(fh)]


def main(argv: list[str] | None = None) -> int:
    """CLI mirroring the reference's ``python pipeline.py`` entry
    (etl/pipeline.py:252-253), parameterized like SURVEY.md §2.9 says:
    ``--target-date`` (default: yesterday) over grid CSVs in
    ``--grids-dir`` ({cursos,estudiantes,matriculas,pagos}.csv),
    writing to a ParquetStore at ``--store-dir``."""
    import argparse

    from .session import get_spark

    ap = argparse.ArgumentParser(description="daily ETL pipeline")
    ap.add_argument("--grids-dir", required=True)
    ap.add_argument("--store-dir", required=True)
    ap.add_argument("--target-date", default=None, help="YYYY-MM-DD; default yesterday")
    args = ap.parse_args(argv)

    grids = {
        name: _read_grid_csv(f"{args.grids_dir}/{name}.csv")
        for name in ("cursos", "estudiantes", "matriculas", "pagos")
    }
    spark = get_spark("daily-pipeline")
    store = ParquetStore(spark, args.store_dir)
    result = run_pipeline(spark, grids, store, target_date=args.target_date)
    for table, n in result.counts.items():
        print(f"{table}: {n} rows")
    for path in result.audits:
        print(f"audit: {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
