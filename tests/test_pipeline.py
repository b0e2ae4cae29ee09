"""End-to-end pipeline test (SURVEY.md §5.3): raw grids → four stored
tables, FK/required-null audits, upsert overwrite, empty-matriculas
quirk."""

from __future__ import annotations

import json
import os
import threading

import pytest

from etl_data_peri_institute_spark import pipeline, schemas
from etl_data_peri_institute_spark.operators.integrity import IntegrityError
from etl_data_peri_institute_spark.pipeline import run_pipeline
from etl_data_peri_institute_spark.sinks import ParquetStore
from tests.fixtures import ALL_GRIDS, TARGET_DATE

CONTRACTS = {
    "cursos": schemas.CURSOS,
    "estudiantes": schemas.ESTUDIANTES,
    "matriculas": schemas.MATRICULAS,
    "pagos": schemas.PAGOS,
}


def _names_types(schema) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def _reason(path: str) -> str:
    """An audit output's reason: its name without the time stamp."""
    return path.rsplit("/", 1)[-1].rsplit("_", 3)[0]


def _audit_rows(spark, result) -> dict[str, int]:
    """Rejected rows per audit reason, read back from the audit CSVs."""
    out: dict[str, int] = {}
    for path in result.audits:
        reason = _reason(path)
        out[reason] = out.get(reason, 0) + spark.read.option("header", True).csv(path).count()
    return out


def _audited(store: ParquetStore) -> list[str]:
    """The reasons of the audit outputs in the store's audit dir."""
    audit_dir = os.path.join(store.root, "_audit")
    return sorted(_reason(p) for p in os.listdir(audit_dir)) if os.path.isdir(audit_dir) else []


def _dag_threads() -> list[str]:
    return [t.name for t in threading.enumerate() if t.name.startswith("daily-dag")]


def test_pipeline_end_to_end(spark, tmp_path):
    store = ParquetStore(spark, str(tmp_path / "db"))
    result = run_pipeline(spark, ALL_GRIDS, store, target_date=TARGET_DATE)

    # masters upserted
    assert result.counts["cursos"] == 3
    assert result.counts["estudiantes"] == 5

    # matriculas: target-date rows M001(dedup), M002, M005(FK-dropped) → 2
    mats = store.read("matriculas")
    keys = {r["codigo_matricula"] for r in mats.collect()}
    assert keys == {"M001", "M002"}
    assert result.counts["matriculas"] == 2

    # pagos: primera cuota has NO dedup (reference parity) → both M001 raw
    # rows pay (100, 120) + M002 (50.5), plus regular M001 120.75;
    # M999 FK-dropped, M002-regular required-null-dropped
    pagos = store.read("pagos").collect()
    assert result.counts["pagos"] == 4
    pairs = {(r["codigo_matricula"], r["monto_pago"]) for r in pagos}
    assert pairs == {("M001", 100.0), ("M001", 120.0), ("M002", 50.5), ("M001", 120.75)}

    # audits: matriculas FK (M005/E999) + required-null (M002). The M999
    # payment never reaches the FK audit — the valid-keys semi-filter
    # drops it first (reference order: etl/pipeline.py:193-201 before
    # load's FK check), so no pagos_fk_missing audit is produced here.
    assert len(result.audits) == 2
    assert any("matriculas_fk_missing" in p for p in result.audits)
    assert any("pagos_required_null" in p for p in result.audits)

    # every stored table's files carry exactly its contract's names and
    # types, so the pipeline's typed reads see what an inferred read sees
    for table, contract in CONTRACTS.items():
        assert _names_types(store.read(table).schema) == _names_types(contract), table


def test_pipeline_empty_store_audits_every_payment(spark, tmp_path):
    """A first day with payments but no enrollments: the pagos FK check
    reads a matriculas table that was never written. It reads as empty,
    so the payment is audited and dropped, as the reference's FK check
    against an empty table does (it used to raise FileNotFoundError)."""
    store = ParquetStore(spark, str(tmp_path / "db"))
    result = run_pipeline(spark, ALL_GRIDS, store, target_date="2024-03-12")
    assert result.counts == {"cursos": 3, "estudiantes": 5, "matriculas": 0, "pagos": 0}
    assert _audit_rows(spark, result) == {"pagos_fk_missing": 1}
    # a zero-row insert still creates no table, and every table reads
    # back typed by its contract whether or not it exists
    assert not store.exists("matriculas") and not store.exists("pagos")
    for table, contract in CONTRACTS.items():
        assert _names_types(store.read(table, contract).schema) == _names_types(contract)
        if store.exists(table):
            assert _names_types(store.read(table).schema) == _names_types(contract)


def test_pipeline_stage_manifest(spark, tmp_path):
    """The per-day manifest agrees with the counts and the audit CSVs,
    and records what each stage landed; re-upserting unchanged master
    sheets lands nothing."""
    store = ParquetStore(spark, str(tmp_path / "db"))
    result = run_pipeline(spark, ALL_GRIDS, store, target_date=TARGET_DATE)
    with open(result.manifest) as fh:
        manifest = json.load(fh)
    assert manifest == {"target_date": TARGET_DATE, "stages": result.stages}
    assert sorted(result.stages) == sorted(result.counts)
    audited = _audit_rows(spark, result)
    rejected = {}
    for table, st in result.stages.items():
        assert st["rows_kept"] == result.counts[table]
        assert st["rows_in"] == st["rows_kept"] + sum(st["rejected"].values())
        # every row is new on a fresh store, so all of it lands
        assert st["delta_rows"] == st["rows_kept"]
        assert st["files"] > 0 and st["bytes"] > 0
        rejected.update(st["rejected"])
    assert rejected == audited == {"matriculas_fk_missing": 1, "pagos_required_null": 1}

    later = run_pipeline(spark, ALL_GRIDS, store, target_date="2024-03-20")
    for table in ("cursos", "estudiantes"):
        st = later.stages[table]
        assert (st["rows_in"], st["delta_rows"], st["files"], st["bytes"]) == (
            result.counts[table], 0, 0, 0
        ), table
    assert later.stages["pagos"]["files"] == 0


def test_pipeline_upsert_overwrites(spark, tmp_path):
    store = ParquetStore(spark, str(tmp_path / "db"))
    run_pipeline(spark, ALL_GRIDS, store, target_date=TARGET_DATE)

    # re-run a later day: masters upsert again (same PKs overwrite, count
    # stays 3/5); no new matriculas/pagos on that date
    result2 = run_pipeline(spark, ALL_GRIDS, store, target_date="2024-03-20")
    assert store.read("cursos").count() == 3
    assert store.read("estudiantes").count() == 5
    assert result2.counts["matriculas"] == 0
    assert result2.counts["pagos"] == 0


def test_pipeline_estudiantes_keep_last_across_scan_partitions(spark, tmp_path):
    """A student listed twice, first and last in the sheet, with the two
    rows in different partitions of the sheet's scan: the upsert keeps
    the sheet's last row."""
    from etl_data_peri_institute_spark.sources.grid import grid_to_df

    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("one task thread: every scan is a single partition")
    estudiantes = ALL_GRIDS["estudiantes"] + [
        ["E001", "ana v2", "pérez", "ana@mail.com", "+56 9 1111 2222", "F", "Web", "Superior"]
    ]
    # the scan's partitions as rows (over a local relation the optimizer
    # folds filters and even spark_partition_id() on the driver)
    scan = grid_to_df(spark, estudiantes, header_row=2).rdd.glom().collect()
    parts = {p for p, rows in enumerate(scan) for r in rows if r["CODIGO_E"] == "E001"}
    assert len(parts) == 2, parts

    store = ParquetStore(spark, str(tmp_path / "db"))
    result = run_pipeline(
        spark, {**ALL_GRIDS, "estudiantes": estudiantes}, store, target_date=TARGET_DATE
    )
    assert result.counts["estudiantes"] == 5
    stored = {r["codigo_estudiante"]: r for r in store.read("estudiantes").collect()}
    assert stored["E001"]["nombres"] == "Ana V2"
    assert stored["E001"]["pais"] == "Chile"


def test_pipeline_same_day_rerun_aborts(spark, tmp_path):
    """J1 PK guard (etl/load.py:59-85): re-running the same target date
    must abort the matriculas insert, not double-insert; nothing after
    the guard lands, and no pool thread outlives the call."""
    store = ParquetStore(spark, str(tmp_path / "db"))
    run_pipeline(spark, ALL_GRIDS, store, target_date=TARGET_DATE)
    audited = _audited(store)
    examples = r"already present in 'matriculas': e\.g\. \['M001', 'M002'\]"
    with pytest.raises(IntegrityError, match=examples):
        run_pipeline(spark, ALL_GRIDS, store, target_date=TARGET_DATE)
    assert _dag_threads() == []
    assert store.read("matriculas").count() == 2  # unchanged
    assert store.read("pagos").count() == 4
    # the matriculas audit precedes the guard, as in the reference
    assert _audited(store) == sorted(audited + ["matriculas_fk_missing"])


def test_pipeline_abort_policies_land_nothing_after_the_failing_step(spark, tmp_path):
    """``drop_missing_*=False`` aborts the day at its FK check: the
    masters before it have landed, nothing after it has (no insert, no
    audit of a later step), and no pool thread is left."""
    store = ParquetStore(spark, str(tmp_path / "db"))
    with pytest.raises(IntegrityError, match="1 matriculas reference unknown estudiantes"):
        run_pipeline(spark, ALL_GRIDS, store, target_date=TARGET_DATE, drop_missing_students=False)
    assert _dag_threads() == []
    assert store.exists("cursos") and store.exists("estudiantes")
    assert not store.exists("matriculas") and not store.exists("pagos")
    assert _audited(store) == []

    # the empty-store day: its one payment fails the FK to matriculas
    store = ParquetStore(spark, str(tmp_path / "db2"))
    with pytest.raises(IntegrityError, match="1 pagos reference unknown matriculas"):
        run_pipeline(spark, ALL_GRIDS, store, target_date="2024-03-12", drop_missing_matriculas=False)
    assert _dag_threads() == []
    assert not store.exists("pagos")
    assert _audited(store) == []


def test_pipeline_background_failure_propagates(spark, tmp_path, monkeypatch):
    """A branch off the calling thread that raises (here the cursos
    transform) fails the day after every started branch has finished,
    with no pool thread left. The matriculas insert commits only once
    the branches started before it have succeeded, so no transactional
    row lands; what ran beside the failing branch (the estudiantes
    upsert, the matriculas audit) is repeated harmlessly by a rerun."""
    transform_cursos = pipeline.transform_cursos

    def unreadable(df):
        raise RuntimeError("cursos sheet unreadable")

    store = ParquetStore(spark, str(tmp_path / "db"))
    monkeypatch.setattr(pipeline, "transform_cursos", unreadable)
    with pytest.raises(RuntimeError, match="cursos sheet unreadable"):
        run_pipeline(spark, ALL_GRIDS, store, target_date=TARGET_DATE)
    assert _dag_threads() == []
    assert not store.exists("cursos")
    assert not store.exists("matriculas") and not store.exists("pagos")
    # the matriculas audit may have run beside the failing branch; no
    # later step's did
    assert set(_audited(store)) <= {"matriculas_fk_missing"}

    monkeypatch.setattr(pipeline, "transform_cursos", transform_cursos)
    result = run_pipeline(spark, ALL_GRIDS, store, target_date=TARGET_DATE)
    assert result.counts == {"cursos": 3, "estudiantes": 5, "matriculas": 2, "pagos": 4}


def test_pipeline_runs_are_deterministic(spark, tmp_path):
    """Three replays of the same two days from fresh stores give the
    same counts, stages, audit order and stored rows, in whatever order
    the concurrent branches finish."""

    def replay(i: int):
        store = ParquetStore(spark, str(tmp_path / f"db{i}"))
        days = [
            run_pipeline(spark, ALL_GRIDS, store, target_date=day)
            for day in (TARGET_DATE, "2024-03-12")
        ]
        assert _dag_threads() == []
        return (
            [(list(r.counts.items()), list(r.stages.items()), [_reason(p) for p in r.audits]) for r in days],
            {t: sorted(repr(tuple(row)) for row in store.read(t).collect()) for t in CONTRACTS},
        )

    first = replay(0)
    assert first[0][0][2] == ["matriculas_fk_missing", "pagos_required_null"]
    assert replay(1) == first
    assert replay(2) == first


def test_session_turns_call_site_capture_off(spark):
    """PySpark's per-call Python call-site capture is off (plan building
    is driver time on every day); an analysis error still raises."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    with pytest.raises(AnalysisException):
        spark.range(1).select(F.col("missing")).collect()


def test_pipeline_empty_matriculas_skips_semi_filter(spark, tmp_path):
    """Reference quirk (etl/pipeline.py:194): with zero matriculas today,
    regular pagos skip the semi-filter and go straight to the FK check."""
    store = ParquetStore(spark, str(tmp_path / "db"))
    # day one: populate matriculas table
    run_pipeline(spark, ALL_GRIDS, store, target_date=TARGET_DATE)
    # day two (2024-03-12): no matriculas rows, but PAGOS_GRID has an
    # off-date regular payment for M001 on 12/03 — it passes the FK check
    # against the STORED matriculas despite the empty daily set
    result = run_pipeline(spark, ALL_GRIDS, store, target_date="2024-03-12")
    assert result.counts["matriculas"] == 0
    assert result.counts["pagos"] == 1  # the 12/03 M001 payment


def test_pipeline_cli(spark, tmp_path):
    """CLI entry: grid CSVs → stored tables (mirrors `python pipeline.py`)."""
    import csv

    from etl_data_peri_institute_spark.pipeline import main

    grids_dir = tmp_path / "grids"
    grids_dir.mkdir()
    for name, grid in ALL_GRIDS.items():
        with open(grids_dir / f"{name}.csv", "w", newline="") as fh:
            csv.writer(fh).writerows(grid)
    rc = main(
        [
            "--grids-dir", str(grids_dir),
            "--store-dir", str(tmp_path / "store"),
            "--target-date", TARGET_DATE,
        ]
    )
    assert rc == 0
    out = spark.read.parquet(str(tmp_path / "store" / "matriculas"))
    assert out.count() == 2


def test_store_partitioned_insert_prunes(spark, tmp_path):
    from pyspark.sql import functions as F

    store = ParquetStore(spark, str(tmp_path / "db"))
    df1 = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-02", 20.0)],
        "id long, dt string, v double",
    )
    df2 = spark.createDataFrame(
        [(3, "2024-01-02", 30.0), (4, "2024-01-03", 40.0)],
        "id long, dt string, v double",
    )
    assert store.insert(df1, "facts", partition_by=["dt"]).rows == 2
    assert store.insert(df2, "facts", partition_by=["dt"]).rows == 2  # incremental append
    back = store.read("facts")
    assert back.count() == 4
    one_day = back.filter(F.col("dt") == "2024-01-02")
    assert {r["id"] for r in one_day.collect()} == {2, 3}
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "dt" in plan


def test_store_compact(spark, tmp_path):
    from pyspark.sql import functions as F

    store = ParquetStore(spark, str(tmp_path / "db"))
    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    # simulate small-file accretion: many inserts
    for i in range(5):
        store.insert(df.filter((F.col("k") % 5) == i), "t")

    before = sum(1 for n in os.listdir(store.path("t")) if n.endswith(".parquet"))
    assert before >= 5
    after = store.compact("t", 2)
    assert after == 2
    assert store.read("t").count() == 1000

    # partitioned tables compact WITHOUT losing their hive layout
    pdf = spark.createDataFrame(
        [(i, f"2024-01-0{1 + i % 2}") for i in range(100)], "k long, dt string"
    )
    for _ in range(3):
        store.insert(pdf, "pt", partition_by=["dt"])
    n_files = store.compact("pt", 1)
    assert n_files == 2  # one per dt partition
    back = store.read("pt")
    assert back.count() == 300
    plan = back.filter(F.col("dt") == "2024-01-01")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "dt" in plan


def test_schema_evolution_merge(spark, tmp_path):
    """mergeSchema read across generations: v2 adds a column; v1 rows
    surface it as NULL — the append-only schema-evolution contract."""
    p = str(tmp_path / "tab")
    spark.createDataFrame([(1, "a")], "k long, v string").write.mode("append").parquet(p)
    spark.createDataFrame(
        [(2, "b", 9.5)], "k long, v string, score double"
    ).write.mode("append").parquet(p)
    merged = spark.read.option("mergeSchema", True).parquet(p)
    assert set(merged.columns) == {"k", "v", "score"}
    rows = {r["k"]: r["score"] for r in merged.collect()}
    assert rows[1] is None and rows[2] == 9.5


def test_store_overwrite_meta_roundtrip(spark, tmp_path):
    store = ParquetStore(spark, str(tmp_path / "db"))
    df = spark.createDataFrame([(1, 2.0)], "k long, v double")
    assert store.read_meta("t", "_LAST_EPOCH") is None
    store.overwrite(df, "t", meta_files={"_LAST_EPOCH": "7"})
    assert store.read_meta("t", "_LAST_EPOCH") == "7"
    # meta file is invisible to the parquet reader
    assert store.read("t").count() == 1
    # second overwrite replaces data and meta atomically
    store.overwrite(df.withColumn("v", df.v * 2), "t", meta_files={"_LAST_EPOCH": "8"})
    assert store.read_meta("t", "_LAST_EPOCH") == "8"
    assert store.read("t").first()["v"] == 4.0


def test_observed_stage_metrics_single_pass(spark):
    """observed_stage piggybacks stage telemetry on the consuming action
    — row count, null count, and key bounds arrive without a second
    scan of the input."""
    from pyspark.sql import functions as F

    from etl_data_peri_institute_spark.sinks import observed_stage

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c")], "k int, v string"
    )
    staged, obs = observed_stage(
        df,
        "stage1",
        {
            "n_rows": F.count(F.lit(1)),
            "n_null_v": F.sum(F.col("v").isNull().cast("int")),
            "max_k": F.max("k"),
        },
    )
    assert staged.filter(F.col("k") > 0).count() == 3  # the one action
    assert obs.get == {"n_rows": 3, "n_null_v": 1, "max_k": 3}


def test_packaged_grid_csvs_match_fixtures():
    """The packaged grid CSVs (consumed by the p_pipeline_e2e gate query
    AND its DuckDB oracle) must stay cell-identical to the canonical
    fixtures — otherwise the driver row and pytest cover different data."""
    import csv
    from pathlib import Path

    import etl_data_peri_institute_spark as pkg

    grid_dir = Path(pkg.__file__).parent / "data" / "grids"
    for name, grid in ALL_GRIDS.items():
        with open(grid_dir / f"{name}.csv", newline="") as fh:
            on_disk = [list(row) for row in csv.reader(fh)]
        assert on_disk == grid, name
