"""Integrity operators: dedup, PK/FK checks, required-column validation.

The reference enforces integrity procedurally at load time with Python
sets and chunked IN-list readbacks (etl/load.py:49-198); here each check
is a plan operator — broadcast semi/anti joins and window dedup — that
runs before the sink, distributed, with no driver-side key sets. At 100
TB the parent-key sides are ``select(pk).distinct()`` projections that
broadcast when small and shuffle-join when not (AQE decides).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..sources.grid import ROW_IDX


class IntegrityError(Exception):
    """Raised where the reference aborts the load (etl/load.py:82-83,132,196)."""


def dedupe_keep_last(df: DataFrame, pk: str, order_col: str = ROW_IDX) -> DataFrame:
    """D1: keep-LAST dedup by PK in ingest order (reference
    drop_duplicates(keep="last"), etl/transform.py:33-38 / etl/load.py:49-58).

    Faithful distributed form: row_number over (pk, order desc) — NOT
    dropDuplicates, which keeps an arbitrary row (SURVEY.md §7.4.2).
    """
    w = W.partitionBy(pk).orderBy(F.desc(order_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .drop("__rn")
    )


def duplicate_keys(df: DataFrame, pk: str) -> DataFrame:
    """A3: keys appearing more than once (reference duplicated(keep=False))."""
    return df.groupBy(pk).agg(F.count("*").alias("n")).filter(F.col("n") > 1)


def assert_pk_absent(incoming: DataFrame, existing: DataFrame, pk: str, table: str) -> None:
    """J1: abort INSERT when any incoming PK already exists in the target
    (reference etl/load.py:59-85 — chunked IN-list readback + set
    intersection → here one semi join).

    One aggregate action: the clash count and up to five example keys
    (the smallest) come back in one row. A ``limit(5)`` probe would, when
    nothing clashes (the usual case), rescan ever more partitions in one
    job after another. The example set is at most the incoming batch's
    distinct keys. No forced broadcast: the
    existing-PK side is unbounded (it is the whole stored table's key
    set), so AQE promotes it to broadcast only when its runtime size is
    under the threshold; otherwise it shuffles.
    """
    clash = incoming.join(existing.select(pk), pk, "left_semi").agg(
        F.count(F.lit(1)).alias("n"),
        F.slice(F.sort_array(F.collect_set(pk)), 1, 5).alias("examples"),
    ).first()
    if clash["n"]:
        raise IntegrityError(
            f"PKs already present in '{table}': e.g. {clash['examples']} — aborting insert"
        )


@dataclass
class FkResult:
    valid: DataFrame
    missing: DataFrame


def fk_split(child: DataFrame, parent: DataFrame, key: str) -> FkResult:
    """J2/J3: split child rows by FK existence in parent (reference
    etl/load.py:87-134,156-198 — set difference → semi/anti join pair).

    The caller decides abort vs audit-and-drop (O6 policy flags).

    The parent-key projection is NOT force-broadcast: parent tables grow
    without bound at scale, and a forced broadcast of an unbounded frame
    OOMs the driver. The planner broadcasts it when the parent's size is
    under the threshold, and AQE when its runtime size is. It is not
    de-duplicated: a semi or anti join only asks whether a key exists,
    and a ``distinct`` would add a shuffle before every such join.
    """
    parent_keys = parent.select(key).na.drop()
    # a join on a column name puts that column first: select the child's
    # order back, so both sides land and audit with the child's layout
    return FkResult(
        valid=child.join(parent_keys, key, "left_semi").select(*child.columns),
        missing=child.join(parent_keys, key, "left_anti").select(*child.columns),
    )


def required_not_null_split(df: DataFrame, required: list[str]) -> FkResult:
    """F4: split rows by required-column completeness (reference
    etl/load.py:136-154); ``missing`` feeds the audit sink."""
    any_null = F.lit(False)
    for c in required:
        any_null = any_null | F.col(c).isNull()
    return FkResult(valid=df.filter(~any_null), missing=df.filter(any_null))


def assert_castable(df: DataFrame, raw_col: str, casted_col: str) -> None:
    """C14 strictness: the reference's astype(int) raises on bad input;
    try_cast yields NULL. Fail fast if any non-null raw value failed to
    cast (SURVEY.md §7.4.5)."""
    bad = df.filter(F.col(casted_col).isNull() & F.col(raw_col).isNotNull()).limit(5).collect()
    if bad:
        raise IntegrityError(f"non-castable values in {raw_col}: {[r[raw_col] for r in bad]}")
