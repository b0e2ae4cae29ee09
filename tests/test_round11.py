"""Round-11 invariants: corrupt-journal shielding in vacuum(), the
multi-epoch quantizer churn gate's algebra, and compaction-invariance
of maintained band/fingerprint tables.

The hash oracles pin cross-engine value equality; these tests pin the
operational properties round 11 adds — a journal that fails to parse
still shields its table's root-level dirs from vacuum, N chained
fold-in/retract epochs equal a one-shot rebuild (counts exactly, csum
within stated float tolerance), and compacting a maintained table
between lifecycle days leaves every probe verdict unchanged.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_data_peri_institute_spark import sinks
from etl_data_peri_institute_spark.plans.catalog import QUERIES, load_all
from etl_data_peri_institute_spark.sinks import ParquetStore

SF = "/root/testdata/sf0.001"

load_all()


def _q(name):
    return QUERIES[name].fn


def test_vacuum_corrupt_journal_still_shields_table(spark, tmp_path):
    """ADVICE round-10: a journal that fails json.load must still shield
    its table: vacuum() parses the owner from the journal FILENAME,
    keeps the journal (repair belongs to _recover) and leaves the
    owner's root-level staging and backup dirs alone — over-shielding
    defers cleanup, under-shielding destroys recovery inputs."""
    store = ParquetStore(spark, str(tmp_path / "db"))
    df = spark.createDataFrame([(1, "a")], "pk int, v string")
    store.insert(df, "t")
    # corrupt journal for "t": token format matches the real token
    # shape `.{table}_XXXX`
    jp = store._journal_path("t", ".t_stage_abc123")
    with open(jp, "w") as fh:
        fh.write("{ not json")
    os.makedirs(os.path.join(store.root, ".t_stage_abc123"))
    removed = store.vacuum()
    assert removed == []
    # journal itself is never vacuum's to consume
    assert os.path.exists(jp)
    assert os.path.isdir(os.path.join(store.root, ".t_stage_abc123"))


def test_vacuum_foreign_journal_name_shields_conservatively(spark, tmp_path):
    """A journal-like filename with no `_.` separator (not produced by
    any writer, but conceivable from manual tampering) must not crash
    vacuum, is kept, and shields every root name it might own."""
    store = ParquetStore(spark, str(tmp_path / "db"))
    df = spark.createDataFrame([(1, "a")], "pk int, v string")
    store.insert(df, "weird")
    jp = os.path.join(store.root, ".__journal_weird.json")
    with open(jp, "w") as fh:
        fh.write("not json at all")
    os.makedirs(os.path.join(store.root, ".weird_stage_x"))
    assert store.vacuum() == []
    assert os.path.exists(jp)
    assert os.path.isdir(os.path.join(store.root, ".weird_stage_x"))


def _churn_frames(spark, sf=SF):
    """The gate's OWN epoch construction (plans/ann.py:
    churn_epoch_frames — shared by construction, so this test can
    never pin a recipe the gate no longer runs)."""
    from etl_data_peri_institute_spark.plans.ann import churn_epoch_frames

    fr = churn_epoch_frames(spark, sf)
    return fr["s0"], fr["a_b"], fr["batch_b"], fr["s4"]


def test_quantizer_churn_nets_to_one_shot(spark):
    """THE multi-epoch algebra pin (round-10 verdict item 3): four
    interleaved epochs (+A, −A/2, +B, −A/2) fully retract A, so the
    chained statistics must equal ONE fold-in of B into the day-0
    stats — counts EXACTLY (integer dimension is exact), csum within
    1e-9 relative (each subtract/add cycle re-associates float sums by
    ~ulp; the documented re-derivation policy: chaining daily epochs
    between quarterly rebuilds stays ~1e-9-per-epoch × #epochs, and a
    maintainer re-derives via centroid_pos_stats long before drift
    approaches 1e-3). The one-shot side uses the SAME read-back a_B
    assignment the chain produced — recomputing it against day-0
    centroids would compare different quantizers, not different
    histories."""
    from etl_data_peri_institute_spark.operators.similarity import (
        centroid_stats_update,
    )

    s0, a_b, batch_b, s4 = _churn_frames(spark)
    one_shot = centroid_stats_update(s0, batch_b, a_b)
    chained = {
        (r["c_label"], r["pos"]): (r["csum"], r["cnt"])
        for r in s4.collect()
    }
    direct = {
        (r["c_label"], r["pos"]): (r["csum"], r["cnt"])
        for r in one_shot.collect()
    }
    assert set(chained) == set(direct)
    worst = 0.0
    for k, (csum_c, cnt_c) in chained.items():
        csum_d, cnt_d = direct[k]
        assert cnt_c == cnt_d, f"count drift at {k}: {cnt_c} != {cnt_d}"
        rel = abs(csum_c - csum_d) / max(abs(csum_d), 1e-12)
        worst = max(worst, rel)
    assert worst < 1e-9, f"csum drift {worst} exceeds policy tolerance"


def test_quantizer_churn_every_transition_observable(spark):
    """Each adjacent epoch pair must flip at least one probe
    assignment at the gate SF (measured 10/12/13 at sf0.001) — a
    transition that serves identically before and after would make
    that epoch's maintenance invisible to the gate."""
    from etl_data_peri_institute_spark.plans.catalog import QUERIES

    rows = QUERIES["e_ivf_quantizer_churn"].fn(spark, SF).collect()
    assert len(rows) == 50
    for a, b in (("list_e1", "list_e2"), ("list_e2", "list_e3"),
                 ("list_e3", "list_e4")):
        flips = sum(1 for r in rows if r[a] != r[b])
        assert flips > 0, f"transition {a}->{b} is vacuous at {SF}"
    # n_flips is derived from the lists, not independently computed
    for r in rows:
        expect = sum(
            1
            for a, b in (("list_e1", "list_e2"), ("list_e2", "list_e3"),
                         ("list_e3", "list_e4"))
            if r[a] != r[b]
        )
        assert r["n_flips"] == expect


def test_band_table_compaction_invariance_mid_lifecycle(spark, tmp_path):
    """Round-10 verdict item 4: the small-files problem is the FIRST
    operational issue a daily append-maintained table hits at 100 TB,
    and no test compacted a band table BETWEEN lifecycle days. Replay
    the LSH lifecycle through a ParquetStore table with a compact()
    inserted mid-lifecycle: day-1 corpus bands, day-2 probe + append
    (which accretes files), COMPACT, then the day-3 probe of the
    re-read compacted table must equal the in-query gate's day-3
    partner counts and verdicts exactly (d_lsh_band_lifecycle,
    hash-oracled vs DuckDB) — compaction changes the file layout,
    never the rows."""
    from etl_data_peri_institute_spark.plans.dedup import _lbl_bands, _lbl_probe
    from etl_data_peri_institute_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    mod = F.col("doc_id") % 10
    store = ParquetStore(spark, str(tmp_path / "db"))
    store.overwrite(_lbl_bands(docs.filter(~mod.isin(7, 8))), "bands")
    day2 = {
        r["doc_id"]: (r["n_corpus_partners"], r["n_day2_partners"])
        for r in _lbl_probe(
            _lbl_bands(docs.filter(mod == 7)), store.read("bands")
        ).collect()
    }
    # force the small-file accretion a daily append loop produces (at
    # this SF a single insert lands one file; real daily inserts land
    # one-plus per day per shuffle partition)
    store.insert(_lbl_bands(docs.filter(mod == 7)).repartition(8), "bands")

    before = sinks._data_files(store.path("bands"))[0]
    assert before >= 9, before
    rows_before = store.read("bands").count()
    after = store.compact("bands", target_files=2)
    assert after < before, (before, after)
    assert store.read("bands").count() == rows_before

    day3 = {
        r["doc_id"]: (r["n_corpus_partners"], r["n_day2_partners"])
        for r in _lbl_probe(
            _lbl_bands(docs.filter(mod == 8)), store.read("bands")
        ).collect()
    }
    gate = _q("d_lsh_band_lifecycle")(spark, SF).collect()
    assert len(gate) > 0
    for r in gate:
        got = (day2 if r["day"] == "d2" else day3).get(r["doc_id"], (0, 0))
        assert got == (r["n_corpus_partners"], r["n_day2_partners"]), r


def test_band_table_compaction_after_takedown_preserves_delete(spark, tmp_path):
    """Compaction immediately AFTER a takedown (the natural maintenance
    order: delete_rows leaves an anti-join rewrite, then compact packs
    it) must neither resurrect retracted rows nor drop survivors: the
    re-probe of the compacted table equals the post-delete probe
    row-for-row, and the retracted docs stay gone."""
    from etl_data_peri_institute_spark.plans.dedup import _lbl_bands
    from etl_data_peri_institute_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    mod = F.col("doc_id") % 10
    store = ParquetStore(spark, str(tmp_path / "db"))
    store.overwrite(_lbl_bands(docs.filter(~mod.isin(7, 8))), "bands")
    store.insert(_lbl_bands(docs.filter(mod == 7)), "bands")
    retract = docs.filter(mod == 5).select(F.col("doc_id").alias("id"))
    removed = store.delete_rows("bands", "id", retract)
    assert removed > 0

    def snapshot():
        return {
            (r["id"], r["band"], r["sig"])
            for r in store.read("bands").collect()
        }

    pre = snapshot()
    store.compact("bands", target_files=1)
    assert snapshot() == pre
    assert not any(i % 10 == 5 for (i, _, _) in pre)


SF01 = "/root/testdata/sf0.01"


def _head_fp():
    from etl_data_peri_institute_spark.operators.dedup import head_fingerprint

    return head_fingerprint()


def test_exact_fingerprint_refcount_table_physical_twin(spark, tmp_path):
    """The PHYSICAL twin of d_exact_dedup_retraction — the one
    maintained-state family whose takedown had no persisted execution
    path (the LSH bands got theirs in round 10). The production
    structure named in the gate's docstring is built for real: a
    ParquetStore table ``fps(h, refcnt)`` maintained by refcount —
    day-1 corpus counts, day-2 increments (journaled upsert), takedown
    decrements with DELETE-at-zero (upsert survivors + delete_rows
    zeros) — and the day-3 probe of the RE-READ table must reproduce
    the hash-oracled gate's verdict for every day-3 doc. Runs at
    sf0.01 (per the r10 protocol note: head collisions are too sparse
    at sf0.001 — measured there: 6 fingerprints shared
    retracted∧retained must STAY, 44 retracted-only must go, ≥1
    compliance keep-flip).

    Crash half: a kill at the decrement upsert's swap boundary must
    leave the table recoverable to the exact PRE-takedown state (the
    embargo still live — a takedown never half-applies), and the
    re-run takedown lands the exact post state."""
    from etl_data_peri_institute_spark.sources.tables import load_table

    docs = load_table(spark, SF01, "documents")
    mod = F.col("doc_id") % 10
    store = ParquetStore(spark, str(tmp_path / "db"))

    def counts_of(df):
        return df.select(_head_fp().alias("h")).groupBy("h").agg(
            F.count("*").alias("refcnt")
        )

    # day 1: corpus fingerprints (retract-class m=5 docs included — the
    # takedown hasn't happened yet)
    store.overwrite(counts_of(docs.filter(~mod.isin(7, 8))), "fps")
    # day 2: append increments — read-modify-write through the journaled
    # upsert (colliding h rows replaced with summed refcnt, new h kept)
    d2 = counts_of(docs.filter(mod == 7))
    cur = store.read("fps")
    merged = (
        d2.alias("n")
        .join(cur.alias("c"), "h", "left")
        .select(
            "h",
            (F.col("n.refcnt") + F.coalesce(F.col("c.refcnt"), F.lit(0))).alias(
                "refcnt"
            ),
        )
    )
    store.upsert(merged, "fps", pk="h")
    n_live_before = store.read("fps").count()

    # takedown: decrement by the retracted slice's per-h counts
    rx = counts_of(docs.filter(mod == 5)).withColumnRenamed("refcnt", "dec")
    dec = (
        store.read("fps")
        .join(rx, "h")
        .select("h", (F.col("refcnt") - F.col("dec")).alias("refcnt"))
        .localCheckpoint(eager=True)  # pin BEFORE mutating the table
    )
    survivors = dec.filter(F.col("refcnt") > 0)
    zeros = dec.filter(F.col("refcnt") <= 0).select("h")
    n_surv, n_zero = survivors.count(), zeros.count()
    assert n_surv >= 1, "shared retracted∧retained fingerprints must exist"
    assert n_zero >= 1, "retracted-only fingerprints must exist"

    def hook(lbl):
        if lbl == "commit:backed_up":
            raise _Round11Crash(lbl)

    orig = sinks._CRASH_HOOK
    sinks._CRASH_HOOK = hook
    try:
        with pytest.raises(_Round11Crash):
            store.upsert(survivors, "fps", pk="h")
    finally:
        sinks._CRASH_HOOK = orig

    # recovery: pre-takedown state intact — full refcounts, nothing gone
    assert store.read("fps").count() == n_live_before

    # clean re-run of the whole takedown
    store.upsert(survivors, "fps", pk="h")
    removed = store.delete_rows("fps", "h", zeros)
    assert removed == n_zero

    # the shared fingerprints stayed, with exactly the retained share
    post = {r["h"]: r["refcnt"] for r in store.read("fps").collect()}
    for r in survivors.collect():
        assert post[r["h"]] == r["refcnt"], r["h"]

    # day-3 probe of the physical table == the hash-oracled gate verdict
    d3 = docs.filter(mod == 8).select("doc_id", _head_fp().alias("h"))
    live = {
        r["doc_id"]
        for r in d3.join(store.read("fps"), "h", "left_semi").collect()
    }
    gate = _q("d_exact_dedup_retraction")(spark, SF01).collect()
    assert len(gate) > 0
    flips = 0
    for r in gate:
        want = "drop" if r["doc_id"] in live else "keep"
        assert r["verdict"] == want, r
        if r["verdict"] == "keep" and r["n_retracted_matches"] > 0:
            flips += 1
    assert flips >= 1, "compliance keep-flip must be visible at sf0.01"


class _Round11Crash(BaseException):
    """Not an Exception: bypasses in-process rollback like a kill."""
