"""Round-10 gate invariants: the DELETE side of the quantizer, the
embedding band table's lifecycle, and the PHYSICAL retraction twin.

The hash oracles pin cross-engine value equality; these tests pin the
properties the round-10 gates exist to prove — the retraction/append
transitions are OBSERVABLE (not vacuously zero), the sufficient-
statistics algebra is exact where IEEE allows exactness, updates CHAIN
across days, and the persisted-artifact paths (bucketed parquet append,
ParquetStore journaled delete) produce the same verdicts as the
in-query semantic pins, including across a crash at the swap boundary.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_data_peri_institute_spark import sinks
from etl_data_peri_institute_spark.plans.catalog import QUERIES, load_all
from etl_data_peri_institute_spark.sinks import ParquetStore
from etl_data_peri_institute_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"

load_all()


def _q(name):
    return QUERIES[name].fn


def test_quantizer_retraction_moved_is_nonvacuous(spark):
    """Honoring the takedown must CHANGE at least one day-3 assignment
    at this SF (a zero moved column would make the retraction
    unobservable in the serving path); every day-3 vector appears
    exactly once; and each pre-retraction list's retracted-member count
    matches an independent recount of the retracted slice's read-back
    assignments."""
    from etl_data_peri_institute_spark.operators.similarity import (
        centroid_pos_stats,
        top_centroids,
    )

    rows = _q("e_ivf_quantizer_retraction")(spark, SF).collect()
    emb = load_table(spark, SF, "embeddings")
    mod = F.col("vec_id") % 10
    want = {r["vec_id"] for r in emb.filter(mod == 8).collect()}
    assert {r["vec_id"] for r in rows} == want and len(rows) == len(want)
    assert sum(r["moved"] for r in rows) >= 1

    cstats = centroid_pos_stats(emb.filter(~mod.isin(7, 8)))
    cents1 = cstats.select(
        "c_label", "pos", (F.col("csum") / F.col("cnt")).alias("cval")
    )
    a2 = top_centroids(emb.filter(mod == 7), cents1, n=1)
    rems = {
        r["c_label"]: r["n"]
        for r in a2.filter(F.col("id") % 20 == 7)
        .groupBy("c_label")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for r in rows:
        assert r["n_retracted_from_full"] == rems.get(r["list_full"], 0), r
        assert r["moved"] == int(r["list_full"] != r["list_post"]), r


def test_centroid_stats_retract_inverts_update(spark):
    """Retracting EXACTLY the batch that was folded in restores the
    persisted statistics: counts come back bit-exact (integer algebra),
    sums within float re-association of the original ((csum + b) - b
    is exact in IEEE when b is the identical double — and it is: the
    retract side recomputes the same per-(label,pos) partial from the
    same rows). Untouched lists are bit-identical through the
    round-trip."""
    from etl_data_peri_institute_spark.operators.similarity import (
        centroid_pos_stats,
        centroid_stats_retract,
        centroid_stats_update,
        top_centroids,
    )

    emb = load_table(spark, SF, "embeddings")
    mod = F.col("vec_id") % 10
    corpus, batch = emb.filter(~mod.isin(7, 8)), emb.filter(mod == 7)
    cstats = centroid_pos_stats(corpus)
    cents1 = cstats.select(
        "c_label", "pos", (F.col("csum") / F.col("cnt")).alias("cval")
    )
    assign = top_centroids(batch, cents1, n=1).select("id", "c_label")
    s2 = centroid_stats_update(cstats, batch, assign)
    s3 = centroid_stats_retract(s2, batch, assign)

    before = {(r["c_label"], r["pos"]): (r["csum"], r["cnt"]) for r in cstats.collect()}
    after = {(r["c_label"], r["pos"]): (r["csum"], r["cnt"]) for r in s3.collect()}
    assert set(before) == set(after)
    touched = {r["c_label"] for r in assign.collect()}
    assert touched  # the round-trip must exercise real folds
    for k, (csum_b, cnt_b) in before.items():
        csum_a, cnt_a = after[k]
        assert cnt_a == cnt_b, k  # counts: exact integer algebra
        if k[0] in touched:
            # (csum + bsum) - rsum with bsum == rsum up to the partial's
            # own recomputation; both sides aggregate the same rows, so
            # the difference is at most a few ulps of the fold size
            assert csum_a == pytest.approx(csum_b, rel=1e-9, abs=1e-9), k
        else:
            assert csum_a == csum_b, k  # untouched: bit-identical


def test_centroid_stats_retract_drops_emptied_lists(spark):
    """A list whose LAST member is retracted must disappear from the
    statistics (cnt hits 0 → row dropped) — an emptied IVF list has no
    centroid, exactly as a fresh rebuild over the remaining corpus
    would produce; keeping a 0/0 row would poison every later assign
    with NaN centroids."""
    from etl_data_peri_institute_spark.operators.similarity import (
        centroid_pos_stats,
        centroid_stats_retract,
    )

    emb = load_table(spark, SF, "embeddings").limit(20)
    # quarantine a sacrificial label: vec_id % 2 == 0 rows form label
    # 'solo', the rest keep 'bulk' — retracting the solo slice empties
    # exactly one list
    labeled = emb.select(
        "vec_id",
        "embedding",
        F.when(F.col("vec_id") % 2 == 0, F.lit("solo"))
        .otherwise(F.lit("bulk"))
        .alias("label"),
    )
    stats = centroid_pos_stats(labeled, label_col="label")
    solo = labeled.filter(F.col("label") == "solo")
    ra = solo.select(F.col("vec_id").alias("id"), F.col("label").alias("c_label"))
    out = centroid_stats_retract(stats, solo, ra)
    labels_left = {r["c_label"] for r in out.select("c_label").distinct().collect()}
    assert labels_left == {"bulk"}
    assert out.filter(F.col("cnt") <= 0).count() == 0


def test_centroid_stats_update_chains_across_days(spark):
    """The ADVICE contract: centroid_stats_update's output is the next
    day's input. Folding day A then day B through two chained updates
    must equal folding A∪B in one update — counts exactly, sums to
    float re-association — so a persisted quantizer can absorb daily
    batches forever without a corpus recompute."""
    from etl_data_peri_institute_spark.operators.similarity import (
        centroid_pos_stats,
        centroid_stats_update,
        top_centroids,
    )

    emb = load_table(spark, SF, "embeddings")
    mod = F.col("vec_id") % 10
    corpus = emb.filter(~mod.isin(7, 8))
    day_a, day_b = emb.filter(mod == 7), emb.filter(mod == 8)
    cstats = centroid_pos_stats(corpus)
    cents1 = cstats.select(
        "c_label", "pos", (F.col("csum") / F.col("cnt")).alias("cval")
    )
    # both days assigned against the SAME quantizer so the two paths
    # fold identical (id, label) pairs — isolating the chaining algebra
    aa = top_centroids(day_a, cents1, n=1).select("id", "c_label")
    ab = top_centroids(day_b, cents1, n=1).select("id", "c_label")

    chained = centroid_stats_update(
        centroid_stats_update(cstats, day_a, aa), day_b, ab
    )
    combined = centroid_stats_update(
        cstats, day_a.unionByName(day_b), aa.unionByName(ab)
    )
    got = {(r["c_label"], r["pos"]): (r["csum"], r["cnt"]) for r in chained.collect()}
    want = {
        (r["c_label"], r["pos"]): (r["csum"], r["cnt"]) for r in combined.collect()
    }
    assert set(got) == set(want)
    for k, (csum_w, cnt_w) in want.items():
        csum_g, cnt_g = got[k]
        assert cnt_g == cnt_w, k
        assert csum_g == pytest.approx(csum_w, rel=1e-12), k


def test_embedding_band_lifecycle_invariants(spark):
    """The embedding mirror of the text lifecycle pins: day-2 rows probe
    the PRE-append state (day-2 partners impossible); day-3 rows cover
    exactly the vec_id % 10 = 8 slice; verdicts are consistent with the
    partner counts; and ≥1 day-3 vector is dropped ONLY because the
    day-2 append is live (2 flips measured at this SF — the 4x12
    banding was chosen for exactly this observability)."""
    rows = _q("d_embedding_band_lifecycle")(spark, SF).collect()
    d2 = [r for r in rows if r["day"] == "d2"]
    d3 = [r for r in rows if r["day"] == "d3"]
    assert all(r["n_day2_partners"] == 0 for r in d2)
    emb = load_table(spark, SF, "embeddings")
    want_d3 = {
        r["vec_id"] for r in emb.filter(F.col("vec_id") % 10 == 8).collect()
    }
    assert {r["vec_id"] for r in d3} == want_d3
    for r in rows:
        total = r["n_corpus_partners"] + r["n_day2_partners"]
        assert r["verdict"] == ("drop" if total > 0 else "keep"), r
    assert any(
        r["n_day2_partners"] > 0 and r["n_corpus_partners"] == 0 for r in d3
    ), "append must flip at least one day-3 verdict at this SF"


def test_embedding_band_table_two_day_lifecycle_persisted(spark, tmp_path):
    """The embedding lifecycle through the PERSISTED artifact — write
    the corpus band table day 1 (bucketed parquet), probe day 2 from
    the TABLE, append day 2's bands with mode('append'), probe day 3
    from the RE-READ table — every partner count must equal the
    in-query pin (d_embedding_band_lifecycle, hash-oracled vs DuckDB),
    so the artifact path and the semantics cannot drift apart."""
    from etl_data_peri_institute_spark.plans.dedup import _ebl_bands_of, _ebl_probe
    from etl_data_peri_institute_spark.sources.formats import write_bucketed

    emb = load_table(spark, SF, "embeddings")
    mod = F.col("vec_id") % 10
    write_bucketed(
        _ebl_bands_of(emb.filter(~mod.isin(7, 8))),
        "b_emb_lifecycle_bands",
        str(tmp_path / "eb"),
        "bucket",
        4,
    )
    try:
        d2_bands = _ebl_bands_of(emb.filter(mod == 7))
        day2 = {
            r["vec_id"]: (r["n_corpus_partners"], r["n_day2_partners"])
            for r in _ebl_probe(
                d2_bands, spark.table("b_emb_lifecycle_bands")
            ).collect()
        }
        (
            d2_bands.write.mode("append")
            .format("parquet")
            .bucketBy(4, "bucket")
            .sortBy("bucket")
            .option("path", str(tmp_path / "eb"))
            .saveAsTable("b_emb_lifecycle_bands")
        )
        day3 = {
            r["vec_id"]: (r["n_corpus_partners"], r["n_day2_partners"])
            for r in _ebl_probe(
                _ebl_bands_of(emb.filter(mod == 8)),
                spark.table("b_emb_lifecycle_bands"),
            ).collect()
        }
        gate = _q("d_embedding_band_lifecycle")(spark, SF).collect()
        for r in gate:
            got = (day2 if r["day"] == "d2" else day3).get(r["vec_id"], (0, 0))
            assert got == (r["n_corpus_partners"], r["n_day2_partners"]), r
    finally:
        spark.sql("DROP TABLE IF EXISTS b_emb_lifecycle_bands")


class _SimulatedCrash(BaseException):
    """Not an Exception: must bypass in-process rollback like a kill."""


def test_lsh_band_retraction_physical_delete(spark, tmp_path, monkeypatch):
    """The PHYSICAL twin of d_lsh_band_retraction (round-9 verdict item
    5): the takedown actually DELETES the retracted docs' rows from a
    ParquetStore band table (delete_rows — anti-join rewrite behind the
    journaled backup-rename swap), and the day-3 probe of the RE-READ
    table reproduces the gate's retained/day-2 counts and verdicts —
    the gate pins the semantics in-query; this pins that the promised
    physical rewrite (plans/dedup.py d_lsh_band_retraction docstring)
    produces them too.

    Crash half: a kill AT the delete's swap boundary (BaseException
    from the crash hook, skipping in-process rollback like a real kill)
    must leave the table recoverable to the exact PRE-delete state —
    retracted docs still served, because the takedown never committed —
    and a RE-RUN delete must then land the exact post-delete state."""
    from etl_data_peri_institute_spark.plans.dedup import _lbl_bands, _lbl_probe

    docs = load_table(spark, SF, "documents")
    mod = F.col("doc_id") % 10
    store = ParquetStore(spark, str(tmp_path / "db"))

    # day 1: corpus band table (incl. the to-be-retracted % 10 = 5 docs)
    store.overwrite(_lbl_bands(docs.filter(~mod.isin(7, 8))), "bands")
    # day 2: append the day's batch bands
    store.insert(_lbl_bands(docs.filter(mod == 7)), "bands")
    retract_ids = docs.filter(mod == 5).select(F.col("doc_id").alias("id"))
    n_before = store.read("bands").count()

    def day3_counts():
        pm = F.col("partner_id") % 10
        state = store.read("bands")
        probed = (
            _lbl_bands(docs.filter(mod == 8))
            .select(F.col("id").alias("doc_id"), "band", "sig")
            .join(
                state.select(F.col("id").alias("partner_id"), "band", "sig"),
                ["band", "sig"],
            )
            .groupBy("doc_id")
            .agg(
                F.countDistinct(F.when(~pm.isin(5, 7), F.col("partner_id"))).alias(
                    "nr"
                ),
                F.countDistinct(F.when(pm == 7, F.col("partner_id"))).alias("nd"),
                F.countDistinct(F.when(pm == 5, F.col("partner_id"))).alias("nx"),
            )
        )
        return {r["doc_id"]: (r["nr"], r["nd"], r["nx"]) for r in probed.collect()}

    # kill at the commit's backed-up boundary: journal written, table
    # renamed aside, replacement NOT yet in place — the worst spot
    def hook(lbl):
        if lbl == "commit:backed_up":
            raise _SimulatedCrash(lbl)

    monkeypatch.setattr(sinks, "_CRASH_HOOK", hook)
    try:
        with pytest.raises(_SimulatedCrash):
            store.delete_rows("bands", "id", retract_ids)
    finally:
        monkeypatch.setattr(sinks, "_CRASH_HOOK", None)

    # recovery (on next access) must restore the PRE-delete table: the
    # takedown never committed, so retracted docs are still partners
    assert store.read("bands").count() == n_before
    pre = day3_counts()
    assert any(v[2] > 0 for v in pre.values()), (
        "retracted docs must still be served before the delete commits"
    )

    # re-run the takedown cleanly; now the physical state must match the
    # gate's semantic pin exactly
    removed = store.delete_rows("bands", "id", retract_ids)
    assert removed > 0
    post = day3_counts()
    assert all(v[2] == 0 for v in post.values()), "retracted rows physically gone"
    gate = {r["doc_id"]: r for r in _q("d_lsh_band_retraction")(spark, SF).collect()}
    for doc_id, r in gate.items():
        nr, nd, _nx = post.get(doc_id, (0, 0, 0))
        assert (nr, nd) == (r["n_retained_partners"], r["n_day2_partners"]), doc_id
        verdict = "drop" if nr + nd > 0 else "keep"
        assert verdict == r["verdict"], doc_id
    # and the retraction verdict-flip doc is now a keep in PHYSICAL state
    assert any(
        r["n_retracted_partners"] > 0
        and r["verdict"] == "keep"
        and post.get(doc_id, (0, 0, 0))[:2] == (0, 0)
        for doc_id, r in gate.items()
    )


def test_embedding_band_retraction_invariants(spark):
    """The embedding takedown gate: verdicts must ignore retracted
    partners; the retraction is observable (≥1 nonzero
    n_retracted_partners at this SF); verdict consistency per row; and
    cross-gate consistency — the lifecycle gate's day-3 corpus partners
    split exactly into the retraction gate's retained + retracted (same
    state, different classification), with identical day-2 counts."""
    rows = _q("d_embedding_band_retraction")(spark, SF).collect()
    assert any(r["n_retracted_partners"] > 0 for r in rows)
    for r in rows:
        total = r["n_retained_partners"] + r["n_day2_partners"]
        assert r["verdict"] == ("drop" if total > 0 else "keep"), r
    lc = {
        r["vec_id"]: r
        for r in _q("d_embedding_band_lifecycle")(spark, SF).collect()
        if r["day"] == "d3"
    }
    for r in rows:
        assert (
            lc[r["vec_id"]]["n_corpus_partners"]
            == r["n_retained_partners"] + r["n_retracted_partners"]
        ), r
        assert lc[r["vec_id"]]["n_day2_partners"] == r["n_day2_partners"], r


def test_quantizer_persisted_artifact_lifecycle(spark, tmp_path):
    """The quantizer maintenance chain through the PERSISTED artifact —
    sufficient statistics written day 1 (ParquetStore table with an
    epoch meta marker), READ BACK to assign + fold day 2, overwritten,
    read back to retract, overwritten, and day 3 served from the final
    re-read table. Day-3 assignments must equal the in-query gate's
    (e_ivf_quantizer_retraction list_post) exactly: parquet round-trips
    doubles bit-exactly and the stats algebra is the same, so the
    artifact path and the semantic pin cannot diverge. This is the
    quantizer's analogue of the band-table persisted twins (the
    'MAINTAINED artifact' framing, executed through the store)."""
    from etl_data_peri_institute_spark.operators.similarity import (
        centroid_pos_stats,
        centroid_stats_retract,
        centroid_stats_update,
        top_centroids,
    )

    emb = load_table(spark, SF, "embeddings")
    mod = F.col("vec_id") % 10
    corpus, b2, b3 = (
        emb.filter(~mod.isin(7, 8)),
        emb.filter(mod == 7),
        emb.filter(mod == 8),
    )
    store = ParquetStore(spark, str(tmp_path / "db"))

    def cents(stats):
        return stats.select(
            "c_label", "pos", (F.col("csum") / F.col("cnt")).alias("cval")
        )

    # day 1: build + persist the quantizer state
    store.overwrite(centroid_pos_stats(corpus), "quantizer", {"_EPOCH": "1"})
    # day 2: read back, assign, PERSIST the assignments (the production
    # discipline — the retraction reads them back later; keeping the
    # lazy a2 plan alive across the quantizer overwrite would also
    # reference the replaced epoch-1 files), fold in, persist
    s1 = store.read("quantizer")
    a2 = top_centroids(b2, cents(s1), n=1).select("id", "c_label")
    store.overwrite(a2, "assignments")
    a2 = store.read("assignments")
    store.overwrite(centroid_stats_update(s1, b2, a2), "quantizer", {"_EPOCH": "2"})
    # takedown: read back stats AND assignments, subtract, persist
    s2 = store.read("quantizer")
    a2 = store.read("assignments")
    retracted = b2.filter(F.col("vec_id") % 20 == 7)
    ra = a2.join(retracted.select(F.col("vec_id").alias("id")), "id").select(
        "id", "c_label"
    )
    store.overwrite(
        centroid_stats_retract(s2, retracted, ra), "quantizer", {"_EPOCH": "3"}
    )
    assert store.read_meta("quantizer", "_EPOCH") == "3"
    # day 3: serve from the final artifact
    served = {
        r["id"]: r["c_label"]
        for r in top_centroids(b3, cents(store.read("quantizer")), n=1)
        .select("id", "c_label")
        .collect()
    }
    gate = _q("e_ivf_quantizer_retraction")(spark, SF).collect()
    assert len(gate) == len(served)
    for r in gate:
        assert served[r["vec_id"]] == r["list_post"], r


def test_exact_dedup_retraction_invariants(spark):
    """The exact-tier takedown gate, pinned AT sf0.01 (head-fingerprint
    collisions across the day-3/retracted slices don't exist at
    sf0.001 — the hash oracle still covers that SF; this pins the
    semantics where they are observable): the retraction is visible
    (≥1 nonzero n_retracted_matches), ≥1 day-3 doc is a 'keep' PURELY
    because its only exact matches were retracted (the hard-block
    compliance flip), verdicts are consistent with live counts, and
    the row set covers exactly the % 10 = 8 slice."""
    sf = "/root/testdata/sf0.01"
    rows = _q("d_exact_dedup_retraction")(spark, sf).collect()
    docs = load_table(spark, sf, "documents")
    want = {r["doc_id"] for r in docs.filter(F.col("doc_id") % 10 == 8).collect()}
    assert {r["doc_id"] for r in rows} == want and len(rows) == len(want)
    assert any(r["n_retracted_matches"] > 0 for r in rows)
    assert any(
        r["n_retracted_matches"] > 0
        and r["n_retained_matches"] == 0
        and r["n_day2_matches"] == 0
        and r["verdict"] == "keep"
        for r in rows
    ), "takedown must flip at least one exact-tier verdict to keep"
    for r in rows:
        total = r["n_retained_matches"] + r["n_day2_matches"]
        assert r["verdict"] == ("drop" if total > 0 else "keep"), r
