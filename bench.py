"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE SHORT JSON line (totals + interleaved A/B verdict only):
  {"metric": "comparable_set_total_time", "value": <sec over the FROZEN
   68-query COMPARABLE set — cross-round-diffable>, "all_queries_total":
   <old full-set definition>, "unit": "sec", "sf": ...,
   "n_queries": N, "detail_file": "BENCH_DETAIL.json",
   "ab_delta_pct": ..., "ab_head_total": ..., "ab_baseline_total": ...}

Per-query timings, worst runs, per-pass A/B totals and mover lists go
to BENCH_DETAIL.json (committed in-repo) — rounds 5-6 proved a long
line gets truncated by the driver's tail capture (parsed: null).

Each query is timed end-to-end (plan + execute + collect). A short warmup
query first so JVM/codegen startup isn't billed to the first entry.
"""

from __future__ import annotations

import json
import os
import sys
import time
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "w_topk_orders_per_customer",
    "a_cube_status_priority",
    "p_keep_last_dedup",
    "d_exact_dedup",
    "d_minhash_lsh_pairs",
    "t_quality_score",
    "e_knn_bruteforce",
    "e_lsh_buckets",
    "d_ngram_jaccard_pairs",
    "j_asof_backward",
    "st_tumbling_window",
    # round-2 additions
    "e_ivf_topk",
    "b_sessionize",
    "t_tfidf",
    # round-3 additions
    "b_temperature_mixture",
    "q2_min_cost_supplier",
    "d_incremental_dedup",
    # round-4 additions
    "j_fuzzy_join_blocked",
    "g_pagerank_suppliers",
    "t_inverted_index",
    # round-5 additions
    "e_sq_int8_topk",
    "ts_interpolate_linear",
    # round-4 (build round 4) additions
    "t_contamination_check",
    "j_band_join",
    "ts_time_bucket_rollup",
    "g_triangle_count",
    "a_ks_drift",
    "t_importance_weights",
    # second-wave additions (round-4 continuation)
    "g_supplier_similarity",
    "g_association_rules",
    "a_mannwhitney_u",
    "ts_cusum_changepoint",
    "e_nearest_centroid_eval",
    # round-5 addition (round-4 verdict item 5): the remaining worst
    # scale-probe entry not already in the set — b_sessionize,
    # ts_interpolate_linear and g_supplier_similarity were here already
    "j_salted_skew_join",
    # round-6 additions: the distributed-cumsum production variants are
    # now REGISTERED gate queries (plans/round6_ext.py) — promoted from
    # EXTRA so the A/B tracks them once the pin advances — and the new
    # span-dedup pair
    "b_token_budget_production",
    "a_pareto_abc_production",
    "b_rfm_production",
    "d_span_dedup_ranges",
    "d_span_dedup_apply",
    "b_source_token_budget_production",
    # round-6 continuation additions (plans/round6b_ext.py): the two
    # heaviest of the four new operators — segment dedup's corpus
    # explode + keep-first join, and quantile normalization's
    # rank-window + pooled-percentile path
    "d_segment_dedup_apply",
    "t_quality_quantile_normalize",
    # round-6 continuation batch 2 (plans/round6c_ext.py): the three
    # heaviest of the four new entries — the segment self-join overlap
    # matrix, the grouped-cumsum epoch schedule, and the 2-iteration
    # Lloyd fit (broadcast-join-per-iteration DAG)
    "d_source_overlap_matrix",
    "b_epoch_shuffle_production",
    "e_kmeans_fit",
    # round-6 continuation batch 3 (plans/round6d_ext.py): CDC apply is
    # the heavy entry (rolling-hash window + keep-first join + per-doc
    # reassembly); the card is the one-scan aggregate
    "d_cdc_dedup_apply",
    "p_corpus_card",
    # round-6 continuation batch 4 (plans/round6e_ext.py): the two
    # heaviest of the four new entries — the Bloom build+probe (corpus
    # bit_or + batch distinct + broadcast probe) and the BPE pair scan
    # (corpus explode -> vocabulary -> pair agg)
    "d_bloom_dedup_report",
    "t_bpe_pair_stats",
    # round-6 continuation batches 5-7: the four heaviest new entries —
    # iterative LPA over the co-supply graph, the d^2 covariance +
    # power-iteration fit, the 3-config LSH sweep over one shared
    # signature frame, and the shingle-join leakage audit
    "g_label_propagation",
    "e_pca_power_iteration",
    "d_minhash_band_sweep",
    "b_holdout_leakage_check",
    # round-6 continuation batches 8-9: the cascade funnel (exact +
    # shingle-join stages), the B x n bootstrap explode, and the
    # 3-config IVF probe sweep over one shared assignment pass
    "d_dedup_pipeline_funnel",
    "a_bootstrap_ci",
    "e_ivf_nprobe_sweep",
    # round-7 additions: the heaviest new entries — the bigram-explode
    # repetition statistic, the content-hash-window soft-dedup weights,
    # the two-Lloyd-step PQ fit + ADC search, and the distributed-rank
    # vocab twin (its window form t_vocab_coverage_curve predates it in
    # EXTRA-history; both now tracked)
    "t_repetition_ratio",
    "d_soft_dedup_weights",
    "e_pq_fitted_adc_topk",
    "t_vocab_coverage_curve_production",
    "e_ivf_pq_topk",
    "e_binary_hamming_topk",
    "e_compression_recall_matrix",
    # round-8 additions: the capacity-balanced IVF assignment (top-2
    # centroid pass + per-list capacity window + contribution explode)
    # and its recall/cost twin (shared exact-d2 frame, both variants)
    "e_ivf_balanced_assign",
    "e_ivf_balanced_recall",
    # the incremental near-dup probe (batch signatures only + band-table
    # join) and the per-key adaptive salted join (planner factors applied)
    "d_incremental_lsh_dedup",
    "j_planned_skew_join",
    "d_embedding_neardup_incremental",
    "d_embedding_neardup_incremental_pin",
    # round-8 second continuation: the recall/cost frontier (the full
    # matrix construction + cost legs — the heaviest new entry), the
    # incremental IVF assignment, and its staleness-recall twin (two
    # quantizer variants over one shared exact-d2 frame)
    "e_recall_cost_frontier",
    "e_ivf_incremental_assign",
    "e_ivf_staleness_recall",
    # round-9 additions: the two-day maintained-state lifecycle replays
    # (three LSH probes + a band-table union; three assignment passes +
    # the batch fold-in)
    "d_lsh_band_lifecycle",
    "d_lsh_band_retraction",
    "e_ivf_quantizer_lifecycle",
    # round-10 additions: the DELETE side of the quantizer (fold-in +
    # stats subtraction + two assignment passes) and the embedding band
    # table's two-day lifecycle (three banded-LSH passes + probes)
    "e_ivf_quantizer_retraction",
    "d_embedding_band_lifecycle",
    "d_embedding_band_retraction",
    "d_exact_dedup_retraction",
    # round-11 addition: the multi-epoch quantizer churn replay (4
    # chained maintenance epochs + 4 probe assignment passes)
    "e_ivf_quantizer_churn",
]

# Round-9 headline normalization (round-8 verdict item 4): the emitted
# ``value`` was sum-over-HEADLINE, so it moved whenever queries were
# ADDED (r7 96.2 s over 70 -> r8 178.3 s over 79 read as a 2x
# regression until the detail file was opened). The headline now sums
# a FROZEN comparable set — the 68 HEADLINE queries that already
# existed at the round-7 A/B pin (e393ab0) — whose definition is
# invariant to later additions and to runs_per_query (best-of-2 per
# query, as always). The full-set total ships alongside as
# ``all_queries_total`` for history. Do NOT append to this list when
# adding headline queries; it is frozen by definition.
COMPARABLE = [
    "q1_pricing_summary", "q3_top_revenue_orders", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q10_returned_items", "w_topk_orders_per_customer",
    "a_cube_status_priority", "p_keep_last_dedup", "d_exact_dedup",
    "d_minhash_lsh_pairs", "t_quality_score", "e_knn_bruteforce",
    "e_lsh_buckets", "d_ngram_jaccard_pairs", "j_asof_backward",
    "st_tumbling_window", "e_ivf_topk", "b_sessionize", "t_tfidf",
    "b_temperature_mixture", "q2_min_cost_supplier", "d_incremental_dedup",
    "j_fuzzy_join_blocked", "g_pagerank_suppliers", "t_inverted_index",
    "e_sq_int8_topk", "ts_interpolate_linear", "t_contamination_check",
    "j_band_join", "ts_time_bucket_rollup", "g_triangle_count", "a_ks_drift",
    "t_importance_weights", "g_supplier_similarity", "g_association_rules",
    "a_mannwhitney_u", "ts_cusum_changepoint", "e_nearest_centroid_eval",
    "j_salted_skew_join", "b_token_budget_production",
    "a_pareto_abc_production", "b_rfm_production", "d_span_dedup_ranges",
    "d_span_dedup_apply", "b_source_token_budget_production",
    "d_segment_dedup_apply", "t_quality_quantile_normalize",
    "d_source_overlap_matrix", "b_epoch_shuffle_production", "e_kmeans_fit",
    "d_cdc_dedup_apply", "p_corpus_card", "d_bloom_dedup_report",
    "t_bpe_pair_stats", "g_label_propagation", "e_pca_power_iteration",
    "d_minhash_band_sweep", "b_holdout_leakage_check",
    "d_dedup_pipeline_funnel", "a_bootstrap_ci", "e_ivf_nprobe_sweep",
    "t_repetition_ratio", "d_soft_dedup_weights", "e_pq_fitted_adc_topk",
    "t_vocab_coverage_curve_production", "e_ivf_pq_topk",
    "e_binary_hamming_topk", "e_compression_recall_matrix",
]

# Cross-round comparability (measured round 3, interleaved git-worktree
# A/B, 3 runs per side): the round-1 commit's own unchanged code now
# runs its shared-16 suite in 14.5-15.2 s vs the 10.455 s recorded in
# BENCH_r01 — the sandbox slowed ~40% between rounds, so BENCH totals
# are NOT comparable across rounds as absolute numbers. Same-session
# interleaved A/B (ab_* fields) is the valid comparison; single-run
# deltas swing ±7-10% with sandbox load (round-4 continuation measured
# +7.1% and -10.4% back-to-back on UNCHANGED shared code), so judge
# the ab_delta_pct SIGN only across >=2 interleaved passes — the
# per-pass totals ship in the JSON for exactly that.
# Kept SHORT in the emitted line: round 5's driver tail-capture
# truncated the (long) JSON mid-stream and recorded parsed:null.
VARIANCE_NOTE = (
    "cross-round totals not comparable (sandbox drift); judge "
    "ab_delta_pct sign across the interleaved ab_*_passes; a round-7 "
    "NULL A/B (HEAD vs HEAD) measured +7.8% before the untimed warmup "
    "pass landed — deltas inside a few percent are session noise"
)


def _embedding_neardup_prod(spark, sf_dir):
    """Engine defaults for embedding near-dup (tau=0.9, 8 bands x 16
    bits — the selective production regime). The gate query
    d_embedding_neardup pins cross-engine correctness at sf0.01 with
    deliberately coarse bands (nonempty oracle output); those coarse
    bands approach all-pairs at larger corpora, so the bench records
    the selective configuration that actually scales."""
    from etl_data_peri_institute_spark.operators.similarity import (
        embedding_neardup_pairs,
    )
    from etl_data_peri_institute_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(emb, dim=64)


def _minhash_lsh_pairs_xxh64(spark, sf_dir):
    """Engine fast path of d_minhash_lsh_pairs: xxhash64 MinHash (JVM
    64-bit longs) instead of the oracle-portable md5 hex strings. Same
    plan shape; the timing delta vs d_minhash_lsh_pairs is the hash cost."""
    from etl_data_peri_institute_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )
    from etl_data_peri_institute_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return lsh_candidate_pairs(
        minhash_signatures(word_shingles(docs, distinct=False), hash_fn="xxhash64"),
        bands=4,
        rows_per_band=2,
    )


# engine-only variants (no DuckDB oracle needed — each is benched against
# its oracle-checked twin to record the fast-path delta): xxh64 MinHash
# vs md5 and the selective embedding near-dup regime. The distributed-
# cumsum production paths graduated to registered gate queries
# (plans/round6_ext.py) and live in HEADLINE now. The EXTRA names
# fall back to catalog lookups when absent, so a catalog-registered
# headline entry never needs a shim here.
EXTRA = {
    "d_minhash_lsh_pairs_xxh64": _minhash_lsh_pairs_xxh64,
    "d_embedding_neardup_prod": _embedding_neardup_prod,
}


# Interleaved A/B: the standing drift-immune comparison (round-3 verdict
# ask). The raw totals above drift with the sandbox (~40% r1->r3); the
# number that carries meaning across rounds is HEAD vs a PINNED baseline
# commit measured alternately in the SAME Spark session/JVM. The pin is
# the previous round's final commit; bump each round.
_AB_DEFAULT_REF = "e393ab0"  # r7 final
AB_BASELINE_REF = os.environ.get("SPARK_GRAFT_AB_REF", _AB_DEFAULT_REF)
# per side; one untimed warmup then counterbalanced passes; best-of-
# passes per query. Raised 2 -> 3 in round 7 (the null A/B swung ±3.5%
# at 2 passes), 3 -> 5 in round 8: the r7 end-of-round driver reading
# (+9.66%, every head pass slower) contradicted the committed run
# (+1.27%) — more passes + a balanced order sequence + per-pass
# per-query logging make order effects visible instead of arguable.
AB_PASSES = 5
# ABBA counterbalancing ACROSS passes (not just within): pass i runs
# H-then-B when _PASS_ORDERS[i % 4] says so, giving the sequence
# HB BH BH HB HB BH ... — first-order AND second-order session drift
# (monotone slowdown, sawtooth GC) cancel between sides.
_PASS_ORDERS = ("HB", "BH", "BH", "HB")
# Queries whose OUTPUT changed since the pin: head and baseline compute
# DIFFERENT results, so their per-query delta is the cost of the added
# feature, not drift — listing them in ab_regressions misled two rounds
# of review (BENCH_DRIFT_r10.md: e_compression_recall_matrix's +~1 s is
# the 4th tier added in 7fbe770, bisected with tools/targeted_ab.py).
# They are EXCLUDED from ab_head_total/ab_baseline_total/ab_delta_pct,
# the per-pass totals, and the movers (so those are like-for-like;
# note ab_shared_queries drops accordingly vs r8/r9 artifacts, which
# still included them) — their raw per-pass times stay in ab_pass_log
# and their best-of times ship under ab_output_changed. The frozen
# comparable headline is unaffected (it times HEAD only).
# Each entry records the ref it was adjudicated against AND the commit
# that changed the query's output. Re-pinning _AB_DEFAULT_REF without
# revisiting the list trips the import-time assertion (ADVICE r10 — a
# stale entry would silently keep excluding a then-comparable query).
# Whether the entry is ACTIVE for the run's actual baseline is decided
# by ancestry, not equality: the query is comparable iff the baseline
# CONTAINS the output-changing commit (covers both the HEAD-vs-HEAD
# null recipe, where the entry must deactivate, and an env override to
# a ref OLDER than the change, where it must stay active).
_AB_OUTPUT_CHANGED_VS = {
    "e_compression_recall_matrix": (
        "e393ab0",  # adjudicated vs this pin (BENCH_DRIFT_r10.md)
        "7fbe770",  # the commit that changed the output (r8, ivf_pq tier)
        "ivf_pq 4th tier added in 7fbe770 (r8)",
    ),
}
for _name, (_ref, _chg, _note) in _AB_OUTPUT_CHANGED_VS.items():
    assert _ref == _AB_DEFAULT_REF, (
        f"AB baseline re-pinned to {_AB_DEFAULT_REF} but output-changed "
        f"entry {_name!r} was adjudicated vs {_ref}: re-verify whether "
        f"its output still differs from the new pin, then update its ref"
    )


def ab_output_changed_vs_baseline(head_root: str) -> dict[str, str]:
    """The entries ACTIVE against AB_BASELINE_REF: a query is excluded
    from the comparable totals/movers iff the commit that changed its
    output is NOT an ancestor of the baseline (i.e. the two sides
    really compute different results). An unknown/unresolvable commit
    keeps the exclusion — conservative: never pollute the comparable
    set with a maybe-different query."""
    import subprocess

    out: dict[str, str] = {}
    for name, (_ref, chg, note) in _AB_OUTPUT_CHANGED_VS.items():
        r = subprocess.run(
            ["git", "merge-base", "--is-ancestor", chg, AB_BASELINE_REF],
            cwd=head_root, capture_output=True,
        )
        if r.returncode != 0:
            out[name] = note
    return out


def _commit_of(root: str) -> str | None:
    """The commit checked out at ``root``; None outside a git checkout."""
    import subprocess

    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True)
    return r.stdout.strip() or None


def _purge_engine_modules() -> None:
    for mod in list(sys.modules):
        if mod.split(".")[0] == "etl_data_peri_institute_spark":
            del sys.modules[mod]


def _run_side(repo_root: str, spark, names: list[str], sf_dir: str) -> dict[str, float]:
    """Import the engine from ``repo_root`` (purging any other version)
    and time one pass of ``names`` in the shared Spark session."""
    _purge_engine_modules()
    sys.path.insert(0, repo_root)
    try:
        from etl_data_peri_institute_spark.plans import catalog

        catalog.load_all()
        out: dict[str, float] = {}
        for name in names:
            t0 = time.perf_counter()
            catalog.QUERIES[name].fn(spark, sf_dir).collect()
            out[name] = time.perf_counter() - t0
        return out
    finally:
        sys.path.remove(repo_root)
        _purge_engine_modules()


def ensure_baseline_worktree(head_root: str, wt: str, ref: str) -> bool:
    """Make ``wt`` a clean checkout of ``ref``, reusing a cached dir
    ONLY when its HEAD resolves to ``ref`` AND it has no local
    modifications (ADVICE r10: a stale or tampered leftover dir would
    silently benchmark the wrong baseline code). Anything else is
    recreated — including a leftover dir git no longer registers as a
    worktree (``worktree remove`` refuses those; rmtree then re-add).
    Shared by the headline A/B and tools/targeted_ab.py so the two
    instruments cannot diverge. Returns True when the dir was created
    (caller removes it in its finally block)."""
    import shutil
    import subprocess

    if os.path.isdir(os.path.join(wt, "etl_data_peri_institute_spark")):
        probe = subprocess.run(
            ["git", "-C", wt, "rev-parse", "HEAD"],
            capture_output=True, text=True,
        )
        want = subprocess.run(
            ["git", "rev-parse", ref],
            cwd=head_root, check=True, capture_output=True, text=True,
        )
        dirty = subprocess.run(
            ["git", "-C", wt, "status", "--porcelain"],
            capture_output=True, text=True,
        )
        if (
            probe.returncode == 0
            and probe.stdout.strip() == want.stdout.strip()
            and dirty.returncode == 0
            and not dirty.stdout.strip()
        ):
            return False
    subprocess.run(
        ["git", "worktree", "remove", "--force", wt],
        cwd=head_root, check=False, capture_output=True,
    )
    if os.path.isdir(wt):  # unregistered leftover: remove refuses it
        shutil.rmtree(wt, ignore_errors=True)
    subprocess.run(
        ["git", "worktree", "add", "--force", "--detach", wt, ref],
        cwd=head_root, check=True, capture_output=True,
    )
    return True


def _ab_compare(spark, sf_dir: str, head_root: str) -> dict:
    """HEAD vs AB_BASELINE_REF, interleaved passes in one session.
    Returns {} (with a reason) when the baseline worktree can't be set
    up — the raw bench still prints."""
    import subprocess
    import tempfile

    wt = os.path.join(tempfile.gettempdir(), f"bench_ab_{AB_BASELINE_REF}")
    output_changed = ab_output_changed_vs_baseline(head_root)
    created = False
    try:
        created = ensure_baseline_worktree(head_root, wt, AB_BASELINE_REF)
        # shared set: queries registered on BOTH sides
        _purge_engine_modules()
        sys.path.insert(0, wt)
        from etl_data_peri_institute_spark.plans import catalog as bcat

        bcat.load_all()
        base_names = set(bcat.QUERIES)
        sys.path.remove(wt)
        _purge_engine_modules()
        shared = [n for n in HEADLINE if n in base_names]

        head_best: dict[str, float] = {}
        base_best: dict[str, float] = {}
        head_passes: list[float] = []
        base_passes: list[float] = []
        pass_log: list[dict] = []
        # Untimed warmup pass: the FIRST execution of each shared plan
        # pays its whole-stage-codegen compile; whichever side runs a
        # query first eats that one-time cost. A round-7 NULL A/B
        # (HEAD vs HEAD, identical code both sides) measured +7.8%
        # "regression" from exactly this + session drift — the noise
        # floor, not a signal. Warm everything once, untimed, so both
        # timed sides run fully hot.
        _run_side(head_root, spark, shared, sf_dir)
        # Counterbalanced ABBA order cancels first-order session drift
        # (GC/page-cache trends) on top of the warmup.
        sides = {
            "H": (head_root, head_best, head_passes),
            "B": (wt, base_best, base_passes),
        }
        for i in range(AB_PASSES):
            order = _PASS_ORDERS[i % len(_PASS_ORDERS)]
            for key in order:
                root, best, passes = sides[key]
                times = _run_side(root, spark, shared, sf_dir)
                # pass totals match the headline definition: comparable
                # (not output-changed) names only; per-query raw times
                # for EVERYTHING remain in the pass log below
                passes.append(
                    round(
                        sum(
                            t
                            for n, t in times.items()
                            if n not in output_changed
                        ),
                        3,
                    )
                )
                pass_log.append(
                    {
                        "side": "head" if key == "H" else "baseline",
                        "pass": i,
                        "order": order,
                        "total": round(sum(times.values()), 3),
                        "queries": {n: round(dt, 3) for n, dt in times.items()},
                    }
                )
                for n, dt in times.items():
                    best[n] = min(best.get(n, float("inf")), dt)
        # output-changed-since-pin queries are NOT like-for-like (head
        # and baseline compute different results); keep their raw times
        # visible but out of the totals and movers — see
        # _AB_OUTPUT_CHANGED_VS / ab_output_changed_vs_baseline
        comparable_names = [n for n in head_best if n not in output_changed]
        head_total = sum(head_best[n] for n in comparable_names)
        base_total = sum(base_best[n] for n in comparable_names)
        # per-query movers (best-of-passes deltas), worst 5 each way:
        # the drill-down for "which query moved" that the totals hide
        deltas = sorted(
            (
                (n, round(head_best[n] - base_best[n], 3))
                for n in comparable_names
            ),
            key=lambda kv: kv[1],
        )
        return {
            "ab_baseline_ref": AB_BASELINE_REF,
            "ab_shared_queries": len(comparable_names),
            "ab_head_total": round(head_total, 3),
            "ab_baseline_total": round(base_total, 3),
            "ab_delta_pct": round((head_total - base_total) / base_total * 100, 2),
            "ab_output_changed": {
                n: {
                    "head_best": round(head_best[n], 3),
                    "baseline_best": round(base_best[n], 3),
                    "note": output_changed[n],
                }
                for n in head_best
                if n in output_changed
            },
            # per-pass raw totals, interleaved in time (H,B,H,B,...): the
            # spread across passes IS the run's own noise estimate
            "ab_head_passes": head_passes,
            "ab_baseline_passes": base_passes,
            "ab_regressions": dict(deltas[-5:]),
            "ab_improvements": dict(deltas[:5]),
            # per-pass per-query raw times in execution order: the
            # round-8 adjudication instrument — a session-wide drag
            # shows as thin uniform deltas tracking wall-clock order,
            # a plan regression shows as one query slow in EVERY pass
            "ab_pass_log": pass_log,
        }
    except Exception as exc:  # noqa: BLE001 — A/B is best-effort telemetry
        return {"ab_delta_pct": None, "ab_error": f"{type(exc).__name__}: {exc}"[:200]}
    finally:
        if created:
            subprocess.run(
                ["git", "worktree", "remove", "--force", wt],
                cwd=head_root, check=False, capture_output=True,
            )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    head_root = os.path.dirname(os.path.abspath(__file__))

    from etl_data_peri_institute_spark.plans import catalog
    from etl_data_peri_institute_spark.session import default_parallelism, get_spark

    catalog.load_all()
    spark = get_spark("bench")

    # warmup: JVM + parquet footer reads, not billed to any query
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    # warmup: the Python/Arrow worker pool (r11). The FIRST Arrow-
    # boundary stage in a session forks one Python worker per core and
    # imports numpy/pyarrow in each — measured 7-30 s on local[32],
    # all billed to whichever query crosses the boundary first
    # (b_token_budget_production's worst run recorded 41.8 s vs a 2 s
    # steady state in BENCH_r10's session). That is a session cost of
    # exactly the same kind as JVM/codegen startup, which this warmup
    # section already excludes; afterwards workers are reused
    # (spark.python.worker.reuse default). Timing methodology is
    # otherwise unchanged.
    def _warm_arrow(batches):
        yield from batches

    (
        spark.range(10_000, numPartitions=default_parallelism())
        .mapInArrow(_warm_arrow, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )

    # best-of-2: the first run pays one-time codegen/JIT compilation (a
    # constant that vanishes at scale); steady-state time is the signal.
    # The worst run is kept too so the artifact records its own
    # run-to-run spread.
    timings: dict[str, float] = {}
    worsts: dict[str, float] = {}
    # SPARK_GRAFT_AB_ONLY=1 skips the headline timing loop — used for
    # A/B methodology validation runs (e.g. the null A/B) where only
    # the interleaved comparison matters.
    names = [] if os.environ.get("SPARK_GRAFT_AB_ONLY") else HEADLINE + list(EXTRA)
    for name in names:
        fn = EXTRA.get(name) or catalog.QUERIES[name].fn
        best, worst = float("inf"), 0.0
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            dt = time.perf_counter() - t0
            best, worst = min(best, dt), max(worst, dt)
        timings[name] = round(best, 3)
        worsts[name] = round(worst, 3)

    ab = {} if os.environ.get("SPARK_GRAFT_NO_AB") else _ab_compare(spark, sf_dir, head_root)

    total = round(sum(timings.values()), 3)
    comparable_total = round(
        sum(timings[n] for n in COMPARABLE if n in timings), 3
    )
    # Full telemetry goes to a SEPARATE committed file; the emitted line
    # stays SHORT. Rounds 5-6 proved the driver's tail capture truncates
    # a ~160-entry JSON line mid-stream and records parsed:null — the
    # artifact line must fit a terminal line, the detail ships in-repo.
    detail_payload = {
        # which code produced these figures, and when
        "commit": _commit_of(head_root),
        "utc": datetime.now(timezone.utc).isoformat(timespec="seconds"),
        "metric": "comparable_set_total_time",
        "value": comparable_total,
        "n_comparable": sum(1 for n in COMPARABLE if n in timings),
        "all_queries_total": total,
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": default_parallelism(),
        "runs_per_query": 2,
        "worst_run_total": round(sum(worsts.values()), 3),
        "variance_note": VARIANCE_NOTE,
        "queries": timings,
        "worst_runs": worsts,
        **ab,
    }
    detail_file = os.path.join(head_root, "BENCH_DETAIL.json")
    with open(detail_file, "w") as fh:
        json.dump(detail_payload, fh, indent=1)
    # ALSO keyed by core count (r11 verdict item 2): the driver runs the
    # bench at two $SPARK_GRAFT_CPUS values in one session, and the
    # second run used to clobber the first's per-query detail — the
    # per-query core-scaling ratios were unrecoverable. Addition only;
    # BENCH_DETAIL.json keeps its meaning (the most recent run).
    with open(
        os.path.join(head_root, f"BENCH_DETAIL_c{default_parallelism()}.json"), "w"
    ) as fh:
        json.dump(detail_payload, fh, indent=1)
    short_ab = {
        k: ab[k]
        for k in (
            "ab_delta_pct",
            "ab_head_total",
            "ab_baseline_total",
            "ab_baseline_ref",
            "ab_shared_queries",
            "ab_error",
        )
        if k in ab
    }
    print(
        json.dumps(
            {
                # value = frozen 68-query comparable set (see COMPARABLE):
                # invariant to later query additions, so BENCH_r{N}
                # headlines diff across rounds; the full-set total keeps
                # the old definition for history.
                "metric": "comparable_set_total_time",
                "value": comparable_total,
                "n_comparable": sum(1 for n in COMPARABLE if n in timings),
                "all_queries_total": total,
                "unit": "sec",
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "n_queries": len(timings),
                "detail_file": "BENCH_DETAIL.json",
                **short_ab,
            }
        )
    )


if __name__ == "__main__":
    main()
