"""Paired-SESSION A/B for Spark conf knobs the same-session instrument
cannot isolate (r11 parked items: spark.sql.join.preferSortMergeJoin,
zstd shuffle compression — both fixed at session start).

Protocol (r11 'Examined' section / r12 verdict item 7): one fresh
Spark session per (knob setting, ordering slot), ABBA across sessions
so monotone machine drift cancels at the session level:

    slot 0: OFF   slot 1: ON   slot 2: ON   slot 3: OFF   (x repeats)

Each session runs the query list twice and keeps the best-of-2 per
query (the bench's own convention); the per-side statistic is the
median across that side's sessions of the per-session totals. Sessions
are separate OS processes (spawned via this script's --child mode) so
no JVM state leaks between settings. A child writes its per-query
times as JSON to the file named by ``--out``, so nothing Spark or a
query prints to stdout can be taken for the result.

    python tools/paired_session_ab.py --knob preferSortMergeJoin
    python tools/paired_session_ab.py --knob zstdShuffle [--repeats 2]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

KNOBS = {
    # candidate -> (conf dict when ON; OFF is session default)
    "preferSortMergeJoin": {"spark.sql.join.preferSortMergeJoin": "false"},
    "zstdShuffle": {"spark.io.compression.codec": "zstd"},
}

# Shuffle/join-heavy headline subset: big enough to move if the knob
# does anything, small enough that 4-8 sessions stay affordable.
QUERIES = [
    "d_minhash_band_sweep",
    "d_ngram_jaccard_pairs",
    "g_triangle_count",
    "g_label_propagation",
    "g_supplier_similarity",
    "t_tfidf",
    "e_recall_cost_frontier",
    "e_ivf_nprobe_sweep",
    "d_dedup_pipeline_funnel",
    "b_holdout_leakage_check",
    "q2_min_cost_supplier",
    "j_salted_skew_join",
]


def run_child(knob: str, on: bool, sf_dir: str) -> dict[str, float]:
    with tempfile.TemporaryDirectory(prefix="paired-ab-") as tmp:
        out = os.path.join(tmp, "times.json")
        subprocess.run(
            [sys.executable, __file__, "--child", "--knob", knob,
             "--setting", "on" if on else "off", "--sf", sf_dir, "--out", out],
            capture_output=True, check=True,
            cwd=str(Path(__file__).resolve().parent.parent),
        )
        with open(out) as fh:
            return json.load(fh)


def child_main(knob: str, on: bool, sf_dir: str, out: str) -> None:
    from etl_data_peri_institute_spark.plans import catalog
    from etl_data_peri_institute_spark.session import get_spark

    catalog.load_all()
    extra = KNOBS[knob] if on else {}
    spark = get_spark(f"paired-ab-{knob}-{'on' if on else 'off'}",
                      extra_conf=extra)
    # same warmups as bench.py: JVM/parquet + the Arrow worker pool
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    times: dict[str, float] = {}
    for name in QUERIES:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            catalog.QUERIES[name].fn(spark, sf_dir).collect()
            best = min(best, time.perf_counter() - t0)
        times[name] = round(best, 3)
    with open(out, "w") as fh:
        json.dump(times, fh)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--knob", required=True, choices=sorted(KNOBS))
    ap.add_argument("--repeats", type=int, default=2,
                    help="ABBA blocks (each block = 4 sessions)")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--child", action="store_true")
    ap.add_argument("--setting", choices=["on", "off"])
    ap.add_argument("--out", help="child mode: file the per-query times go to")
    args = ap.parse_args()
    if args.child:
        child_main(args.knob, args.setting == "on", args.sf, args.out)
        return 0

    sides: dict[str, list[dict[str, float]]] = {"off": [], "on": []}
    order = ["off", "on", "on", "off"]
    for block in range(args.repeats):
        for slot in order:
            res = run_child(args.knob, slot == "on", args.sf)
            sides[slot].append(res)
            print(f"block {block} {slot}: total "
                  f"{round(sum(res.values()), 2)}", file=sys.stderr)
    import statistics

    def tot(side: str) -> list[float]:
        return [round(sum(r.values()), 3) for r in sides[side]]

    per_q = {}
    for q in QUERIES:
        off_m = statistics.median(r[q] for r in sides["off"])
        on_m = statistics.median(r[q] for r in sides["on"])
        per_q[q] = {"off_median": off_m, "on_median": on_m,
                    "delta_pct": round((on_m - off_m) / off_m * 100, 2)}
    off_t, on_t = tot("off"), tot("on")
    report = {
        "knob": args.knob,
        "conf_on": KNOBS[args.knob],
        "sessions_per_side": len(off_t),
        "off_totals": off_t,
        "on_totals": on_t,
        "off_median": statistics.median(off_t),
        "on_median": statistics.median(on_t),
        "delta_pct": round(
            (statistics.median(on_t) - statistics.median(off_t))
            / statistics.median(off_t) * 100, 2),
        "per_query": per_q,
    }
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
