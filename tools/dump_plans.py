"""Dump .explain("formatted") for named gate queries to plans/<dir>/.

    python tools/dump_plans.py --dir r12 --suffix before q1 q2 ...

The before/after pairs are the optimization-round evidence trail: the
judge checks plan claims (exchange counts, join strategies, pushed
filters) against these files. Plans are the INITIAL physical plans
(AQE may further coalesce/convert at runtime), captured at the sf dir
given by --sf (default sf0.1 — the bench regime).
"""

from __future__ import annotations

import argparse
import contextlib
import io
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--dir", default="r12")
    ap.add_argument("--suffix", required=True)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from etl_data_peri_institute_spark.plans import catalog
    from etl_data_peri_institute_spark.session import get_spark

    catalog.load_all()
    spark = get_spark("dump-plans")
    out_dir = Path(__file__).resolve().parent.parent / "plans" / args.dir
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in args.queries:
        df = catalog.QUERIES[name].fn(spark, args.sf)
        # explain() prints the plan from Python; capture what it prints
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            df.explain("formatted")
        plan = out.getvalue()
        path = out_dir / f"{name}_{args.suffix}.txt"
        path.write_text(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange mentions)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
