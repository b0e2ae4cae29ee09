"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the same scale factor, then compares row count, column names,
and an order-insensitive value comparison (columns sorted by name, rows
sorted by their stringified values). Use while iterating:

    python tools/oracle_check.py                 # all queries @ sf0.01
    python tools/oracle_check.py q1 q3           # substring filter
    python tools/oracle_check.py --sf sf0.001    # faster smoke
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from etl_data_peri_institute_spark.sources.tables import TABLES  # noqa: E402


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        # Full-precision shortest repr: any cross-engine double
        # difference — even 1 ulp — fails the compare. The driver's gate
        # hashes pandas-stringified values at full precision, so this
        # replica must be at least that strict (round 2's q10 passed a
        # lenient %.6g here while failing the driver's hash). NaN is its
        # own token, distinct from NULL, for the same reason.
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def _normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sorted_cols = [cols[i] for i in order]
    out = sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)
    return sorted_cols, out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("filters", nargs="*", help="substring filters on query names")
    ap.add_argument(
        "--sf",
        default="sf0.01",
        help="sf dir under /root/testdata, or an absolute path to any "
        "directory of {table}.parquet files/dirs (e.g. the scale_probe "
        "x3 copies)",
    )
    args = ap.parse_args()
    sf_dir = args.sf if os.path.isabs(args.sf) else f"/root/testdata/{args.sf}"

    import __spark_entry__ as e
    from etl_data_peri_institute_spark.session import get_spark

    qs = e.queries()
    oracles = e.oracle_sql()
    names = [
        n for n in qs if not args.filters or any(f in n for f in args.filters)
    ]

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        # a Spark-written table is a DIRECTORY of part files; a driver
        # testdata table is a single file — glob the former
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )

    n_pass = n_fail = n_rows_only = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(s_rows)} rows ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            cur = con.execute(oracles[name])
            d_cols = [d[0] for d in cur.description]
            d_rows = cur.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            n_fail += 1
            continue
        sc, sr = _normalize(s_cols, s_rows)
        dc, dr = _normalize(d_cols, d_rows)
        if sc != dc:
            print(f"FAIL {name}: columns differ spark={sc} duck={dc}")
            n_fail += 1
        elif len(sr) != len(dr):
            print(f"FAIL {name}: rowcount spark={len(sr)} duck={len(dr)}")
            n_fail += 1
        elif sr != dr:
            diffs = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
            print(f"FAIL {name}: values differ; first diffs: {diffs}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(sr)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
