"""Run any registered query by name: results, explain, or timing.

The user-facing entry point for ad-hoc use of the operator library
(the engine analog of the reference's `mapreduce-submit` CLI,
/root/reference/mapreduce/submit.py — a query name replaces the
mapper/reducer pair, a parquet sf dir replaces the input directory).

Usage:
    python tools/run_query.py <query> [--sf-dir DIR] [--limit N]
                              [--explain] [--time]
    python tools/run_query.py --list
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("query", nargs="?", help="registered query name")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--limit", type=int, default=20, help="rows to show")
    ap.add_argument("--explain", action="store_true", help="print the formatted physical plan")
    ap.add_argument("--time", action="store_true", help="run fully (noop sink) and report seconds")
    ap.add_argument("--list", action="store_true", help="list registered queries")
    args = ap.parse_args()

    from mapreduce_spark.registry import get_oracles, get_queries

    qs, oracles = get_queries(), get_oracles()
    if args.list or not args.query:
        for name in sorted(qs):
            print(f"{name}  {'(rows-only)' if name not in oracles else ''}")
        return 0
    if args.query not in qs:
        print(f"unknown query {args.query!r}; --list shows all", file=sys.stderr)
        return 2

    from mapreduce_spark.session import get_spark

    spark = get_spark("run-query")
    spark.sparkContext.setLogLevel("ERROR")
    df = qs[args.query](spark, args.sf_dir)

    if args.explain:
        from mapreduce_spark.plans.audit import physical_plan

        print(physical_plan(df))
        return 0
    if args.time:
        t0 = time.time()
        df.write.mode("overwrite").format("noop").save()
        print(f"{args.query}: {time.time() - t0:.3f}s (full run, noop sink)")
        return 0
    df.show(args.limit, truncate=40)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
