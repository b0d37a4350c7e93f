"""Dump .explain("formatted") for named queries to plans/r{N}/<q>_{tag}.txt.

Usage: python tools/dump_plans.py <round> <before|after> <query> [query ...]

The optimization-round evidence artifact: the judge checks plan claims
(Exchange counts, join strategies, PushedFilters) against these files.
Queries whose construction is execute-on-call (training loops, index
writes) still produce a plan for the RETURNED DataFrame; the eager part
is documented in OPTIMIZATION notes instead.

Expression IDs (``#123``), exchange/broadcast ids (``plan_id=45``), the
ids of checkpointed RDDs (``MapPartitionsRDD[24]``) and the numeric suffix
of higher-order-function lambda variables (``x_57``) are JVM or session
counters, not plan structure: they are masked to ``#x``, ``plan_id=x``,
``RDD[x]`` and ``x_N`` so dumps of the same plan taken in different
sessions, or before and after a refactor, diff cleanly.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_PLAN_SF_DIR", "/root/testdata/sf0.01")


def main() -> int:
    rnd, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    from mapreduce_spark.plans.audit import physical_plan
    from mapreduce_spark.registry import get_queries
    from mapreduce_spark.session import get_spark

    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = get_queries()
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        f"r{rnd}",
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = re.sub(r"#\d+", "#x", physical_plan(df))
        plan = re.sub(r"plan_id=\d+", "plan_id=x", plan)
        plan = re.sub(r"RDD\[\d+\]", "RDD[x]", plan)
        plan = re.sub(r"lambda (\w+?)_\d+\b", r"lambda \1_N", plan)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        n_ex = plan.count("Exchange")
        print(f"{name}: {len(plan)} chars, ~{n_ex} Exchange mentions -> {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
