"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload adhoc_mix --seed 1 --seconds 15 --trace 0

Prints every metric by name, unit and sample count, then, as the last
line of standard output, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
# Fixed driver heap: with the 8 g default the JVM's resident set wandered
# by gigabytes between identical runs.
DRIVER_MEMORY = "2g"


def isolate(work: str) -> None:
    """Keep every file the run writes inside ``work``: Spark's scratch
    space, the JVM's and Python's temp files, and the SQL warehouse that
    the index tables are written to."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update(
        {
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    # session.get_spark pins the warehouse under /tmp; point it into the
    # run's directory instead, and drop the console progress bar.
    from pyspark.sql import SparkSession

    get_or_create = SparkSession.Builder.getOrCreate

    def redirected(builder):
        builder.config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        builder.config("spark.ui.showConsoleProgress", "false")
        return get_or_create(builder)

    SparkSession.Builder.getOrCreate = redirected


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(b) -> dict:
    attempted, failed = b.counts()
    return {
        "setup_s": metric(sum(b.setup.values()), "s"),
        "pass_s": metric(b.pass_s, "s"),
        "ok_frac": metric((attempted - failed) / attempted, "frac"),
    }


def per_layer(b) -> dict:
    """Every per-layer metric; a layer the workload does not exercise
    reads 0."""
    from workloads import ADHOC_QUERIES

    b.span_layer()
    b.spark_layer()
    values = {**b.setup, **b.layer, "trace.pass_s": b.pass_s}
    names = LAYER_METRICS | {f"q.{n}_s": "s" for n in ADHOC_QUERIES}
    return {n: metric(values.get(n, 0.0), unit) for n, unit in names.items()}


LAYER_METRICS = {
    **dict.fromkeys(
        (
            "session.start_s", "registry.load_s", "gen_s", "warmup_s",
            "operators.construct_s", "operators.execute_s", "tables.fan_out_s",
            "tables.load_s", "artifacts.materialize_s", "artifacts.concurrent_s",
            "dedup.probe_s", "similarity.probe_s", "dedup.append_s",
            "similarity.append_s", "dedup.compact_s", "similarity.compact_s",
            "dedup.build_s", "similarity.build_s", "mr.pipe_s",
            "spark.exec_cpu_s", "spark.exec_run_s", "spark.gc_s", "trace.pass_s",
        ),
        "s",
    ),
    **dict.fromkeys(
        ("tables.fan_out_n", "artifacts.materialize_n", "fs.index_files",
         "spark.jobs", "spark.stages", "spark.tasks"),
        "count",
    ),
    **dict.fromkeys(
        ("fs.index_mb", "spark.shuffle_write_mb", "spark.shuffle_read_mb",
         "spark.spill_mb", "peak_rss_mb"),
        "MB",
    ),
    **dict.fromkeys(
        ("fs.write_amp", "spark.busy_frac", "spark.task_skew", "host.steal_frac"),
        "ratio",
    ),
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "mapreduce_spark")):
        print("perfbench: run from the repository root (mapreduce_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    isolate(work)
    from harness import Bench

    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        WORKLOADS[args.workload](b)
        metrics = per_layer(b) if args.trace else end_to_end(b)
        attempted, failed = b.counts()
        if args.trace:
            write_spans(b)
    finally:
        if hasattr(b, "spark"):
            b.stop()
        shutil.rmtree(work, ignore_errors=True)

    report(b, metrics)
    result = {
        "correct": not b.bad_kinds and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


def write_spans(b) -> None:
    out = os.path.join(HERE, ".out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"spans-{b.workload}-{b.seed}.jsonl")
    with open(path, "w") as f:
        for name, t0, t1, parent, op in b.spans.rows:
            f.write(json.dumps({"name": name, "start": t0, "end": t1,
                                "parent": parent, "op": op}) + "\n")
    print(f"spans: {len(b.spans.rows)} written to {os.path.relpath(path, ROOT)}",
          file=sys.stderr)


def report(b, metrics: dict) -> None:
    """Human-readable lines: every metric with its unit and sample count."""
    n_ops = sum(len(v) for v in b.samples.values())
    print(f"workload {b.workload} seed {b.seed}: {b.passes} passes "
          f"{'traced' if b.traced else 'untraced'}, {n_ops} timed operations, "
          f"{b.elapsed:.1f} s measured")
    print(f"  host steal {b.layer['host.steal_frac']:.4f} of CPU time while measuring; "
          f"output check {b.check_s:.1f} s (untimed)")
    for kind, med in sorted(b.medians().items()):
        samples = " ".join(f"{x:.3f}" for x in b.samples[kind])
        print(f"  op {kind:29s} {med:14.6f} s      median of n={len(b.samples[kind])}: {samples}")
    if b.bad_kinds:
        print(f"output check failed for: {sorted(b.bad_kinds)}")
    per_kind = min(len(v) for v in b.samples.values()) if b.samples else 0
    counts = {
        "setup_s": f"n=1 (sum of {len(b.setup)} set-up steps)",
        "pass_s": f"n={b.passes} passes, median of >={per_kind} per operation",
        "trace.pass_s": f"n={b.passes} passes",
        "ok_frac": f"n={sum(b.attempts.values())} operations",
    }
    for name in b.setup:
        counts[name] = "n=1"
    for name, m in metrics.items():
        print(f"  {name:32s} {m['value']:14.6f} {m['unit']:6s} {counts.get(name, '')}")


if __name__ == "__main__":
    sys.exit(main())
