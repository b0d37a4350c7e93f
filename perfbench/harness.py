"""One benchmark run: session set-up, timed operations, tracing, teardown.

A run is one closed loop: a single client thread issues the next
operation only after the previous one returned. Every operation is timed
end to end (DataFrame construction plus execution); nothing else runs in
the timed section. Between passes, outside the timed section, the run
releases the executors' local checkpoints and collects garbage, so each
pass starts from the same storage state.
"""

from __future__ import annotations

import gc
import os
import statistics
import sys
import time
import traceback

from layers import Spans, cpu_times, descendants, peak_rss_mb, stage_totals


class Bench:
    """Session, operation timing and (optionally) tracing for one run."""

    def __init__(self, workload: str, seed: int, seconds: int, traced: bool, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.setup: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {}
        self.attempts: dict[str, int] = {}
        self.raised: dict[str, int] = {}
        # operation kinds whose output check failed: every timed
        # operation of such a kind counts as failed
        self.bad_kinds: set[str] = set()
        self.spans = Spans()
        self.stages: dict[str, float] = {}
        self.pass_s = 0.0
        self.check_s = 0.0  # untimed output-check work outside Spark set-up
        self.layer: dict[str, float] = {}
        self.tracing = False
        self._ops = 0

    # -- set-up ---------------------------------------------------------
    def start(self) -> None:
        t0 = time.perf_counter()
        from mapreduce_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        from mapreduce_spark import registry

        self.specs = registry.load_all()
        t2 = time.perf_counter()
        self.setup["session.start_s"] = t1 - t0
        self.setup["registry.load_s"] = t2 - t1
        from pyspark import SparkContext

        self.jvm_proc = SparkContext._gateway.proc

    def stop(self) -> None:
        """Stop Spark and wait for the JVM and its Python workers to end."""
        from pyspark import SparkContext

        workers = descendants(self.jvm_proc.pid)
        self.spark.stop()
        SparkContext._gateway.shutdown()
        self.jvm_proc.stdin.close()
        try:
            self.jvm_proc.wait(timeout=30)
        except Exception:
            self.jvm_proc.kill()
            self.jvm_proc.wait(timeout=10)
        deadline = time.time() + 15
        for pid in workers:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)

    # -- operations -----------------------------------------------------
    def op(self, kind: str, fn, record: bool = True) -> None:
        """Run one operation, time it and, in a traced pass, collect its
        spans and status-store totals. An operation that raises is logged
        and counted as failed."""
        self._ops += 1
        sc = self.spark.sparkContext
        if self.tracing:
            group = f"pb{self._ops}"
            sc.setJobGroup(group, f"{self.workload}:{kind}", False)
            self.spans.op_id = self._ops
            root = self.spans.open(f"op.{kind}")
        ok = True
        t0 = time.perf_counter()
        try:
            fn()
        except Exception:
            ok = False
            traceback.print_exc(file=sys.stderr)
        dt = time.perf_counter() - t0
        if self.tracing:
            self.spans.close(root)
            sc.setLocalProperty("spark.jobGroup.id", None)
            for k, v in stage_totals(self.spark, group).items():
                self.stages[k] = self.stages.get(k, 0.0) + v
        if record:
            self.attempts[kind] = self.attempts.get(kind, 0) + 1
            if ok:
                self.samples.setdefault(kind, []).append(dt)
            else:
                self.raised[kind] = self.raised.get(kind, 0) + 1

    def query(self, name: str, data_dir: str) -> None:
        fn = self.specs[name].fn
        self.execute(lambda: fn(self.spark, data_dir))

    def execute(self, build) -> None:
        """Build a DataFrame with ``build()`` and force it with the noop
        sink (full computation, no rows to the driver)."""
        if not self.tracing:
            build().write.mode("overwrite").format("noop").save()
            return
        i = self.spans.open("operators.construct")
        try:
            df = build()
        finally:
            self.spans.close(i)
        i = self.spans.open("operators.execute")
        try:
            df.write.mode("overwrite").format("noop").save()
        finally:
            self.spans.close(i)

    def between_passes(self) -> None:
        from mapreduce_spark.operators.artifacts import release_local_checkpoints

        release_local_checkpoints(self.spark)
        gc.collect()

    def timed(self, one_pass, min_passes: int, max_passes: int = 10**9) -> None:
        """Run ``one_pass(i)`` until ``seconds`` have passed and at least
        ``min_passes`` passes are done; in a traced run every pass is
        traced. The wall time of the between-pass clean-up is excluded."""
        steal0, total0 = cpu_times()
        t0 = time.perf_counter()
        self.elapsed = 0.0
        self.passes = 0
        self.tracing = self.traced
        if self.tracing:
            self.spans.install()
        try:
            while self.passes < max_passes and (
                self.passes < min_passes or time.perf_counter() - t0 < self.seconds
            ):
                p0 = time.perf_counter()
                one_pass(self.passes)
                self.elapsed += time.perf_counter() - p0
                self.between_passes()
                self.passes += 1
        finally:
            if self.tracing:
                self.spans.uninstall()
            self.tracing = False
        steal1, total1 = cpu_times()
        self.layer["host.steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
        self.layer["peak_rss_mb"] = peak_rss_mb(self.jvm_proc.pid)

    # -- results --------------------------------------------------------
    def counts(self) -> tuple[int, int]:
        """(attempted, failed) over the timed operations."""
        failed = sum(
            n if k in self.bad_kinds else self.raised.get(k, 0)
            for k, n in self.attempts.items()
        )
        return sum(self.attempts.values()), failed

    def medians(self) -> dict[str, float]:
        return {k: statistics.median(v) for k, v in self.samples.items() if v}

    def spark_layer(self) -> None:
        """Per-pass Spark engine metrics from the accumulated stage totals."""
        s, per = self.stages, self.passes
        cores = self.spark.sparkContext.defaultParallelism
        self.layer.update(
            {
                "spark.jobs": s["jobs"] / per,
                "spark.stages": s["stages"] / per,
                "spark.tasks": s["tasks"] / per,
                "spark.exec_cpu_s": s["cpu_ns"] / 1e9 / per,
                "spark.exec_run_s": s["run_ms"] / 1e3 / per,
                "spark.gc_s": s["gc_ms"] / 1e3 / per,
                "spark.busy_frac": s["run_ms"] / 1e3 / (self.elapsed * cores),
                "spark.shuffle_write_mb": s["shuffle_write"] / 2**20 / per,
                "spark.shuffle_read_mb": s["shuffle_read"] / 2**20 / per,
                "spark.spill_mb": s["spill"] / 2**20 / per,
                "spark.task_skew": (
                    s["task_skew_w"] / s["skew_run_ms"] if s["skew_run_ms"] else 1.0
                ),
            }
        )

    def span_layer(self) -> None:
        """Per-pass span totals: layer time, call counts, and operator
        construction time net of the eager materializations inside it."""
        tot = self.spans.totals()
        per = self.passes

        def secs(name: str) -> float:
            return tot.get(name, [0.0, 0])[0] / per

        for name in (
            "tables.load", "tables.fan_out", "artifacts.materialize",
            "artifacts.concurrent", "dedup.append", "dedup.compact",
            "similarity.append", "similarity.compact", "operators.execute",
        ):
            self.layer[f"{name}_s"] = secs(name)
        for name in ("tables.fan_out", "artifacts.materialize"):
            self.layer[f"{name}_n"] = tot.get(name, [0.0, 0])[1] / per
        self.layer["operators.construct_s"] = (
            secs("operators.construct")
            - self.spans.nested("operators.construct", "artifacts.materialize") / per
        )
        self.layer["dedup.probe_s"] = secs("op.dprobe")
        self.layer["similarity.probe_s"] = secs("op.vprobe")
