"""Fault-tolerance parity: the reference reassigns a dead worker's task
(/root/reference/mapreduce/manager/__main__.py:322-330 — 5 missed
heartbeats -> task back on the queue); Spark's analog is task re-execution
(spark.task.maxFailures). These tests kill a task attempt for real and
assert the job still produces the exact result — the engine-level
guarantee the reference's heartbeat machinery exists to provide.

Runs in a subprocess: retries need their own master URL (local[2, 3] —
3 attempts per task) and PySpark allows one SparkContext per process, so
the scenario cannot share the suite's session-scoped Spark.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import sys
sys.path.insert(0, sys.argv[1])
from pyspark import TaskContext
from pyspark.sql import SparkSession
import pyspark.sql.functions as F

spark = (
    SparkSession.builder.master("local[2, 3]")
    .appName("fault-tolerance")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)

def flaky_double(it):
    # First attempt of partition 0 dies mid-task — the analog of a worker
    # dropping off the heartbeat. Retried attempts succeed.
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        raise RuntimeError("simulated worker death")
    return (x * 2 for x in it)

rdd = spark.sparkContext.parallelize(range(100), 4)
got = sorted(rdd.mapPartitions(flaky_double).collect())
assert got == [x * 2 for x in range(100)], "map-stage retry lost rows"

def flaky_ident(it):
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        raise RuntimeError("simulated worker death")
    return it

df = spark.createDataFrame(
    spark.sparkContext.parallelize(
        [(i % 10, i) for i in range(1000)], 4
    ).mapPartitions(flaky_ident),
    "k: long, v: long",
)
got = {r["k"]: r["s"] for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()}
expect = {}
for i in range(1000):
    expect[i % 10] = expect.get(i % 10, 0) + i
assert got == expect, "shuffle-stage retry corrupted aggregation"
print("FAULT_TOLERANCE_OK")
"""


@pytest.mark.seal
def test_task_failure_is_reexecuted_like_a_dead_worker():
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, ROOT],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "FAULT_TOLERANCE_OK" in proc.stdout
