"""SparkSession bootstrap tuned for large-scale analytics.

The reference's entire control plane (manager/worker TCP+UDP protocol,
heartbeats, task re-execution; /root/reference/mapreduce/manager/__main__.py)
collapses into Spark's driver/scheduler. This module only owns session
configuration, chosen for the 100 TB design point:

- AQE on (post-shuffle coalescing, skew-join splitting, runtime join
  strategy changes) — replaces the reference's fixed M/R task counts.
- shuffle partitions sized to cores locally; on a real cluster this is
  overridden to ~2-3x total executor cores (AQE coalesces down).
- Arrow enabled so any pandas-UDF path is vectorized batch transfer.
- UTC session timezone so timestamp semantics match a UTC-naive oracle.
- A generated-class cache sized to the registry's working set: one
  long-lived session runs many short queries, and with Spark's default
  of 100 cached classes a warm pass of ten registry queries recompiled
  all 192 of its classes on every pass (sf0.01, 4 cores).
  ``codegen_compiles`` reads the JVM-wide compile count, so a returning
  thrash shows as a non-zero delta.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs. Applied both at build time and defensively on
# externally-provided sessions (the verify driver builds its own session).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # The driver-generated events.parquet stores ts as TIMESTAMP(NANOS),
    # which Spark has no native type for; read as long, converted to
    # timestamp_ntz in sources.tables.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # Broadcast threshold: dimension tables (region/nation/supplier/part)
    # stay far below this even at sf100.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Expose sortBy order from bucketed-table scans (one file per bucket —
    # all bucketed writers in this repo repartition onto the bucket key
    # first), so co-located sort-merge joins plan with zero Sort as well
    # as zero Exchange (join_colocated; the dedup/vector/rollup state
    # tables get sorted probes for free).
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
}


def default_parallelism() -> int:
    """Worker count knob: SPARK_GRAFT_CPUS env, else all cores."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent).

    Used when the session is built by an external harness; silently skips
    confs the session refuses to set at runtime.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - static conf on some builds
            pass
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes compiled so far in this JVM (Spark's
    ``CodegenMetrics`` compilation-time histogram count): a cache hit
    adds nothing, a miss adds one."""
    jvm = spark._jvm  # type: ignore[attr-defined]
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def get_spark(
    app_name: str = "mapreduce-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned local session.

    local[cpus] stands in for a multi-executor cluster: every operator in
    this repo communicates only through DataFrame lineage, so the same code
    runs unchanged under YARN/K8s with real executors.
    """
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    # Python workers must import this package even when the driver process
    # runs from another CWD (e.g. the compat Manager spawned in a scratch
    # dir): pin the repo root onto the executor PYTHONPATH.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if repo_root not in py_path.split(os.pathsep):
        py_path = repo_root + (os.pathsep + py_path if py_path else "")
        # local-mode python workers are forked by the in-process JVM and
        # read the driver's environment, not executorEnv — set both.
        os.environ["PYTHONPATH"] = py_path
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Wide-expression plans (144-perm signatures, 256-plane buckets)
        # generate a LOT of bytecode; the JVM default 240 MiB code cache
        # fills after a few dozen distinct plans in one process, the JIT
        # stops compiling, and later queries run interpreted (measured:
        # the same query 2.3 s isolated vs 5.4 s late in a 40-query
        # bench run). A 1 GiB cache keeps long sessions JIT-compiled.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g",
        )
        # Static conf: the cache of Janino-compiled classes for generated
        # query stages. bench.py's 63 headline queries generate 1,534
        # distinct classes in one repetition at sf0.001 (~3 KB of bytecode
        # each; a second repetition adds 130 more, ones that embed literal
        # values). The cache is segmented and only approximately LRU, so
        # the cap sits well above that working set; at the default 100
        # every class of a warm query mix was evicted before its reuse.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
        .config("spark.executorEnv.PYTHONPATH", py_path)
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    return tune_session(spark)
