"""Parquet table loaders for the driver-generated star schema.

Reference analog: the reference's only source is "glob a directory of text
files" (/root/reference/mapreduce/manager/__main__.py:257-259). Here the
source layer is columnar parquet with schema normalization; text sources
live in sources/readers.py.

Scale note: loaders return lazy DataFrames — predicate pushdown and column
pruning reach the parquet scan because nothing here forces materialization.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from mapreduce_spark.operators.artifacts import _env_on
from mapreduce_spark.session import tune_session

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Columns stored as parquet TIMESTAMP(NANOS): Spark reads them as long
# (spark.sql.legacy.parquet.nanosAsLong) and we rebuild timestamp_ntz.
_NANOS_COLS: dict[str, list[str]] = {"events": ["ts"]}


def _nanos_to_ts_ntz(col: str):
    # timestampadd on a fixed NTZ epoch is session-timezone-independent,
    # matching a UTC-naive oracle exactly (nanos floored to micros, the
    # same truncation DuckDB applies reading TIMESTAMP_NS).
    return F.expr(
        f"timestampadd(MICROSECOND, {col} div 1000, "
        f"TIMESTAMP_NTZ '1970-01-01 00:00:00')"
    ).alias(col)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table, normalizing nanos-timestamp columns to timestamp_ntz."""
    tune_session(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col in _NANOS_COLS.get(name, []):
        if dict(df.dtypes).get(col) == "bigint":
            df = df.withColumn(col, _nanos_to_ts_ntz(col))
    return df


def fan_out(df: DataFrame, bytes_per_task: int | None = None) -> DataFrame:
    """Spread a scan across the cores before a CPU-heavy PER-ROW stage
    (chunk hashing, shingle explosion, Arrow matmuls) — guide §2.5
    "input skew: one huge unsplittable file … repartition immediately
    after the read" / §6.

    Why it exists (r13, measured): parquet splits at row-group
    granularity, so a single-file corpus scans as ONE task no matter the
    core count — the 32-vs-8-core bench at the 25x corpus showed the
    heavy per-row queries at ratio ~1.0 (cdc_chunk_stats 111 s on 32
    cores == 8 cores: its whole md5 chunking pass ran on the scan's 4
    row-group tasks). The guard makes this a no-op whenever the scan
    already yields >= cores partitions — i.e. at any real multi-file
    scale the repartition disappears and pushdown/pruning still reach
    the scan (the exchange sits ABOVE it). Apply only where per-row
    compute dominates the one extra row shuffle; scan->exchange shapes
    (plain aggregations, joins) must NOT pay a second exchange.
    ``SPARK_GRAFT_NO_FANOUT=1`` makes every call a no-op (the A/B
    measurement knob, guide §1).

    ``bytes_per_task`` makes the target SCALE-ADAPTIVE for stages whose
    per-byte work is moderate (shingle-explode aggregations, Arrow
    matmuls): partitions = clamp(input_bytes / bytes_per_task, current,
    cores), so a corpus small enough that exchange fixed costs dominate
    stays un-repartitioned (measured at sf0.1: the blanket fan-out cost
    perplexity/ann_lsh +1-1.5 s there while winning 2-6x at 25x) and the
    fan-out grows in with the data. Sites whose per-row work dwarfs any
    exchange (CDC chunk-hashing, span md5) pass no target and always
    spread fully — measured a win at every scale point."""
    import os

    if _env_on("SPARK_GRAFT_NO_FANOUT"):
        return df
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    want = parallelism
    if bytes_per_task:
        try:
            total = sum(
                os.path.getsize(p.removeprefix("file:"))
                for p in df.inputFiles()
            )
            want = min(parallelism, max(1, total // bytes_per_task))
        except Exception:  # non-local paths: fall back to full spread
            want = parallelism
    if df.rdd.getNumPartitions() < want:
        return df.repartition(want)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """Load several tables at once; see load_table."""
    return {name: load_table(spark, sf_dir, name) for name in (names or TABLE_NAMES)}


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register temp views so operators can also be expressed via spark.sql."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)
