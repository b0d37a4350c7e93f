"""Parquet table loaders for the driver-generated star schema.

Reference analog: the reference's only source is "glob a directory of text
files" (/root/reference/mapreduce/manager/__main__.py:257-259). Here the
source layer is columnar parquet with schema normalization; text sources
live in sources/readers.py.

Scale note: loaders return lazy DataFrames — predicate pushdown and column
pruning reach the parquet scan because nothing here forces materialization.

Schema memo: ``spark.read.parquet`` runs a Spark job just to read a
file's footer schema, once per call. ``parquet_schema`` infers each
source file's schema once per SparkContext and hands it to
``spark.read.schema(...)`` afterwards, so a warm query launches no
inference job. Only the schema is memoized, never a DataFrame: every
``load_table`` call still returns a fresh relation (self-joins keep
distinct expression ids). An entry is keyed on the qualified path and
re-validated against the file's modification time and length on every
call (``sources.fs.fs_status``), so a table rewritten in place is
re-inferred; a rewrite that keeps both the length and the millisecond
mtime is not seen.
"""

from __future__ import annotations

import weakref

import pyspark.sql.functions as F
from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from mapreduce_spark.session import tune_session
from mapreduce_spark.sources.fs import PathStatus, fs_status

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


# SparkContext -> {qualified uri: (status at inference, schema)}. Two
# threads missing on the same path both infer and store the same schema.
_SCHEMAS: weakref.WeakKeyDictionary[
    SparkContext, dict[str, tuple[PathStatus, StructType]]
] = weakref.WeakKeyDictionary()


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The raw parquet schema of a source table file, inferred once per
    session and re-inferred when the file's mtime or length changes (see
    the module docstring). Tunes the session first: the inferred type of
    a TIMESTAMP(NANOS) column depends on its confs."""
    tune_session(spark)
    status = fs_status(spark, path)
    memo = _SCHEMAS.setdefault(spark.sparkContext, {})
    hit = memo.get(status.uri)
    if hit is not None and hit[0] == status:
        return hit[1]
    schema = spark.read.parquet(path).schema
    memo[status.uri] = (status, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table, normalizing nanos-timestamp columns to timestamp_ntz.
    The schema comes from ``parquet_schema``, so only the first load of a
    table file in a session runs an inference job."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
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

    ``bytes_per_task`` makes the target SCALE-ADAPTIVE for stages whose
    per-byte work is moderate (shingle-explode aggregations, Arrow
    matmuls): partitions = clamp(input_bytes / bytes_per_task, current,
    cores), so a corpus small enough that exchange fixed costs dominate
    stays un-repartitioned (measured at sf0.1: the blanket fan-out cost
    perplexity/ann_lsh +1-1.5 s there while winning 2-6x at 25x) and the
    fan-out grows in with the data. Sites whose per-row work dwarfs any
    exchange (CDC chunk-hashing, span md5) pass no target and always
    spread fully — measured a win at every scale point. Input bytes are
    the Hadoop file lengths of ``df.inputFiles()`` (``sources.fs.fs_status``),
    so the clamp works the same on every URI scheme."""
    spark = df.sparkSession
    want = spark.sparkContext.defaultParallelism
    if bytes_per_task:
        total = sum(fs_status(spark, p).size for p in df.inputFiles())
        want = min(want, max(1, total // bytes_per_task))
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
