"""A warm pass of registry queries recompiles no generated class.

One long-lived session runs many short queries, so the generated-class
cache (``spark.sql.codegen.cache.maxEntries``, set in
``session.get_spark``) must hold a query mix's working set. At Spark's
default of 100 entries these seven queries evict each other's classes
and the second pass compiles them all again.
"""

from __future__ import annotations

from mapreduce_spark.operators.artifacts import release_local_checkpoints
from mapreduce_spark.registry import get_queries
from mapreduce_spark.session import codegen_compiles

QUERIES = (
    "tpch_q1_pricing",
    "join_broadcast",
    "sessionize_batch",
    "stream_window_counts",
    "dedup_minhash_lsh",
    "similarity_ann_ivf",
    "cdc_chunk_stats",
)


def _one_pass(spark, sf_dir) -> None:
    qs = get_queries()
    for name in QUERIES:
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        release_local_checkpoints(spark)


def test_warm_pass_compiles_nothing(spark, sf_dir):
    _one_pass(spark, sf_dir)
    before = codegen_compiles(spark)
    _one_pass(spark, sf_dir)
    assert codegen_compiles(spark) - before == 0
