"""Stored shingle-fingerprint pass (guide §8): equivalence gates.

Every MinHash, OPH and n-gram consumer of the dedup family derives its
signatures, inverted indexes and exact-verify sides from the (doc_id, hs)
int64 fingerprint table (shingle_hashes / _doc_shingle_hashes) instead of
from string shingles. These tests pin the two claims that make that
value-preserving:

1. bs = hs % P elementwise equals base_hashes(sgl) — so signatures and
   band keys are bit-identical to the oracles' string derivation;
2. hash-set Jaccard, document frequency and first occurrence equal their
   string-set values (md5_long injectivity over the distinct shingles of
   every text the family hashes — checked directly).

The row-for-row comparison of every consumer against its DuckDB oracle
is tests/test_dedup_oracle_parity.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from mapreduce_spark.functions.hashing import md5_long
from mapreduce_spark.functions.text import shingles, tokens
from mapreduce_spark.operators.dedup import (
    _bs_from_hs,
    _doc_shingle_hashes,
    _doc_shingles,
    base_hashes,
)
from mapreduce_spark.operators.textops import scrub_expr
from mapreduce_spark.sources.tables import load_table


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_fingerprint_base_hashes_bit_identical(spark, sf_dir):
    sh = _doc_shingles(spark, sf_dir)
    ref = sh.select("doc_id", base_hashes(F.col("sgl")).alias("bs"))
    got = _bs_from_hs(_doc_shingle_hashes(spark, sf_dir))
    assert _rows(got, ["doc_id", "bs"]) == _rows(ref, ["doc_id", "bs"])


def test_md5_long_injective_over_corpus_shingles(spark, sf_dir):
    """Over the raw documents' shingles AND the scrubbed-text shingles
    curation_pipeline_neardup hashes (scrubbing every document covers
    the gated subset it keeps)."""
    raw = _doc_shingles(spark, sf_dir).select(F.explode("sgl").alias("s"))
    scrubbed = load_table(spark, sf_dir, "documents").select(
        F.explode(
            F.array_distinct(shingles(tokens(scrub_expr(F.col("text"))), 3))
        ).alias("s")
    )
    ex = raw.unionByName(scrubbed).distinct()
    r = ex.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(md5_long(F.col("s"))).alias("nh"),
    ).first()
    assert r["n"] == r["nh"], "md5_long collision inside the corpus"


def test_release_local_checkpoints_empties_executor_storage(spark, sf_dir):
    """Artifact lifecycle (VERDICT r12 #8): after a materializing query
    completes, release_local_checkpoints unpersists every tracked RDD,
    so repeated invocations (bench reps) cannot accumulate executor
    storage — the context's persistent-RDD map returns to empty."""
    from mapreduce_spark.operators.artifacts import release_local_checkpoints

    _doc_shingle_hashes(spark, sf_dir).count()  # materializes a checkpoint
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() > 0
    released = release_local_checkpoints(spark)
    assert released > 0
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() == 0
