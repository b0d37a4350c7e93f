"""Oracle parity for the dedup family's fingerprint-pass consumers.

Every registration below derives its shingles through the one
fingerprint pass (``dedup.shingle_hashes`` / ``_doc_shingle_hashes``) or
the shared verify / recall / prefix-index helpers, while its DuckDB
oracle keeps the literal string-shingle formulation. Each runs on Spark
at the sf0.001 smoke scale and is compared with its oracle exactly the
way ``tools/check_correctness.py --typed`` compares them: same column
set, same row count, the same order-insensitive canonical rows, and the
same pandas dtype kinds. The comparison code is imported from that
tool, not re-implemented, so the test and the gate cannot drift apart.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

from mapreduce_spark.registry import load_all

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)
from check_correctness import TABLES, df_to_rows, typed_mismatch  # noqa: E402

_SPECS = load_all()
FINGERPRINT_CONSUMERS = [
    # MinHash / OPH LSH tiers and the estimator reports built on them
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_scaled",
    "dedup_minhash_lsh_oph",
    "bbit_jaccard_report",
    "oph_jaccard_report",
    # signature exports and the band gauge
    "minhash_signatures",
    "minhash_bbit_signatures",
    "oph_signatures",
    "minhash_band_stats",
    # inverted-index consumers
    "dedup_ngram_jaccard",
    "ngram_novelty",
    # precision and recall gauges (truth and LSH side from one frame)
    "dedup_precision_report",
    "dedup_precision_report_scaled",
    "dedup_recall_report",
    "dedup_recall_report_scaled",
    "dedup_recall_report_oph",
    # the string-shingle all-pairs pair (shared prefix index and verify)
    "dedup_allpairs_prefix",
    "allpairs_prefix_stats",
    # curation consumers
    "split_leakage_report",
    "curation_pipeline_neardup",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", FINGERPRINT_CONSUMERS)
def test_matches_duckdb_oracle(spark, sf_dir, duck, name):
    spec = _SPECS[name]
    sdf = spec.fn(spark, sf_dir)
    s_rows = [tuple(r) for r in sdf.collect()]
    rel = duck.execute(spec.oracle)
    d_cols = [d[0] for d in rel.description]
    d_rows = rel.fetchall()
    assert sorted(sdf.columns) == sorted(d_cols)
    assert len(s_rows) == len(d_rows)
    assert df_to_rows(sdf.columns, s_rows) == df_to_rows(d_cols, d_rows)
    assert not typed_mismatch(sdf.toPandas(), duck.execute(spec.oracle).df())
