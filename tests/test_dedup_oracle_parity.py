"""Oracle parity for the dedup family's fingerprint-pass consumers.

Every registration below derives its shingles through the one
fingerprint pass (``dedup.shingle_hashes`` / ``_doc_shingle_hashes``) or
the shared verify / recall / prefix-index helpers, while its DuckDB
oracle keeps the literal string-shingle formulation. That includes the
four persisted-index queries, whose ``minhash_index`` build and
``dedup_against_index`` probe run the same signature, band and verify
pipeline as the one-shot LSH tiers. Each runs on Spark at the sf0.001
smoke scale and is compared with its oracle exactly the way
``tools/check_correctness.py --typed`` compares them: same column set,
same row count, the same order-insensitive canonical rows, and the same
pandas dtype kinds. The comparison code is imported from that tool, not
re-implemented, so the test and the gate cannot drift apart.

``split_leakage_report`` finds no cross-split pair in the shared
corpus, so it is also graded on a micro table with one planted
cross-split near-duplicate pair.
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
    # the persisted index: in-memory build, written, compacted, attached
    "dedup_incremental",
    "dedup_index_persisted",
    "dedup_index_compacted",
    "dedup_index_attached",
]


def assert_matches_oracle(spark, con, name, sf_dir):
    spec = _SPECS[name]
    sdf = spec.fn(spark, sf_dir)
    rows = sdf.collect()
    s_rows = [tuple(r) for r in rows]
    rel = con.execute(spec.oracle)
    d_cols = [d[0] for d in rel.description]
    d_rows = rel.fetchall()
    assert sorted(sdf.columns) == sorted(d_cols)
    assert len(s_rows) == len(d_rows)
    assert df_to_rows(sdf.columns, s_rows) == df_to_rows(d_cols, d_rows)
    assert not typed_mismatch(sdf.toPandas(), con.execute(spec.oracle).df())
    return rows


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", FINGERPRINT_CONSUMERS)
def test_matches_duckdb_oracle(spark, sf_dir, duck, name):
    assert_matches_oracle(spark, duck, name, sf_dir)


# Docs 0 and 1 differ only in their last word: Jaccard 29/31, and their
# content hashes put doc 0 in train (bucket 65) and doc 1 in test
# (bucket 99). Docs 2 and 3 share no shingle with anything.
_LEAK_BASE = (
    "a near duplicate pair planted across the split boundary so the "
    "leakage report has one row to grade against its oracle at the "
    "micro scale where the shared corpus has none"
)


@pytest.fixture(scope="module")
def leakage_sf(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("leakage_micro")
    spark.createDataFrame(
        [
            (0, "en", f"{_LEAK_BASE} today"),
            (1, "en", f"{_LEAK_BASE} twice"),
            (2, "en", "an unrelated document about rivers lakes and the sea"),
            (3, "en", "short"),
        ],
        "doc_id long, lang string, text string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/documents.parquet")
    return str(root)


def test_split_leakage_report_finds_planted_cross_split_pair(spark, leakage_sf):
    con = duckdb.connect()
    # Spark wrote documents.parquet as a directory of part files
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{leakage_sf}/documents.parquet/*.parquet'"
    )
    try:
        rows = assert_matches_oracle(spark, con, "split_leakage_report", leakage_sf)
    finally:
        con.close()
    assert [r.asDict() for r in rows] == [
        {
            "doc_a": 0,
            "split_a": "train",
            "doc_b": 1,
            "split_b": "test",
            "jaccard": round(29 / 31, 6),
        }
    ]
