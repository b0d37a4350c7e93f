"""Oracle parity for the similarity recall reports and the ranked tiers
that share the rank / exact-L2 / recall-rollup helpers.

Each registration runs on Spark at the sf0.001 smoke scale and is
compared with its DuckDB oracle exactly the way
``tools/check_correctness.py --typed`` compares them: same column set,
same row count, the same order-insensitive canonical rows, and the same
pandas dtype kinds. The comparison code is imported from that tool, not
re-implemented, so the test and the gate cannot drift apart.
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
# Every similarity recall report: each builds its truth through the shared
# exact top-k (cosine or L2) and its rows through the shared rollup.
RECALL_REPORTS = sorted(
    name
    for name, spec in _SPECS.items()
    if spec.fn.__module__ == "mapreduce_spark.operators.similarity"
    and "recall_report" in name
)
# Ranked tiers whose Spark tail is the shared ascending-distance ranker.
RANKED_TIERS = [
    "similarity_pq_adc",
    "similarity_pq_adc_trained",
    "similarity_pq_adc_opq",
    "similarity_sq8_topk",
    "similarity_ivfpq_adc",
    "similarity_ivfpq_adc_residual",
    "similarity_index_persisted",
    "similarity_index_appended",
    "similarity_index_compacted",
    "similarity_index_persisted_residual",
    "similarity_hamming_topk",
    "similarity_hamming_rerank",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


def test_recall_report_set_is_complete():
    assert len(RECALL_REPORTS) == 15, RECALL_REPORTS


@pytest.mark.parametrize("name", RECALL_REPORTS + RANKED_TIERS)
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
