"""Persisted IVFADC vector-index lifecycle (the ANN mirror of
tests/test_index_lifecycle.py): the serving state lives on disk as
cid-partitioned codes + two codebook tables, probes prune to their
nprobe cells, and the round trip changes no ranked row.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from mapreduce_spark.operators.similarity import (
    SCALED_IVF_NPROBE,
    N_QUERIES,
    TOP_K,
    similarity_ivfpq_adc,
    vector_index_probe,
    vector_index_write,
)
from mapreduce_spark.sources.tables import load_table


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )


def test_on_disk_probe_matches_in_memory(spark, sf_dir):
    """Round-tripping the index through partitioned parquet must not
    change a single (query, vec, distance, rank) row vs the all-in-
    memory IVFADC plan."""
    emb = _emb(spark, sf_dir)
    vector_index_write(emb, "t_vindex")
    on_disk = sorted(
        map(
            tuple,
            vector_index_probe(
                spark, "t_vindex", emb.filter(F.col("vec_id") < N_QUERIES)
            ).collect(),
        )
    )
    in_memory = sorted(
        map(tuple, similarity_ivfpq_adc(spark, sf_dir).collect())
    )
    assert on_disk == in_memory and len(on_disk) == N_QUERIES * TOP_K


def test_probe_plans_dynamic_partition_pruning(spark, sf_dir):
    """The codes scan must carry a dynamic-partition-pruning subquery
    off the broadcast route side — the plan property that makes probe
    I/O nprobe/|cells| of the corpus instead of a full scan."""
    emb = _emb(spark, sf_dir)
    vector_index_write(emb, "t_vindex_dpp")
    probe = vector_index_probe(
        spark, "t_vindex_dpp", emb.filter(F.col("vec_id") < N_QUERIES)
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_probe_touches_strict_cell_subset(spark, sf_dir):
    """The query batch's routed cells must be a strict subset of the
    index's cells on the testdata — otherwise the pruning assertion
    above is vacuously scanning everything anyway."""
    from mapreduce_spark.operators.similarity import (
        _nearest_cells,
        _vindex_codes_path,
    )
    from mapreduce_spark.functions.vectors import norm

    emb = _emb(spark, sf_dir)
    vector_index_write(emb, "t_vindex_cells")
    codes = spark.read.parquet(_vindex_codes_path(spark, "t_vindex_cells"))
    n_cells = codes.select("cid").distinct().count()
    cent = spark.table("t_vindex_cells_centroids")
    qn = emb.filter(F.col("vec_id") < N_QUERIES).withColumn(
        "nrm", norm(F.col("embedding"))
    ).select(F.col("vec_id").alias("query_id"), "embedding", "nrm")
    probed = (
        _nearest_cells(qn, cent, "query_id", SCALED_IVF_NPROBE)
        .select("cid")
        .distinct()
        .count()
    )
    assert 0 < probed < n_cells, (probed, n_cells)


def test_cell_balance_gauge_gated(spark, sf_dir):
    """Gauge as CI gate (the test_pairing_cap discipline): the trained
    quantizer's cell balance on the testdata must stay under a sane
    bound — a quantizer change that lets one cell own the corpus fails
    here instead of melting a 1e9-vector probe."""
    from mapreduce_spark.operators.similarity import vindex_cell_stats

    row = vindex_cell_stats(spark, sf_dir).collect()[0]
    assert row.n_vectors > 0 and row.n_cells > 1
    assert row.balance <= 20.0, (
        f"max cell is {row.balance}x the mean — quantizer degenerated "
        f"(max_cell={row.max_cell}, n_cells={row.n_cells})"
    )


CODECS = pytest.mark.parametrize("residual", [False, True], ids=["raw", "residual"])


@CODECS
def test_append_preserves_pruning_and_matches_bulk(spark, sf_dir, residual):
    """Append parity law, for both codecs: staging the data in two
    writes under a pinned training corpus yields byte-identical probe
    results to the one-shot bulk build, and the probe plan still carries
    the DPP subquery."""
    emb = _emb(spark, sf_dir)
    vector_index_write(emb, "t_vx_bulk", residual=residual)
    from mapreduce_spark.operators.similarity import vector_index_append

    vector_index_write(
        emb.filter(F.col("vec_id") % 2 == 0),
        "t_vx_staged",
        train=emb,
        residual=residual,
    )
    vector_index_append(
        emb.filter(F.col("vec_id") % 2 == 1), "t_vx_staged", residual=residual
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    bulk_probe = vector_index_probe(spark, "t_vx_bulk", q, residual=residual)
    bulk = sorted(map(tuple, bulk_probe.collect()))
    staged_probe = vector_index_probe(spark, "t_vx_staged", q, residual=residual)
    staged = sorted(map(tuple, staged_probe.collect()))
    assert staged == bulk and len(bulk) == N_QUERIES * TOP_K
    plan = staged_probe._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_on_disk_residual_probe_matches_in_memory_and_prunes(spark, sf_dir):
    """The residual ship-state artifact (VERDICT r7 #4): round-tripping
    the residual-encoded index through partitioned parquet must match
    the in-memory residual IVFADC row-for-row, and the probe plan keeps
    the raw tier's pins — DPP off the broadcast route (nprobe cells
    only) and no corpus re-quantization (the probe never reads the
    embeddings table's corpus side)."""
    from mapreduce_spark.operators.similarity import (
        similarity_ivfpq_adc_residual,
    )

    emb = _emb(spark, sf_dir)
    vector_index_write(emb, "t_vindex_rsd", residual=True)
    probe = vector_index_probe(
        spark,
        "t_vindex_rsd",
        emb.filter(F.col("vec_id") < N_QUERIES),
        residual=True,
    )
    on_disk = sorted(map(tuple, probe.collect()))
    in_memory = sorted(
        map(tuple, similarity_ivfpq_adc_residual(spark, sf_dir).collect())
    )
    assert on_disk == in_memory and len(on_disk) == N_QUERIES * TOP_K
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


@CODECS
def test_compaction_collapses_cells_and_preserves_probe(spark, sf_dir, residual):
    """After write + append every touched cell holds >= 2 files;
    compaction must collapse EVERY cell directory to exactly one file
    while changing no probed row, for both codecs."""
    import os

    from mapreduce_spark.operators.similarity import (
        _vindex_codes_path,
        vector_index_append,
        vector_index_compact,
    )

    emb = _emb(spark, sf_dir)
    vector_index_write(
        emb.filter(F.col("vec_id") % 2 == 0),
        "t_vindex_cpt",
        train=emb,
        residual=residual,
    )
    vector_index_append(
        emb.filter(F.col("vec_id") % 2 == 1), "t_vindex_cpt", residual=residual
    )
    # operators hand out warehouse URIs (Hadoop-FS-safe); this test's
    # file-count inspection is deliberately local, so strip the scheme
    from urllib.parse import urlparse

    path = urlparse(_vindex_codes_path(spark, "t_vindex_cpt")).path

    def files_per_cell():
        out = {}
        for d in os.listdir(path):
            if d.startswith("cid="):
                out[d] = len(
                    [f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")]
                )
        return out

    before = files_per_cell()
    assert max(before.values()) >= 2, before
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    rows_before = sorted(
        map(
            tuple,
            vector_index_probe(
                spark, "t_vindex_cpt", q, residual=residual
            ).collect(),
        )
    )
    vector_index_compact(spark, "t_vindex_cpt")
    after = files_per_cell()
    assert set(after) == set(before)
    assert max(after.values()) == 1, after
    # the compacted copy was swapped in: nothing staged is left behind
    left = [
        d
        for d in os.listdir(os.path.dirname(path))
        if "t_vindex_cpt" in d and ("__compact" in d or "_spool_" in d)
    ]
    assert left == [], left
    rows_after = sorted(
        map(
            tuple,
            vector_index_probe(
                spark, "t_vindex_cpt", q, residual=residual
            ).collect(),
        )
    )
    assert rows_before == rows_after and len(rows_after) == N_QUERIES * TOP_K


def test_attached_index_serves_identically_and_prunes(spark, sf_dir):
    """The cross-session restore path: quantizer + book re-attached
    under a new name from their parquet locations alone (external DDL,
    schema inferred from files) must serve row-for-row what the
    original probe serves, and the path-read codes scan must keep its
    dynamic-partition-pruning subquery."""
    from mapreduce_spark.operators.similarity import (
        _vindex_codes_path,
        vector_index_attach,
    )
    from mapreduce_spark.sources.fs import warehouse_uri

    emb = _emb(spark, sf_dir)
    vector_index_write(emb, "t_vindex_att")
    w = warehouse_uri(spark)
    vector_index_attach(
        spark,
        "t_vindex_att_reborn",
        f"{w}/t_vindex_att_centroids",
        f"{w}/t_vindex_att_book",
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    attached = vector_index_probe(
        spark,
        "t_vindex_att_reborn",
        q,
        codes_path=_vindex_codes_path(spark, "t_vindex_att"),
    )
    original = vector_index_probe(spark, "t_vindex_att", q)
    assert sorted(map(tuple, attached.collect())) == sorted(
        map(tuple, original.collect())
    )
    plan = attached._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_probe_construction_launches_no_job(spark, sf_dir):
    """Opening the stored codes reads them under their known schema:
    building the probe DataFrame runs no Spark job (no schema-inference
    pass over the code files)."""
    emb = _emb(spark, sf_dir)
    vector_index_write(emb, "t_vindex_nojob")
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    sc = spark.sparkContext
    sc.setJobGroup("vindex-probe-construct", "vindex-probe-construct")
    try:
        probe = vector_index_probe(spark, "t_vindex_nojob", q)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("vindex-probe-construct") == []
    assert len(probe.collect()) == N_QUERIES * TOP_K


def test_failed_compaction_keeps_live_index(spark, sf_dir, monkeypatch):
    """A compaction whose rewrite fails must leave the live codes as they
    were: same stored rows, same probe result, no staged copy left."""
    import os
    from urllib.parse import urlparse

    from pyspark.sql.readwriter import DataFrameWriter

    from mapreduce_spark.operators.similarity import (
        _vindex_codes_path,
        vector_index_append,
        vector_index_compact,
    )

    emb = _emb(spark, sf_dir)
    vector_index_write(
        emb.filter(F.col("vec_id") % 2 == 0), "t_vindex_cfail", train=emb
    )
    vector_index_append(emb.filter(F.col("vec_id") % 2 == 1), "t_vindex_cfail")
    path = _vindex_codes_path(spark, "t_vindex_cfail")
    q = emb.filter(F.col("vec_id") < N_QUERIES)

    def state():
        return (
            sorted(map(tuple, spark.read.parquet(path).collect())),
            sorted(map(tuple, vector_index_probe(spark, "t_vindex_cfail", q).collect())),
        )

    before = state()
    write = DataFrameWriter.parquet

    def failing_write(self, target, *args, **kwargs):
        if str(target).startswith(path):
            raise RuntimeError(f"injected write failure: {target}")
        return write(self, target, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_write)
    with pytest.raises(RuntimeError, match="injected write failure"):
        vector_index_compact(spark, "t_vindex_cfail")
    monkeypatch.undo()
    assert state() == before
    local = urlparse(path).path
    assert [
        d
        for d in os.listdir(os.path.dirname(local))
        if d.startswith(os.path.basename(local) + "__")
    ] == []
