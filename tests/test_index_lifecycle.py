"""Persisted dedup-index lifecycle (VERDICT r5 #3/#4).

A 100 TB ingest gate never re-minhashes its corpus: the band index lives
ON DISK as bucketed parquet keyed on the probe join's keys, probes read
it shuffle-free, and each ingest's admits FOLD BACK IN via a bucketed
append. These tests pin all three properties:

1. on-disk probe == in-memory probe, row for row;
2. the probe join plans NO Exchange on the corpus/index side (the
   incoming batch is the only thing that ever shuffles);
3. a near-dup pair split across two ingest batches admits exactly ONE
   member once the first batch's admits are folded in — and the folded
   gate equals the batch pipeline run over the concatenated corpus.

(Reference basis: the reference persists every stage's intermediates to
its filesystem between phases, mapreduce/worker/__main__.py:88-93; the
bucketed-table lifecycle is the Spark-native equivalent.)
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from mapreduce_spark.operators.dedup import (
    dedup_against_index,
    dedup_incremental,
    minhash_index,
    minhash_index_attach,
    minhash_index_read,
    minhash_index_write,
)


def test_on_disk_probe_matches_in_memory(spark, sf_dir):
    """Round-tripping the index through bucketed parquet must not change
    a single probe row vs the all-in-memory dedup_incremental plan."""
    from mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    minhash_index_write(corpus, "t_idx_parity")
    bands, hashes = minhash_index_read(spark, "t_idx_parity")
    on_disk = sorted(
        map(tuple, dedup_against_index(batch, bands, hashes).collect())
    )
    in_memory = sorted(map(tuple, dedup_incremental(spark, sf_dir).collect()))
    assert on_disk == in_memory


def test_probe_join_has_no_corpus_side_exchange(spark, sf_dir):
    """The candidates equi-join against the bucketed index must plan
    exactly ONE Exchange — the incoming batch side. A second Exchange
    means the corpus shuffles per ingest, which does not survive 100 TB."""
    from mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    minhash_index_write(docs.filter(F.col("doc_id") % 2 == 0), "t_idx_plan")
    index_bands, _ = minhash_index_read(spark, "t_idx_plan")
    new_bands, _ = minhash_index(docs.filter(F.col("doc_id") % 2 == 1))
    probe = new_bands.selectExpr(
        "doc_id AS new_doc", "band_idx", "band_hash"
    ).join(
        index_bands.selectExpr("doc_id AS old_doc", "band_idx", "band_hash"),
        ["band_idx", "band_hash"],
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    n_exchange = plan.count("Exchange")
    assert n_exchange == 1, (
        f"probe join plans {n_exchange} Exchanges (want 1, batch side "
        f"only):\n{plan[:2000]}"
    )


def test_reattach_preserves_rows_and_bucketing(spark, sf_dir):
    """An index written by a dead session re-attaches via external
    CLUSTERED BY DDL: same rows, and the probe join still plans a single
    Exchange (bucket metadata restored from DDL, layout from the files)."""
    from mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    minhash_index_write(corpus, "t_idx_attach")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    before = spark.table("t_idx_attach_bands").count()
    # simulate a fresh session: drop the catalog entries, keep the files
    # (external re-attach must not depend on catalog state), re-attach at
    # a new name pointing at the surviving location
    spark.sql(
        "CREATE TABLE t_idx_attach_bands_keep AS "
        "SELECT * FROM t_idx_attach_bands LIMIT 0"
    )
    spark.sql("DROP TABLE t_idx_attach_bands_keep")
    bands, hashes = minhash_index_attach(
        spark,
        "t_idx_reborn",
        f"{warehouse}/t_idx_attach_bands",
        f"{warehouse}/t_idx_attach_hashes",
        buckets=spark.sparkContext.defaultParallelism,
    )
    assert bands.count() == before
    new_bands, _ = minhash_index(docs.filter(F.col("doc_id") % 2 == 1))
    probe = new_bands.join(
        bands.withColumnRenamed("doc_id", "old_doc"),
        ["band_idx", "band_hash"],
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


@pytest.fixture()
def split_pair_docs(spark):
    """A corpus plus two ingest batches where docs 101 (batch 1) and 103
    (batch 2) are near-identical — the pair the static-index gate admits
    twice and the folding gate must admit exactly once."""
    base = " ".join(f"tok{i}" for i in range(40))
    corpus_text = " ".join(f"corp{i}" for i in range(40))
    rows = [
        (100, corpus_text),
        (101, base + " alpha"),   # batch 1: novel vs corpus
        (103, base + " alpha beta"),  # batch 2: near-dup of 101
        (105, "totally different text about seven quick foxes jumping"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_split_pair_admits_exactly_one(spark, split_pair_docs):
    """Fold semantics: batch-2 doc 103 collides with batch-1 admit 101
    once 101's bands are appended, so exactly one of the pair survives."""
    corpus = split_pair_docs.filter("doc_id = 100")
    b1 = split_pair_docs.filter("doc_id IN (101, 105)")
    b2 = split_pair_docs.filter("doc_id = 103")
    minhash_index_write(corpus, "t_idx_fold")

    admitted = []
    for batch in (b1, b2):
        bands, hashes = minhash_index_read(spark, "t_idx_fold")
        dups = dedup_against_index(batch, bands, hashes).select(
            F.col("new_doc").alias("doc_id")
        )
        adm = batch.join(dups, "doc_id", "left_anti").localCheckpoint(
            eager=True
        )
        admitted.append({r.doc_id for r in adm.select("doc_id").collect()})
        minhash_index_write(adm, "t_idx_fold", mode="append")

    assert admitted[0] == {101, 105}
    assert admitted[1] == set(), "103 must be rejected against folded 101"

    # equivalence with the batch pipeline over the concatenated corpus:
    # probing everything-at-once against corpus+101+105 rejects exactly
    # the same doc (103), so the fold loses nothing to batch boundaries.
    bands, hashes = minhash_index(
        split_pair_docs.filter("doc_id IN (100, 101, 105)")
    )
    batch_dups = {
        r.new_doc
        for r in dedup_against_index(
            split_pair_docs.filter("doc_id IN (101, 103, 105)").filter(
                "doc_id = 103"
            ),
            bands,
            hashes,
        ).collect()
    }
    assert batch_dups == {103}


def test_fold_append_keeps_bucket_layout(spark, split_pair_docs):
    """Appends must preserve the bucket spec: after a fold, the probe
    join still plans a single Exchange."""
    minhash_index_write(split_pair_docs.filter("doc_id = 100"), "t_idx_app")
    minhash_index_write(
        split_pair_docs.filter("doc_id = 101"), "t_idx_app", mode="append"
    )
    bands, _ = minhash_index_read(spark, "t_idx_app")
    new_bands, _ = minhash_index(split_pair_docs.filter("doc_id = 103"))
    probe = new_bands.join(
        bands.withColumnRenamed("doc_id", "old_doc"),
        ["band_idx", "band_hash"],
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert {r.doc_id for r in bands.select("doc_id").distinct().collect()} == {
        100,
        101,
    }


def test_compaction_restores_single_file_buckets(spark, sf_dir):
    """Ingests multiply files (each write task emits a file per bucket it
    holds); compaction must rewrite to at most one file per bucket with
    identical rows and an unchanged single-Exchange probe plan."""
    import glob
    import os

    from mapreduce_spark.operators.dedup import minhash_index_compact
    from mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    minhash_index_write(docs.filter(F.col("doc_id") % 4 == 0), "t_idx_cpt")
    minhash_index_write(
        docs.filter(F.col("doc_id") % 4 == 2), "t_idx_cpt", mode="append"
    )
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    n_before = len(glob.glob(f"{warehouse}/t_idx_cpt_bands/part-*"))
    rows_before = sorted(
        map(tuple, spark.table("t_idx_cpt_bands").collect())
    )
    buckets = spark.sparkContext.defaultParallelism
    minhash_index_compact(spark, "t_idx_cpt", buckets=buckets)
    n_after = len(glob.glob(f"{warehouse}/t_idx_cpt_bands/part-*"))
    assert n_after <= buckets < n_before, (n_before, n_after)
    bands, _ = minhash_index_read(spark, "t_idx_cpt")
    assert sorted(map(tuple, bands.collect())) == rows_before
    # the compacted copy was swapped in: nothing staged is left behind
    left = [
        d
        for d in os.listdir(warehouse)
        if "t_idx_cpt" in d and ("__compact" in d or "_spool_" in d)
    ]
    assert left == [], left
    new_bands, _ = minhash_index(docs.filter(F.col("doc_id") % 2 == 1))
    probe = new_bands.join(
        bands.withColumnRenamed("doc_id", "old_doc"),
        ["band_idx", "band_hash"],
    )
    assert (
        probe._jdf.queryExecution().executedPlan().toString().count("Exchange")
        == 1
    )


def test_append_keeps_the_created_bucket_count(spark, split_pair_docs):
    """An index created with N buckets keeps N after an append that
    passes no count: the append inserts under the stored bucket spec
    (DESCRIBE and the files' bucket ids agree), so one index never mixes
    layouts whatever the appending session's default."""
    import re

    n = spark.sparkContext.defaultParallelism + 1
    minhash_index_write(
        split_pair_docs.filter("doc_id IN (100, 105)"), "t_idx_nb", buckets=n
    )
    files_before = {
        s: set(spark.table(f"t_idx_nb_{s}").inputFiles())
        for s in ("bands", "hashes")
    }
    minhash_index_write(
        split_pair_docs.filter("doc_id IN (101, 103)"), "t_idx_nb", mode="append"
    )
    for suffix in ("bands", "hashes"):
        table = f"t_idx_nb_{suffix}"
        desc = {
            r.col_name: r.data_type
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        }
        assert desc["Num Buckets"] == str(n), desc
        files = set(spark.table(table).inputFiles())
        assert files > files_before[suffix]
        # file names carry the bucket id: part-..._00002.c000.snappy.parquet
        ids = {int(re.search(r"_(\d{5})\.c\d{3}", f).group(1)) for f in files}
        assert ids <= set(range(n)), ids
    bands, _ = minhash_index_read(spark, "t_idx_nb")
    assert {r.doc_id for r in bands.select("doc_id").distinct().collect()} == {
        100,
        101,
        103,
        105,
    }


def test_failed_compaction_keeps_live_index(spark, sf_dir, monkeypatch):
    """A compaction whose rewrite fails must leave the live index as it
    was: same stored rows, same probe result, no staged tables left."""
    from pyspark.sql.readwriter import DataFrameWriter

    from mapreduce_spark.operators.dedup import minhash_index_compact
    from mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    minhash_index_write(docs.filter(F.col("doc_id") % 4 == 0), "t_idx_cfail")
    minhash_index_write(
        docs.filter(F.col("doc_id") % 4 == 2), "t_idx_cfail", mode="append"
    )
    batch = docs.filter(F.col("doc_id") % 2 == 1)

    def state():
        bands, hashes = minhash_index_read(spark, "t_idx_cfail")
        return (
            sorted(map(tuple, bands.collect())),
            sorted(map(tuple, hashes.collect())),
            sorted(map(tuple, dedup_against_index(batch, bands, hashes).collect())),
        )

    before = state()
    save = DataFrameWriter.saveAsTable

    def failing_save(self, name, *args, **kwargs):
        if name.startswith("t_idx_cfail_"):
            raise RuntimeError(f"injected write failure: {name}")
        return save(self, name, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "saveAsTable", failing_save)
    with pytest.raises(RuntimeError, match="injected write failure"):
        minhash_index_compact(spark, "t_idx_cfail")
    monkeypatch.undo()
    assert state() == before
    assert not [
        t.name for t in spark.catalog.listTables() if "t_idx_cfail__" in t.name
    ]
