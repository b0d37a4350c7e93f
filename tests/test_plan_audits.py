"""Physical-plan audits for the headline queries (the 100 TB checklist).

Correctness is the driver's DuckDB gate; these tests pin the PLAN SHAPE
that survives a 1000-executor / 100 TB scale-up: pushdown reaches the
scan, projections prune columns, dimension joins broadcast, top-k never
globally sorts, pairwise operators never go cartesian.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest

from mapreduce_spark.plans import audit
from mapreduce_spark.registry import get_queries


@pytest.fixture(scope="module")
def qs():
    return get_queries()


def test_filter_predicate_pushdown_reaches_scan(spark, sf_dir, qs):
    df = qs["filter_predicate"](spark, sf_dir)
    assert audit.scans_with_pushed_filters(df) >= 1


def test_scan_project_prunes_columns(spark, sf_dir, qs):
    df = qs["scan_project"](spark, sf_dir)
    schemas = audit.scan_read_schemas(df)
    assert schemas and all(len(s) <= 4 for s in schemas), (
        f"projection should prune the 16-col lineitem scan, read {schemas}"
    )


def test_groupby_agg_single_shuffle_with_partial_agg(spark, sf_dir, qs):
    df = qs["groupby_agg"](spark, sf_dir)
    assert audit.exchange_count(df) <= 2  # agg + declared output order
    plan = audit.simple_plan(df)
    assert plan.count("HashAggregate") >= 2  # partial (map-side) + final


def test_join_broadcast_no_fact_shuffle(spark, sf_dir, qs):
    df = qs["join_broadcast"](spark, sf_dir)
    assert audit.broadcast_join_count(df) >= 3  # region/nation/supplier dims
    assert audit.sortmerge_join_count(df) == 0  # the fact table never shuffles for a join


def test_join_equi_reuses_one_shuffle_key(spark, sf_dir, qs):
    df = qs["join_equi"](spark, sf_dir)
    # customer⋈orders on custkey then groupBy custkey: Catalyst must not
    # add a second hash-exchange for the aggregation.
    assert audit.exchange_count(df) <= 3


def test_topk_uses_take_ordered_not_global_sort(spark, sf_dir, qs):
    df = qs["topk"](spark, sf_dir)
    assert "TakeOrderedAndProject" in audit.simple_plan(df)
    assert audit.exchange_count(df) == 0  # no range-partition sort of all rows


def test_pairwise_operators_never_cartesian(spark, sf_dir, qs):
    for name in ("dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_embedding",
                 "similarity_ann_lsh"):
        assert not audit.has_cartesian(qs[name](spark, sf_dir)), name


def test_wordcount_partial_aggregates_before_shuffle(spark, sf_dir, qs):
    df = qs["wordcount"](spark, sf_dir)
    assert audit.exchange_count(df) <= 2  # count agg + declared order
    assert audit.simple_plan(df).count("HashAggregate") >= 2


def test_quantile_exact_aggregates_distribution_not_rows(spark, sf_dir, qs):
    # the scale-safe quantile: windows run over the (group, value) counts,
    # so a partial aggregate must appear BELOW the window in the plan
    plan = audit.simple_plan(qs["quantile_exact"](spark, sf_dir))
    assert "HashAggregate" in plan and "Window" in plan
    # tree prints top-down: a (partial) aggregate must sit BELOW the window,
    # proving the window runs over the compacted distribution, not raw rows
    assert plan.rindex("HashAggregate") > plan.index("Window")


def test_partition_pruning_reaches_scan(spark, sf_dir, tmp_path):
    # Hive-style partitioned layout + a partition-key filter must prune at
    # plan time: the scan lists only the matching partition directory.
    from mapreduce_spark.sources.tables import load_table

    from mapreduce_spark.sources.writers import write_partitioned

    path = str(tmp_path / "orders_by_status")
    write_partitioned(load_table(spark, sf_dir, "orders"), path, "o_orderstatus")
    df = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey"
    )
    plan = audit.physical_plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), "partition filter did not reach the scan"
    assert df.count() > 0


def test_bucketed_join_needs_no_shuffle(spark, sf_dir, tmp_path):
    # Bucketing both sides on the join key co-locates rows at WRITE time:
    # the join plan must contain zero shuffle exchanges.
    from mapreduce_spark.sources.tables import load_table

    import shutil

    from mapreduce_spark.sources.writers import write_bucketed

    spark.sql("CREATE DATABASE IF NOT EXISTS bucketdemo")
    for tbl, key in (("orders", "o_custkey"), ("customer", "c_custkey")):
        spark.sql(f"DROP TABLE IF EXISTS bucketdemo.{tbl}_b")
        shutil.rmtree(f"/tmp/spark-warehouse/bucketdemo.db/{tbl}_b", ignore_errors=True)
        write_bucketed(
            load_table(spark, sf_dir, tbl), f"bucketdemo.{tbl}_b", key, buckets=8
        )
    o = spark.table("bucketdemo.orders_b")
    c = spark.table("bucketdemo.customer_b")
    joined = o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey", "c_name")
    assert audit.exchange_count(joined) == 0, audit.simple_plan(joined)
    assert joined.count() > 0


# Queries whose plans legitimately contain a cartesian/nested-loop join:
# cross_join by definition; the similarity family broadcasts a <=5-row
# query set / centroid list against vectors (bounded NLJ, the intended
# plan); scalar_subquery broadcasts a 1-row aggregate.
CARTESIAN_OK = {
    "cross_join",
    "similarity_topk",
    "similarity_ann_ivf",
    "knn_label",  # reuses the similarity_topk broadcast-NLJ scoring plan
    "ann_recall_report",  # embeds the similarity_topk broadcast-NLJ baseline
    "kmeans_refine",  # broadcasts the seed-centroid list against vectors
    "similarity_ann_ivf_scaled",  # broadcast trained-centroid assignment NLJ
    "ann_recall_report_scaled",  # embeds similarity_topk + centroid NLJs
    "knn_graph_recall_report",  # exact side broadcasts the sampled query set
    "semdedup_clusters",  # same broadcast-centroid assignment NLJ
    "multiprobe_recall_report",  # embeds the similarity_topk exact baseline
    "similarity_graph_beam",  # broadcast 5-query NLJ scoring the landmarks
    "similarity_graph_beam_routed",  # broadcast ~sqrt(|V|)-centroid routing NLJ
    "similarity_graph_beam_routed_persisted",  # same NLJ, stored artifacts
    "graph_beam_routed_recall_report",  # routed NLJ + the exact baseline
    "graph_beam_routed_entry_stats",  # same routing NLJ + 1-row gauge crossJoins
    "graph_beam_recall_report",  # same landmark NLJ + the exact baseline
    "similarity_graph_beam_scaled",  # same landmark NLJ, scaled graph
    "graph_beam_recall_report_scaled",  # landmark NLJ + exact baseline
    "similarity_graph_beam_persisted",  # same landmark NLJ, stored graph
    "similarity_graph_beam_appended",  # same landmark NLJ, appended graph
    "graph_degree_stats",  # crossJoin of two 1-row rollups (gauge pattern)
    "hard_negatives",  # similarity_topk's broadcast-NLJ with a label filter
    "hard_negatives_scaled",  # 5-row sign-code broadcast NLJ + rerank
    "allpairs_prefix_stats",  # crossJoin of two 1-row volume rollups
    "tpch_q11_important_parts",  # broadcasts the 1-row global-mean threshold
    "zorder_layout",  # broadcasts the 1-row min/max quantization frame
    "zorder_pruned_scan",  # same 1-row min/max broadcast, write + read side
    "quality_logreg_train",  # broadcasts the 1-row weight vector per round
    "quality_logreg_gate",  # broadcasts the final 1-row weight vector
    "mix_epoch_capped",  # broadcasts the 1-row budget/boundary aggregates
    "similarity_index_compacted",  # embeds the broadcast-centroid routing NLJ
    "scalar_subquery",
    "tfidf_top_terms",  # broadcasts the 1-row corpus-size aggregate
    "tpch_q22_dormant",  # broadcasts the 1-row average-balance aggregate
    "key_skew_report",  # broadcasts the 1-row grand-total aggregate
    "cms_heavy_hitters",  # broadcasts the 1-row total-token aggregate
    "mix_weighted_sample",  # broadcasts the 1-row weight-total aggregate
    "bm25_topk",  # broadcasts the 1-row (n_docs, avgdl) corpus aggregate
    "hybrid_rrf",  # embeds bm25's 1-row stats + the 1-row query embedding
    "perplexity_bigram",  # broadcasts the 1-row vocabulary-size aggregate
    "perplexity_trigram_backoff",  # broadcasts the 1-row (nt, vs) aggregate
    "pagerank_transitions",  # broadcasts the 1-row node-count aggregate
    "ccnet_buckets",  # broadcasts the 1-row percentile-cutoff aggregate
    "funnel_latency_stats",  # bounded_cumsum's 1-row (min,max) + total

    "window_ntile",  # broadcasts the 1-row (min,max)/count range aggregates
    "dsir_weights",  # broadcasts the 1-row target/raw total aggregates
    "dsir_resample",  # embeds dsir_weights' 1-row total broadcast
    "dedup_recall_report",  # crossJoin of the two 1-row count aggregates
    "dedup_recall_report_scaled",  # same 1-row crossJoin, scaled profile
    "dedup_recall_report_oph",  # same 1-row crossJoin, OPH-fed profile
    "contamination_gate_bloom",  # broadcasts the 1-row 64 KiB bloom array
    "join_bloom_prefilter",  # broadcasts the 1-row 64 KiB dim-key bloom
    "similarity_hamming_topk",  # broadcasts the 5-row query sign codes (!=)
    "similarity_hamming_rerank",  # same 5-row code broadcast, then equi-joins
    "hamming_recall_report",  # embeds similarity_topk + the hamming NLJs
    "matryoshka_recall_report",  # 5-row query broadcasts at each prefix width
    "similarity_ivfpq_adc",  # broadcast trained-centroid assignment NLJ
    "ivfpq_recall_report",  # embeds the centroid NLJ + exact-L2 baseline
    "embedding_pq_codes_residual",  # same broadcast-centroid assignment NLJ
    "similarity_ivfpq_adc_residual",  # same centroid NLJ, residual codes
    "ivfpq_residual_recall_report",  # embeds both tiers' centroid NLJs
    "quality_nb_classifier",  # broadcasts the 1-row totals/prior aggregates
    "quality_nb_report",  # same 1-row broadcasts + the 1-row grand total
    "quality_calibration_bins",  # NB's 1-row broadcasts + the (min,max) row
    "domain_mix_report",  # broadcasts the 1-row token/weight totals
    "bpe_train_iters",  # broadcasts each round's 1-row merge rule
    "bpe_apply",  # same three 1-row merge-rule broadcasts, applied
    "perplexity_kn_bigram",  # broadcasts the 1-row (types, vocab) aggregate
    "similarity_index_persisted",  # broadcast stored-centroid routing NLJ
    "similarity_index_persisted_residual",  # same routing NLJ, residual codes
    "similarity_index_appended",  # same stored-centroid routing NLJ probe
    "similarity_index_attached",  # same routing NLJ, re-attached catalog
    "vindex_cell_stats",  # same broadcast-centroid assignment NLJ
    "token_pmi",  # broadcasts the two 1-row token/pair-total aggregates
    "similarity_ann_ivf_hier",  # broadcast K2-row SUPER-centroid NLJs only
    "ivf_hier_recall_report",  # hier K2 NLJs + flat centroid NLJ + baseline
    "ivf_hier_cost_stats",  # same K2 NLJs + 1-row gauge crossJoins
}

# Streaming queries and iterative/pipe operators execute on call — skip
# them in the static plan sweep (they are audited by their own tests).
PLAN_SWEEP_SKIP = {
    "stream_window_counts", "stream_sessionize", "stream_dedup",
    "stream_static_join", "stream_stream_join", "stream_text_clean",
    "stream_quality_gate", "stream_gopher_gate", "stream_contamination_gate",
    "stream_neardup_gate",  # drains the ingest stream when invoked
    "stream_neardup_gate_accum",  # drains + folds the ingest stream
    "stream_embdup_gate",  # drains the embedding ingest stream
    "stream_embdup_gate_accum",  # drains + folds the embedding stream
    "stream_anomaly_gate",  # drains the event stream when invoked
    "stream_ohlc",  # drains the event stream when invoked
    "stream_domain_mix_gate",  # drains the document stream when invoked
    "stream_cdc_gate",  # drains + folds the payload chunk stream
    "dedup_cluster",  # runs a convergence loop when invoked
    "cc_star_components",  # runs the star-contraction loop when invoked
    "dedup_cluster_stats",  # rolls up dedup_cluster's converged labels
    "dedup_keep_best",  # runs dedup_cluster's convergence loop when invoked
    "pipe_exec", "pipe_grep",  # RDD pipelines, no SQL plan to audit
}


@pytest.mark.seal
def test_no_query_degenerates_to_cartesian(spark, sf_dir, qs):
    offenders = []
    for name, fn in sorted(qs.items()):
        if name in PLAN_SWEEP_SKIP or name in CARTESIAN_OK:
            continue
        if audit.has_cartesian(fn(spark, sf_dir)):
            offenders.append(name)
    assert not offenders, f"unexpected cartesian/nested-loop plans: {offenders}"


# The CARTESIAN_OK allowlist is only as good as the claim each entry
# makes — "my NLJ build side is a 1-row aggregate / a <=5-row query set /
# a k-row centroid list". This cap makes the claim STRUCTURAL (VERDICT r6
# #2): every allowlisted query that actually plans an NLJ is executed and
# the build side's own SQLMetrics must report at most this many rows. A
# refactor that lets an unbounded frame reach an NLJ build side now fails
# here instead of OOMing a 100 TB run.
NLJ_BUILD_CAP = 64


@pytest.mark.seal
def test_allowlisted_nlj_build_sides_are_bounded(spark, sf_dir, qs):
    offenders = []
    for name in sorted(CARTESIAN_OK):
        if name not in qs or name in PLAN_SWEEP_SKIP:
            continue
        df = qs[name](spark, sf_dir)
        if not audit.has_cartesian(df):
            continue
        rows = audit.nlj_build_rows(df)
        if any(r < 0 or r > NLJ_BUILD_CAP for r in rows):
            offenders.append((name, rows))
    assert not offenders, f"unbounded NLJ build sides: {offenders}"


def test_nlj_audit_flags_unbounded_build_side(spark, sf_dir):
    # a deliberately broken shape — the whole documents table broadcast
    # as an NLJ build side — must FAIL the bound the sweep above enforces
    from mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    planted = spark.range(1).crossJoin(F.broadcast(docs))
    rows = audit.nlj_build_rows(planted)
    assert rows and max(rows) > NLJ_BUILD_CAP, rows


# Partitionless windows execute on ONE partition — acceptable only above
# a provably bounded frame. Default bound: 64 rows (1-row aggregates,
# |sources|-row mixing tables, post-limit top-k fusions). Entries here
# carry a documented larger-but-still-constant bound. The exception set
# is EMPTY as of r8: window_ntile (the last global-window holdout) now
# uses the ccnet_buckets two-phase prefix-rank, so its only partitionless
# window is the <=256 cell-total cumsum.
PARTITIONLESS_WINDOW_CAPS = {
    # two-phase prefix sum: the only partitionless window runs over the
    # <=256 coarse-cell totals (constant NB, not data-driven)
    "ccnet_buckets": 256,
    "window_ntile": 256,
    # r10 (VERDICT r9 #6): the latency distribution's cumulative count
    # now rides the same shared bounded_cumsum — the old form's
    # partitionless window grew with |distinct latencies| (value-domain
    # bounded, unbounded by design at finer granularities)
    "funnel_latency_stats": 256,
    # fusion of the two post-limit rank lists (2 retrievers x top-100)
    "hybrid_rrf": 256,
}
WINDOW_GLOBAL_BY_DESIGN: set[str] = set()


@pytest.mark.seal
def test_partitionless_windows_have_bounded_input(spark, sf_dir, qs):
    offenders = []
    for name, fn in sorted(qs.items()):
        if name in PLAN_SWEEP_SKIP or name in WINDOW_GLOBAL_BY_DESIGN:
            continue
        df = fn(spark, sf_dir)
        if not audit.has_partitionless_window(df):  # plan-only, no exec
            continue
        rows = audit.partitionless_window_input_rows(df)
        cap = PARTITIONLESS_WINDOW_CAPS.get(name, 64)
        if any(r < 0 or r > cap for r in rows):
            offenders.append((name, rows, cap))
    assert not offenders, f"unbounded partitionless windows: {offenders}"


def test_window_ntile_rank_stage_is_partitioned(spark, sf_dir, qs):
    """The r8 rewrite's contract (VERDICT r7 #3): the per-row rank window
    runs partitioned by the coarse price cell — the ONLY partitionless
    window left in the plan is the <=256-row cell-total cumsum, while the
    full orders table flows through the partitioned stage. A regression
    back to Window.orderBy over all rows would push |orders| (4180 at
    sf0.001+) through a partitionless window and fail both assertions."""
    df = qs["window_ntile"](spark, sf_dir)
    assert audit.has_partitionless_window(df)
    rows = audit.partitionless_window_input_rows(df)
    n_orders = df.count()
    assert rows and max(rows) <= 256, rows
    assert n_orders > 256  # the bound is meaningful: full table >> cells


def test_window_audit_flags_unbounded_partitionless_window(spark, sf_dir):
    from pyspark.sql.window import Window as W

    from mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    planted = docs.withColumn("rn", F.row_number().over(W.orderBy("doc_id")))
    assert audit.has_partitionless_window(planted)
    rows = audit.partitionless_window_input_rows(planted)
    assert rows and max(rows) > 64, rows


def test_operators_are_codegened(spark, sf_dir, qs):
    # hot relational paths must stay inside whole-stage codegen
    for name in ("groupby_agg", "join_equi", "window_running"):
        assert audit.whole_stage_codegen_count(qs[name](spark, sf_dir)) >= 1, name


FACT_JOIN_QUERIES = [
    "join_broadcast",
    "tpch_q3_shipping",
    "tpch_q5_local_volume",
    "tpch_q10_returns",
    "tpch_q14_promo",
    "tpch_q18_large_orders",
    # operators/tpch.py: q4/q15/q17 broadcast aggregate-guarded fact
    # rollups (allowed — size-driven), never raw lineitem rows
    "tpch_q4_priority",
    "tpch_q7_volume",
    "tpch_q8_market_share",
    "tpch_q9_profit",
    "tpch_q12_priority_mix",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_variety",
    "tpch_q17_small_qty",
    "tpch_q19_brackets",
]


def test_fact_table_never_broadcast(spark, sf_dir, qs):
    """lineitem must be the probe side of every join — a plan that
    broadcasts the fact table only works while the fact fits in executor
    memory, which is exactly what stops being true at 100 TB. Local
    statistics make the fact broadcast-eligible here, so this pins the
    shape against the most tempting wrong plan."""
    offenders = [
        name
        for name in FACT_JOIN_QUERIES
        if not audit.fact_is_stationary(qs[name](spark, sf_dir))
    ]
    assert not offenders, f"fact table broadcast in: {offenders}"


def test_pagerank_rank_join_broadcasts_only_under_threshold(spark, sf_dir, qs):
    """The per-iteration rank⋈edges join must be SIZE-DRIVEN, never
    hint-forced (operators/graph.py): a forced broadcast of the rank
    table OOMs executors when a 100 TB-scale node set outgrows memory.
    Pin both halves: (a) the only broadcast hints anywhere in the lineage
    are the PR_ITERS+1 crossJoins of the 1-row node-count aggregate — the
    rank and contribution joins carry none, so their strategy is the
    optimizer's runtime size decision and degrades to a shuffle join on
    oversized inputs; (b) at this SF that decision does pick broadcast
    for the rank joins (the plan we want on a small node set)."""
    from mapreduce_spark.operators.graph import PR_ITERS

    df = qs["pagerank_transitions"](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == PR_ITERS + 1, analyzed
    df.collect()  # finalize the AdaptiveSparkPlan
    assert audit.broadcast_join_count(df) >= PR_ITERS, audit.simple_plan(df)


def test_runtime_bloom_filter_prunes_fact_probe(spark, sf_dir):
    """The third 100 TB join lever after broadcast and skew-split:
    Catalyst's InjectRuntimeFilter plants a bloom filter built from a
    SELECTIVE dimension side onto the fact probe's scan, so fact rows
    that cannot join die at the scan instead of riding the shuffle.
    Thresholds are lowered so local data qualifies; production keeps
    defaults and the same rule fires at real sizes."""
    from mapreduce_spark.sources.tables import load_table

    tuned = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "50MB",
        # the probe side must look "big enough to be worth filtering";
        # default 10GB — at test scale everything is under it
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.optimizer.runtimeFilter.number.threshold": "10",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    # load BEFORE overriding confs: load_table re-applies tune_session,
    # which would restore the broadcast threshold and keep the join
    # broadcast-eligible (bloom injection only targets shuffle joins)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_custkey")
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
            "o_custkey"
        ).count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in plan.lower() or "BloomFilter" in plan, plan
        assert j.count() > 0
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partitions(spark):
    """The 100 TB skew story is not aspirational: with a Zipf-hot key,
    AQE's runtime stats split the oversized partition and the executed
    plan self-identifies as a skew join. Thresholds are lowered to make
    local data "big"; production keeps the defaults and the same rule
    fires at real sizes."""
    tuned = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        left = spark.range(0, 400000).select(
            F.when(F.col("id") % 2 == 0, 7)
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k").groupBy().count()
        assert j.collect()[0][0] == 400000  # every row joins, none lost
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_arrow_integer_kernels_stay_inside_scan_partitions(spark, sf_dir):
    """The two Arrow int64 kernels (the 144-perm MinHash signature
    fan-out and the LSH hyperplane bucket matmul) exist to DELETE the
    row-explosion exchange their JVM twins pay — so their output frames
    must plan with ZERO exchanges: scan -> per-row projection ->
    mapInPandas, nothing shuffles before or inside the kernel. The
    demo profile's per-row fold is a map as well: zero exchanges."""
    from mapreduce_spark.operators.dedup import (
        N_PERMS,
        SCALED_PERMS,
        _bs_from_hs,
        shingle_hashes,
        signatures_from_bs,
    )
    from mapreduce_spark.operators.similarity import lsh_buckets_np
    from mapreduce_spark.sources.tables import load_table

    # the production profile's signature entry point must pick the Arrow
    # kernel; the lazy (un-fanned, un-materialized) fingerprint frame
    # keeps the scan in the same plan
    bsf = _bs_from_hs(shingle_hashes(load_table(spark, sf_dir, "documents")))
    sig = signatures_from_bs(bsf, SCALED_PERMS)
    assert audit.exchange_count(sig) == 0, audit.simple_plan(sig)
    assert "InPandas" in audit.simple_plan(sig)
    # the 8-perm profile's per-row fold stays in the JVM and shuffles
    # nothing either
    sig8 = signatures_from_bs(bsf, N_PERMS)
    assert audit.exchange_count(sig8) == 0, audit.simple_plan(sig8)
    assert "InPandas" not in audit.simple_plan(sig8)

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    bk = lsh_buckets_np(emb, 8, 2)
    assert audit.exchange_count(bk) == 0, audit.simple_plan(bk)
    assert "InPandas" in audit.simple_plan(bk)


def test_fan_out_spreads_only_under_parallelism_scans(spark, sf_dir):
    """sources.tables.fan_out, which the fingerprint pass and the other
    CPU-heavy per-row stages rely on to use every core: a scan with
    fewer splits than defaultParallelism (the single-file sf0.001
    documents table) plans one RoundRobinPartitioning exchange, and an
    input that already has at least that many partitions plans none
    more."""
    from mapreduce_spark.sources.tables import fan_out, load_table

    want = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents")
    assert docs.rdd.getNumPartitions() < want

    def round_robins(df):
        # the physical plan before AQE: fan_out's own partition probe
        # runs the input, after which executedPlan also lists the final
        # stages
        plan = df._jdf.queryExecution().sparkPlan().toString()
        return plan, plan.count("RoundRobinPartitioning")

    spread = fan_out(docs)
    plan, n = round_robins(spread)
    assert n == 1 and f"RoundRobinPartitioning({want})" in plan, plan
    # already spread (by fan_out itself, or wider by the caller): no
    # second exchange on top
    plan, n = round_robins(fan_out(spread))
    assert n == 1, plan
    plan, n = round_robins(fan_out(docs.repartition(2 * want)))
    assert n == 1 and f"RoundRobinPartitioning({2 * want})" in plan, plan
