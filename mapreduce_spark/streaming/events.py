"""Structured Streaming over the ``events`` table.

The reference has no streaming surface (SURVEY.md §2 "absent" list) — these
are north-star extensions expressed with the real Structured Streaming
machinery: ``readStream`` file source -> event-time transformations ->
``writeStream`` with an ``availableNow`` trigger draining to a memory sink.
``availableNow`` processes everything currently in the directory and
terminates, so each query returns a deterministic batch-equivalent result
the DuckDB oracle can replay — while the code path (micro-batch planner,
state store, watermarks, applyInPandasWithState) is the exact one a live
unbounded stream would execute. On a real cluster the same plans run
continuously with kafka/file sources and real sinks.

Scale notes: windowed aggregation state is per (window, key) — bounded by
watermark expiry; sessionization state is per active user session, expiring
on the gap timeout. Both shuffle once on the grouping key.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from mapreduce_spark.functions.exact import dsum
from mapreduce_spark.operators.curation import QUALITY_THRESHOLD
from mapreduce_spark.operators.textops import (
    GOPHER_SQL,
    SQL_TOKENS,
    QUALITY_SQL,
    gopher_frame,
    quality_frame,
    scrub_expr,
    sql_scrub,
)
from mapreduce_spark.registry import register
from mapreduce_spark.sources.tables import load_table, parquet_schema

SESSION_GAP_MIN = 30


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over events.parquet with the same nanos->ntz
    normalization as the batch loader (sources/tables.py)."""
    batch = load_table(spark, sf_dir, "events")  # the normalized (final) schema
    raw_schema = parquet_schema(spark, f"{sf_dir}/events.parquet")
    # The file stream source requires a directory: stream the sf dir with a
    # glob filter selecting only the events table file(s).
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events*.parquet")
        .parquet(sf_dir)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000, "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    # Watermarks require TIMESTAMP (with local tz); the session tz is UTC
    # so this cast is instant-preserving, and results cast back to ntz.
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream.select(*batch.columns)


def _drain(df: DataFrame, name: str, spark: SparkSession, output_mode: str) -> DataFrame:
    """Run the streaming plan to completion (availableNow) into a memory
    sink and return the materialized result."""
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    query = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(name)


# ---------------------------------------------------------------------------
@register(
    "stream_window_counts",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
           event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event_type, computed by the
    streaming micro-batch engine (complete output mode => every window is
    emitted when the bounded stream drains, making the result exactly the
    batch answer). Decimal-exact sums keep the hash stable at any
    parallelism."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("w.end").cast("timestamp_ntz").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return _drain(agg, "mem_stream_window_counts", spark, "complete")


# ---------------------------------------------------------------------------
@register(
    "stream_sessionize",
    oracle=f"""
    WITH d AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL {SESSION_GAP_MIN} MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM d),
    agg AS (
        SELECT user_id, sid,
               min(ts) AS session_start, max(ts) AS session_end,
               count(*) AS n_events
        FROM s GROUP BY 1, 2),
    mx AS (SELECT user_id, max(sid) AS last_sid FROM agg GROUP BY 1)
    SELECT a.user_id,
           CAST(a.session_start AS TIMESTAMP) AS session_start,
           CAST(a.session_end AS TIMESTAMP) AS session_end,
           CAST(a.n_events AS BIGINT) AS n_events
    FROM agg a JOIN mx ON a.user_id = mx.user_id AND a.sid < mx.last_sid
    """,
)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful sessionization via applyInPandasWithState: per-user
    state carries the OPEN session across micro-batches; a session is
    emitted when a later event arrives more than 30 minutes
    after it closes it. The still-open final session per user stays in
    state (a live stream would close it later), which the oracle mirrors
    by excluding each user's last session. State size = one open session
    per active user."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _events_stream(spark, sf_dir).select("user_id", "ts", "event_id")

    out_schema = (
        "user_id long, session_start timestamp_ntz, session_end timestamp_ntz, "
        "n_events long"
    )
    state_schema = "start long, last long, n long"
    gap_us = SESSION_GAP_MIN * 60 * 1_000_000

    def sessionize(key, pdfs, state: GroupState):
        (user_id,) = key
        events = pd.concat(list(pdfs), ignore_index=True)
        events = events.sort_values(["ts", "event_id"])
        # timestamps as integer microseconds for exact state round-trips
        ts_us = (events["ts"].astype("int64") // 1000).tolist()
        if state.exists:
            cur_start, cur_last, cur_n = state.get
        else:
            cur_start = cur_last = cur_n = None
        closed: list[tuple[int, int, int]] = []
        for t in ts_us:
            if cur_start is None:
                cur_start, cur_last, cur_n = t, t, 1
            elif t - cur_last > gap_us:
                closed.append((cur_start, cur_last, cur_n))
                cur_start, cur_last, cur_n = t, t, 1
            else:
                cur_last = t
                cur_n += 1
        state.update((cur_start, cur_last, cur_n))
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": pd.Series([user_id] * len(closed), dtype="int64"),
                    "session_start": pd.to_datetime(
                        [c[0] for c in closed], unit="us"
                    ),
                    "session_end": pd.to_datetime([c[1] for c in closed], unit="us"),
                    "n_events": pd.Series([c[2] for c in closed], dtype="int64"),
                }
            )

    sessions = ev.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain(sessions, "mem_stream_sessionize", spark, "append")


# ---------------------------------------------------------------------------
@register(
    "stream_dedup",
    oracle="""
    SELECT event_type, count(*) AS n_unique FROM (
        SELECT DISTINCT ON (event_id) event_id, event_type FROM events
        ORDER BY event_id, ts)
    GROUP BY event_type
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once idiom: dropDuplicates on the event key inside
    the stream (state = seen keys, watermark-expired on a live stream),
    then a running count per type. events' ids are already unique, so this
    equals the batch distinct — the point is the streaming dedup plan."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    deduped = ev.dropDuplicates(["event_id"])
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique"))
    return _drain(agg, "mem_stream_dedup", spark, "complete")


# ---------------------------------------------------------------------------
@register(
    "stream_static_join",
    oracle="""
    SELECT c.c_nationkey AS nationkey,
           count(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the live event stream joins a static
    dimension table (customer) that Spark broadcasts per micro-batch —
    the standard pattern for decorating a stream with slowly-changing
    reference data. No stream state is needed for the join itself; the
    downstream aggregate keeps per-nation running totals. At scale the
    static side refreshes per batch and stays broadcast; the stream never
    shuffles for the join."""
    ev = _events_stream(spark, sf_dir).select("user_id", "value")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_nationkey").alias("nationkey")
    )
    joined = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
    agg = joined.groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value")
    )
    return _drain(agg, "mem_stream_static_join", spark, "complete")


# ---------------------------------------------------------------------------
STREAM_JOIN_WINDOW_MIN = 30


@register(
    "stream_stream_join",
    oracle=f"""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id,
           date_diff('microsecond', c.ts, p.ts) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTE
     AND c.ts <= p.ts
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: every purchase matched to ALL of the
    user's clicks in the preceding 30 minutes — both
    sides are live streams, so the engine buffers each side in state and
    the event-time constraint plus watermarks bound how long rows wait for
    late matches (state is purged once the window can no longer match).
    The drained availableNow result equals the batch interval join, which
    is exactly what the oracle computes."""
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {STREAM_JOIN_WINDOW_MIN} MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user_id").alias("user_id"),
        F.expr("timestampdiff(MICROSECOND, c_ts, p_ts)").alias("gap_us"),
    )
    return _drain(joined, "mem_stream_stream_join", spark, "append")


# ---------------------------------------------------------------------------
@register(
    "stream_text_clean",
    oracle=f"""
    SELECT doc_id, {sql_scrub('text')} AS clean_text
    FROM documents
    """,
)
def stream_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming text cleaning: the documents table consumed as a file
    stream, scrubbed with the IDENTICAL Column expression the batch
    text_scrub query uses (operators/textops.py scrub_expr) — Structured
    Streaming's batch/stream unification made concrete. Stateless
    row-local transform: no watermark, no state store, unbounded
    throughput; on a cluster the same plan runs off kafka with a parquet
    sink for a continuously-cleaned corpus."""
    schema = parquet_schema(spark, f"{sf_dir}/documents.parquet")
    docs = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents*.parquet")
        .parquet(sf_dir)
    )
    out = docs.select("doc_id", scrub_expr(F.col("text")).alias("clean_text"))
    return _drain(out, "stream_text_clean", spark, "append")


# ---------------------------------------------------------------------------
@register(
    "stream_quality_gate",
    oracle=f"""
    SELECT * FROM ({QUALITY_SQL}) WHERE quality >= {QUALITY_THRESHOLD}
    """,
)
def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quality filtering: the documents table consumed as a file
    stream, scored and gated with the IDENTICAL plan fragment the batch
    quality_score query uses (textops.quality_frame) and the same
    QUALITY_THRESHOLD — so the admitted corpus provably equals a batch
    quality_score >= threshold filter (pinned by test). Note this is NOT
    identical to the full curation pipeline's gate, which scores the
    SCRUBBED clean_text rather than raw text; the two can admit different
    borderline documents. Stateless per-row transform: no watermark, no
    state store; on a cluster this is the kafka -> parquet continuous
    curation gate."""
    schema = parquet_schema(spark, f"{sf_dir}/documents.parquet")
    docs = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents*.parquet")
        .parquet(sf_dir)
    )
    out = quality_frame(docs).filter(F.col("quality") >= QUALITY_THRESHOLD)
    return _drain(out, "stream_quality_gate", spark, "append")


# ---------------------------------------------------------------------------
@register(
    "stream_gopher_gate",
    oracle=f"""
    SELECT * FROM ({GOPHER_SQL}) WHERE keep
    """,
)
def stream_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Gopher-rule gating: the documents file stream filtered to
    rows passing ALL Gopher heuristic rules, using the IDENTICAL per-row
    plan fragment as the batch gopher_rules query (textops.gopher_frame) —
    so the admitted stream provably equals the batch keep=true slice.
    Stateless (every rule is row-local array math, including the top-word
    mode via the sorted-run fold): no watermark, no state store; on a
    cluster this is the kafka-side hard filter that drops junk before it
    ever reaches the expensive dedup/scoring stages."""
    schema = parquet_schema(spark, f"{sf_dir}/documents.parquet")
    docs = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents*.parquet")
        .parquet(sf_dir)
    )
    out = gopher_frame(docs).filter(F.col("keep"))
    return _drain(out, "stream_gopher_gate", spark, "append")


# ---------------------------------------------------------------------------
from mapreduce_spark.operators.dedup import (
    CONTAM_GATE_SQL as _SQL_CONTAM_GATE,
)


@register(
    "stream_contamination_gate",
    oracle=_SQL_CONTAM_GATE,
)
def stream_contamination_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming benchmark-decontamination gate: incoming documents whose
    3-shingle overlap with the held-out benchmark slice (source =
    BENCH_SOURCE) reaches CONTAM_THRESHOLD are dropped at ingest — the
    live counterpart of the batch contamination_check sweep, applied
    BEFORE a document can ever enter the training corpus. Overlap here is
    the fraction of the DOC's distinct shingles found anywhere in the
    benchmark (the ingest-side direction; the batch sweep scores per
    benchmark doc).

    Plan shape (the 100 TB one): each micro-batch is scored as a
    self-contained BATCH plan via ``foreachBatch`` — the production idiom
    for a gate that is stateless across batches (every document is scored
    on its own content) but needs a join + aggregate within the batch.
    ZERO streaming state: no state store, no watermark, nothing retained
    between triggers; admitted rows append to a parquet sink. The scoring
    itself is dedup.score_contamination_gate, shared verbatim with the
    batch contamination_gate_bloom query: benchmark shingles fold into
    the constant-64-KiB Bloom bit set (functions/bloom.py), a per-row JVM
    prefilter keeps only bloom-admitted shingles (typical doc: none), and
    survivors pay an exact equi-join (UNHINTED — AQE size-driven) plus a
    per-doc count. No false negatives + exact re-check of bloom positives
    => bit-identical to per-row exact intersection; oracle unchanged."""
    import tempfile

    from mapreduce_spark.operators.dedup import (
        BENCH_SOURCE,
        bench_shingles,
        score_contamination_gate,
    )

    batch_docs = load_table(spark, sf_dir, "documents")
    bench_sh = bench_shingles(batch_docs)
    schema = parquet_schema(spark, f"{sf_dir}/documents.parquet")
    docs = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents*.parquet")
        .parquet(sf_dir)
    )
    out_dir = tempfile.mkdtemp(prefix="stream_contamination_gate_")

    def _score_batch(batch_df: DataFrame, _batch_id: int) -> None:
        score_contamination_gate(
            batch_df.filter(F.col("source") != BENCH_SOURCE), bench_sh
        ).write.mode("append").parquet(out_dir)

    for q in spark.streams.active:
        if q.name == "stream_contamination_gate":
            q.stop()
    query = (
        docs.writeStream.foreachBatch(_score_batch)
        .queryName("stream_contamination_gate")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.read.parquet(out_dir)


# ---------------------------------------------------------------------------
from mapreduce_spark.operators.dedup import _INCR_SQL as _SQL_INCR_PAIRS


@register(
    "stream_neardup_gate",
    oracle=f"""
    WITH dup AS (SELECT DISTINCT new_doc FROM ({_SQL_INCR_PAIRS}) z)
    SELECT d.doc_id, d.source FROM documents d
    WHERE d.doc_id % 2 = 1
      AND d.doc_id NOT IN (SELECT new_doc FROM dup)
    """,
)
def stream_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup admission gate: incoming documents (the odd
    doc_id half, playing live ingest) are probed against the PERSISTED
    MinHash band index of the existing corpus (the even half —
    dedup.minhash_index, materialized once before the stream starts) and
    admitted only if no indexed document reaches JACCARD_THRESHOLD. The
    live counterpart of the batch dedup_incremental query: same index,
    same probe join, same exact verification over stored shingle hashes.

    Plan shape (the 100 TB ingest one): the index is written ONCE as the
    bucketed ON-DISK parquet index (dedup.minhash_index_write — the same
    artifact dedup_index_persisted grades) and every micro-batch probes
    it shuffle-free on the corpus side; each batch is scored via
    ``foreachBatch`` as a self-contained batch plan — candidates from a
    (band_idx, band_hash) equi-join against the bucketed scan, exact
    Jaccard only on collisions, then a left-anti join keeps clean docs.
    ZERO streaming state: admission depends only on (doc, static index),
    so batch boundaries cannot change the answer. In-stream (odd-odd)
    near-dups are deliberately NOT removed here — that is THIS gate's
    static-index contract; the self-accumulating variant
    (stream_neardup_gate_accum) folds admitted docs back in."""
    import tempfile

    from mapreduce_spark.operators.dedup import (
        dedup_against_index,
        minhash_index_read,
        minhash_index_write,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    minhash_index_write(corpus, "neardup_gate_idx")
    index_bands, index_hashes = minhash_index_read(spark, "neardup_gate_idx")

    schema = parquet_schema(spark, f"{sf_dir}/documents.parquet")
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents*.parquet")
        .parquet(sf_dir)
    )
    out_dir = tempfile.mkdtemp(prefix="stream_neardup_gate_")

    def _admit_batch(batch_df: DataFrame, _batch_id: int) -> None:
        batch = batch_df.filter(F.col("doc_id") % 2 == 1)
        # no dedup of the pair list needed: left_anti is multiplicity-blind
        dups = dedup_against_index(
            batch.select("doc_id", "text"), index_bands, index_hashes
        ).select(F.col("new_doc").alias("doc_id"))
        batch.join(dups, "doc_id", "left_anti").select(
            "doc_id", "source"
        ).write.mode("append").parquet(out_dir)

    for q in spark.streams.active:
        if q.name == "stream_neardup_gate":
            q.stop()
    query = (
        stream.writeStream.foreachBatch(_admit_batch)
        .queryName("stream_neardup_gate")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.read.parquet(out_dir)


# ---------------------------------------------------------------------------
from mapreduce_spark.operators.dedup import _ACCUM_SQL as _SQL_ACCUM_GATE


@register("stream_neardup_gate_accum", oracle=_SQL_ACCUM_GATE)
def stream_neardup_gate_accum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELF-ACCUMULATING streaming near-dup gate (VERDICT r5 #4): after
    each micro-batch, the admitted documents' bands and shingle-hash sets
    fold back into the on-disk index (a bucketed APPEND —
    dedup.minhash_index_write mode='append'), so a near-dup pair split
    across ingest batches admits exactly ONE member: the second arrival
    collides with the first's just-appended bands. The static-index
    variant (stream_neardup_gate) documents this case as out-of-contract;
    this gate IS the production ingest contract.

    Deterministic replay: the incoming half (odd doc_ids) is spooled as
    two mtime-ordered files — batch 1 = doc_id%4==1, batch 2 =
    doc_id%4==3 — and streamed with maxFilesPerTrigger=1, so batch
    boundaries (and therefore the oracle, which replays the same
    two-batch protocol in SQL) are pinned. Per-batch cost is
    |batch| + true collisions + one bucketed append of the admits;
    the corpus-side probe never shuffles and the index is never
    rewritten — the only shapes that survive daily ingests into a
    100 TB corpus."""
    import os
    import tempfile
    import time

    from mapreduce_spark.operators.dedup import (
        dedup_against_index,
        minhash_index_read,
        minhash_index_write,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    minhash_index_write(corpus, "neardup_accum_idx")

    spool = tempfile.mkdtemp(prefix="stream_neardup_accum_")
    in_dir = os.path.join(spool, "incoming")
    os.makedirs(in_dir)
    for i, pred in enumerate([1, 3]):
        part = os.path.join(spool, f"b{i}")
        docs.filter(F.col("doc_id") % 4 == pred).coalesce(1).write.mode(
            "overwrite"
        ).parquet(part)
        src = next(
            os.path.join(part, f)
            for f in os.listdir(part)
            if f.endswith(".parquet")
        )
        dst = os.path.join(in_dir, f"batch{i}.parquet")
        os.rename(src, dst)
        os.utime(dst, (time.time() - 600 + 300 * i,) * 2)

    schema = parquet_schema(spark, f"{sf_dir}/documents.parquet")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    out_dir = os.path.join(spool, "admitted")

    def _admit_and_fold(batch_df: DataFrame, _batch_id: int) -> None:
        # foreachBatch runs under a CLONED session: the fold-append below
        # refreshes the clone's relation cache, not the outer session's —
        # read the index through the batch's own session and refresh, so
        # batch N+1 sees every file batch N appended.
        session = batch_df.sparkSession
        session.catalog.refreshTable("neardup_accum_idx_bands")
        session.catalog.refreshTable("neardup_accum_idx_hashes")
        index_bands, index_hashes = minhash_index_read(
            session, "neardup_accum_idx"
        )
        batch = batch_df.select("doc_id", "text", "source").localCheckpoint(
            eager=True
        )
        dups = dedup_against_index(
            batch.select("doc_id", "text"), index_bands, index_hashes
        ).select(F.col("new_doc").alias("doc_id"))
        admitted = batch.join(dups, "doc_id", "left_anti").localCheckpoint(
            eager=True
        )
        admitted.select(
            "doc_id",
            "source",
            (F.col("doc_id") % 4 == 1)
            .cast("int")
            .cast("bigint")
            .alias("is_b1"),
        ).select(
            "doc_id",
            "source",
            F.when(F.col("is_b1") == 1, F.lit(1))
            .otherwise(F.lit(2))
            .cast("bigint")
            .alias("batch_idx"),
        ).write.mode("append").parquet(out_dir)
        minhash_index_write(
            admitted.select("doc_id", "text"),
            "neardup_accum_idx",
            mode="append",
        )

    for q in spark.streams.active:
        if q.name == "stream_neardup_gate_accum":
            q.stop()
    query = (
        stream.writeStream.foreachBatch(_admit_and_fold)
        .queryName("stream_neardup_gate_accum")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.read.parquet(out_dir)


# ---------------------------------------------------------------------------
from mapreduce_spark.operators.analytics import (
    _MAD_CTES as _SQL_MAD_CTES,
)
from mapreduce_spark.operators.analytics import (
    MAD_K,
    mad_stats,
)


@register(
    "stream_anomaly_gate",
    oracle=_SQL_MAD_CTES
    + f"""
    SELECT d.event_id, d.event_type, d.value
    FROM dev d JOIN mad m USING (event_type)
    WHERE NOT (m.mad_cents > 0 AND d.dev_cents > {MAD_K} * m.mad_cents)
    """,
)
def stream_anomaly_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly gate: live events are admitted only if their
    cent-quantized value sits within MAD_K median-absolute-deviations of
    their type's median, with BOTH statistics trained on the static
    history (analytics.lower_median / mad_stats — the identical integer
    rank rule the batch event_anomaly_mad flags with, so gate-dropped
    events are exactly the batch flags). The score-against-trained-stats
    idiom: model fit offline, applied per event at ingest.

    Plan shape: the per-type (median, MAD) table is |types| rows,
    materialized once before the stream starts and BROADCAST onto every
    micro-batch via a stream-static join; the gate itself is a stateless
    per-row integer compare — no state store, no watermark, unbounded
    throughput."""
    static = load_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    stats = mad_stats(static).localCheckpoint(eager=True)

    ev = _events_stream(spark, sf_dir).select(
        "event_id",
        "event_type",
        "value",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    # LEFT join: an event_type ABSENT from the training history has no
    # model to score against and must pass through (the mad_cents = 0
    # no-model precedent) — an inner join would silently swallow it,
    # neither admitted nor flagged (r4 review finding).
    gated = (
        ev.join(F.broadcast(stats), "event_type", "left")
        .filter(
            ~(
                (F.coalesce("mad_cents", F.lit(0)) > 0)
                & (
                    F.abs(F.col("cents") - F.col("med_cents"))
                    > MAD_K * F.col("mad_cents")
                )
            )
        )
        .select("event_id", "event_type", "value")
    )
    return _drain(gated, "stream_anomaly_gate", spark, "append")


# ---------------------------------------------------------------------------
from mapreduce_spark.operators.analytics import OHLC_SQL as _SQL_OHLC


@register("stream_ohlc", oracle=_SQL_OHLC)
def stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC bars: the event_ohlc aggregate run by the
    micro-batch engine over tumbling 1-hour event-time windows — the
    live market-data/metrics rollup. The open/close struct-min/max
    aggregates merge ASSOCIATIVELY across micro-batches (each batch
    folds its earliest/latest candidate into the window's state), which
    is exactly why the struct-aggregate formulation was chosen over a
    window sort: a sort-based open/close could not maintain incremental
    state. Complete mode on the drained bounded stream reproduces the
    batch answer bit-for-bit; watermark bounds state on a live feed."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.min(F.struct("ts", "event_id", "value"))["value"].alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.struct("ts", "event_id", "value"))["value"].alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "total_value"),
        )
        .select(
            "event_type",
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
            "total_value",
        )
    )
    return _drain(agg, "mem_stream_ohlc", spark, "complete")


# ---------------------------------------------------------------------------
from mapreduce_spark.operators.curation import (
    MIX_HASH_MOD as _MIX_HASH_MOD,
    MIX_TARGET_FRACTION as _MIX_TARGET_FRACTION,
    mix_gate as _mix_gate,
    mix_rates as _mix_rates,
)
from mapreduce_spark.functions.hashing import md5_long_sql as _md5_long_sql


@register(
    "stream_domain_mix_gate",
    oracle=f"""
    WITH n AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    w AS (SELECT source, n_docs,
                 CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT) AS sw
          FROM n),
    tot AS (SELECT SUM(sw) AS s, SUM(n_docs) AS total FROM w),
    r AS (SELECT w.source,
                 CAST(least(1000000.0,
                      floor(CAST(tot.total AS DOUBLE) * {{mix_frac}}
                            * w.sw / tot.s / w.n_docs * 1000000.0)) AS BIGINT)
                 AS rate_micro
          FROM w, tot)
    SELECT d.doc_id, d.source, r.rate_micro
    FROM documents d JOIN r ON d.source = r.source
    WHERE {{draw}} % {{hash_mod}} < r.rate_micro
    """.format(
        mix_frac=_MIX_TARGET_FRACTION,
        hash_mod=_MIX_HASH_MOD,
        draw=_md5_long_sql("CAST(d.doc_id AS VARCHAR)"),
    ),
)
def stream_domain_mix_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming domain-mixing admission: each incoming document is kept
    by the SAME deterministic md5 draw against the SAME per-source
    temperature-alpha=0.5 rates as the batch mix_weighted_sample — rates
    fit ONCE on the static history corpus (curation.mix_rates) and
    broadcast onto every micro-batch (curation.mix_gate, the identical
    per-row fragment), so the admitted stream provably equals the batch
    sample (pinned by test). This is the ingest-side form of the data
    recipe: rate-limit over-represented domains AT the firehose instead
    of storing everything and down-sampling later.

    Plan shape: ZERO streaming state — no watermark, no state store; the
    rates are a |sources|-row broadcast refreshed per trigger from the
    static side, and the draw is one row-local hash compare. At 100 TB/
    day the only non-row-local work is the tiny static rollup."""
    docs_static = load_table(spark, sf_dir, "documents")
    rates = _mix_rates(docs_static)
    schema = parquet_schema(spark, f"{sf_dir}/documents.parquet")
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents*.parquet")
        .parquet(sf_dir)
    )
    out = _mix_gate(stream, rates)
    return _drain(out, "mem_stream_domain_mix_gate", spark, "append")


# ---------------------------------------------------------------------------
# Embedding-channel ingest gate: the vector sibling of stream_neardup_gate.
from mapreduce_spark.functions.vectors import (
    norm as _vnorm,
)
from mapreduce_spark.functions.vectors import (
    sql_cosine_pair as _sql_cos_pair,
)
from mapreduce_spark.operators.dedup import (
    COSINE_THRESHOLD as _EMB_GATE_COS,
)
from mapreduce_spark.operators.similarity import (
    LSH_PLANES as _EG_PLANES,
)
from mapreduce_spark.operators.similarity import (
    LSH_TABLES as _EG_TABLES,
)
from mapreduce_spark.operators.similarity import (
    _sql_buckets_cte as _sql_eg_buckets,
)
from mapreduce_spark.operators.similarity import (
    cosine_n as _cosine_n,
)
from mapreduce_spark.operators.similarity import (
    lsh_buckets as _eg_lsh_buckets,
)


@register(
    "stream_embdup_gate",
    oracle=f"""
    WITH {_sql_eg_buckets(_EG_PLANES, _EG_TABLES, 'eg')},
    cand_eg AS (
        SELECT DISTINCT n.vec_id AS new_vec, o.vec_id AS old_vec
        FROM egbuckets n JOIN egbuckets o
          ON o.table_idx = n.table_idx AND o.bucket = n.bucket
        WHERE n.vec_id % 2 = 1 AND o.vec_id % 2 = 0),
    dup_eg AS (
        SELECT DISTINCT c.new_vec
        FROM cand_eg c
        JOIN embeddings a ON a.vec_id = c.new_vec
        JOIN embeddings b ON b.vec_id = c.old_vec
        WHERE round({_sql_cos_pair('a.embedding', 'b.embedding')}, 6)
              >= {_EMB_GATE_COS})
    SELECT e.vec_id, e.label FROM embeddings e
    WHERE e.vec_id % 2 = 1
      AND e.vec_id NOT IN (SELECT new_vec FROM dup_eg)
    """,
)
def stream_embdup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-channel near-dup admission gate: incoming vectors (the
    odd vec_id half, playing live ingest) probe the PERSISTED
    hyperplane-LSH bucket index of the existing corpus (even half) and
    are admitted only if no bucket-mate reaches cosine
    {_EMB_GATE_COS} — semantic dedup at the ingest door, the third gate
    channel after text (stream_neardup_gate) and payload bytes
    (multimodal_simhash feeding crossmodal_dup_verdict). A multimodal
    pipeline needs all three: a re-encoded image with a rewritten
    caption still lands next to its source in embedding space.

    Plan shape: the index is TWO bucketed tables written once — buckets
    on the probe key (table_idx, bucket), raw vectors on vec_id for the
    exact-cosine verify — so every micro-batch probe is shuffle-free on
    the corpus side (the dedup_index_persisted discipline); per batch,
    bucket derivation runs only on the batch's vectors, candidates come
    from the bucket equi-join, survivors pay one exact cosine, and a
    left-anti join admits the clean rows. ZERO streaming state."""
    import tempfile

    from mapreduce_spark.sources.fs import drop_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    for suffix in ("buckets", "vectors"):
        drop_table(spark, f"embdup_idx_{suffix}")
    (
        _eg_lsh_buckets(
            corpus.select("vec_id", "embedding"), _EG_PLANES, _EG_TABLES
        )
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(16, "table_idx", "bucket")
        .sortBy("table_idx", "bucket")
        .saveAsTable("embdup_idx_buckets")
    )
    (
        corpus.select(
            "vec_id", "embedding", _vnorm(F.col("embedding")).alias("nrm")
        )
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(16, "vec_id")
        .sortBy("vec_id")
        .saveAsTable("embdup_idx_vectors")
    )

    schema = parquet_schema(spark, f"{sf_dir}/embeddings.parquet")
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings*.parquet")
        .parquet(sf_dir)
    )
    out_dir = tempfile.mkdtemp(prefix="stream_embdup_gate_")

    def _admit_batch(batch_df: DataFrame, _batch_id: int) -> None:
        session = batch_df.sparkSession
        batch = batch_df.filter(F.col("vec_id") % 2 == 1).select(
            "vec_id", "embedding", "label"
        )
        nb = _eg_lsh_buckets(
            batch.select("vec_id", "embedding"), _EG_PLANES, _EG_TABLES
        ).selectExpr("vec_id AS new_vec", "table_idx", "bucket")
        ob = session.table("embdup_idx_buckets").selectExpr(
            "vec_id AS old_vec", "table_idx", "bucket"
        )
        cand = (
            nb.join(ob, ["table_idx", "bucket"])
            .select("new_vec", "old_vec")
            .dropDuplicates(["new_vec", "old_vec"])
        )
        na = batch.select(
            F.col("vec_id").alias("new_vec"),
            F.col("embedding").alias("ne"),
            _vnorm(F.col("embedding")).alias("nn"),
        )
        oa = session.table("embdup_idx_vectors").selectExpr(
            "vec_id AS old_vec", "embedding AS oe", "nrm AS onrm"
        )
        dup = (
            cand.join(na, "new_vec")
            .join(oa, "old_vec")
            .filter(
                F.round(
                    _cosine_n(
                        F.col("ne"), F.col("oe"), F.col("nn"), F.col("onrm")
                    ),
                    6,
                )
                >= _EMB_GATE_COS
            )
            .select(F.col("new_vec").alias("vec_id"))
        )
        batch.join(dup, "vec_id", "left_anti").select(
            "vec_id", "label"
        ).write.mode("append").parquet(out_dir)

    for q in spark.streams.active:
        if q.name == "stream_embdup_gate":
            q.stop()
    query = (
        stream.writeStream.foreachBatch(_admit_batch)
        .queryName("stream_embdup_gate")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.read.parquet(out_dir)


@register(
    "stream_embdup_gate_accum",
    oracle=f"""
    WITH {_sql_eg_buckets(_EG_PLANES, _EG_TABLES, 'ea')},
    pairs_ea AS (
        SELECT DISTINCT n.vec_id AS d1, o.vec_id AS d2
        FROM eabuckets n JOIN eabuckets o
          ON o.table_idx = n.table_idx AND o.bucket = n.bucket
         AND n.vec_id <> o.vec_id),
    ver_ea AS (
        SELECT p.d1, p.d2
        FROM pairs_ea p
        JOIN embeddings a ON a.vec_id = p.d1
        JOIN embeddings b ON b.vec_id = p.d2
        WHERE round({_sql_cos_pair('a.embedding', 'b.embedding')}, 6)
              >= {_EMB_GATE_COS}),
    adm1_ea AS (
        SELECT e.vec_id FROM embeddings e
        WHERE e.vec_id % 4 = 1
          AND NOT EXISTS (SELECT 1 FROM ver_ea v
                          WHERE v.d1 = e.vec_id AND v.d2 % 2 = 0)),
    adm2_ea AS (
        SELECT e.vec_id FROM embeddings e
        WHERE e.vec_id % 4 = 3
          AND NOT EXISTS (SELECT 1 FROM ver_ea v
                          WHERE v.d1 = e.vec_id
                            AND (v.d2 % 2 = 0
                                 OR v.d2 IN (SELECT vec_id FROM adm1_ea))))
    SELECT e.vec_id, e.label, CAST(1 AS BIGINT) AS batch_idx
    FROM embeddings e JOIN adm1_ea a ON a.vec_id = e.vec_id
    UNION ALL
    SELECT e.vec_id, e.label, CAST(2 AS BIGINT) AS batch_idx
    FROM embeddings e JOIN adm2_ea a ON a.vec_id = e.vec_id
    """,
)
def stream_embdup_gate_accum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELF-ACCUMULATING embedding ingest gate: after each micro-batch,
    the admitted vectors' LSH buckets and raw vectors fold back into the
    on-disk index via bucketed appends, so two semantically-near vectors
    arriving in different batches admit exactly ONE — the
    stream_neardup_gate_accum contract carried to the embedding channel.
    Same deterministic two-batch replay (vec_id%4==1 then %4==3 spooled
    as mtime-ordered files, maxFilesPerTrigger=1) so the SQL oracle
    replays the protocol exactly; same cloned-session refresh rule so
    batch N+1 sees batch N's appends. Per-batch cost is the batch's
    bucket derivation + true collisions + two bucketed appends; the
    corpus is never rescanned or rewritten."""
    import os
    import tempfile
    import time

    from mapreduce_spark.sources.fs import drop_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    for suffix in ("buckets", "vectors"):
        drop_table(spark, f"embacc_idx_{suffix}")

    def _append_index(vecs: DataFrame, mode: str) -> None:
        (
            _eg_lsh_buckets(
                vecs.select("vec_id", "embedding"), _EG_PLANES, _EG_TABLES
            )
            .write.mode(mode)
            .format("parquet")
            .bucketBy(16, "table_idx", "bucket")
            .sortBy("table_idx", "bucket")
            .saveAsTable("embacc_idx_buckets")
        )
        (
            vecs.select(
                "vec_id", "embedding", _vnorm(F.col("embedding")).alias("nrm")
            )
            .write.mode(mode)
            .format("parquet")
            .bucketBy(16, "vec_id")
            .sortBy("vec_id")
            .saveAsTable("embacc_idx_vectors")
        )

    _append_index(corpus, "overwrite")

    spool = tempfile.mkdtemp(prefix="stream_embdup_accum_")
    in_dir = os.path.join(spool, "incoming")
    os.makedirs(in_dir)
    for i, pred in enumerate([1, 3]):
        part = os.path.join(spool, f"b{i}")
        emb.filter(F.col("vec_id") % 4 == pred).coalesce(1).write.mode(
            "overwrite"
        ).parquet(part)
        src = next(
            os.path.join(part, f)
            for f in os.listdir(part)
            if f.endswith(".parquet")
        )
        dst = os.path.join(in_dir, f"batch{i}.parquet")
        os.rename(src, dst)
        os.utime(dst, (time.time() - 600 + 300 * i,) * 2)

    schema = parquet_schema(spark, f"{sf_dir}/embeddings.parquet")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    out_dir = os.path.join(spool, "admitted")

    def _admit_and_fold(batch_df: DataFrame, _batch_id: int) -> None:
        session = batch_df.sparkSession
        session.catalog.refreshTable("embacc_idx_buckets")
        session.catalog.refreshTable("embacc_idx_vectors")
        batch = batch_df.select(
            "vec_id", "embedding", "label"
        ).localCheckpoint(eager=True)
        nb = _eg_lsh_buckets(
            batch.select("vec_id", "embedding"), _EG_PLANES, _EG_TABLES
        ).selectExpr("vec_id AS new_vec", "table_idx", "bucket")
        ob = session.table("embacc_idx_buckets").selectExpr(
            "vec_id AS old_vec", "table_idx", "bucket"
        )
        cand = (
            nb.join(ob, ["table_idx", "bucket"])
            .select("new_vec", "old_vec")
            .dropDuplicates(["new_vec", "old_vec"])
        )
        na = batch.select(
            F.col("vec_id").alias("new_vec"),
            F.col("embedding").alias("ne"),
            _vnorm(F.col("embedding")).alias("nn"),
        )
        oa = session.table("embacc_idx_vectors").selectExpr(
            "vec_id AS old_vec", "embedding AS oe", "nrm AS onrm"
        )
        dup = (
            cand.join(na, "new_vec")
            .join(oa, "old_vec")
            .filter(
                F.round(
                    _cosine_n(
                        F.col("ne"), F.col("oe"), F.col("nn"), F.col("onrm")
                    ),
                    6,
                )
                >= _EMB_GATE_COS
            )
            .select(F.col("new_vec").alias("vec_id"))
        )
        admitted = batch.join(dup, "vec_id", "left_anti").localCheckpoint(
            eager=True
        )
        admitted.select(
            "vec_id",
            "label",
            F.when(F.col("vec_id") % 4 == 1, F.lit(1))
            .otherwise(F.lit(2))
            .cast("bigint")
            .alias("batch_idx"),
        ).write.mode("append").parquet(out_dir)
        _append_index(admitted, "append")

    for q in spark.streams.active:
        if q.name == "stream_embdup_gate_accum":
            q.stop()
    query = (
        stream.writeStream.foreachBatch(_admit_and_fold)
        .queryName("stream_embdup_gate_accum")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.read.parquet(out_dir)


# ---------------------------------------------------------------------------
from mapreduce_spark.operators.analytics import _MV_VIEW_SQL as _SQL_MV_VIEW


@register("stream_rollup_view", oracle=_SQL_MV_VIEW)
def stream_rollup_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING side of incremental materialized-view maintenance
    (rollup_incremental_view's sibling): the even-orderkey half of
    lineitem seeds the on-disk bucketed partial-aggregate state; the odd
    half then arrives as micro-batches, and each batch folds ONLY its own
    partials into the state (one bucketed append of |keys| rows — the
    batch data is never re-read, the state never rewritten). The served
    view after ingest equals the from-scratch rollup of the whole table
    (the shared oracle): unlike the dedup gates, NO batch-boundary
    protocol is needed, because decimal-sum/count partials merge
    associatively under ANY split — the algebraic reason incremental
    view maintenance is the cheap path for 100 TB reporting rollups.

    Replay: two spooled mtime-ordered files (l_orderkey%4==1, %4==3)
    streamed with maxFilesPerTrigger=1; the spool projects only the five
    columns the state needs, so the stream ships no dead columns."""
    import os
    import tempfile
    import time

    from mapreduce_spark.operators.analytics import (
        rollup_state,
        rollup_state_write,
        rollup_view_read,
    )

    li = load_table(spark, sf_dir, "lineitem")
    cols = [
        "l_orderkey",
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
    ]
    rollup_state_write(li.filter(F.col("l_orderkey") % 2 == 0), "mv_stream_state")

    spool = tempfile.mkdtemp(prefix="stream_rollup_view_")
    in_dir = os.path.join(spool, "incoming")
    os.makedirs(in_dir)
    for i, pred in enumerate([1, 3]):
        part = os.path.join(spool, f"b{i}")
        li.filter(F.col("l_orderkey") % 4 == pred).select(*cols).coalesce(
            1
        ).write.mode("overwrite").parquet(part)
        src = next(
            os.path.join(part, f)
            for f in os.listdir(part)
            if f.endswith(".parquet")
        )
        dst = os.path.join(in_dir, f"batch{i}.parquet")
        os.rename(src, dst)
        os.utime(dst, (time.time() - 600 + 300 * i,) * 2)

    stream = (
        spark.readStream.schema(li.select(*cols).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )

    def _fold_partials(batch_df: DataFrame, _batch_id: int) -> None:
        # foreachBatch runs under a CLONED session; saveAsTable(append)
        # resolves the table through that clone's catalog, which shares
        # the warehouse — only the partials of THIS batch are computed
        # and appended.
        rollup_state_write(batch_df, "mv_stream_state", mode="append")

    for q in spark.streams.active:
        if q.name == "stream_rollup_view":
            q.stop()
    query = (
        stream.writeStream.foreachBatch(_fold_partials)
        .queryName("stream_rollup_view")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    spark.catalog.refreshTable("mv_stream_state")
    return rollup_view_read(spark, "mv_stream_state")


# ---------------------------------------------------------------------------
# Streaming SCD2 maintenance: the dimension-history table kept current by
# the change stream itself. Batch boundaries are TIME cuts (watermark-
# complete arrival): each micro-batch postdates the open rows it merges
# into, the precondition scd2_apply_delta documents. Late/out-of-order
# data needs a retraction protocol — deliberately out of scope, as for
# every sink-is-the-state gate here.
_SCD2_STREAM_CUTS = ("2024-01-11 00:00:00", "2024-01-21 00:00:00")


def _scd2_stream_oracle() -> str:
    from mapreduce_spark.operators.windows import _SCD2_SQL_CTES

    return f"""
    WITH {_SCD2_SQL_CTES}
    SELECT user_id, version, event_type AS state, valid_from, valid_to,
           (valid_to IS NULL) AS is_current
    FROM v
    """


@register("stream_scd2_view", oracle=_scd2_stream_oracle())
def stream_scd2_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history maintained BY THE STREAM (the temporal
    family's streaming closer, stream_rollup_view's sibling): the change
    stream arrives as three time-partitioned micro-batches against an
    initially EMPTY state, and each batch folds in via scd2_apply_delta
    — newly-closed versions APPEND to the closed table (which only ever
    grows, never rewrites), while the open-row table (one row per known
    user) is replaced. Per-batch cost is |open rows| + |batch|,
    independent of history depth — the property that lets a years-deep
    100 TB dimension absorb a GB-sized change batch without rereading
    itself. The served view after ingest equals the from-scratch
    scd2_history over all events (the shared oracle), so incremental
    streaming maintenance == batch rebuild, row for row."""
    import os
    import tempfile
    import time

    from mapreduce_spark.operators.windows import scd2_apply_delta
    from mapreduce_spark.sources.fs import drop_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    for suffix in ("closed", "open"):
        drop_table(spark, f"scd2s_{suffix}")
    spark.createDataFrame(
        [],
        "user_id long, version long, state string, "
        "valid_from timestamp_ntz, valid_to timestamp_ntz, is_current boolean",
    ).write.saveAsTable("scd2s_closed")
    spark.createDataFrame(
        [],
        "user_id long, version long, state string, valid_from timestamp_ntz",
    ).write.saveAsTable("scd2s_open")

    c1, c2 = [F.lit(c).cast("timestamp_ntz") for c in _SCD2_STREAM_CUTS]
    spool = tempfile.mkdtemp(prefix="stream_scd2_")
    in_dir = os.path.join(spool, "incoming")
    os.makedirs(in_dir)
    ranges = [
        F.col("ts") < c1,
        (F.col("ts") >= c1) & (F.col("ts") < c2),
        F.col("ts") >= c2,
    ]
    for i, pred in enumerate(ranges):
        part = os.path.join(spool, f"b{i}")
        ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(part)
        src = next(
            os.path.join(part, f)
            for f in os.listdir(part)
            if f.endswith(".parquet")
        )
        dst = os.path.join(in_dir, f"batch{i}.parquet")
        os.rename(src, dst)
        os.utime(dst, (time.time() - 600 + 120 * i,) * 2)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )

    def _merge_batch(batch_df: DataFrame, _batch_id: int) -> None:
        s = batch_df.sparkSession
        delta = batch_df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        ups = scd2_apply_delta(s.table("scd2s_open"), delta)
        # sever from the open table before overwriting it: the
        # overwrite deletes the files a lazy read of it still scans
        ups = ups.localCheckpoint(eager=True)
        ups.filter(~F.col("is_current")).write.mode("append").saveAsTable(
            "scd2s_closed"
        )
        ups.filter(F.col("is_current")).select(
            "user_id", "version", "state", "valid_from"
        ).write.mode("overwrite").saveAsTable("scd2s_open")

    for q in spark.streams.active:
        if q.name == "stream_scd2_view":
            q.stop()
    query = (
        stream.writeStream.foreachBatch(_merge_batch)
        .queryName("stream_scd2_view")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    for suffix in ("closed", "open"):
        spark.catalog.refreshTable(f"scd2s_{suffix}")
    open_full = spark.table("scd2s_open").select(
        "user_id",
        "version",
        "state",
        "valid_from",
        F.lit(None).cast("timestamp_ntz").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return spark.table("scd2s_closed").unionByName(open_full)


def _scd2_del_stream_oracle() -> str:
    from mapreduce_spark.operators.windows import _SCD2_DEL_SQL_CTES

    return f"""
    WITH {_SCD2_DEL_SQL_CTES}
    SELECT user_id, version, event_type AS state, valid_from, valid_to,
           (valid_to IS NULL) AS is_current
    FROM vd
    """


@register("stream_scd2_view_with_deletes", oracle=_scd2_del_stream_oracle())
def stream_scd2_view_with_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """stream_scd2_view under CDC DELETE semantics (VERDICT r10 #5's
    streaming side): the three micro-batches may TOMBSTONE keys, so the
    maintainer carries a third state table beside closed/open —
    ``tomb`` (user_id, max version, close instant), one row per key
    whose history is currently fully closed. Each batch hands it to
    scd2_apply_delta as the tombstone closed-seeds, which is what makes
    a later reinsert open a NEW version numbered past the key's max
    instead of restarting at 1, and makes a delete of an already-deleted
    key a no-op. Per-batch cost stays |open| + |tomb| + |batch| (at most
    one row per known key plus the batch), independent of history depth.
    The served view after ingest equals the from-scratch
    scd2_history_with_deletes (the shared oracle): streaming maintenance
    == batch rebuild, row for row, under deletes."""
    import os
    import tempfile
    import time

    from mapreduce_spark.operators.windows import (
        SCD2_TOMBSTONE,
        scd2_apply_delta,
    )
    from mapreduce_spark.sources.fs import drop_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    for suffix in ("closed", "open", "tomb"):
        drop_table(spark, f"scd2d_{suffix}")
    spark.createDataFrame(
        [],
        "user_id long, version long, state string, "
        "valid_from timestamp_ntz, valid_to timestamp_ntz, is_current boolean",
    ).write.saveAsTable("scd2d_closed")
    spark.createDataFrame(
        [],
        "user_id long, version long, state string, valid_from timestamp_ntz",
    ).write.saveAsTable("scd2d_open")
    spark.createDataFrame(
        [], "user_id long, version long, valid_from timestamp_ntz"
    ).write.saveAsTable("scd2d_tomb")

    c1, c2 = [F.lit(c).cast("timestamp_ntz") for c in _SCD2_STREAM_CUTS]
    spool = tempfile.mkdtemp(prefix="stream_scd2d_")
    in_dir = os.path.join(spool, "incoming")
    os.makedirs(in_dir)
    ranges = [
        F.col("ts") < c1,
        (F.col("ts") >= c1) & (F.col("ts") < c2),
        F.col("ts") >= c2,
    ]
    for i, pred in enumerate(ranges):
        part = os.path.join(spool, f"b{i}")
        ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(part)
        src = next(
            os.path.join(part, f)
            for f in os.listdir(part)
            if f.endswith(".parquet")
        )
        dst = os.path.join(in_dir, f"batch{i}.parquet")
        os.rename(src, dst)
        os.utime(dst, (time.time() - 600 + 120 * i,) * 2)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )

    def _merge_batch(batch_df: DataFrame, _batch_id: int) -> None:
        s = batch_df.sparkSession
        delta = batch_df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        tomb = s.table("scd2d_tomb")
        ups = scd2_apply_delta(
            s.table("scd2d_open"),
            delta,
            tombstone=SCD2_TOMBSTONE,
            closed_seeds=tomb,
        )
        # sever from the open/tomb tables before overwriting them: the
        # overwrite deletes the files a lazy read of them still scans
        ups = ups.localCheckpoint(eager=True)
        ups.filter(~F.col("is_current")).write.mode("append").saveAsTable(
            "scd2d_closed"
        )
        ups.filter(F.col("is_current")).select(
            "user_id", "version", "state", "valid_from"
        ).write.mode("overwrite").saveAsTable("scd2d_open")
        # tomb' = touched keys left with no open row (max version, last
        # close instant) + untouched tomb keys carried forward
        touched = ups.groupBy("user_id").agg(
            F.max("version").alias("version"),
            F.max("valid_to").alias("valid_from"),
            F.max(F.col("is_current").cast("int")).alias("has_open"),
        )
        new_tomb = touched.filter(F.col("has_open") == 0).select(
            "user_id", "version", "valid_from"
        ).unionByName(
            tomb.join(ups.select("user_id").distinct(), "user_id", "left_anti")
        ).localCheckpoint(eager=True)
        new_tomb.write.mode("overwrite").saveAsTable("scd2d_tomb")

    for q in spark.streams.active:
        if q.name == "stream_scd2_view_with_deletes":
            q.stop()
    query = (
        stream.writeStream.foreachBatch(_merge_batch)
        .queryName("stream_scd2_view_with_deletes")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    for suffix in ("closed", "open"):
        spark.catalog.refreshTable(f"scd2d_{suffix}")
    open_full = spark.table("scd2d_open").select(
        "user_id",
        "version",
        "state",
        "valid_from",
        F.lit(None).cast("timestamp_ntz").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return spark.table("scd2d_closed").unionByName(open_full)
