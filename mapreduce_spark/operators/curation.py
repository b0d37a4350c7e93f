"""End-to-end corpus curation: the composed training-data pipeline.

The individual stages each exist as their own audited operator
(textops.text_scrub / textops.quality_score / dedup.dedup_exact); this
module chains them into the single plan a real pretraining-data run
executes — scrub -> quality gate -> exact-dedup keeper -> corpus rollup
— so the whole pipeline is one Catalyst plan (filters fused into the
scan, one shuffle for the dedup, one for the final rollup) instead of
materialized hops between stages, which is how the reference would run
it (one MapReduce job per stage with intermediate files,
/root/reference/mapreduce/manager/__main__.py:257-300).

Engine-parity discipline: the quality gate compares the ROUNDED score on
both engines (one shared 6dp rounding, so the >= threshold can't flip on
a ulp); the rollup's mean quality is an exact DECIMAL(18,6) sum of those
rounded scores followed by a single IEEE division.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pyspark.sql.window import Window

from mapreduce_spark.functions.hashing import (
    md5_long,
    md5_long2,
    md5_long2_sql,
    md5_long_sql,
)
from mapreduce_spark.functions.text import SQL_TOKENS, tokens
from mapreduce_spark.operators.textops import (
    GOPHER_SQL,
    QUALITY_SQL,
    STOPWORDS,
    _hits,
    _sql_hits,
    gopher_frame,
    quality_frame,
    scrub_expr,
    sql_scrub,
)
from mapreduce_spark.registry import register
from mapreduce_spark.sources.tables import load_table, parquet_schema

MIN_TOKENS = 5          # drop near-empty docs before scoring
QUALITY_THRESHOLD = 0.6  # corpus median — the gate keeps the better half

MIX_TARGET_FRACTION = 0.5  # sampled corpus size as a fraction of the input
MIX_HASH_MOD = 1_000_000   # hash-rate resolution (ppm)
PACK_BUDGET = 256          # tokens per packed training sequence
SHUFFLE_SHARDS = 8         # output shards of the training-order shuffle
SHUFFLE_SEED = "shuf1|"    # key-domain tag; changing it reshuffles

# Shared CTE chain: scrub -> tokenize -> score -> gate -> keeper.
# ``kept`` is the curated corpus both queries consume.
_SQL_KEPT_CTES = f"""
    WITH scrubbed AS (
        SELECT doc_id, source, {sql_scrub('text')} AS clean_text
        FROM documents),
    t AS (
        SELECT doc_id, source, clean_text,
               {SQL_TOKENS.format(col='clean_text')} AS toks
        FROM scrubbed),
    scored AS (
        SELECT doc_id, source, clean_text,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               round(0.4 * least(len(toks) / 100.0, 1.0)
                     + 0.4 * CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                     + 0.2 * (1.0 - CAST({_sql_hits(STOPWORDS['en'])} AS DOUBLE)
                                    / len(toks)), 6) AS quality
        FROM t WHERE len(toks) >= {MIN_TOKENS}),
    gated AS (
        SELECT * FROM scored WHERE quality >= {QUALITY_THRESHOLD}),
    keeper AS (
        SELECT min(doc_id) AS doc_id FROM gated
        GROUP BY {md5_long_sql('clean_text')}, {md5_long2_sql('clean_text')}),
    kept AS (
        SELECT g.doc_id, g.source, g.n_tokens, g.quality
        FROM gated g JOIN keeper k ON g.doc_id = k.doc_id)
"""


def _gated_frame(docs: DataFrame) -> DataFrame:
    """Scrubbed + scored + quality-gated rows (doc_id, source,
    clean_text, n_tokens, quality) for an arbitrary documents-shaped
    frame — the per-row stage of the curation pipeline, shared by the
    batch _kept path and the streaming export gate (one fragment, so
    batch and stream can never diverge on what passes the gate)."""
    clean = docs.select(
        "doc_id", "source", scrub_expr(F.col("text")).alias("clean_text")
    )
    toks = tokens(F.col("clean_text"))
    scored = clean.select(
        "doc_id",
        "source",
        "clean_text",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.round(
            0.4 * F.least(F.size(toks) / 100.0, F.lit(1.0))
            + 0.4 * F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
            + 0.2
            * (
                1.0
                - _hits(toks, STOPWORDS["en"]).cast("double") / F.size(toks)
            ),
            6,
        ).alias("quality"),
    ).filter(F.size(toks) >= MIN_TOKENS)
    return scored.filter(F.col("quality") >= QUALITY_THRESHOLD)


def _kept(
    spark: SparkSession, sf_dir: str, with_text: bool = False
) -> DataFrame:
    """The curated corpus: scrubbed, quality-gated, exact-deduped docs.
    ``with_text=True`` keeps clean_text (the export path needs the
    payload; the rollup paths must not drag it through their shuffles)."""
    gated = _gated_frame(load_table(spark, sf_dir, "documents"))
    # Keeper groups on the content DIGEST, not the text: the dedup
    # shuffle moves 16-byte keys instead of full documents (dedup_exact's
    # form — at 100 TB this is the difference between shuffling keys and
    # shuffling the corpus). BOTH 60-bit md5 halves form the key: 120
    # bits makes a digest collision (two distinct documents silently
    # merged) astronomically unlikely at any corpus size, where one
    # 60-bit half predicts thousands of collisions at ~1e11 docs
    # (r4 review). Same digests on both engines.
    keeper = gated.groupBy(
        md5_long(F.col("clean_text")).alias("_fp"),
        md5_long2(F.col("clean_text")).alias("_fp2"),
    ).agg(F.min("doc_id").alias("doc_id"))
    cols = ["doc_id", "source", "n_tokens", "quality"] + (
        ["clean_text"] if with_text else []
    )
    return gated.join(keeper.select("doc_id"), "doc_id", "left_semi").select(
        *cols
    )


@register(
    "curation_manifest",
    oracle=_SQL_KEPT_CTES
    + """
    SELECT doc_id, source, n_tokens, quality FROM kept
    """,
)
def curation_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document manifest of the curated corpus — the file list a
    training job consumes. One plan: the scrub + score + gate are
    per-row expressions fused into the scan stage; the exact-dedup
    keeper (min doc_id per identical clean text, keyed on its 120-bit
    digest pair) is the only shuffle — it carries (digest, doc_id) pairs, not
    text — and the keeper set folds back as a LEFT SEMI join on doc_id,
    so document text never crosses the wire at all."""
    return _kept(spark, sf_dir)


@register(
    "curation_pipeline",
    oracle=_SQL_KEPT_CTES
    + """
    SELECT source,
           count(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE)
                / count(*) AS DOUBLE) AS mean_quality
    FROM kept
    GROUP BY source
    ORDER BY source
    """,
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rollup after the full curation pipeline: per source, how
    many documents survived the quality gate + dedup and the token
    budget they contribute. The rollup output is |sources| rows, so the
    final exchange is a near-no-op; mean quality sums exact
    DECIMAL(18,6) then divides once (order-independent at any
    parallelism)."""
    kept = _kept(spark, sf_dir)
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            (
                F.sum(F.col("quality").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            )
            .cast("double")
            .alias("mean_quality"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Data mixing: temperature-weighted source sampling
@register(
    "mix_weighted_sample",
    oracle=f"""
    WITH n AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    w AS (SELECT source, n_docs,
                 CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT) AS sw
          FROM n),
    tot AS (SELECT SUM(sw) AS s, SUM(n_docs) AS total FROM w),
    r AS (SELECT w.source,
                 CAST(least(1000000.0,
                      floor(CAST(tot.total AS DOUBLE) * {MIX_TARGET_FRACTION}
                            * w.sw / tot.s / w.n_docs * 1000000.0)) AS BIGINT)
                 AS rate_micro
          FROM w, tot)
    SELECT d.doc_id, d.source, r.rate_micro
    FROM documents d JOIN r ON d.source = r.source
    WHERE {md5_long_sql('CAST(d.doc_id AS VARCHAR)')} % {MIX_HASH_MOD} < r.rate_micro
    """,
)
def mix_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source mixing — the corpus-rebalancing step of
    a pretraining data recipe: target share of source s is proportional to
    count(s)^0.5 (alpha=0.5 smoothing, up-weighting rare sources), scaled
    so the sampled corpus is ~MIX_TARGET_FRACTION of the input, then each
    document is kept by a deterministic hash draw at its source's rate.

    Engine parity: weights quantize sqrt(count) to integer micro-units and
    sum as BIGINT (exact, associative); each per-source rate is then ONE
    left-to-right double expression (identical IEEE ops on both engines)
    floored to ppm; the draw compares md5-mod against that integer rate —
    no float crosses an aggregation. Shape: per-source counts are a tiny
    map-side-combined rollup; rates broadcast back onto the scan, so the
    corpus itself is filtered in place with zero shuffle — at 100 TB the
    only exchange is |sources| rows."""
    docs = load_table(spark, sf_dir, "documents")
    return mix_gate(docs, mix_rates(docs))


def mix_rates(docs: DataFrame) -> DataFrame:
    """(source, rate_micro) — the temperature-alpha=0.5 acceptance rates
    derived from a (doc_id, source) history frame; shared by the batch
    sampler and the streaming admission gate so both draw at identical
    integer rates."""
    n = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = n.withColumn(
        "sw", F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1000000.0).cast("bigint")
    )
    tot = w.agg(F.sum("sw").alias("s"), F.sum("n_docs").alias("total"))
    return w.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            F.lit(1000000.0),
            F.floor(
                F.col("total").cast("double")
                * MIX_TARGET_FRACTION
                * F.col("sw")
                / F.col("s")
                / F.col("n_docs")
                * 1000000.0
            ).cast("double"),
        )
        .cast("bigint")
        .alias("rate_micro"),
    )


def mix_gate(docs: DataFrame, rates: DataFrame) -> DataFrame:
    """Admit (doc_id, source) rows by the deterministic md5 draw against
    broadcast per-source rates — the per-row fragment both the batch
    sampler and stream_domain_mix_gate apply."""
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(
            F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(MIX_HASH_MOD))
            < F.col("rate_micro")
        )
        .select("doc_id", "source", "rate_micro")
    )


# ---------------------------------------------------------------------------
# Temperature sweep: the alpha-selection card for the mixing stage
MIX_SWEEP_ALPHAS = [25, 50, 75, 100]  # alpha in percent; all sqrt-composable

# n_tokens^alpha in integer micro-units, built ONLY from IEEE-exact ops
# (sqrt is correctly rounded; products/floors are single identical ops on
# both engines) — no pow(), whose libm rounding differs across engines.
_SWEEP_W_SQL = """
    CASE alpha_pct
         WHEN 100 THEN n_tokens * 1000000
         WHEN 75 THEN CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))
                            * sqrt(sqrt(CAST(n_tokens AS DOUBLE)))
                            * 1000000.0) AS BIGINT)
         WHEN 50 THEN CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))
                            * 1000000.0) AS BIGINT)
         ELSE CAST(floor(sqrt(sqrt(CAST(n_tokens AS DOUBLE)))
                            * 1000000.0) AS BIGINT)
    END
"""


@register(
    "mix_temperature_sweep",
    oracle=f"""
    WITH t AS (SELECT source,
                      CAST(len({SQL_TOKENS.format(col='text')}) AS BIGINT) AS n_toks
               FROM documents),
    g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n_toks) AS BIGINT) AS n_tokens
          FROM t GROUP BY source),
    a AS (SELECT g.*, alpha_pct, {_SWEEP_W_SQL} AS w
          FROM g CROSS JOIN (VALUES (25), (50), (75), (100)) AS al(alpha_pct)),
    tot AS (SELECT alpha_pct, CAST(sum(w) AS BIGINT) AS w_tot,
                   CAST(sum(n_tokens) AS BIGINT) AS tok_tot
            FROM a GROUP BY alpha_pct),
    s AS (SELECT a.source, a.alpha_pct, a.n_docs, a.n_tokens,
                 round(CAST(a.w AS DOUBLE) / tot.w_tot, 6) AS share,
                 tot.tok_tot
          FROM a JOIN tot USING (alpha_pct))
    SELECT source, alpha_pct, n_docs, n_tokens, share,
           round(share * CAST(tok_tot AS DOUBLE) / n_tokens, 6) AS epochs
    FROM s
    """,
)
def mix_temperature_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The alpha-selection card a mixing recipe is chosen FROM: for each
    source and temperature alpha in {0.25, 0.5, 0.75, 1.0}, the target
    token share (weight n_tokens^alpha, renormalized) and the EFFECTIVE
    EPOCHS that share implies for the source (share x total_tokens /
    own_tokens) — the number a recipe review reads to see how many times
    a rare source would be repeated before picking alpha (the repetition
    cap that drives temperature choice in multilingual/multi-domain
    sampling). mix_weighted_sample/domain_mix_report EXECUTE one chosen
    alpha; this card is the sweep that justifies it.

    Exactness: every alpha here is a dyadic rational, so n_tokens^alpha
    composes from sqrt()s — each correctly rounded by IEEE-754, hence
    bit-identical across engines (the pow() libm would not be). Weights
    floor to integer micro-units and sum as BIGINT; shares divide exact
    integers once; epochs multiplies the ALREADY-ROUNDED share in one
    left-to-right double expression.

    Shape: one map-side-combined scan to |sources| rows, a 4x fan-out of
    that tiny frame, a 4-row total broadcast back — at 100 TB the corpus
    is read once and only source aggregates move."""
    docs = load_table(spark, sf_dir, "documents")
    g = (
        docs.select("source", F.size(tokens("text")).cast("bigint").alias("n_toks"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
        )
    )
    a = g.withColumn(
        "alpha_pct", F.explode(F.array(*[F.lit(p) for p in MIX_SWEEP_ALPHAS]))
    ).withColumn("w", F.expr(_SWEEP_W_SQL))
    tot = a.groupBy("alpha_pct").agg(
        F.sum("w").cast("bigint").alias("w_tot"),
        F.sum("n_tokens").cast("bigint").alias("tok_tot"),
    )
    s = a.join(F.broadcast(tot), "alpha_pct").withColumn(
        "share", F.round(F.col("w").cast("double") / F.col("w_tot"), 6)
    )
    return s.select(
        "source",
        "alpha_pct",
        "n_docs",
        "n_tokens",
        "share",
        F.round(
            F.col("share") * F.col("tok_tot").cast("double") / F.col("n_tokens"),
            6,
        ).alias("epochs"),
    )


# ---------------------------------------------------------------------------
# Training-order shuffle: deterministic sharded permutation of the corpus
@register(
    "global_shuffle",
    oracle=f"""
    WITH k AS (
        SELECT doc_id,
               {md5_long_sql(f"'{SHUFFLE_SEED}' || CAST(doc_id AS VARCHAR)")}
               AS sort_key
        FROM documents),
    s AS (SELECT doc_id, sort_key, sort_key % {SHUFFLE_SHARDS} AS shard FROM k)
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard
                ORDER BY sort_key, doc_id) AS BIGINT) AS pos
    FROM s
    """,
)
def global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle of the corpus into training shards:
    each doc hashes to a shard and a position within it — the
    decorrelated read order a dataloader wants, reproducible from the
    seed tag alone (re-runs and resumed jobs see the identical
    permutation; a new seed is a fresh epoch order).

    Scale shape: this is the TeraSort decomposition — hash-partition by
    shard, sort WITHIN each shard — so no single reducer ever sees a
    global order, unlike a row_number over the whole corpus. One
    shuffle of (id, key) pairs; document text stays in place until the
    manifest is applied."""
    docs = load_table(spark, sf_dir, "documents")
    k = docs.select(
        "doc_id",
        md5_long(F.concat(F.lit(SHUFFLE_SEED), F.col("doc_id").cast("string"))).alias(
            "sort_key"
        ),
    )
    s = k.withColumn("shard", F.pmod(F.col("sort_key"), F.lit(SHUFFLE_SHARDS)))
    w = Window.partitionBy("shard").orderBy("sort_key", "doc_id")
    return s.select(
        "doc_id", "shard", F.row_number().over(w).cast("bigint").alias("pos")
    )


# ---------------------------------------------------------------------------
# Sequence packing: fixed token-budget training bins
# The packing derivation's CTE chain (t: token counts, c: per-source
# prefix sums, b: bin assignment) — shared by pack_sequences and its
# efficiency gauge.
_PACK_BINS_SQL = f"""t AS (
        SELECT doc_id, source,
               CAST(len({SQL_TOKENS.format(col='text')}) AS BIGINT) AS n_tokens
        FROM documents),
    c AS (
        SELECT doc_id, source, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t),
    b AS (
        SELECT source,
               CAST(floor((cum - n_tokens) / {PACK_BUDGET}.0) AS BIGINT) AS bin_id,
               n_tokens
        FROM c)"""


@register(
    "pack_sequences",
    oracle=f"""
    WITH {{pack_bins}}
    SELECT source, bin_id, count(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
    FROM b GROUP BY source, bin_id
    ORDER BY source, bin_id
    """.format(pack_bins=_PACK_BINS_SQL),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed token-budget training sequences: within
    each source stream (ordered by doc_id), a document joins the bin its
    token prefix-sum falls in (bin = floor(tokens_before / budget)) —
    the deterministic first-fit-sequential packing a dataloader applies
    before concatenate-and-chunk. Output is the per-bin manifest (doc
    count + token fill), i.e. the shape a batch planner consumes.

    All arithmetic is integer (token counts, prefix sums, floor-div by a
    constant), so both engines agree exactly. Shape: one shuffle on
    source for the running sum, then the bin rollup reuses that same
    partitioning (no second exchange of the corpus). Packing is
    order-dependent only WITHIN a stream shard, so at 100 TB the
    partition key becomes (source, shard) — same plan, narrower
    windows — rather than a global per-source sort."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum", F.sum("n_tokens").over(w))
    b = c.select(
        "source",
        F.floor((F.col("cum") - F.col("n_tokens")) / PACK_BUDGET)
        .cast("bigint")
        .alias("bin_id"),
        "n_tokens",
    )
    return (
        b.groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
        )
        .orderBy("source", "bin_id")
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/valid/test split: the bucket comes from the hash of
# the NORMALIZED CONTENT, not the doc_id, so byte-duplicate and
# case/whitespace-duplicate documents always land in the same split —
# the standard guard against train/test contamination via duplicates.
SPLIT_BUCKETS = 100
SPLIT_TRAIN_LT = 98   # buckets [0, 98) -> train
SPLIT_VALID_LT = 99   # bucket 98 -> valid, bucket 99 -> test


@register(
    "train_test_split",
    oracle=f"""
    WITH t AS (SELECT doc_id,
                      {md5_long_sql(f"array_to_string({SQL_TOKENS.format(col='text')}, ' ')")}
                        % {SPLIT_BUCKETS} AS bucket
               FROM documents)
    SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
           CASE WHEN bucket < {SPLIT_TRAIN_LT} THEN 'train'
                WHEN bucket < {SPLIT_VALID_LT} THEN 'valid'
                ELSE 'test' END AS split
    FROM t
    """,
)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 8/1/1 train/valid/test assignment by
    content-fingerprint bucket. Hashing the normalized token stream
    (not the doc_id) co-assigns every EXACT normalized duplicate of a
    document — case/whitespace variants included — to one split, so no
    such duplicate of a test document can sit in train. Genuine
    near-duplicates (one token changed) hash to arbitrary buckets and
    can still straddle splits: run the MinHash dedup pass first if
    near-dup leakage matters. Zero shuffles, stable across re-ingests
    (content moves the assignment only if the content itself changed)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (md5_long(F.array_join(tokens("text"), " ")) % SPLIT_BUCKETS).alias(
        "bucket"
    )
    d = docs.select("doc_id", bucket)
    return d.select(
        "doc_id",
        "bucket",
        F.when(F.col("bucket") < SPLIT_TRAIN_LT, "train")
        .when(F.col("bucket") < SPLIT_VALID_LT, "valid")
        .otherwise("test")
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# The near-dup variant of the flagship pipeline: scrub -> gate -> MinHash
# LSH keeper (drop any doc with a verified near-dup of smaller id) ->
# per-source rollup. Exact dedup misses one-token edits; this is the
# pipeline real pretraining runs execute (Lee et al. 2021).
def _sql_neardup_ctes() -> str:
    from mapreduce_spark.operators.dedup import (
        _SQL_BASE_HASH,
        _sql_band_hash,
        _sql_minhash_sig,
        JACCARD_THRESHOLD,
        N_BANDS,
        N_PERMS,
    )
    from mapreduce_spark.functions.text import sql_shingles

    return (
        _SQL_KEPT_CTES
        + f""",
    shx AS (
        SELECT doc_id, source, n_tokens, quality,
               list_distinct({sql_shingles('toks2', 3)}) AS sgl
        FROM (SELECT g.*, {SQL_TOKENS.format(col='g.clean_text')} AS toks2
              FROM gated g)),
    hb AS (SELECT doc_id, sgl, {_SQL_BASE_HASH} AS bs FROM shx WHERE len(sgl) > 0),
    sig AS (SELECT doc_id, sgl, """
        + ", ".join(f"{_sql_minhash_sig(i)} AS sig{i}" for i in range(N_PERMS))
        + """ FROM hb),
    bands AS (SELECT doc_id, band_idx, band_hash FROM sig, UNNEST(["""
        + ", ".join(
            f"struct_pack(band_idx := {b}, band_hash := {_sql_band_hash(b)})"
            for b in range(N_BANDS)
        )
        + """]) AS u(s), LATERAL (SELECT s.band_idx AS band_idx, s.band_hash AS band_hash)),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id),
    dup_pairs AS (
        SELECT c.doc_a, c.doc_b
        FROM cand c
        JOIN shx sa ON sa.doc_id = c.doc_a
        JOIN shx sb ON sb.doc_id = c.doc_b
        WHERE round(CAST(len(list_intersect(sa.sgl, sb.sgl)) AS DOUBLE)
              / (len(sa.sgl) + len(sb.sgl) - len(list_intersect(sa.sgl, sb.sgl))),
              6) >= """
        + str(JACCARD_THRESHOLD)
        + """),
    dominated AS (SELECT DISTINCT doc_b AS doc_id FROM dup_pairs),
    kept_nd AS (
        SELECT s.doc_id, s.source, s.n_tokens, s.quality
        FROM shx s LEFT JOIN dominated d ON d.doc_id = s.doc_id
        WHERE d.doc_id IS NULL)
"""
    )


@register(
    "curation_pipeline_neardup",
    oracle=_sql_neardup_ctes()
    + """
    SELECT source,
           count(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE)
                / count(*) AS DOUBLE) AS mean_quality
    FROM kept_nd
    GROUP BY source
    ORDER BY source
    """,
)
def curation_pipeline_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship curation pipeline with NEAR-dup dedup: scrub ->
    quality gate -> MinHash LSH keeper -> per-source rollup, one Catalyst
    plan. Keeper policy is greedy min-id domination: a document is
    dropped iff a verified near-duplicate (shingle-Jaccard >= 0.5 on the
    SCRUBBED text) with a smaller doc_id survives the gate — the
    single-pass policy real pretraining dedup runs use (full transitive
    clustering is dedup_cluster's job).

    Scale shape: dedup_minhash_lsh's pipeline (fingerprint_lsh_pairs)
    over the shingle fingerprints of the gated, scrubbed text —
    signatures per-row (one md5 per shingle), candidate generation a
    capped band-bucket join shuffling only (doc_id, band) keys, exact
    verify joins int64 fingerprint sets for candidates only — and the
    dominated set folds back as a LEFT ANTI join on doc_id so document
    text never re-shuffles."""
    from mapreduce_spark.operators.artifacts import materialize
    from mapreduce_spark.operators.dedup import (
        N_BANDS,
        N_PERMS,
        fingerprint_lsh_pairs,
        shingle_hashes,
    )

    docs = load_table(spark, sf_dir, "documents")
    clean = docs.select(
        "doc_id", "source", scrub_expr(F.col("text")).alias("clean_text")
    )
    toks = tokens(F.col("clean_text"))
    scored = clean.select(
        "doc_id",
        "source",
        "clean_text",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.round(
            0.4 * F.least(F.size(toks) / 100.0, F.lit(1.0))
            + 0.4 * F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
            + 0.2
            * (
                1.0
                - _hits(toks, STOPWORDS["en"]).cast("double") / F.size(toks)
            ),
            6,
        ).alias("quality"),
    ).filter(F.size(toks) >= MIN_TOKENS)
    gated = scored.filter(F.col("quality") >= QUALITY_THRESHOLD)

    # materialized like dedup's fingerprint pass: the LSH pipeline reads
    # the frame once per signature branch and verify side, and each lazy
    # read would re-run the scrub and quality gate
    hsf = materialize(
        shingle_hashes(gated.select("doc_id", F.col("clean_text").alias("text")))
    )
    dominated = (
        fingerprint_lsh_pairs(hsf, N_PERMS, N_BANDS)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    kept = gated.join(dominated, "doc_id", "left_anti")
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            (
                F.sum(F.col("quality").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            )
            .cast("double")
            .alias("mean_quality"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
@register(
    "filter_agreement_report",
    oracle=f"""
    WITH q AS (SELECT doc_id, n_tokens, quality FROM ({QUALITY_SQL}) qq),
    g AS (SELECT doc_id, keep FROM ({GOPHER_SQL}) gg)
    SELECT q.quality >= {QUALITY_THRESHOLD} AS quality_keep,
           g.keep AS gopher_keep,
           count(*) AS n_docs,
           CAST(SUM(q.n_tokens) AS BIGINT) AS total_tokens,
           CAST(CAST(SUM(CAST(q.quality AS DECIMAL(18,6))) AS DOUBLE)
                / count(*) AS DOUBLE) AS mean_quality
    FROM q JOIN g USING (doc_id)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def filter_agreement_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix between the corpus's two independent quality
    gates — the soft score threshold (quality_frame >= threshold) and
    the Gopher heuristic rule conjunction (gopher_frame.keep): per
    (quality_keep, gopher_keep) cell, document count, token mass, and
    mean quality. The report every curation run reads before choosing a
    gate: the disagreement cells are exactly the data one filter would
    uniquely discard, and their token mass is the cost of switching.

    Plan shape: both gates are zero-shuffle per-row plan fragments
    (shared verbatim with the batch/streaming gate queries) over ONE
    documents scan each; the equi-join on doc_id and the <=4-row rollup
    are the only shuffles. Both frames drop zero-token docs by the same
    rule, so the inner join loses nothing. Mean quality sums exact
    DECIMAL(18,6) then divides once; the rounded-6dp score makes the
    threshold compare engine-stable."""
    docs = load_table(spark, sf_dir, "documents")
    q = quality_frame(docs).select("doc_id", "n_tokens", "quality")
    g = gopher_frame(docs).select("doc_id", F.col("keep").alias("gopher_keep"))
    return (
        q.join(g, "doc_id")
        .select(
            (F.col("quality") >= QUALITY_THRESHOLD).alias("quality_keep"),
            "gopher_keep",
            "n_tokens",
            "quality",
        )
        .groupBy("quality_keep", "gopher_keep")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            (
                F.sum(F.col("quality").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            )
            .cast("double")
            .alias("mean_quality"),
        )
        .orderBy("quality_keep", "gopher_keep")
    )


# ---------------------------------------------------------------------------
# The last mile: the curated corpus exported as deterministic JSONL shards.

EXPORT_SHARDS = 8
_DIGEST_MOD = 1_000_000_007


def _export_path(spark: SparkSession) -> str:
    from mapreduce_spark.sources.fs import warehouse_uri

    return f"{warehouse_uri(spark)}/jsonl_export"


@register(
    "export_jsonl_shards",
    oracle=_SQL_KEPT_CTES
    + f""",
    keptx AS (
        SELECT g.doc_id, g.source, g.n_tokens, g.clean_text
        FROM gated g JOIN keeper k ON g.doc_id = k.doc_id),
    sh AS (
        SELECT {md5_long_sql("'shard:' || doc_id")} % {EXPORT_SHARDS}
                 AS shard,
               doc_id, n_tokens, clean_text
        FROM keptx)
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum({md5_long_sql("doc_id || ':' || md5(clean_text)")}
                    % {_DIGEST_MOD}) AS BIGINT) AS content_digest
    FROM sh GROUP BY shard ORDER BY shard
    """,
)
def export_jsonl_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline's DELIVERABLE: the kept corpus written to
    disk as {EXPORT_SHARDS} JSONL shards (the interchange format training
    stacks actually ingest), then the shard MANIFEST recomputed FROM THE
    FILES — so what this query grades is the round trip, not the plan:
    doc counts, token totals and an order-independent content digest
    (Σ md5(doc_id:md5(text)) mod {_DIGEST_MOD}) must survive
    serialization bit-for-bit against the oracle's table-side recompute.

    Shard assignment is md5(doc_id) mod {EXPORT_SHARDS} — CONTENT-stable,
    so the same document lands in the same shard on any cluster, any
    partitioning, any rerun (resumable exports diff by shard digest).
    Write shape: one repartition onto the shard key, partitionBy(shard)
    → exactly one file per shard per writer wave, no small-file spray;
    at 100 TB raise EXPORT_SHARDS, the plan is unchanged. The JSON bytes
    cross to disk once; the manifest read-back scans only what it wrote."""
    kept = _kept(spark, sf_dir, with_text=True)
    out = kept.select(
        "doc_id",
        "source",
        "n_tokens",
        "quality",
        F.col("clean_text").alias("text"),
        (
            md5_long(F.concat(F.lit("shard:"), F.col("doc_id")))
            % EXPORT_SHARDS
        ).alias("shard"),
    )
    path = _export_path(spark)
    (
        out.repartition("shard")
        .write.partitionBy("shard")
        .mode("overwrite")
        .json(path)
    )
    back = spark.read.schema(
        "doc_id long, source string, n_tokens long, quality double, "
        "text string"
    ).option("basePath", path).json(path)
    return (
        back.withColumn(
            "shard",
            F.regexp_extract(F.input_file_name(), r"shard=(\d+)", 1).cast(
                "bigint"
            ),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum(
                md5_long(
                    F.concat_ws(":", F.col("doc_id"), F.md5("text"))
                )
                % _DIGEST_MOD
            )
            .cast("bigint")
            .alias("content_digest"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# Streaming export: ingest -> curation gate -> JSONL shard sink, where the
# SINK IS THE DEDUP STATE (admitted digests are read back from the files).

_SQL_STREAM_EXPORT = f"""
    WITH scrubbed AS (
        SELECT doc_id, source, {sql_scrub('text')} AS clean_text
        FROM documents WHERE doc_id % 2 = 1),
    t AS (
        SELECT doc_id, source, clean_text,
               {SQL_TOKENS.format(col='clean_text')} AS toks
        FROM scrubbed),
    scored AS (
        SELECT doc_id, source, clean_text,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               round(0.4 * least(len(toks) / 100.0, 1.0)
                     + 0.4 * CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                     + 0.2 * (1.0 - CAST({_sql_hits(STOPWORDS['en'])} AS DOUBLE)
                                    / len(toks)), 6) AS quality
        FROM t WHERE len(toks) >= {MIN_TOKENS}),
    gated AS (
        SELECT doc_id, source, n_tokens, clean_text,
               {md5_long_sql('clean_text')} AS fp,
               {md5_long2_sql('clean_text')} AS fp2
        FROM scored WHERE quality >= {QUALITY_THRESHOLD}),
    b1 AS (SELECT * FROM gated WHERE doc_id % 4 = 1),
    k1 AS (SELECT min(doc_id) AS doc_id FROM b1 GROUP BY fp, fp2),
    adm1 AS (SELECT b1.* FROM b1 JOIN k1 USING (doc_id)),
    b2 AS (SELECT * FROM gated WHERE doc_id % 4 = 3),
    b2f AS (SELECT * FROM b2 WHERE NOT EXISTS (
                SELECT 1 FROM adm1 a
                WHERE a.fp = b2.fp AND a.fp2 = b2.fp2)),
    k2 AS (SELECT min(doc_id) AS doc_id FROM b2f GROUP BY fp, fp2),
    adm2 AS (SELECT b2f.* FROM b2f JOIN k2 USING (doc_id))
    SELECT doc_id, source, n_tokens,
           {md5_long_sql("'shard:' || doc_id")} % {EXPORT_SHARDS} AS shard,
           CAST(1 AS BIGINT) AS batch_idx
    FROM adm1
    UNION ALL
    SELECT doc_id, source, n_tokens,
           {md5_long_sql("'shard:' || doc_id")} % {EXPORT_SHARDS} AS shard,
           CAST(2 AS BIGINT) AS batch_idx
    FROM adm2
"""


_EXPORT_JSON_SCHEMA = (
    "doc_id long, source string, n_tokens long, quality double, "
    "text string, fp long, fp2 long"
)


def export_gate_batch(batch_df: DataFrame, path: str) -> DataFrame:
    """Gate ONE micro-batch and append its survivors to the JSONL export
    at ``path``, deduping against everything the export already holds —
    the per-batch unit of stream_export_gate, exposed so the crash-
    recovery replay test (tests/test_stream_crash_recovery.py) drives
    the EXACT production code path. The probe index is the sink itself
    ((fp, fp2) digest columns read back from the exported files), which
    is the whole recovery story: a lost checkpoint or a torn append
    needs no repair step — re-running a batch re-admits only the rows
    whose originals never reached disk. Returns the admitted frame
    (eagerly checkpointed BEFORE the append, so the returned card and
    the written rows cannot diverge)."""
    session = batch_df.sparkSession
    g = _gated_frame(batch_df).select(
        "doc_id",
        "source",
        "n_tokens",
        "quality",
        F.col("clean_text").alias("text"),
        md5_long(F.col("clean_text")).alias("fp"),
        md5_long2(F.col("clean_text")).alias("fp2"),
    )
    from mapreduce_spark.sources.fs import fs_exists

    if fs_exists(session, path):
        idx = (
            session.read.schema(_EXPORT_JSON_SCHEMA)
            .option("basePath", path)
            .json(path)
            .select("fp", "fp2")
        )
        g = g.join(idx, ["fp", "fp2"], "left_anti")
    keeper = g.groupBy("fp", "fp2").agg(F.min("doc_id").alias("doc_id"))
    admitted = g.join(
        keeper.select("doc_id"), "doc_id", "left_semi"
    ).localCheckpoint(eager=True)
    out = admitted.select(
        "*",
        (
            md5_long(F.concat(F.lit("shard:"), F.col("doc_id")))
            % EXPORT_SHARDS
        ).alias("shard"),
    )
    (
        out.repartition("shard")
        .write.partitionBy("shard")
        .mode("append")
        .json(path)
    )
    return out


@register("stream_export_gate", oracle=_SQL_STREAM_EXPORT)
def stream_export_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming END of the pipeline: incoming documents (odd
    doc_ids, two pinned micro-batches) run the IDENTICAL per-row curation
    gate as the batch pipeline (_gated_frame — one fragment, batch and
    stream cannot diverge), are exact-deduped against EVERYTHING ALREADY
    EXPORTED, and the survivors append as content-stable JSONL shards —
    ingest -> gate -> training-ready files, continuously.

    The dedup state is the SINK itself: each batch's probe index is the
    (fp, fp2) digest pair read back from the exported files, so there is
    no separate state store to drift, crash-recovery is "re-read the
    directory", and a duplicate arriving in a later batch is dropped by
    the very artifact its original landed in (120-bit digest discipline,
    r4 review). Per-batch cost: one gate pass over the batch + one
    digest anti-join against digest COLUMNS of the export (never the
    text), + one partitioned append — |batch|-sized, corpus-free."""
    import os
    import tempfile
    import time

    from mapreduce_spark.sources.fs import fs_delete

    docs = load_table(spark, sf_dir, "documents")
    path = _export_path(spark) + "_stream"
    fs_delete(spark, path)

    spool = tempfile.mkdtemp(prefix="stream_export_gate_")
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

    def _gate_and_append(batch_df: DataFrame, _batch_id: int) -> None:
        export_gate_batch(batch_df, path).select(
            "doc_id",
            "source",
            "n_tokens",
            "shard",
            F.when(F.col("doc_id") % 4 == 1, F.lit(1))
            .otherwise(F.lit(2))
            .cast("bigint")
            .alias("batch_idx"),
        ).write.mode("append").parquet(out_dir)

    for q in spark.streams.active:
        if q.name == "stream_export_gate":
            q.stop()
    query = (
        stream.writeStream.foreachBatch(_gate_and_append)
        .queryName("stream_export_gate")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.read.parquet(out_dir)


# ---------------------------------------------------------------------------
# Epoch-capped budget allocation: UniMax-style water-filling
MIX_EPOCH_CAP = 4          # no source repeats more than 4 epochs
MIX_BUDGET_FRACTION = 2    # budget B = total_tokens DIV 2

_WF_SQL_NOTE = """
    Water-filling boundary is INTEGER-exact: source k (sources sorted by
    token count ascending) is capped iff cap*n_k*(N-k+1) <= B - prefix_{k-1},
    all BIGINTs; the uniform level for uncapped sources is one
    floor(double-division) of exact integers — identical on both engines.
"""


@register(
    "mix_epoch_capped",
    oracle=f"""
    WITH t AS (SELECT source,
                      CAST(len({SQL_TOKENS.format(col='text')}) AS BIGINT) AS n_toks
               FROM documents),
    g AS (SELECT source, CAST(sum(n_toks) AS BIGINT) AS n_tokens
          FROM t GROUP BY source),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_src,
                   CAST(sum(n_tokens) // {MIX_BUDGET_FRACTION} AS BIGINT) AS b
            FROM g),
    r AS (SELECT g.source, g.n_tokens, tot.n_src, tot.b,
                 CAST(row_number() OVER (ORDER BY g.n_tokens, g.source) AS BIGINT) AS k,
                 CAST(sum(g.n_tokens * {MIX_EPOCH_CAP})
                      OVER (ORDER BY g.n_tokens, g.source) AS BIGINT) AS prefix_cap
          FROM g CROSS JOIN tot),
    flagged AS (SELECT *,
                 (n_tokens * {MIX_EPOCH_CAP} * (n_src - k + 1)
                  <= b - (prefix_cap - n_tokens * {MIX_EPOCH_CAP})) AS cap_flag
                FROM r),
    kstar AS (SELECT coalesce(max(CASE WHEN cap_flag THEN k END), 0) AS ks,
                     coalesce(max(CASE WHEN cap_flag THEN prefix_cap END), 0)
                       AS prefix_ks
              FROM flagged)
    SELECT f.source, f.n_tokens,
           CASE WHEN f.k <= ks.ks THEN f.n_tokens * {MIX_EPOCH_CAP}
                ELSE CAST(floor(CAST(f.b - ks.prefix_ks AS DOUBLE)
                                / (f.n_src - ks.ks)) AS BIGINT) END AS alloc_tokens,
           round(CAST(CASE WHEN f.k <= ks.ks THEN f.n_tokens * {MIX_EPOCH_CAP}
                ELSE CAST(floor(CAST(f.b - ks.prefix_ks AS DOUBLE)
                                / (f.n_src - ks.ks)) AS BIGINT) END AS DOUBLE)
                 / f.n_tokens, 6) AS epochs,
           (f.k <= ks.ks) AS capped
    FROM flagged f CROSS JOIN kstar ks
    """,
)
def mix_epoch_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-capped token-budget allocation (the UniMax posture, Chung
    et al. 2023: maximize uniformity across sources subject to 'no
    source repeats more than C epochs') solved in CLOSED FORM as
    water-filling: sort sources by token count ascending; small sources
    hit the C-epoch cap and take cap*n_tokens; everything past the
    boundary shares the remaining budget uniformly. The boundary test is
    pure BIGINT arithmetic (cap*n_k*(N-k+1) <= remaining budget) so both
    engines elect the identical capped set, and the uniform level is one
    floor()ed division of exact integers. mix_temperature_sweep prices
    temperature smoothing; this is the BUDGETED allocation a capped
    recipe actually ships (alloc_tokens per source, epochs, capped flag).

    Shape: one map-side-combined scan to |sources| rows; the window
    sort, boundary election (1-row agg) and final projection all run on
    that tiny frame — at 100 TB only source aggregates move."""
    docs = load_table(spark, sf_dir, "documents")
    g = (
        docs.select("source", F.size(tokens("text")).cast("bigint").alias("n_toks"))
        .groupBy("source")
        .agg(F.sum("n_toks").cast("bigint").alias("n_tokens"))
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_src"),
        F.expr(f"CAST(sum(n_tokens) DIV {MIX_BUDGET_FRACTION} AS BIGINT)").alias("b"),
    )
    w = Window.orderBy("n_tokens", "source")
    r = (
        g.crossJoin(F.broadcast(tot))
        .withColumn("k", F.row_number().over(w).cast("bigint"))
        .withColumn(
            "prefix_cap",
            F.sum(F.col("n_tokens") * MIX_EPOCH_CAP).over(w).cast("bigint"),
        )
    )
    flagged = r.withColumn(
        "cap_flag",
        F.col("n_tokens") * MIX_EPOCH_CAP * (F.col("n_src") - F.col("k") + 1)
        <= F.col("b") - (F.col("prefix_cap") - F.col("n_tokens") * MIX_EPOCH_CAP),
    )
    kstar = flagged.agg(
        F.coalesce(
            F.max(F.when(F.col("cap_flag"), F.col("k"))), F.lit(0).cast("bigint")
        ).alias("ks"),
        F.coalesce(
            F.max(F.when(F.col("cap_flag"), F.col("prefix_cap"))),
            F.lit(0).cast("bigint"),
        ).alias("prefix_ks"),
    )
    level = F.floor(
        (F.col("b") - F.col("prefix_ks")).cast("double")
        / (F.col("n_src") - F.col("ks"))
    ).cast("bigint")
    alloc = F.when(
        F.col("k") <= F.col("ks"), F.col("n_tokens") * MIX_EPOCH_CAP
    ).otherwise(level)
    return flagged.crossJoin(F.broadcast(kstar)).select(
        "source",
        "n_tokens",
        alloc.alias("alloc_tokens"),
        F.round(alloc.cast("double") / F.col("n_tokens"), 6).alias("epochs"),
        (F.col("k") <= F.col("ks")).alias("capped"),
    )


# ---------------------------------------------------------------------------
# Cross-split leakage audit: train_test_split's content-hash buckets
# co-assign EXACT normalized duplicates, but genuine near-duplicates (one
# token changed) hash to arbitrary buckets and can straddle the split —
# the contamination that silently inflates eval scores. This report
# surfaces every verified near-dup pair whose members landed in
# different splits, reusing the demo-profile LSH pair derivation
# verbatim (same shingles, signatures, bands, threshold).
def _split_leakage_sql() -> str:
    from mapreduce_spark.operators.dedup import (
        _MINHASH_CTES,
        JACCARD_THRESHOLD,
    )

    split_case = (
        f"CASE WHEN bucket < {SPLIT_TRAIN_LT} THEN 'train' "
        f"WHEN bucket < {SPLIT_VALID_LT} THEN 'valid' "
        f"ELSE 'test' END"
    )
    return (
        _MINHASH_CTES
        + f""",
    vp AS (SELECT doc_a, doc_b, jaccard FROM verified
           WHERE jaccard >= {JACCARD_THRESHOLD}),
    spl AS (SELECT doc_id, {split_case} AS split FROM (
        SELECT doc_id,
               {md5_long_sql(f"array_to_string({SQL_TOKENS.format(col='text')}, ' ')")}
                 % {SPLIT_BUCKETS} AS bucket
        FROM documents))
    SELECT v.doc_a, sa.split AS split_a, v.doc_b, sb.split AS split_b,
           v.jaccard
    FROM vp v
    JOIN spl sa ON sa.doc_id = v.doc_a
    JOIN spl sb ON sb.doc_id = v.doc_b
    WHERE sa.split <> sb.split
    """
    )


@register("split_leakage_report", oracle=_split_leakage_sql())
def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs that STRADDLE the train/valid/test split —
    the leakage train_test_split's exact-duplicate guard cannot catch
    (Lee et al. 2021's motivation for near-dup dedup before splitting):
    a test document with a one-token-edited twin in train inflates eval.
    Every pair here is a verified LSH near-dup (dedup_minhash_lsh's
    exact derivation) annotated with both members' split assignments,
    keeping only cross-split pairs. Run it after any split; a non-empty
    result means either re-split by near-dup CLUSTER or drop the train
    member. Cost: the LSH pair pass (candidates via band buckets, never
    all-pairs) + two |docs|-row equi-joins on doc_id — the split frame
    is derived in-plan by the same zero-shuffle content hash."""
    from mapreduce_spark.operators.dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, sf_dir)
    splits = train_test_split(spark, sf_dir).select("doc_id", "split")
    sa = splits.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "split_a", "doc_b", "split_b", "jaccard")
    )


@register(
    "pack_efficiency_stats",
    oracle=f"""
    WITH {_PACK_BINS_SQL},
    bins AS (SELECT source, bin_id, CAST(sum(n_tokens) AS BIGINT) AS bt
             FROM b GROUP BY source, bin_id)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(bt) AS BIGINT) AS n_tokens,
           CAST((sum(bt) + {PACK_BUDGET - 1}) // {PACK_BUDGET} AS BIGINT)
             AS lb_bins,
           CAST(sum(CASE WHEN bt > {PACK_BUDGET} THEN 1 ELSE 0 END)
                AS BIGINT) AS bins_over_budget,
           round(CAST(sum(bt) AS DOUBLE) / (count(*) * {PACK_BUDGET}), 6)
             AS fill
    FROM bins GROUP BY source ORDER BY source
    """,
)
def pack_efficiency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packing run's efficiency card (allpairs_prefix_stats'
    sibling for the dataloader stage): per source, bins used vs the
    information-theoretic floor ceil(tokens/budget), how many bins a
    straddling document pushed over budget (first-fit-sequential packs
    by prefix-sum, so a bin can exceed the budget by at most one
    document's tail — those are the sequences a chunker truncates), and
    the mean fill fraction. fill near 1 with few over-budget bins means
    the stream order is fine; a low fill says documents should be
    length-sorted within shards before packing. Exact integers
    everywhere; the one rounded division divides exact counts. Cost:
    pack_sequences' own rollup re-aggregated to |sources| rows."""
    bins = pack_sequences(spark, sf_dir)
    return (
        bins.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            F.sum("bin_tokens").cast("bigint").alias("n_tokens"),
            F.expr(f"(sum(bin_tokens) + {PACK_BUDGET - 1}) div {PACK_BUDGET}")
            .cast("bigint")
            .alias("lb_bins"),
            F.sum(
                F.when(F.col("bin_tokens") > PACK_BUDGET, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("bins_over_budget"),
            F.round(
                F.sum("bin_tokens").cast("double")
                / (F.count(F.lit(1)) * PACK_BUDGET),
                6,
            ).alias("fill"),
        )
        .orderBy("source")
    )
