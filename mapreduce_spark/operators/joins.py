"""Join operators (SURVEY.md §2C Q11-Q13 + as-of join).

In the reference these are the classic tag-and-merge reduce-side joins —
expressible by user executables over its (map -> partition -> sort ->
reduce) skeleton. Natively, Catalyst picks broadcast/sort-merge/shuffle-hash
per side; we hint broadcast for dimension tables because at 100 TB the fact
side must never shuffle for a kilobyte-scale dim.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from mapreduce_spark.functions.exact import dsum
from mapreduce_spark.registry import register
from mapreduce_spark.sources.tables import load_table


# Q11 repartition (shuffle) equi-join — both sides large => sort-merge join
@register(
    "join_equi",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           count(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def join_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer x orders on custkey, then per-customer aggregation. At scale
    both sides shuffle on the join key once; the following groupBy reuses
    the same partitioning (no second shuffle for c_custkey)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "inner")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice", "spend"))
    )


# Q12 broadcast (map-side) join — dim tables ship to every executor
@register(
    "join_broadcast",
    oracle="""
    SELECT n.n_name AS nation, r.r_name AS region,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact lineitem against 3 broadcast dims — zero shuffle on
    the fact table until the final small aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# Q13 existence joins
@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi: customers with at least one >300k order. Semi joins send
    only the key column of the probe side through the shuffle."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti: customers with no >300k order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_outer",
    oracle="""
    SELECT n.n_nationkey, n.n_name, count(c.c_custkey) AS n_customers
    FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_nationkey, n.n_name
    """,
)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving unmatched dimension rows (count=0)."""
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    return (
        n.join(c, c.c_nationkey == n.n_nationkey, "left")
        .groupBy("n_nationkey", "n_name")
        .agg(F.count("c_custkey").alias("n_customers"))
    )


@register(
    "cross_join",
    oracle="""
    SELECT r.r_name, s.o_orderstatus
    FROM region r CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
)
def cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two tiny inputs (both broadcastable)."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    statuses = load_table(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return r.crossJoin(statuses)


@register(
    "asof_join",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
           c.ts AS click_ts,
           date_diff('microsecond', c.ts, p.ts) AS wait_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one — SURVEY.md §2 'absent' list):
    each purchase matched to the user's latest click at-or-before it.

    Implemented as the union+window idiom: tag both streams, sort within
    user by (ts, clicks-first), carry the last click forward with
    last(ignorenulls), keep purchase rows that found a click. One shuffle
    on user_id — same cost class as a repartition join, and skew-safe via
    AQE. Equivalent to DuckDB's ASOF JOIN (inclusive >=).
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts"),
        F.lit(0).alias("is_purchase"),
        F.lit(None).cast("bigint").alias("event_id"),
        F.col("ts").alias("click_ts_src"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts"),
        F.lit(1).alias("is_purchase"),
        "event_id",
        F.lit(None).cast("timestamp_ntz").alias("click_ts_src"),
    )
    from pyspark.sql.window import Window

    # clicks-first at equal ts => inclusive match (p.ts >= c.ts)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("is_purchase"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = clicks.unionByName(purchases).withColumn(
        "click_ts", F.last("click_ts_src", ignorenulls=True).over(w)
    )
    return (
        merged.filter((F.col("is_purchase") == 1) & F.col("click_ts").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "click_ts",
            # microsecond diff: boundary-count == floored-diff at the data's
            # own resolution, so both engines agree exactly
            F.expr("timestampdiff(MICROSECOND, click_ts, ts)").alias("wait_us"),
        )
    )


@register(
    "range_join",
    oracle="""
    SELECT e.event_id, e.user_id,
           count(*) AS n_clicks_before
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = e.user_id
     AND c.ts >= e.ts - INTERVAL 10 MINUTE
     AND c.ts <= e.ts
    GROUP BY e.event_id, e.user_id
    """,
)
def range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range join (SURVEY.md §2 'absent' list — Spark has no native
    one): for each error event, count the same user's clicks in the
    preceding 10 minutes.

    A naive formulation is an inequality theta-join — a cartesian per user
    that dies at scale. This is the BANDED range join: both sides get a
    10-minute bucket key, the error side fans out to (bucket-1, bucket) —
    the only buckets a window this long can touch — and the join is a pure
    equi-join on (user_id, bucket), refined by the exact range predicate.
    Work tracks true pair density per band, never |user events|^2.
    """
    band_us = 10 * 60 * 1_000_000  # band width == window length, microseconds
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        us.alias("c_us"),
        F.floor(us / band_us).alias("bucket"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id",
        F.col("user_id"),
        us.alias("e_us"),
        F.explode(
            F.array(F.floor(us / band_us) - 1, F.floor(us / band_us))
        ).alias("bucket"),
    )
    return (
        errors.join(clicks, ["user_id", "bucket"])
        .filter(
            (F.col("c_us") >= F.col("e_us") - band_us) & (F.col("c_us") <= F.col("e_us"))
        )
        .groupBy("event_id", "user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks_before"))
    )


@register(
    "join_salted",
    oracle="""
    SELECT o.o_custkey, count(*) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_custkey
    """,
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicitly salted skew join — the manual fallback when a hot key
    would overload one reducer and AQE's skew splitting isn't available
    (e.g. bucketed inputs, or a deliberately pinned plan). The build side
    (orders) is replicated once per salt via explode; the probe side
    (lineitem) draws a deterministic salt from md5(orderkey) — never
    rand(), so the query replays identically. The join key becomes
    (key, salt): a hot orderkey's rows spread across N_SALTS reducers
    instead of one. Same answer as the unsalted join (identical oracle);
    cost = build side x N_SALTS, the standard tradeoff."""
    from mapreduce_spark.functions.hashing import md5_long

    n_salts = 4
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_extendedprice",
        (md5_long(F.col("l_orderkey").cast("string")) % n_salts).alias("_salt"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.explode(F.array(*[F.lit(s) for s in range(n_salts)])).alias("_salt"),
    )
    return (
        li.join(
            o,
            (li.l_orderkey == o.o_orderkey) & (li._salt == o._salt),
            "inner",
        )
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_extendedprice", "revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Upsert / merge: apply a change batch onto a snapshot (SCD-1 semantics)
@register(
    "upsert_merge",
    oracle="""
    WITH updates AS (
        SELECT o_orderkey,
               CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 1.1, 2)
                    AS DOUBLE) AS o_totalprice,
               'U' AS o_orderstatus
        FROM orders WHERE o_orderkey % 7 = 0)
    SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
           coalesce(u.o_totalprice, b.o_totalprice) AS o_totalprice,
           coalesce(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
           CASE WHEN u.o_orderkey IS NOT NULL THEN 'updated'
                ELSE 'unchanged' END AS merge_action
    FROM orders b FULL OUTER JOIN updates u ON b.o_orderkey = u.o_orderkey
    """,
)
def upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics on plain DataFrames: a deterministic change
    batch (every 7th order, price bumped 10% in exact decimal) applied
    over the snapshot via FULL OUTER join + column-wise coalesce — SCD-1
    upsert, the nightly-pipeline staple. One shuffle on the merge key
    for both sides; at 100 TB the join benefits from both sides being
    bucketed on the key (sources/writers.write_bucketed demonstrates the
    zero-shuffle variant). The change batch here derives from the
    snapshot, so AQE broadcasts it when small; a true external batch
    joins identically."""
    base = load_table(spark, sf_dir, "orders")
    updates = base.filter(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("u_orderkey"),
        F.round(F.col("o_totalprice").cast("decimal(18,2)") * 1.1, 2)
        .cast("double")
        .alias("u_totalprice"),
        F.lit("U").alias("u_orderstatus"),
    )
    merged = base.join(
        updates, F.col("o_orderkey") == F.col("u_orderkey"), "full_outer"
    )
    return merged.select(
        F.coalesce(F.col("u_orderkey"), F.col("o_orderkey")).alias("o_orderkey"),
        F.coalesce(F.col("u_totalprice"), F.col("o_totalprice")).alias(
            "o_totalprice"
        ),
        F.coalesce(F.col("u_orderstatus"), F.col("o_orderstatus")).alias(
            "o_orderstatus"
        ),
        F.when(F.col("u_orderkey").isNotNull(), "updated")
        .otherwise("unchanged")
        .alias("merge_action"),
    )


# ---------------------------------------------------------------------------
# Co-located (bucketed) fact-fact join: the layout that deletes the shuffle
JOIN_BUCKETS = 8


def _bucketed_write(df: DataFrame, name: str, key: str, buckets: int) -> None:
    """(Re)write ``df`` as a bucketed+sorted table on ``key``, one file
    per bucket (repartition aligns write tasks to whole buckets — the
    index-compaction discipline), so scans report both the hash
    distribution AND the sort order to the planner."""
    spark = df.sparkSession
    from mapreduce_spark.sources.fs import drop_table

    drop_table(spark, name)
    (
        df.repartition(buckets, key)
        .write.format("parquet")
        .bucketBy(buckets, key)
        .sortBy(key)
        .saveAsTable(name)
    )


@register(
    "join_colocated",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey,
           count(*) AS n_lines,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_custkey
    """,
)
def join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FACT-FACT join at 100 TB: when both tables are too big to
    broadcast, a plain equi-join shuffles BOTH sides on the key every
    single run — the dominant recurring cost of a production join
    pipeline. Pre-bucketing both tables on the join key (here orders and
    lineitem on orderkey, one file per bucket, sorted within) makes
    Spark's scan report hash distribution and order, so the sort-merge
    join plans with ZERO Exchange and ZERO Sort — the shuffle is paid
    once at layout time and amortized over every subsequent join, the
    same economics as dedup_index_persisted's probe side. The follow-up
    per-order aggregation reuses the join's clustering too. Plan
    asserted Exchange-free in tests/test_layout_mining.py. (The
    reference's only co-location tool is its md5-mod-R partition rule,
    /root/reference/mapreduce/worker/__main__.py:105-111, recomputed
    from scratch every job.)"""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    _bucketed_write(o, "colo_orders", "o_orderkey", JOIN_BUCKETS)
    _bucketed_write(li, "colo_lineitem", "l_orderkey", JOIN_BUCKETS)
    # MERGE hint: at fixture scale the planner would broadcast the toy
    # orders side, hiding exactly the shape this query exists to pin; a
    # 100 TB fact-fact join is SMJ regardless, so the hint encodes the
    # production decision instead of the fixture's.
    ob = spark.table("colo_orders").hint("merge")
    lb = spark.table("colo_lineitem")
    return (
        ob.join(lb, ob.o_orderkey == lb.l_orderkey, "inner")
        .groupBy("o_orderkey", "o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_quantity", "sum_qty"),
        )
    )


@register(
    "join_bloom_prefilter",
    oracle="""
    SELECT c.c_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_spend
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'AUTOMOBILE'
    GROUP BY c.c_custkey
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered selective join: orders of AUTOMOBILE-segment
    customers, with the fact side pre-pruned by a Bloom filter built
    from the dimension's keys BEFORE any join shuffle.

    The 100 TB shape this encodes: when the filtered dimension is too
    big to broadcast as rows (a billion-key dim blows the broadcast
    limit), its Bloom filter is NOT — bloom_build folds any key
    cardinality into a constant-size array<bigint> (64 KiB here) by a
    map-side partial aggregate, and the probe is pure JVM bit math
    fused into the fact scan. Non-matching facts (most of a 100 TB
    table when the dim filter is selective) die before the exchange,
    so the join shuffles matches + a bounded false-positive residue
    instead of the whole fact table; the exact equi-join that follows
    removes the false positives (no false negatives by construction —
    same hash family both sides, tests/test_dedup_similarity.py). The
    oracle is the plain declarative join: the prefilter must be
    invisible in the result, visible only in the plan. Spark's own
    runtime row-filtering (InjectRuntimeFilter) does this opportunistically;
    this operator makes it an explicit, plannable primitive (the
    contamination gates' bloom, promoted to the join family)."""
    from mapreduce_spark.functions.bloom import bloom_build, bloom_probe

    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "AUTOMOBILE"
    )
    dim = cust.select("c_custkey")
    bloom = bloom_build(dim, "c_custkey")
    facts = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_totalprice")
        .crossJoin(F.broadcast(bloom))
        .filter(bloom_probe(F.col("bw"), F.col("o_custkey")))
        .drop("bw")
    )
    return (
        facts.join(dim, facts.o_custkey == dim.c_custkey)
        .groupBy("c_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "total_spend"),
        )
    )
