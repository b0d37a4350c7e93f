"""Iterative graph algorithms expressed as unrolled DataFrame plans.

The reference's MapReduce algebra is the textbook host for iterative
graph workloads (PageRank was THE motivating MapReduce example): each
iteration is a map (emit rank/out_degree along edges) + reduce (sum per
destination). Here each iteration is a join + partial-aggregated groupBy
— one shuffle keyed on dst — and the driver unrolls a fixed iteration
count into a single Catalyst plan (no collect, no driver loop over data).

Exactness discipline: ranks live in integer micro-units (1e-12) and every
division is integer ``div``, so both engines produce bit-identical BIGINT
ranks — float summation order never enters the fixpoint.

Scale shape: the rank table is |nodes| rows and the per-iteration shuffle
moves |edges| contribution rows (collapsed map-side); at 100 TB the edge
derivation (one user_id-keyed window over events) dominates and is done
ONCE, reused by every iteration.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from mapreduce_spark.operators.dedup import _CLUSTER_CTES
from mapreduce_spark.registry import register
from mapreduce_spark.sources.tables import load_table

PR_ITERS = 3
PR_SCALE = 1_000_000_000_000  # rank micro-unit: 1e-12
# damping 0.85 as the exact rational 17/20; teleport 0.15 as 15/100.


def _sql_pagerank() -> str:
    """Unrolled DuckDB CTE chain mirroring the Spark plan iteration-for-
    iteration (integer arithmetic only, so both engines agree exactly)."""
    ctes = [
        """
    seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events),
    edges AS (
        SELECT prev_type AS src, event_type AS dst,
               CAST(count(*) AS BIGINT) AS w
        FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
    nodes AS (SELECT DISTINCT event_type AS node FROM events),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodes),
    outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w FROM edges GROUP BY src),
    e AS (SELECT edges.src, edges.dst, edges.w, outw.out_w
          FROM edges JOIN outw USING (src)),
    r0 AS (SELECT node, """
        + f"{PR_SCALE} // n_nodes AS units FROM nodes CROSS JOIN nn)"
    ]
    for i in range(1, PR_ITERS + 1):
        ctes.append(
            f"""
    c{i} AS (
        SELECT e.dst, CAST(sum((r.units * e.w) // e.out_w) AS BIGINT) AS s
        FROM e JOIN r{i - 1} r ON r.node = e.src GROUP BY e.dst),
    r{i} AS (
        SELECT node,
               (15 * {PR_SCALE}) // (100 * n_nodes)
               + (17 * coalesce(c{i}.s, 0)) // 20 AS units
        FROM nodes CROSS JOIN nn LEFT JOIN c{i} ON c{i}.dst = node)"""
        )
    return (
        "WITH "
        + ",".join(ctes)
        + f"""
    SELECT node AS event_type, units AS rank_units,
           round(CAST(units AS DOUBLE) / {PR_SCALE}, 9) AS pagerank
    FROM r{PR_ITERS}
    """
    )


@register("pagerank_transitions", oracle=_sql_pagerank())
def pagerank_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank(3 iterations, damping 0.85) over the event-type
    transition graph: nodes = event types, edge (a -> b) weighted by how
    often b follows a within a user's event stream.

    Each iteration: contributions = ranks ⋈ edges on src (rank mass split
    proportionally to edge weight, integer div), then one dst-keyed
    partial-aggregated shuffle; nodes with no inbound edges keep the
    teleport term via the left join. The unrolled plan re-derives the
    edge subtree per iteration — a fixed 3x constant, not a scaling
    hazard; for many-iteration runs at scale, checkpoint the aggregated
    edge table first (it is |node|^2-bounded — tiny — and the README's
    iterative-job note covers durable checkpointing), after which each
    iteration touches only |nodes|-sized state."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    edges = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("src"), F.col("event_type").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    nodes = events.select(F.col("event_type").alias("node")).distinct()
    nn = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    outw = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    e = edges.join(outw, "src")

    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", F.expr(f"{PR_SCALE} div n_nodes").alias("units")
    )
    # The rank table is |nodes| rows. It is deliberately NOT hint-forced
    # onto the edge table: AQE measures the rank side at runtime and
    # broadcasts it while it fits autoBroadcastJoinThreshold (this graph:
    # a handful of event types — always), degrading to a shuffle join on
    # src when a 100 TB-scale node set outgrows the threshold. Same plan
    # text, size-driven strategy, no broadcast-OOM cliff; the broadcast-
    # under-threshold behavior is pinned by tests/test_plan_audits.py.
    # Only nn (a 1-row count) keeps an explicit broadcast hint.
    for _ in range(PR_ITERS):
        contrib = e.join(ranks, e.src == ranks.node).select(
            "dst", F.expr("(units * w) div out_w").alias("c")
        )
        summed = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = (
            nodes.crossJoin(F.broadcast(nn))
            .join(summed, F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                (
                    F.expr(f"(15 * {PR_SCALE}) div (100 * n_nodes)")
                    + F.expr("(17 * coalesce(s, CAST(0 AS BIGINT))) div 20")
                ).alias("units"),
            )
        )
    return ranks.select(
        F.col("node").alias("event_type"),
        F.col("units").alias("rank_units"),
        F.round(F.col("units").cast("double") / PR_SCALE, 9).alias("pagerank"),
    )


# --------------------------------------------------------------------------
# PageRank to production depth: checkpointed loop + L1-delta convergence card

PR_DEEP_ITERS = 12


def _sql_pagerank_card(iters: int) -> str:
    """DuckDB mirror of pagerank_iters: the same integer-exact iteration
    chained ``iters`` times as MATERIALIZED CTEs, emitting per-iteration
    (iter, l1_delta_units, sum_units) instead of the final ranks."""
    ctes = [
        """
    seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events),
    edges AS (
        SELECT prev_type AS src, event_type AS dst,
               CAST(count(*) AS BIGINT) AS w
        FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
    nodes AS (SELECT DISTINCT event_type AS node FROM events),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodes),
    outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w FROM edges GROUP BY src),
    e AS MATERIALIZED (SELECT edges.src, edges.dst, edges.w, outw.out_w
          FROM edges JOIN outw USING (src)),
    r0 AS MATERIALIZED (SELECT node, """
        + f"{PR_SCALE} // n_nodes AS units FROM nodes CROSS JOIN nn)"
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""
    c{i} AS (
        SELECT e.dst, CAST(sum((r.units * e.w) // e.out_w) AS BIGINT) AS s
        FROM e JOIN r{i - 1} r ON r.node = e.src GROUP BY e.dst),
    r{i} AS MATERIALIZED (
        SELECT node,
               (15 * {PR_SCALE}) // (100 * n_nodes)
               + (17 * coalesce(c{i}.s, 0)) // 20 AS units
        FROM nodes CROSS JOIN nn LEFT JOIN c{i} ON c{i}.dst = node)"""
        )
    stats = [
        f"SELECT CAST({i} AS BIGINT) AS iter, "
        f"CAST(sum(abs(a.units - p.units)) AS BIGINT) AS l1_delta_units, "
        f"CAST(sum(a.units) AS BIGINT) AS sum_units "
        f"FROM r{i} a JOIN r{i - 1} p USING (node)"
        for i in range(1, iters + 1)
    ]
    return (
        "WITH "
        + ",".join(ctes)
        + "\nSELECT * FROM ("
        + " UNION ALL ".join(stats)
        + ") ORDER BY iter"
    )


@register("pagerank_iters", oracle=_sql_pagerank_card(PR_DEEP_ITERS))
def pagerank_iters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank run to PRODUCTION depth ({PR_DEEP_ITERS} iterations,
    damping 0.85) over the event-transition graph, under the
    checkpointed-loop discipline (dedup_cluster / kmeans_train_iters):
    the |node|^2-bounded aggregated edge table materializes ONCE via
    localCheckpoint and each iteration's |nodes|-row rank table
    materializes before the next plans — the many-iteration regime
    pagerank_transitions' docstring defers to, now registered.

    Output is the CONVERGENCE CARD, not the ranks: per iteration the
    exact integer L1 delta sum|r_i - r_{i-1}| in 1e-12 rank units and
    the total rank mass. Power iteration under damping d is a
    contraction with factor <= d in L1, so the delta column must shrink
    ~0.85x per round (pinned by tests/test_graph_text_rank.py) — the
    number that tells an operator when a 100 TB rank job may stop."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    edges = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("src"), F.col("event_type").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    nodes = events.select(F.col("event_type").alias("node")).distinct()
    outw = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    e = edges.join(outw, "src").localCheckpoint(eager=True)
    nodes = nodes.localCheckpoint(eager=True)
    nn = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))

    ranks = (
        nodes.crossJoin(F.broadcast(nn))
        .select("node", F.expr(f"{PR_SCALE} div n_nodes").alias("units"))
        .localCheckpoint(eager=True)
    )
    stats = []
    for i in range(1, PR_DEEP_ITERS + 1):
        contrib = e.join(ranks, e.src == ranks.node).select(
            "dst", F.expr("(units * w) div out_w").alias("c")
        )
        summed = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        cur = (
            nodes.crossJoin(F.broadcast(nn))
            .join(summed, F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                (
                    F.expr(f"(15 * {PR_SCALE}) div (100 * n_nodes)")
                    + F.expr("(17 * coalesce(s, CAST(0 AS BIGINT))) div 20")
                ).alias("units"),
            )
            .localCheckpoint(eager=True)
        )
        st = (
            cur.alias("a")
            .join(ranks.alias("p"), "node")
            .agg(
                F.sum(F.abs(F.col("a.units") - F.col("p.units")))
                .cast("bigint")
                .alias("l1_delta_units"),
                F.sum(F.col("a.units")).cast("bigint").alias("sum_units"),
            )
            .select(F.lit(i).cast("bigint").alias("iter"), "*")
        )
        stats.append(st)
        ranks = cur
    out = stats[0]
    for s in stats[1:]:
        out = out.unionAll(s)
    return out.orderBy("iter")


# --------------------------------------------------------------------------
# Connected components via alternating large-star / small-star contractions.

CC_STAR_MAX_ITERS = 12


def _edge_digest(edges: DataFrame) -> tuple[int, int]:
    """Scalar (count, commutative hash-sum) fingerprint of an edge set —
    the convergence probe, two aggregates in one pass, no data collect."""
    from mapreduce_spark.functions.hashing import md5_long

    r = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(
                md5_long(
                    F.concat_ws(":", F.col("child"), F.col("parent"))
                ).cast("decimal(38,0)")
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("h"),
    ).first()
    return int(r["n"]), int(r["h"])


def cc_star(edges: DataFrame, nodes: DataFrame) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC 2014) —
    the O(log n)-round algorithm for 100 TB graphs, vs min-label
    propagation whose round count is the component DIAMETER (a 1e6-long
    chain of near-dup shards needs 1e6 min-label rounds but ~20 star
    rounds).

    ``edges``: columns (a, b), undirected, any orientation, self-loops
    ignored. ``nodes``: column (id) — the full node universe, so
    isolated nodes come out as singletons. Returns (labels, rounds)
    where labels has (id, component) = the component's minimum node id.

    Both star operations are a groupBy-min + an equi-join back on the
    grouping key — NO per-group array materialization (the collect_list
    pitfall the r6 occupancy cap exists for): a hot node's neighbor list
    never sits in one task's memory, it streams through a map-side-
    combined min and a skew-splittable join. Each round's output is
    localCheckpointed to cut lineage; convergence is a scalar
    count+hash-sum compare, not a plan-growing anti-join.

    Shuffle budget per round is exactly four exchanges (mins groupBy,
    s⋈mins, mins2 groupBy — which Catalyst reuses for large⋈mins2 — and
    the final distinct): the loop maintains the invariant that ``cur``
    is duplicate-free and oriented child > parent (small-star's output
    re-points everything at a strict minimum), so re-symmetrizing via
    union needs NO distinct, and ``large`` flows to its two consumers
    undeduplicated — min() is duplicate-insensitive and the row volume
    is bounded by |s| (one output row per surviving s-row) until the
    final distinct restores the set."""
    sym = (
        edges.select(F.col("a").alias("child"), F.col("b").alias("parent"))
        .unionByName(
            edges.select(F.col("b").alias("child"), F.col("a").alias("parent"))
        )
        .filter(F.col("child") != F.col("parent"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev = _edge_digest(sym)
    cur = sym
    cur_symmetric = True  # round 1's input already holds both orientations
    rounds = 0
    for _ in range(CC_STAR_MAX_ITERS):
        rounds += 1
        # large-star: group the SYMMETRIC adjacency by u; every strictly
        # larger neighbor re-points to m(u) = min(N(u) ∪ {u}).
        if cur_symmetric:
            s = cur
        else:
            s = cur.unionByName(
                cur.select(
                    F.col("parent").alias("child"),
                    F.col("child").alias("parent"),
                )
            )
        cur_symmetric = False
        mins = (
            s.groupBy("child")
            .agg(F.min("parent").alias("mn"))
            .select("child", F.least("mn", "child").alias("m"))
        )
        large = (
            s.join(mins, "child")
            .filter(F.col("parent") > F.col("child"))
            .select(F.col("parent").alias("child"), F.col("m").alias("parent"))
        )
        # small-star: edges are now all child > parent; group by child,
        # re-point every parent (and the child itself) to the min parent.
        mins2 = large.groupBy("child").agg(F.min("parent").alias("m"))
        joined = large.join(mins2, "child")
        small = (
            joined.filter(F.col("parent") != F.col("m"))
            .select(F.col("parent").alias("child"), F.col("m").alias("parent"))
            .unionByName(mins2.select("child", F.col("m").alias("parent")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        cur = small
        dig = _edge_digest(cur)
        if dig == prev:
            break
        prev = dig
    labels = (
        nodes.join(cur, nodes["id"] == cur["child"], "left")
        .select(
            F.col("id"),
            F.coalesce(F.col("parent"), F.col("id")).alias("component"),
        )
    )
    return labels, rounds



@register(
    "cc_star_components",
    oracle=_CLUSTER_CTES
    + """
    SELECT doc_id, cluster_id, doc_id = cluster_id AS is_keeper FROM clus
    """,
)
def cc_star_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the MinHash near-dup graph via the
    large-star/small-star alternating algorithm — dedup_cluster's exact
    contract (doc_id, cluster_id, is_keeper) computed by the
    adversarial-diameter-robust production variant: min-label rounds
    scale with component diameter, star rounds with log n, and a 100 TB
    boilerplate chain makes the difference the whole job. The planted
    64-chain in tests/test_cc_star.py converges in <= 7 star rounds
    where min-label needs 63."""
    from mapreduce_spark.operators.dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id")
    )
    labels, _ = cc_star(pairs, docs)
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("id") == F.col("component")).alias("is_keeper"),
    )
