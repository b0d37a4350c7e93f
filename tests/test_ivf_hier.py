"""Hierarchical (two-level) IVF: the n^1.5 build-cost fix from the
two-point scale bench (BENCH_SCALE_r11).

The flat sqrt-law tier's one-shot build assigns every vector by scoring
all K ~ sqrt(n) centroids — |V| x K = n^1.5 total routing work. The
hierarchical tier routes through K2 ~ n^0.25 super-centroids first, so
per-vector work is K2 + ~K/K2 ~ 2 n^0.25 and the total is n^1.25. These
tests pin (a) the structural cost law at two corpus sizes via the
ivf_hier_cost_stats counters (integer counts — host weather cannot blur
them), (b) that no NLJ in the plan ever carries more than the K2-row
super table on its build side, and (c) that the two-level router finds
planted clusters.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from mapreduce_spark.operators.similarity import (
    IVF_CENT_REM,
    N_QUERIES,
    _hier_assign,
    _hier_cent_assigned,
    _hier_frames,
    ann_ivf_hier_topk,
    ivf_cent_mod,
    ivf_hier_sm,
)
from mapreduce_spark.plans import audit


def _corpus(spark, n, dim=16, seed=5):
    rng = np.random.default_rng(seed)
    rows = [
        (vid, [float(x) for x in rng.normal(size=dim)]) for vid in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def _route_costs(spark, n):
    emb = _corpus(spark, n)
    embn, cent, sup = _hier_frames(emb)
    cent_a = _hier_cent_assigned(cent, sup)
    k = cent.count()
    k2 = sup.count()
    cell = {r["sid"]: r["c"] for r in
            cent_a.groupBy("sid").agg(F.count(F.lit(1)).alias("c")).collect()}
    vsup = _hier_assign(embn, cent_a, sup)  # not used for cost; sanity only
    assert vsup.count() == n
    # stage-2 cost: sum over vectors of their assigned super's cell size
    s1 = embn.crossJoin(F.broadcast(sup)).select(
        "vec_id",
        F.struct(
            F.round(
                F.expr(
                    "aggregate(zip_with(embedding, se, (x, y) -> x * y),"
                    " 0D, (acc, v) -> acc + v)"
                )
                / (F.col("nrm") * F.col("sn")),
                6,
            ).alias("score"),
            (-F.col("sid")).alias("negsid"),
        ).alias("sc"),
    )
    per_vec_sid = s1.groupBy("vec_id").agg((-F.max("sc")["negsid"]).alias("sid"))
    stage2 = sum(cell[r["sid"]] for r in per_vec_sid.collect())
    return {"flat": n * k, "hier": n * k2 + stage2, "k": k, "k2": k2}


def test_hier_cost_law_two_sizes(spark):
    """16x the corpus: flat routing work grows ~16^1.5 = 64x; the
    hierarchical routing work must grow far below it (~16^1.25 = 32x)."""
    c_small = _route_costs(spark, 256)
    c_big = _route_costs(spark, 4096)
    flat_growth = c_big["flat"] / c_small["flat"]
    hier_growth = c_big["hier"] / c_small["hier"]
    assert flat_growth >= 48, (c_small, c_big)
    assert hier_growth <= flat_growth * 0.75, (flat_growth, hier_growth)
    assert c_big["hier"] < c_big["flat"] * 0.5, c_big


def test_hier_plan_nlj_build_sides_are_k2(spark):
    """Every NLJ build side in the full hier top-k plan is the K2-row
    super table — never the corpus, never the K-row centroid table (the
    vector->centroid stage is a broadcast HASH equi-join on sid)."""
    n = 1024
    emb = _corpus(spark, n)
    cm = ivf_cent_mod(n)
    sm = ivf_hier_sm(cm)
    k2 = sum(1 for v in range(n) if v % (cm * sm) == IVF_CENT_REM)
    topk = ann_ivf_hier_topk(emb)
    build_rows = audit.nlj_build_rows(topk)
    assert build_rows and all(r == k2 for r in build_rows), (build_rows, k2)


def test_hier_router_finds_planted_clusters(spark):
    """A tight planted cluster around each query must surface through
    the two-level routing: the query and its planted neighbors share a
    nearest centroid (both route by the same cosine argmax), so the
    cell probe recovers them."""
    rng = np.random.default_rng(17)
    dim = 16
    rows = []
    n = 512
    centers = {q: rng.normal(size=dim) for q in range(N_QUERIES)}
    planted = {q: set() for q in range(N_QUERIES)}
    for vid in range(n):
        q = vid % N_QUERIES
        if vid < N_QUERIES or vid < 60:
            v = centers[q] + 0.03 * rng.normal(size=dim)
            if vid >= N_QUERIES:
                planted[q].add(vid)
        else:
            v = rng.normal(size=dim)
        rows.append((vid, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    hits = {
        (r["query_id"], r["vec_id"])
        for r in ann_ivf_hier_topk(emb).collect()
    }
    for q in range(N_QUERIES):
        found = {v for qq, v in hits if qq == q} & planted[q]
        assert len(found) >= 3, (q, sorted(found), sorted(planted[q]))


def test_trained_hier_production_plan_never_touches_v_times_k(spark):
    """The PRODUCTION path (sample-trained quantizer + two-level
    routing, ivf_trained_hier / ivf_candidates_hier — what
    similarity_ann_ivf_scaled, the IVFADC tiers and the vector index
    build through): every NLJ build side in the full top-k plan is at
    most the K0-row seed table (the Lloyd trainer's broadcast side);
    routing NLJs carry only the K2-row super table. Nothing anywhere
    multiplies |V| by K."""
    from mapreduce_spark.operators.similarity import (
        SCALED_IVF_NPROBE,
        _rank_topk,
        _score_pairs,
        ivf_candidates_hier,
        ivf_trained_hier,
    )

    for n in (256, 4096):
        emb = _corpus(spark, n)
        cent_a, sup = ivf_trained_hier(emb)
        cand, _, _ = ivf_candidates_hier(emb, cent_a, sup, SCALED_IVF_NPROBE)
        topk = _rank_topk(_score_pairs(emb, cand.select("query_id", "vec_id")))
        cm = ivf_cent_mod(n)
        k0 = sum(1 for v in range(n) if v % cm == IVF_CENT_REM)
        rows = audit.nlj_build_rows(topk)
        assert rows and all(0 < r <= k0 for r in rows), (rows, k0, n)


def test_super_self_assignment_invariant(spark):
    """ADVICE r11: _hier_cent_assigned's self-first tie-break makes
    cid == sid an invariant for every super — so (a) _sup_from_cent_a
    recovers EXACTLY the build's super set from a stored centroid
    table, and (b) every super's member cell is non-empty, so the
    assignment inner join on sid can never drop a vector."""
    from mapreduce_spark.operators.similarity import _sup_from_cent_a

    emb = _corpus(spark, 2048)
    _, cent, sup = _hier_frames(emb)
    cent_a = _hier_cent_assigned(cent, sup)
    sids = {r["sid"] for r in sup.select("sid").collect()}
    self_rows = {
        r["cid"]
        for r in cent_a.filter(F.col("cid") == F.col("sid")).collect()
    }
    assert self_rows == sids, (sorted(self_rows), sorted(sids))
    recovered = {r["sid"] for r in _sup_from_cent_a(cent_a).collect()}
    assert recovered == sids
    # non-empty cells: every sid referenced by some centroid row
    assert sids <= {r["sid"] for r in cent_a.select("sid").collect()}


def test_cost_stats_integers_match_executed_plan_metrics(spark):
    """VERDICT r11 #6: the gauge's routing-work integers must equal the
    EXECUTED assignment plan's own SQLMetrics row counts, not formulas —
    the audit style that caught the r10 routed-tier double-count.
    |V| x K2 (hier_route_cost's first term) must appear as the stage-1
    NLJ's output rows, and stage2 (= hier_route_cost - |V| x K2) as a
    broadcast hash join's output rows, in the executed two-level
    assignment plan."""
    from mapreduce_spark.operators.similarity import ivf_hier_cost_frame

    n = 1024
    emb = _corpus(spark, n)
    card = ivf_hier_cost_frame(emb).collect()[0]
    assert card["n_vectors"] == n
    stage1 = card["n_vectors"] * card["k_super"]
    stage2 = card["hier_route_cost"] - stage1
    assert stage2 > 0, card

    embn, cent, sup = _hier_frames(emb)
    cent_a = _hier_cent_assigned(cent, sup)
    assign = _hier_assign(embn, cent_a, sup)
    joins = audit.join_output_rows(assign)
    nlj = joins.get("BroadcastNestedLoopJoinExec", [])
    bhj = joins.get("BroadcastHashJoinExec", [])
    # stage-1 vector->super scoring: exactly |V| x K2 rows flowed out of
    # the NLJ (the K x K2 centroid->super NLJ is also in this plan)
    assert stage1 in nlj, (stage1, joins)
    assert card["k_cents"] * card["k_super"] in nlj, (card, joins)
    # stage-2: the sid equi-join emitted exactly the probed member rows
    assert stage2 in bhj, (stage2, joins)


def test_training_stride_law():
    """Training sample: ~64 points per centroid. Below ~16k vectors the
    stride is 1 (small corpora train on everything — which is what kept
    the residual MSE-drop law intact); at 1e9 vectors the stride ~494
    caps training at |S| x K ~ 64 n."""
    from mapreduce_spark.operators.similarity import IVF_TRAIN_PER_CENT

    for n in (500, 2000, 10_000):
        assert max(1, ivf_cent_mod(n) // IVF_TRAIN_PER_CENT) == 1
    big = max(1, ivf_cent_mod(10**9) // IVF_TRAIN_PER_CENT)
    assert 400 <= big <= 600, big
    # |S| x K at 1e9: (1e9 / stride) x (1e9 / cm) ~ 64 x 1e9 — linear
    k = 10**9 // ivf_cent_mod(10**9)
    assert (10**9 // big) * k <= 80 * 10**9


def test_no_materialize_zero_keeps_eager_quantizer(spark, monkeypatch):
    """SPARK_GRAFT_NO_MATERIALIZE=0 means OFF, so ``eager=True`` still
    hands the trained quantizer to ``materialize`` (the one place the
    knob is honored) instead of reading the raw variable's truthiness
    and silently returning the lazy frames."""
    from mapreduce_spark.operators import similarity

    calls = []
    monkeypatch.setenv("SPARK_GRAFT_NO_MATERIALIZE", "0")
    monkeypatch.setattr(
        similarity, "materialize", lambda df: calls.append(df) or df
    )
    similarity.ivf_trained_hier(_corpus(spark, 200), eager=True)
    assert len(calls) == 1
