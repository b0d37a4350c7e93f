"""Probe-only bench for the persisted serving tiers (VERDICT r9 #4).

The graded lifecycle queries (similarity_index_persisted*,
similarity_graph_beam_persisted, dedup_index_persisted) rebuild their
artifact inside the query, so BENCH_QUERIES records build+probe fused —
a real user's first question ("what does a probe cost against the
stored artifact?") had no recorded number. This tool splits them: each
index is built ONCE (timed once, reported as build_s), then the probe
runs against the pre-built artifact with bench.py's discipline (one
warmup pass, then median/best of REPS=5 noop-sink executions). Tiers
with NO persisted artifact (SQ8, multiprobe LSH — their serve path IS
the in-memory plan) carry build=None and report probe numbers only.

Prints ONE JSON line and writes BENCH_PROBE_r{N}.json. N comes from
$SPARK_GRAFT_ROUND or argv[1] when given (the driver knows its round);
otherwise it is inferred as max existing BENCH_r*.json + 1 — which
mislabels by one if bench.py already wrote this round's file, hence the
explicit override (ADVICE r10). Naming matches bench.py's unpadded
BENCH_r{N}.json convention.

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/bench_probe.py [round]
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPS = 5


def _round_number(repo_root: str) -> int:
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env and env.isdigit():
        return int(env)
    if len(sys.argv) > 1 and sys.argv[1].isdigit():
        return int(sys.argv[1])
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(repo_root, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    return (max(rounds) + 1) if rounds else 0


def main() -> int:
    import pyspark.sql.functions as F

    from mapreduce_spark.operators import dedup as dd
    from mapreduce_spark.operators import similarity as sim
    from mapreduce_spark.session import get_spark
    from mapreduce_spark.sources.fs import warehouse_uri
    from mapreduce_spark.sources.tables import load_table

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench_probe")
    spark.sparkContext.setLogLevel("ERROR")

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    docs = load_table(spark, sf_dir, "documents")
    q = emb.filter(F.col("vec_id") < sim.N_QUERIES)
    # the same even/odd corpus-vs-batch split dedup_index_persisted grades
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    w = warehouse_uri(spark)

    # (name, build_fn | None, probe_fn) — build persists the artifact the
    # probe reads (None: nothing to persist, the probe is the serve path);
    # probe_fn returns the DataFrame a serving request computes. Order
    # matters where a tier reuses an earlier tier's artifact (the routed
    # tier serves bp_graph's edges; the attach tier re-attaches
    # bp_minhash's files).
    tiers = [
        (
            "vindex_ivfpq_adc",
            lambda: sim.vector_index_write(emb, "bp_vindex"),
            lambda: sim.vector_index_probe(
                spark, "bp_vindex", q, sim.SCALED_IVF_NPROBE, sim.TOP_K
            ),
        ),
        (
            "vindex_ivfpq_adc_residual",
            lambda: sim.vector_index_write(emb, "bp_vindex_rsd", residual=True),
            lambda: sim.vector_index_probe(
                spark,
                "bp_vindex_rsd",
                q,
                sim.SCALED_IVF_NPROBE,
                sim.TOP_K,
                residual=True,
            ),
        ),
        (
            "graph_beam",
            lambda: sim.graph_index_write(emb, "bp_graph"),
            lambda: sim.graph_beam_topk(emb, spark.table("bp_graph"))[1],
        ),
        (
            "graph_beam_routed",
            # REUSES bp_graph's stored edges (built by the tier above);
            # build_s here prices ONLY the routing artifacts — the
            # |V| x K assignment + per-cell member ranks the r10 probe
            # bench caught being re-derived per probe.
            lambda: sim.routed_artifacts_write(emb, "bp_graph"),
            lambda: sim._beam_walk(
                emb,
                spark.table("bp_graph"),
                sim.routed_entry_from(
                    emb,
                    spark.table("bp_graph_cent"),
                    spark.table("bp_graph_members"),
                )[0],
                sim.BEAM_ROUNDS,
                sim.BEAM_WIDTH,
                sim.TOP_K,
            )[0],
        ),
        (
            "minhash_dedup",
            lambda: dd.minhash_index_write(corpus, "bp_minhash"),
            lambda: dd.dedup_against_index(
                batch, *dd.minhash_index_read(spark, "bp_minhash")
            ),
        ),
        (
            "minhash_dedup_attached",
            # the cross-session restore: external CLUSTERED BY DDL over
            # bp_minhash's surviving files — build_s IS the restore cost
            lambda: dd.minhash_index_attach(
                spark,
                "bp_minhash_att",
                f"{w}/bp_minhash_bands",
                f"{w}/bp_minhash_hashes",
            ),
            lambda: dd.dedup_against_index(
                batch, *dd.minhash_index_read(spark, "bp_minhash_att")
            ),
        ),
        (
            "sq8_topk",
            None,
            lambda: sim.similarity_sq8_topk(spark, sf_dir),
        ),
        (
            "lsh_multiprobe_scaled",
            None,
            lambda: sim.similarity_ann_lsh_multiprobe_scaled(spark, sf_dir),
        ),
    ]

    results: dict[str, dict[str, float]] = {}
    for name, build, probe in tiers:
        row: dict[str, float] = {}
        if build is not None:
            t0 = time.time()
            build()
            row["build_s"] = round(time.time() - t0, 3)
        probe().write.mode("overwrite").format("noop").save()  # warmup
        samples = []
        for _ in range(REPS):
            t0 = time.time()
            probe().write.mode("overwrite").format("noop").save()
            samples.append(time.time() - t0)
        row["probe_median_s"] = round(statistics.median(samples), 3)
        row["probe_best_s"] = round(min(samples), 3)
        results[name] = row

    summary = {
        "metric": "persisted_tier_probe_only",
        "unit": "sec",
        "reps": REPS,
        "stat": "median",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "tiers": results,
    }
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(
        os.path.join(here, f"BENCH_PROBE_r{_round_number(here)}.json"), "w"
    ) as f:
        json.dump(summary, f, indent=1)
        f.write("\n")
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
