"""Two-point scaling bench (VERDICT r10 #3): empirical growth curve for
the most expensive headline queries.

Runs the heavy document/embedding headline queries at TWO self-generated
scale points (tools/gen_scale_corpus.py — both corpora come from the
same generator, so the growth ratio is clean of generation
idiosyncrasies) and reports, per query, wall-clock at each point and the
time-growth : row-growth ratio. ratio <= ~1 means at-most-linear in the
driving table; a materially higher ratio is a superlinear term the
sf0.1-only record could never see, and gets a named cause in
BENCH_NOTES before the next round.

    python tools/gen_scale_corpus.py /tmp/scale_a 5000 2000
    python tools/gen_scale_corpus.py /tmp/scale_b 25000 10000
    python tools/bench_scale.py /tmp/scale_a /tmp/scale_b [round]

Focused re-measurement after a single-family replan:
``SPARK_GRAFT_SCALE_ONLY=q1,q2`` restricts the run to the named
queries (prefix ``probe_`` names select the stored-index probe tiers)
and MERGES their rows into the round's existing BENCH_SCALE_r{N}.json
instead of overwriting it — the record stays whole, only the re-planned
entries move.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPS = 3

# query -> the table whose row count drives its cost
QUERIES = {
    "similarity_ivfpq_adc_residual": "embeddings",
    "similarity_index_persisted": "embeddings",
    "similarity_graph_beam_routed": "embeddings",
    "similarity_graph_beam": "embeddings",
    "similarity_ann_ivf_scaled": "embeddings",
    "similarity_ann_ivf_hier": "embeddings",
    "knn_graph_scaled": "embeddings",
    "cdc_chunk_stats": "documents",
    "cc_star_components": "documents",
    "dedup_index_persisted": "documents",
    "bpe_token_count": "documents",
    "dedup_minhash_lsh_scaled": "documents",
    "bbit_jaccard_report": "documents",
    "dedup_span_remove_scaled": "documents",
    # --- relational / TPC-H / window / SCD2 side (VERDICT r11 #3) —
    # requires a corpus generated with gen_scale_corpus.py's relational
    # arguments (argv[4]/argv[5]); queries whose driving table is absent
    # from the corpus are skipped with a log line, never silently.
    "tpch_q1_pricing": "lineitem",
    "groupby_agg": "lineitem",
    "agg_distinct": "lineitem",
    "join_broadcast": "lineitem",
    "zorder_pruned_scan": "lineitem",
    "window_ntile": "orders",
    "topk": "orders",
    "scd2_merge_incremental": "events",
    "scd2_history_with_deletes": "events",
    "pagerank_transitions": "events",
    "stream_scd2_view": "events",
    "stream_scd2_view_with_deletes": "events",
}
# bench.py's EAGER_BUILD rule: these do their work at DataFrame-
# construction time, so construction sits inside the timed section
EAGER = {
    "similarity_index_persisted",
    "cc_star_components",
    "dedup_index_persisted",
    "bpe_token_count",
    # streaming folds run their micro-batches at construction time
    "stream_scd2_view",
    "stream_scd2_view_with_deletes",
}

# Stored-index PROBE tiers (VERDICT r11 #5): the index is built ONCE per
# corpus (untimed here — the build law is priced by the in-plan queries
# above), then the PROBE alone is timed at both scale points. Under
# two-level routing a probe reads K2 supers + the routed super's member
# centroids + nprobe cells, so its growth at 5x rows should be far
# below linear — this is the empirical check on that claim.
PROBE_TIERS = ("vindex_ivfpq_adc", "vindex_ivfpq_adc_residual")


def _round_number(repo_root: str) -> int:
    """Unlabeled-run fallback: max existing BENCH_r*.json round + 1 —
    the same convention as tools/bench_probe.py, so a run with neither
    SPARK_GRAFT_ROUND nor argv[3] still lands on the r{N} naming a
    later labeled run would supersede."""
    import glob
    import re

    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(repo_root, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    return (max(rounds) + 1) if rounds else 0


def main() -> int:
    import pyarrow.parquet as pq

    from mapreduce_spark.registry import get_queries
    from mapreduce_spark.session import get_spark

    small, big = sys.argv[1], sys.argv[2]
    spark = get_spark("bench_scale")
    spark.sparkContext.setLogLevel("ERROR")
    qs = get_queries()

    tables = sorted(set(QUERIES.values()))
    rows = {
        (d, t): pq.read_metadata(os.path.join(d, f"{t}.parquet")).num_rows
        for d in (small, big)
        for t in tables
        if os.path.exists(os.path.join(d, f"{t}.parquet"))
    }
    only = {
        n.strip()
        for n in os.environ.get("SPARK_GRAFT_SCALE_ONLY", "").split(",")
        if n.strip()
    }
    runnable = {
        n: t
        for n, t in QUERIES.items()
        if (small, t) in rows and (big, t) in rows
        and (not only or n in only)
    }
    for name in sorted(
        n for n, t in QUERIES.items()
        if n not in runnable and (not only or n in only)
        and ((small, t) not in rows or (big, t) not in rows)
    ):
        print(f"SKIP {name}: driving table {QUERIES[name]!r} missing "
              f"from one corpus (regenerate with relational args)")

    times: dict[str, dict[str, float]] = {n: {} for n in runnable}
    for d in (small, big):
        for name in runnable:
            df = None if name in EAGER else qs[name](spark, d)
            run = (
                (lambda: qs[name](spark, d))
                if df is None
                else (lambda: df)
            )
            run().write.mode("overwrite").format("noop").save()  # warmup
            samples = []
            for _ in range(REPS):
                t0 = time.time()
                run().write.mode("overwrite").format("noop").save()
                samples.append(time.time() - t0)
            times[name][d] = round(statistics.median(samples), 3)

    # stored-index probe tiers: build once per corpus, time probe only
    import pyspark.sql.functions as F

    from mapreduce_spark.operators import similarity as sim
    from mapreduce_spark.sources.tables import load_table

    probe_run = tuple(
        n for n in PROBE_TIERS if not only or f"probe_{n}" in only
    )
    probe_times: dict[str, dict[str, float]] = {n: {} for n in probe_run}
    for tag, d in (("a", small), ("b", big)) if probe_run else ():
        emb = load_table(spark, d, "embeddings").select("vec_id", "embedding")
        qv = emb.filter(F.col("vec_id") < sim.N_QUERIES)
        sim.vector_index_write(emb, f"bs_vindex_{tag}")
        sim.vector_index_write(emb, f"bs_vindex_rsd_{tag}", residual=True)
        probes = {
            "vindex_ivfpq_adc": lambda: sim.vector_index_probe(
                spark, f"bs_vindex_{tag}", qv,
                sim.SCALED_IVF_NPROBE, sim.TOP_K,
            ),
            "vindex_ivfpq_adc_residual": (
                lambda: sim.vector_index_probe(
                    spark, f"bs_vindex_rsd_{tag}", qv,
                    sim.SCALED_IVF_NPROBE, sim.TOP_K, residual=True,
                )
            ),
        }
        for name in probe_run:
            probes[name]().write.mode("overwrite").format("noop").save()
            samples = []
            for _ in range(REPS):
                t0 = time.time()
                probes[name]().write.mode("overwrite").format("noop").save()
                samples.append(time.time() - t0)
            probe_times[name][d] = round(statistics.median(samples), 3)
    for name in probe_run:
        runnable[f"probe_{name}"] = "embeddings"
        times[f"probe_{name}"] = probe_times[name]

    out = {}
    for name, table in runnable.items():
        rg = rows[(big, table)] / rows[(small, table)]
        tg = times[name][big] / times[name][small]
        out[name] = {
            "table": table,
            "rows_small": rows[(small, table)],
            "rows_big": rows[(big, table)],
            "sec_small": times[name][small],
            "sec_big": times[name][big],
            "row_growth": round(rg, 3),
            "time_growth": round(tg, 3),
            "growth_ratio": round(tg / rg, 3),
        }

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rnd = os.environ.get("SPARK_GRAFT_ROUND") or (
        sys.argv[3] if len(sys.argv) > 3 else str(_round_number(here))
    )
    path = os.path.join(here, f"BENCH_SCALE_r{rnd}.json")
    summary = {"metric": "two_point_scaling", "reps": REPS, "queries": out}
    if only and os.path.exists(path):
        # focused re-measurement: move only the re-planned entries,
        # keep the rest of the round's record intact
        with open(path) as f:
            summary = json.load(f)
        summary["queries"].update(out)
    with open(path, "w") as f:
        json.dump(summary, f, indent=1)
        f.write("\n")
    for name, r in sorted(out.items(), key=lambda kv: -kv[1]["growth_ratio"]):
        print(
            f"{name:34s} {r['sec_small']:7.2f}s -> {r['sec_big']:7.2f}s  "
            f"time x{r['time_growth']:.2f} / rows x{r['row_growth']:.2f}"
            f"  ratio {r['growth_ratio']:.2f}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
