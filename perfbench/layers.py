"""Per-layer measurement from outside the engine.

Three sources, all read by the benchmark rather than by the program:

- ``Spans``: wall-time spans around the public functions of the layers
  (``sources.tables``, ``operators.artifacts`` and the index operations
  of ``operators.dedup`` / ``operators.similarity``). The functions are
  wrapped for the duration of a traced pass and restored afterwards.
  Operator modules import most of these by name, so every module-level
  binding of the original function object is replaced, not only the one
  in its defining module.
- ``stage_totals``: Spark's status store, read per job group right after
  each operation, before the default retention of 1,000 jobs drops it.
- ``cpu_times`` / ``peak_rss_mb``: host ``/proc`` counters.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time

# (module, function, span name). A span name ending in ".write" is split
# into ".build" / ".append" by the call's ``mode`` argument.
TARGETS = [
    ("mapreduce_spark.sources.tables", "load_table", "tables.load"),
    ("mapreduce_spark.sources.tables", "fan_out", "tables.fan_out"),
    ("mapreduce_spark.operators.artifacts", "materialize", "artifacts.materialize"),
    ("mapreduce_spark.operators.artifacts", "run_concurrently", "artifacts.concurrent"),
    ("mapreduce_spark.operators.dedup", "minhash_index_write", "dedup.write"),
    ("mapreduce_spark.operators.dedup", "minhash_index_compact", "dedup.compact"),
    ("mapreduce_spark.operators.similarity", "vector_index_write", "similarity.build"),
    ("mapreduce_spark.operators.similarity", "vector_index_append", "similarity.append"),
    ("mapreduce_spark.operators.similarity", "vector_index_compact", "similarity.compact"),
]


class Spans:
    """In-memory span log: (name, start, end, parent index, op id).

    ``op`` opens the root span of one benchmark operation; wrapped layer
    functions open child spans under whatever span is open on the calling
    thread (threads started inside a layer call start a fresh stack).
    """

    def __init__(self) -> None:
        self.rows: list[list] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.op_id = -1

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> int:
        stack = self._stack()
        with self._lock:
            idx = len(self.rows)
            self.rows.append(
                [name, time.perf_counter(), None, stack[-1] if stack else -1, self.op_id]
            )
        stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.rows[idx][2] = time.perf_counter()
        self._stack().pop()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = name
            if name.endswith(".write"):
                kind = "append" if kwargs.get("mode") == "append" else "build"
                span = name.removesuffix("write") + kind
            idx = self.open(span)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(idx)

        return traced

    def install(self) -> None:
        """Wrap every TARGETS function in every module that binds it."""
        for modname, attr, span in TARGETS:
            orig = getattr(sys.modules[modname], attr)
            traced = self.wrap(orig, span)
            for name, mod in list(sys.modules.items()):
                if name.startswith("mapreduce_spark") and getattr(mod, attr, None) is orig:
                    setattr(mod, attr, traced)
                    self._patched.append((mod, attr, orig))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    def totals(self) -> dict[str, list[float]]:
        """name -> [inclusive seconds, count]."""
        out: dict[str, list[float]] = {}
        for name, t0, t1, _parent, _op in self.rows:
            acc = out.setdefault(name, [0.0, 0])
            acc[0] += t1 - t0
            acc[1] += 1
        return out

    def nested(self, outer: str, inner: str) -> float:
        """Seconds spent in ``inner`` spans opened inside an ``outer`` span."""
        total = 0.0
        for name, t0, t1, parent, _op in self.rows:
            if name != inner:
                continue
            while parent >= 0 and self.rows[parent][0] != outer:
                parent = self.rows[parent][3]
            if parent >= 0:
                total += t1 - t0
        return total


def stage_totals(spark, group: str) -> dict[str, float]:
    """Sum the status-store stage data of every job in ``group``.

    ``task_skew_w`` accumulates (max task run time / median task run time)
    weighted by stage run time over stages with at least two tasks, so
    ``task_skew_w / skew_run_ms`` is the run-time-weighted mean skew.
    """
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    t = dict.fromkeys(
        (
            "jobs", "stages", "tasks", "cpu_ns", "run_ms", "gc_ms",
            "shuffle_write", "shuffle_read", "spill", "task_skew_w", "skew_run_ms",
        ),
        0.0,
    )
    tracker = sc.statusTracker()
    seen: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        t["jobs"] += 1
        for stage_id in info.stageIds:
            if stage_id in seen:
                continue
            seen.add(stage_id)
            try:
                attempts = store.stageData(
                    stage_id, False, jvm.java.util.ArrayList(), False,
                    sc._gateway.new_array(jvm.double, 0),
                )
            except Exception:  # stage skipped (its shuffle output was reused)
                continue
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.status().toString() != "COMPLETE":
                    continue
                t["stages"] += 1
                t["tasks"] += s.numCompleteTasks()
                t["cpu_ns"] += s.executorCpuTime()
                t["run_ms"] += s.executorRunTime()
                t["gc_ms"] += s.jvmGcTime()
                t["shuffle_write"] += s.shuffleWriteBytes()
                t["shuffle_read"] += s.shuffleReadBytes()
                t["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                if s.numCompleteTasks() >= 2:
                    summary = store.taskSummary(stage_id, s.attemptId(), quantiles)
                    if summary.isDefined():
                        run = summary.get().executorRunTime()
                        med, top = run.apply(0), run.apply(1)
                        if med > 0:
                            t["task_skew_w"] += s.executorRunTime() * top / med
                            t["skew_run_ms"] += s.executorRunTime()
    return t


def cpu_times() -> tuple[int, int]:
    """(steal jiffies, total jiffies) from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(x) for x in f.read().split()]
    except OSError:
        return []


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of the driver JVM plus its live Python workers."""
    return sum(_hwm_kb(p) for p in [jvm_pid, *descendants(jvm_pid)]) / 1024.0


def tree_bytes(path: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) for every data file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for name in files:
            if name.startswith((".", "_")):
                continue
            p = os.path.join(root, name)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out
