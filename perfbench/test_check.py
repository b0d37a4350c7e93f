"""The benchmark's output check must fail a wrong result.

Run from the repository root:

    python3 -m pytest perfbench/test_check.py -q
"""

from __future__ import annotations

import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))


@pytest.fixture(scope="module")
def bench():
    from harness import Bench
    from run import isolate
    from workloads import gen_inputs

    work = os.path.join(HERE, ".work", f"test-{os.getpid()}")
    isolate(work)
    b = Bench("adhoc_mix", seed=5, seconds=0, traced=False, work=work)
    b.start()
    b.data = os.path.join(work, "data")
    gen_inputs(b.data, 200, 100, 1000, 1000, seed=5)
    try:
        yield b
    finally:
        b.stop()
        shutil.rmtree(work, ignore_errors=True)


QUERIES = ["wordcount", "groupby_agg"]


def run_ops(b) -> float:
    b.attempts.clear()
    b.raised.clear()
    for name in QUERIES:
        b.op(name, lambda name=name: b.query(name, b.data))
    attempted, failed = b.counts()
    return (attempted - failed) / attempted


def test_correct_results_keep_ok_frac_at_one(bench):
    from workloads import check_queries

    bench.bad_kinds.clear()
    check_queries(bench, QUERIES, bench.data)
    assert bench.bad_kinds == set()
    assert run_ops(bench) == 1.0


def test_corrupted_result_drives_ok_frac_below_one(bench):
    from workloads import check_queries

    def drop_a_row(name, rows):
        return rows[1:] if name == "wordcount" else rows

    bench.bad_kinds.clear()
    check_queries(bench, QUERIES, bench.data, corrupt=drop_a_row)
    assert bench.bad_kinds == {"wordcount"}
    assert run_ops(bench) == 0.5
