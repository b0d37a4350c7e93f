"""Shared fixtures: one tuned SparkSession per test session.

Mirrors the reference's test harness role (/root/reference/tests/utils/
__init__.py spawns real Manager+Worker processes); here the "cluster" is
the tuned local session from mapreduce_spark.session.

Seal-time vs default tests (VERDICT r12 #2): the multi-minute
whole-pipeline tests (recall sweeps over full planted corpora,
multi-profile A/B replays) are marked ``@pytest.mark.seal`` and SKIP in
a default ``pytest tests/`` run so the suite fits the driver's
verification budget; ``--seal`` (or SPARK_GRAFT_SEAL=1) runs everything
— the form every end-of-round seal uses. The skipped tests guard
statistical quality gates (recall/precision bounds), not correctness:
every value-level contract stays in the default run and in the
oracle gate.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
REF_INPUT = "/root/reference/tests/testdata/input"
REF_CORRECT = "/root/reference/tests/testdata/correct"


def pytest_addoption(parser):
    parser.addoption(
        "--seal",
        action="store_true",
        default=False,
        help="also run the multi-minute seal-time tests (@pytest.mark.seal)",
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "seal: multi-minute whole-pipeline test, run at seal time "
        "(--seal or SPARK_GRAFT_SEAL=1), skipped by default",
    )


def pytest_collection_modifyitems(config, items):
    if config.getoption("--seal") or os.environ.get("SPARK_GRAFT_SEAL"):
        return
    skip = pytest.mark.skip(reason="seal-time test (run with --seal)")
    for item in items:
        if "seal" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from mapreduce_spark.session import get_spark

    s = get_spark("pytest", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
