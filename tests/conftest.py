"""Shared fixtures: one session-scoped SparkSession, sf0.001 fixtures dir."""

from __future__ import annotations

import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

#: Test-session core count. local[4] through r14; the full suite
#: stopped fitting the driver's verify window (VERIFY_r14 tests_ok:
#: false, the run was cut off mid-suite), and on a single-process run
#: most wall-clock is per-query driver overhead + tiny jobs that a
#: 4-core session serializes. 8 local cores + the sweep thread pool
#: below cut the registry sweeps ~3-4x with bit-identical results
#: (every query is layout/partition-invariance tested). Shuffle
#: partitions stay at 4 — small fixtures want few, large tasks.
TEST_CPUS = int(
    os.environ.get("SPARK_GRAFT_TEST_CPUS", min(8, os.cpu_count() or 4))
)

#: Worker threads for full-registry sweep tests (see sweep_queries).
#: 8 measured best on this box (the four sweeps: 1072 s serial ->
#: ~170 s); the workers spend most of their time waiting on the JVM,
#: so the count can exceed session cores without oversubscribing.
SWEEP_WORKERS = int(os.environ.get("SPARK_GRAFT_SWEEP_WORKERS", "8"))


@pytest.fixture(scope="session")
def spark():
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.session import (
        get_spark,
    )

    s = get_spark(
        app_name="evlake-tests",
        master=f"local[{TEST_CPUS}]",
        conf={
            "spark.sql.shuffle.partitions": "4",
        },
    )
    yield s
    s.stop()


def sweep_queries(names, worker, max_workers: int = 0) -> list[str]:
    """Run ``worker(name) -> failure-string | None`` for every name on
    a small thread pool and return the failures in input order.

    The full-registry sweep tests (empty lake, single-row lake, layout
    invariance, rows-return) spend their wall-clock on per-query
    driver-side planning plus a few tiny jobs — work Spark happily
    overlaps across driver threads (guide §2.6: actions are only
    sequential because the caller calls them sequentially). Queries
    are independent by construction, and workers must not touch
    session-wide state: the cache is cleared ONCE, after every worker
    has finished, so no query's cached intermediate is dropped while
    another worker is still running on it. r15: the four sweeps were
    the suite's top time sinks (423/234/220/195 s of a 67-minute
    serial run)."""
    from pyspark.sql import SparkSession

    pool = ThreadPoolExecutor(max_workers=max_workers or SWEEP_WORKERS)
    try:
        return [f for f in pool.map(worker, names) if f]
    finally:
        pool.shutdown(wait=True)
        SparkSession.builder.getOrCreate().catalog.clearCache()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
