"""Shared fixtures: one session-scoped SparkSession, sf0.001 fixtures dir."""

from __future__ import annotations

import os
import sys
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

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


#: The reference sample: 3,395 bronze rows -> 2,330 good / 1,065
#: quarantined. Absent outside the reference checkout; the bronze
#: fixtures below fall back to the seeded generator then.
SAMPLE_CSV = "/root/reference/data-samples/station_data_dataverse.csv"


@pytest.fixture(scope="session")
def evgen():
    """perfbench/evgen.py imported as is (the FIXTURES §A1 bronze
    generator); the package itself never imports perfbench."""
    perfbench = os.path.join(REPO_ROOT, "perfbench")
    sys.path.insert(0, perfbench)
    try:
        import evgen
    finally:
        sys.path.remove(perfbench)
    return evgen


@pytest.fixture
def evgen_batch_csv(tmp_path, evgen) -> str:
    """One 200-row generated bronze batch as a CSV file. Every batch
    carries sessionId_null rows, so it fails completeness(sessionId)."""
    path = tmp_path / "batch.csv"
    path.write_text(evgen.make_batch(seed=1, day_index=0, n_rows=200).csv_text)
    return str(path)


@dataclass(frozen=True)
class BronzeSample:
    """A bronze CSV and what the silver job must make of it."""

    path: str
    rows: int
    good: int
    bad: int
    #: distinct sessionId values among quarantined rows (null is one)
    bad_ids: int


@pytest.fixture(scope="session")
def bronze_sample(tmp_path_factory, evgen) -> BronzeSample:
    """The reference sample with its golden counts when present;
    otherwise three consecutive generated days (~3.4k rows, so reruns
    of one day touch part of the table) with the generator's own
    expected split."""
    if os.path.exists(SAMPLE_CSV):
        return BronzeSample(SAMPLE_CSV, rows=3395, good=2330, bad=1065, bad_ids=1065)
    batches = [evgen.make_batch(seed=1, day_index=d, n_rows=1110) for d in range(3)]
    path = tmp_path_factory.mktemp("bronze") / "sessions.csv"
    path.write_text(
        batches[0].csv_text
        + "".join(b.csv_text.split("\n", 1)[1] for b in batches[1:])
    )
    bad = sum(b.bad for b in batches)
    null_ids = sum(b.reasons["sessionId_null"] for b in batches)
    return BronzeSample(
        str(path),
        rows=sum(b.rows for b in batches),
        good=sum(b.good for b in batches),
        bad=bad,
        bad_ids=bad - null_ids + (1 if null_ids else 0),
    )
