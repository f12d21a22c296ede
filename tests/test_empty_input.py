"""Empty-input robustness: every registered query must run (not
crash) against a schema-correct but ZERO-ROW lake.

At 100 TB an empty partition is routine — a new day's directory
before ingest lands, a tenant with no data, a filter that prunes
every file — and the reference itself early-exits its gold job on
empty input (SURVEY.md §2 C6). Round-6 sweep found five crashes in
165 queries (k-means seeding from an empty collect, MMR indexing an
empty pool, snapshot stats float(None)/missing-column on zero-file
commits); this test keeps the count at zero.

One looping test instead of 165 parametrized ones: the per-test
fixture/session overhead would dwarf the zero-row work, and a single
failure report listing every broken query is more useful than 165
green dots.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.plans.registry import (
    QUERIES,
)
from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.schemas import (
    TESTDATA_TABLES,
)

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def empty_sf_dir(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("sf_empty")
    for t in TESTDATA_TABLES:
        schema = pq.read_schema(os.path.join(SF_DIR, f"{t}.parquet"))
        empty = pa.table(
            {f.name: pa.array([], type=f.type) for f in schema}, schema=schema
        )
        pq.write_table(empty, str(d / f"{t}.parquet"))
    return str(d)


def test_every_query_survives_an_empty_lake(spark, empty_sf_dir):
    from .conftest import sweep_queries

    def probe(name):
        try:
            QUERIES[name](spark, empty_sf_dir).count()
        except Exception as e:  # noqa: BLE001 — collecting the sweep
            return f"{name}: {str(e).splitlines()[0][:140]}"
        return None

    failures = sweep_queries(sorted(QUERIES), probe)
    assert not failures, "queries crashed on empty input:\n" + "\n".join(failures)
