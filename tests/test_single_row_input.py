"""Single-row robustness: every registered query must run (not
crash) against a lake where every table has exactly ONE row.

n=1 is the statistics degenerate case the empty sweep can't reach:
sample variance divides by n-1=0 (Spark returns NULL, driver-side
math must not ZeroDivisionError), quantile/median collapse to the
single value, k-means must cope with k > n distinct points, LSH and
shingle pair-joins see a corpus with no possible pair, and every
self-join produces the lone (x, x) candidate that canonical
id1 < id2 ordering must drop. The reference's silver job happily
processes a 1-row CSV (SURVEY.md §2 C6 early-exit only fires at 0),
so ours must too.

Same shape as tests/test_empty_input.py: one looping test so a
single run reports every broken query at once.
"""

from __future__ import annotations

import os

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
def single_row_sf_dir(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("sf_one")
    for t in TESTDATA_TABLES:
        table = pq.read_table(os.path.join(SF_DIR, f"{t}.parquet"))
        pq.write_table(table.slice(0, 1), str(d / f"{t}.parquet"))
    return str(d)


def test_every_query_survives_a_single_row_lake(spark, single_row_sf_dir):
    from .conftest import sweep_queries

    def probe(name):
        try:
            QUERIES[name](spark, single_row_sf_dir).count()
        except Exception as e:  # noqa: BLE001 — collecting the sweep
            return f"{name}: {str(e).splitlines()[0][:140]}"
        return None

    failures = sweep_queries(sorted(QUERIES), probe)
    assert not failures, "queries crashed on single-row input:\n" + "\n".join(failures)
