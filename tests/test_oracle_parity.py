"""Every registered (query, oracle) pair must hash-match at sf0.001 —
the local twin of the driver's CORRECTNESS gate."""

from __future__ import annotations

import pytest

from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.plans.registry import (
    ORACLES,
    QUERIES,
)

from .oracle_compare import duckdb_conn, run_and_compare


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_conn(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, con, sf_dir, name):
    run_and_compare(spark, con, QUERIES[name], ORACLES[name], name, sf_dir)


def test_approx_distinct_error_contract(spark, sf_dir):
    """HLL++ at rsd=0.01 must stay within 2% of the exact count —
    tighter than the 5% bound the oracled query surface exposes."""
    from pyspark.sql import functions as F

    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources.readers import (
        read_fixture,
    )

    li = read_fixture(spark, sf_dir, "lineitem")
    approx = {
        r.l_returnflag: r.a
        for r in li.groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_orderkey", rsd=0.01).alias("a"))
        .collect()
    }
    exact = {
        r.l_returnflag: r.e
        for r in li.select("l_returnflag", "l_orderkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("e"))
        .collect()
    }
    assert approx and set(approx) == set(exact)
    for k in exact:
        assert abs(approx[k] - exact[k]) / exact[k] < 0.02

    surfaced = QUERIES["approx_distinct"](spark, sf_dir).collect()
    assert surfaced and all(r.within_5pct_of_exact for r in surfaced)


def test_all_queries_return_rows(spark, sf_dir):
    from .conftest import sweep_queries

    def probe(name):
        try:
            df = QUERIES[name](spark, sf_dir)
            assert df.count() >= 0, name
            assert len(df.columns) > 0, name
        except Exception as e:  # noqa: BLE001 — collecting the sweep
            return f"{name}: {str(e).splitlines()[0][:140]}"
        return None

    failures = sweep_queries(sorted(QUERIES), probe)
    assert not failures, "queries failed rows-return probe:\n" + "\n".join(
        failures
    )
