"""Lake-layout invariance: every registered query must return
BIT-IDENTICAL rows when the same lake is re-sharded into many small
files with rows arriving in a different order.

At 100 TB the physical layout of a table — how many files, which
rows landed in which file, what order a writer happened to emit them
— is an operational accident (compaction state, ingest parallelism,
OPTIMIZE history), never part of the data's meaning. Any query whose
result shifts under re-sharding carries an order-dependent construct
(un-ordered first()/collect_list, ranking over a non-total ordering,
raw float accumulation) that will surface as run-to-run flakiness on
a real cluster where split arrival order is nondeterministic.
tests/test_partition_invariance.py pins the shuffle-side of this
contract on representative probes; this sweep pins the SCAN-side for
the whole registry.

Same shape as the empty/single-row sweeps: one looping test so a
single run reports every layout-sensitive query at once.
"""

from __future__ import annotations

import hashlib
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

N_SHARDS = 7


@pytest.fixture(scope="module")
def resharded_sf_dir(tmp_path_factory) -> str:
    """The sf0.001 lake with every table rewritten as a DIRECTORY of
    N_SHARDS part files, rows deterministically permuted (md5 of the
    row index — no RNG) so both intra-file order and row->file
    assignment differ from the original single-file layout."""
    d = tmp_path_factory.mktemp("sf_resharded")
    for t in TESTDATA_TABLES:
        table = pq.read_table(os.path.join(SF_DIR, f"{t}.parquet"))
        n = table.num_rows
        perm = sorted(
            range(n),
            key=lambda i: hashlib.md5(f"{t}:{i}".encode()).hexdigest(),
        )
        shuffled = table.take(perm)
        out = d / f"{t}.parquet"
        out.mkdir()
        step = max(1, (n + N_SHARDS - 1) // N_SHARDS)
        part = 0
        for start in range(0, max(n, 1), step):
            pq.write_table(
                shuffled.slice(start, step), str(out / f"part-{part:03d}.parquet")
            )
            part += 1
    return str(d)


def _rows(spark, name, sf_dir):
    out = sorted(
        map(tuple, QUERIES[name](spark, sf_dir).collect()),
        key=lambda r: tuple(str(x) for x in r),
    )
    return out


def test_every_query_is_layout_invariant(spark, sf_dir, resharded_sf_dir):
    from .conftest import sweep_queries

    def probe(name):
        try:
            base = _rows(spark, name, sf_dir)
            alt = _rows(spark, name, resharded_sf_dir)
        except Exception as e:  # noqa: BLE001 — collecting the sweep
            return f"{name}: CRASH {str(e).splitlines()[0][:120]}"
        if base != alt:
            diff = next(
                (f"{b!r} != {a!r}" for b, a in zip(base, alt) if b != a),
                f"row counts {len(base)} != {len(alt)}",
            )
            return f"{name}: first diff {diff[:160]}"
        return None

    failures = sweep_queries(sorted(QUERIES), probe)
    assert not failures, "layout-sensitive queries:\n" + "\n".join(failures)
