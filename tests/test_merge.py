"""Semantics of the lakehouse mutation operators: MERGE contract
(update/insert/delete, idempotency), CDC compaction winner rule, and
the SCD2 invariants + its one-shuffle plan."""

from __future__ import annotations

import glob
import os
import re
import tempfile

import pytest
from pyspark.sql import functions as F

from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark import operators
from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.operators.merge import (
    compact_changelog,
    merge_upsert,
    q_snapshot_time_travel,
    scd2,
)
from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
    snaptable as st,
)
from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources.scratch import (
    scratch_dir,
)


def _df(spark, rows, cols):
    return spark.createDataFrame(rows, cols)


def test_merge_update_insert_keep(spark):
    target = _df(spark, [(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    source = _df(spark, [(2, "B"), (4, "D")], ["k", "v"])
    got = {tuple(r) for r in merge_upsert(target, source, ["k"]).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c"), (4, "D")}


def test_merge_is_idempotent(spark):
    target = _df(spark, [(1, "a"), (2, "b")], ["k", "v"])
    source = _df(spark, [(2, "B"), (3, "C")], ["k", "v"])
    once = merge_upsert(target, source, ["k"])
    twice = merge_upsert(once, source, ["k"])
    assert {tuple(r) for r in once.collect()} == {tuple(r) for r in twice.collect()}


def test_merge_deletes(spark):
    target = _df(spark, [(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    source = _df(
        spark, [(2, "B", False), (3, "ignored", True), (4, "D", False)],
        ["k", "v", "is_delete"],
    )
    got = {
        tuple(r)
        for r in merge_upsert(target, source, ["k"], delete_col="is_delete").collect()
    }
    assert got == {(1, "a"), (2, "B"), (4, "D")}


def test_merge_not_matched_by_source_delete_all(spark):
    """WHEN NOT MATCHED BY SOURCE THEN DELETE (True): the full-sync
    mirror — the table becomes exactly the source's row set."""
    target = _df(spark, [(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    source = _df(spark, [(2, "B"), (4, "D")], ["k", "v"])
    got = {
        tuple(r)
        for r in merge_upsert(
            target, source, ["k"], not_matched_by_source_delete=True
        ).collect()
    }
    assert got == {(2, "B"), (4, "D")}


def test_merge_not_matched_by_source_delete_conditional(spark):
    """Conditional clause: only unmatched target rows satisfying the
    condition delete; a NULL condition means the clause does not
    apply (the row survives) — Delta's tri-state WHEN semantics."""
    target = _df(
        spark,
        [(1, "stale"), (2, "b"), (3, "fresh"), (5, None)],
        ["k", "v"],
    )
    source = _df(spark, [(2, "B")], ["k", "v"])
    got = {
        tuple(r)
        for r in merge_upsert(
            target,
            source,
            ["k"],
            not_matched_by_source_delete="v = 'stale'",
        ).collect()
    }
    # k=1 deleted (condition true); k=3 survives (false); k=5 survives
    # (NULL condition); k=2 updated
    assert got == {(2, "B"), (3, "fresh"), (5, None)}


def test_snapshot_merge_not_matched_by_source(spark, tmp_path):
    """merge_into full-sync on the table format: the clause disables
    partition pruning (every unmatched row must be examined) and the
    committed head mirrors the source exactly; row-tracked tables
    keep matched rows' stable ids."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )

    t = str(tmp_path / "mm_sync")
    st.create_table(
        _df(spark, [(1, "A", "a"), (2, "A", "b"), (3, "B", "c")], ["k", "g", "v"]),
        t,
        ["g"],
    )
    st.enable_row_tracking(t)
    ids0 = {
        r.k: r._row_id
        for r in st.read_snapshot(spark, t, with_row_ids=True).collect()
    }
    # source only carries partition A rows, but the clause is global:
    # B's unmatched row must delete even though B isn't in the source
    src = _df(spark, [(2, "A", "B2"), (9, "A", "new")], ["k", "g", "v"])
    st.merge_into(
        spark, t, src, ["k"], not_matched_by_source_delete=True
    )
    rows = {
        (r.k, r.g, r.v): r._row_id
        for r in st.read_snapshot(spark, t, with_row_ids=True).collect()
    }
    assert set(rows) == {(2, "A", "B2"), (9, "A", "new")}
    assert rows[(2, "A", "B2")] == ids0[2]  # matched row kept its id


def test_merge_nmbs_update_clauses_cascade(spark):
    """Full-grammar WHEN NOT MATCHED BY SOURCE cascade (Delta adds
    UPDATE SET to the clause): ordered first-match-wins over the
    unmatched target rows; a NULL condition value skips the clause
    (tri-state); rows matching no clause survive unchanged; matched
    rows update from the source and new source rows insert exactly as
    without the clause. k=1 satisfies BOTH clauses — the DELETE wins
    because it is declared first."""
    target = _df(
        spark,
        [(1, "stale", 40), (2, "b", 20), (3, "old", 30), (5, None, 5)],
        ["k", "v", "n"],
    )
    source = _df(spark, [(2, "B", 21), (9, "I", 90)], ["k", "v", "n"])
    res = merge_upsert(
        target,
        source,
        ["k"],
        not_matched_by_source=[
            ("v = 'stale'", "delete", None),
            ("n >= 30", "update", {"v": "'archived'"}),
        ],
    )
    assert res.schema == target.schema  # UPDATE exprs cast back
    got = {tuple(r) for r in res.collect()}
    # k=1 deleted (first-match-wins); k=3 archived; k=5 NULL cond on
    # clause 1 + false on clause 2 -> survives; k=2 updated; k=9 inserted
    assert got == {
        (2, "B", 21),
        (3, "archived", 30),
        (5, None, 5),
        (9, "I", 90),
    }


def test_merge_nmbs_update_references_target_columns(spark):
    """BY SOURCE UPDATE expressions evaluate over the TARGET row
    (there is no source row): self-referencing arithmetic works and
    the declared column type is preserved (a fractional expression on
    an int column casts back instead of silently widening)."""
    target = _df(spark, [(1, 10), (2, 20)], ["k", "n"])
    source = _df(spark, [(2, 99)], ["k", "n"])
    res = merge_upsert(
        target,
        source,
        ["k"],
        not_matched_by_source=[(None, "update", {"n": "n + 1.5"})],
    )
    assert dict(res.dtypes)["n"] == "bigint"
    got = {tuple(r) for r in res.collect()}
    assert got == {(1, 11), (2, 99)}  # 10 + 1.5 cast back to bigint


def test_compaction_latest_wins_with_tiebreak(spark):
    log = _df(
        spark,
        [(1, 10, 100, "x"), (1, 20, 101, "y"), (1, 20, 102, "z"), (2, 5, 103, "w")],
        ["k", "ts", "seq", "v"],
    )
    got = {
        (r.k, r.v)
        for r in compact_changelog(log, ["k"], ["ts", "seq"]).collect()
    }
    assert got == {(1, "z"), (2, "w")}


def test_scd2_invariants(spark, sf_dir):
    """Per key: exactly one current row, intervals non-overlapping
    and chained (valid_to == next valid_from), runs collapse."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources.readers import (
        read_fixture,
    )

    ev = (
        read_fixture(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .filter(F.col("user_id") < 10)
    )
    hist = scd2(ev, "user_id", "event_type", "ts", "event_id").collect()
    by_key: dict[int, list] = {}
    for r in hist:
        by_key.setdefault(r.user_id, []).append(r)
    for rows in by_key.values():
        rows.sort(key=lambda r: r.valid_from)
        assert sum(1 for r in rows if r.is_current) == 1
        assert rows[-1].is_current and rows[-1].valid_to is None
        for a, b in zip(rows, rows[1:]):
            assert a.valid_to == b.valid_from
            assert a.event_type != b.event_type  # runs collapsed


def test_scd2_single_exchange(spark, sf_dir):
    """Both SCD2 windows share one (key, ts) sort: the physical plan
    must contain exactly one Exchange."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources.readers import (
        read_fixture,
    )

    ev = read_fixture(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    df = scd2(ev, "user_id", "event_type", "ts", "event_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange == 1, f"SCD2 shuffles {n_exchange}x, expected 1"


# --- property: NMBS clause cascade == a row-at-a-time replay -------------
from hypothesis import HealthCheck, given, settings as hsettings
from hypothesis import strategies as hs

_COND = hs.sampled_from([None, "n >= 5", "v = 2", "v IS NULL", "n < 3"])
_ACT = hs.sampled_from(
    [("delete", None), ("update", {"v": "99"}), ("update", {"n": "n + 100"})]
)
_CLAUSES = hs.lists(hs.tuples(_COND, _ACT), min_size=0, max_size=3)
_TROWS = hs.lists(
    hs.tuples(
        hs.integers(0, 5), hs.sampled_from([1, 2, 3, None]), hs.integers(0, 9)
    ),
    min_size=1,
    max_size=6,
)


def _clause_applies(cond, v, n):
    """Tri-state WHEN condition on one (target-only) row: None
    condition always applies; a NULL comparison never does."""
    if cond is None:
        return True
    if cond == "n >= 5":
        return n >= 5
    if cond == "v = 2":
        return v is not None and v == 2
    if cond == "v IS NULL":
        return v is None
    return n < 3  # "n < 3"


@given(trows=_TROWS, clauses=_CLAUSES)
@hsettings(
    max_examples=10, deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_nmbs_cascade_matches_row_replay(spark, trows, clauses):
    """apply_not_matched_by_source_clauses == a first-match-wins
    row-at-a-time replay over every unmatched target row, for random
    ordered DELETE/UPDATE cascades with tri-state conditions."""
    seen, target = set(), []
    for k, v, n in trows:
        if k not in seen:
            seen.add(k)
            target.append((k, v, n))
    source = [(0, 8, 8)]
    spec = [
        (c, a, p) for c, (a, p) in clauses
    ]
    got = {
        tuple(r)
        for r in merge_upsert(
            spark.createDataFrame(target, "k int, v int, n int"),
            spark.createDataFrame(source, "k int, v int, n int"),
            ["k"],
            not_matched_by_source=spec or None,
        ).collect()
    }
    exp = set(source)  # matched rows update whole-row; k=0 inserts
    for k, v0, n0 in target:
        if k == 0:
            continue  # matched by the source
        first = next(
            (cl for cl in spec if _clause_applies(cl[0], v0, n0)), None
        )
        if first is None:
            exp.add((k, v0, n0))  # no clause claims the row
        elif first[1] == "delete":
            continue  # first-match-wins: deleted
        elif "v" in first[2]:
            exp.add((k, 99, n0))
        else:
            exp.add((k, v0, n0 + 100))
    assert got == exp


_EPOCH = hs.lists(
    hs.tuples(hs.integers(0, 2), hs.integers(0, 2)),  # (key, epoch)
    min_size=1,
    max_size=9,
)


@given(assign=_EPOCH)
@hsettings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_scd2_replay_equals_single_shot(spark, assign):
    """Epoch-by-epoch scd2_apply replay == single-shot scd2 over the
    whole feed, for random epoch assignments — epochs applied in
    ORDER 0,1,2 but points land in arbitrary epochs, so later epochs
    routinely splice into the middle of built history. Timestamps are
    globally unique and payloads unique per change point (stored-
    versions semantics: an equal-payload collapse cannot be
    resurrected by a later splice — the documented contract), so the
    equality is exact."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.operators.merge import (
        scd2_apply,
    )

    points = [
        (k, f"p{ts}", ts) for ts, (k, _e) in enumerate(assign)
    ]
    epochs = [
        [
            (k, f"p{ts}", ts)
            for ts, (k, e) in enumerate(assign)
            if e == which
        ]
        for which in (0, 1, 2)
    ]
    schema = "k int, attr string, ts long"
    single = scd2(
        spark.createDataFrame(points, schema), "k", "attr", "ts", "ts"
    )
    hist = scd2(
        spark.createDataFrame(epochs[0], schema), "k", "attr", "ts", "ts"
    )
    for ep in epochs[1:]:
        if not ep:
            continue
        hist = scd2_apply(
            hist,
            spark.createDataFrame(ep, schema),
            ["k"],
            ["attr"],
            "ts",
            tiebreak="ts",
        )
    assert {tuple(r) for r in hist.collect()} == {
        tuple(r) for r in single.collect()
    }


def test_snapshot_query_scratch_table_cleaned_up_on_error(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A registry query that fails mid-way must not leak its throwaway
    table: the scratch directory is removed on the error path too."""
    def boom(*args, **kwargs):
        raise RuntimeError("injected overwrite failure")

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(st, "overwrite_partitions", boom)
    with pytest.raises(RuntimeError, match="injected"):
        q_snapshot_time_travel(spark, sf_dir)
    assert not [p.name for p in tmp_path.iterdir() if p.name.startswith("evlake_")]


def test_scratch_dir_paths_are_unique():
    with scratch_dir("x") as a, scratch_dir("x") as b:
        assert a != b and os.path.isdir(a) and os.path.isdir(b)
    assert not os.path.exists(a) and not os.path.exists(b)


def test_operators_do_not_hand_roll_temp_paths():
    """Queries get throwaway tables from sources.scratch.scratch_dir,
    never from a path built on tempfile.gettempdir()."""
    pkg = os.path.dirname(operators.__file__)
    offenders = [
        os.path.basename(p)
        for p in sorted(glob.glob(os.path.join(pkg, "*.py")))
        if "gettempdir(" in open(p).read()
    ]
    assert offenders == []


def test_package_does_not_hand_roll_version_lookup():
    """Snapshot versions resolve through snaptable._manifest_at, never
    through a hand-rolled current_version / is-None / raise block."""
    block = re.compile(
        r"current_version\([^)]*\)\s*\n\s*if \w+ is None:\s*\n\s*raise"
    )
    pkg = os.path.dirname(os.path.dirname(operators.__file__))
    offenders = [
        os.path.relpath(p, pkg)
        for p in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True))
        if block.search(open(p).read())
    ]
    assert offenders == []


def test_package_does_not_hand_copy_commit_state():
    """snaptable._commit alone carries parent state forward: no caller
    rebuilds stats through a carry helper, copies constraints / DVs /
    stats out of the manifest it just read, or filters with a set
    rebuilt per element."""
    patterns = [
        re.compile(r"_carry_stats"),
        re.compile(r'(constraints|deletion_vectors|file_stats)=prev\.get\("\1"'),
        re.compile(r"if \w+ in set\("),
    ]
    pkg = os.path.dirname(os.path.dirname(operators.__file__))
    offenders = [
        (os.path.relpath(p, pkg), pat.pattern)
        for p in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True))
        for pat in patterns
        if pat.search(open(p).read())
    ]
    assert offenders == []
