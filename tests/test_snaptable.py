"""Snapshot table format (sources/snaptable.py): versioned commits,
time travel, dynamic partition overwrite carry-over, rerun
idempotency, crash orphans, optimistic-concurrency collision,
rollback, and vacuum retention."""

from __future__ import annotations

import copy
import os

import pytest
from pyspark.sql import functions as F

from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
    snaptable as st,
)
from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources.readers import (
    read_fixture,
)


@pytest.fixture
def orders(spark, sf_dir):
    return read_fixture(spark, sf_dir, "orders")


def _tbl(tmp_path) -> str:
    return str(tmp_path / "snap_orders")


def test_create_append_read(spark, orders, tmp_path):
    t = _tbl(tmp_path)
    v1 = st.create_table(orders, t, ["o_orderstatus"])
    assert v1 == 1
    n = orders.count()
    assert st.read_snapshot(spark, t).count() == n
    extra = orders.limit(100)
    assert st.append(extra, t) == 2
    assert st.read_snapshot(spark, t).count() == n + 100
    # time travel: v1 unchanged
    assert st.read_snapshot(spark, t, version=1).count() == n
    # schema round-trips, including the partition column
    assert set(st.read_snapshot(spark, t).columns) == set(orders.columns)


def test_overwrite_partitions_carries_untouched_files(spark, orders, tmp_path):
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    high_f = orders.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 150000)
    )
    st.overwrite_partitions(high_f, t)
    got = st.read_snapshot(spark, t)
    expected = orders.filter(
        (F.col("o_orderstatus") != "F") | (F.col("o_totalprice") > 150000)
    )
    assert got.count() == expected.count()
    # the untouched partitions are byte-identical carry-overs
    assert (
        got.filter(F.col("o_orderstatus") == "O").count()
        == orders.filter(F.col("o_orderstatus") == "O").count()
    )
    # v1 still reads the original full table
    assert st.read_snapshot(spark, t, version=1).count() == orders.count()


def test_overwrite_partitions_rerun_idempotent(spark, orders, tmp_path):
    """Replaying the same batch (the reference's rerun unit) converges
    to the same visible state while each replay stays auditable as a
    new version."""
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    batch = orders.filter(F.col("o_orderstatus") == "P")
    st.overwrite_partitions(batch, t)
    first = st.read_snapshot(spark, t)
    state1 = (first.count(), first.filter(F.col("o_orderstatus") == "P").count())
    st.overwrite_partitions(batch, t)
    second = st.read_snapshot(spark, t)
    assert (second.count(), second.filter(F.col("o_orderstatus") == "P").count()) == state1
    assert st.current_version(t) == 3
    ops = [h["operation"] for h in st.history(t)]
    assert ops == ["create", "overwrite_partitions", "overwrite_partitions"]


def test_crashed_write_is_invisible_and_vacuumable(spark, orders, tmp_path):
    """Data files written without a manifest commit (a writer killed
    between data write and publish) must not affect readers and must
    be reclaimed by vacuum — while every referenced file survives."""
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    n = st.read_snapshot(spark, t).count()
    # simulate the crash: data lands, no manifest follows
    st._write_data(orders.limit(50), t, ["o_orderstatus"], {})
    assert st.read_snapshot(spark, t).count() == n  # readers unaffected
    report = st.vacuum(t, grace_seconds=0)
    assert report["deleted_files"] > 0 and report["expired_versions"] == 0
    assert report["reclaimed_bytes"] > 0
    assert st.read_snapshot(spark, t).count() == n  # nothing referenced was lost


def test_vacuum_retention_expires_time_travel(spark, orders, tmp_path):
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    st.overwrite_table(orders.limit(10), t)
    st.overwrite_table(orders.limit(20), t)
    report = st.vacuum(t, retain_last=1, grace_seconds=0)
    assert report["expired_versions"] == 2
    # v1's files were only referenced by expired manifests -> gone
    assert report["deleted_files"] > 0
    assert st.read_snapshot(spark, t).count() == 20
    with pytest.raises(ValueError, match="does not exist"):
        st.read_snapshot(spark, t, version=1)


#: every entry point that resolves a table version, called as
#: (spark, table, version)
_VERSIONED_CALLS = {
    "read_snapshot": lambda spark, t, v: st.read_snapshot(spark, t, version=v),
    "scan": lambda spark, t, v: st.scan(spark, t, version=v),
    "scan_any": lambda spark, t, v: st.scan_any(
        spark, t, [[("id", "=", 1)]], version=v
    ),
    "metadata_count": lambda spark, t, v: st.metadata_count(t, version=v),
    "table_layout": lambda spark, t, v: st.table_layout(t, version=v),
    "table_stats": lambda spark, t, v: st.table_stats(t, version=v),
    "analyzed_stats": lambda spark, t, v: st.analyzed_stats(t, version=v),
    "create_tag": lambda spark, t, v: st.create_tag(t, "tg", version=v),
    "create_branch": lambda spark, t, v: st.create_branch(t, "br", version=v),
}


@pytest.mark.parametrize("op", sorted(_VERSIONED_CALLS))
def test_missing_table_or_version_raises_value_error(spark, tmp_path, op):
    """A path with no table, and a version an existing table never
    committed, both raise ValueError("... does not exist") — never a
    raw FileNotFoundError from the manifest read."""
    call = _VERSIONED_CALLS[op]
    with pytest.raises(ValueError, match="does not exist"):
        call(spark, str(tmp_path / "absent"), None)
    t = str(tmp_path / "present")
    st.create_table(spark.createDataFrame([(1,)], "id int"), t, [])
    with pytest.raises(ValueError, match="does not exist"):
        call(spark, t, 7)


def test_concurrent_commit_collision_raises(spark, orders, tmp_path):
    t = _tbl(tmp_path)
    st.create_table(orders.limit(10), t, [])
    head = st.current_version(t)
    manifest = st._read_manifest(t, head)
    with pytest.raises(st.ConcurrentCommit):
        st._publish(t, head, manifest)
    # the losing writer leaves no partial state behind
    assert [f for f in os.listdir(st._snap_dir(t)) if f.endswith(".tmp")] == []


def test_rollback_restores_old_state_keeps_history(spark, orders, tmp_path):
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    n = orders.count()
    st.overwrite_table(orders.limit(5), t)
    assert st.read_snapshot(spark, t).count() == 5
    st.rollback(t, 1)
    assert st.read_snapshot(spark, t).count() == n
    assert st.current_version(t) == 3
    # the bad head remains time-travelable until vacuumed
    assert st.read_snapshot(spark, t, version=2).count() == 5


def test_gold_pipeline_through_snaptable(spark, tmp_path, bronze_sample):
    """The reference's gold flow (build_gold + overwritePartitions +
    rerun, gold_etl.py:106-156) lands on the snapshot format with
    idempotent reruns AND gains the time travel the Parquet fallback
    lacks."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.operators.gold import (
        build_gold,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.operators.silver import (
        clean_sessions,
    )

    bronze = (
        spark.read.option("header", True)
        .option("inferSchema", True)
        .csv(bronze_sample.path)
    )
    gold = build_gold(clean_sessions(bronze))
    t = str(tmp_path / "fact_ev_session")
    st.create_table(gold, t, ["event_date"])
    # rerun one day, reference-style
    day = gold.select(F.min("event_date").alias("d")).collect()[0].d
    batch = gold.filter(F.col("event_date") == F.lit(day))
    st.overwrite_partitions(batch, t)
    st.overwrite_partitions(batch, t)
    final = st.read_snapshot(spark, t)
    assert final.count() == gold.count() == bronze_sample.rows
    assert st.read_snapshot(spark, t, version=1).count() == bronze_sample.rows
    assert len(st.history(t)) == 3


def test_snapshot_read_partition_prunes_and_pushes_filters(spark, orders, tmp_path):
    """100 TB evidence: a snapshot read is a normal Catalyst file
    scan — a filter on the partition column must reach the file index
    as a partition filter (scanning only that partition's files, even
    though the manifest listed all of them), and a data-column
    predicate must appear in PushedFilters."""
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    snap = st.read_snapshot(spark, t)
    filtered = snap.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 100000.0)
    ).select("o_orderkey", "o_totalprice")
    plan = filtered._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split(
        "PartitionFilters"
    )[1].split("\n")[0]
    assert "PushedFilters" in plan and "GreaterThan(o_totalprice" in plan
    # and the scan actually skips the other partitions' files
    n_f_files = len(
        [f for f in st._read_manifest(t, 1)["files"] if "o_orderstatus=F" in f]
    )
    n_scanned = filtered.rdd.getNumPartitions()  # proxy upper bound sanity
    assert filtered.count() == orders.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 100000.0)
    ).count()
    assert n_f_files >= 1 and n_scanned >= 1


def test_run_gold_snapshot_format_rerun_and_time_travel(
    spark, tmp_path, bronze_sample
):
    """run_gold(table_format='snapshot'): a whole-table run then a
    one-day rerun produce the expected visible state, stay idempotent,
    and leave an auditable version history."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.operators.gold import (
        run_gold,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.operators.silver import (
        run_silver,
    )

    silver = str(tmp_path / "silver")
    run_silver(
        spark,
        input_path=bronze_sample.path,
        silver_path=silver,
        quarantine_path=str(tmp_path / "quarantine"),
    )
    gold_path = str(tmp_path / "gold_snap")
    n1 = run_gold(spark, silver, gold_path, table_format="snapshot")
    assert n1 == bronze_sample.good
    day = (
        st.read_snapshot(spark, gold_path)
        .select(F.min("event_date").alias("d"))
        .collect()[0]
        .d
    )
    n2 = run_gold(
        spark, silver, gold_path, event_date=str(day), table_format="snapshot"
    )
    assert 0 < n2 < n1
    # idempotent rerun
    assert st.read_snapshot(spark, gold_path).count() == bronze_sample.good
    assert [h["operation"] for h in st.history(gold_path)] == [
        "create",
        "overwrite_partitions",
    ]
    assert st.read_snapshot(spark, gold_path, version=1).count() == bronze_sample.good
    # database + snapshot: the head registers as a session SQL view
    # (the Athena-on-Iceberg surface) instead of being refused
    n3 = run_gold(spark, silver, gold_path, database="db", table_format="snapshot")
    assert n3 == bronze_sample.good
    assert spark.sql(
        "SELECT COUNT(*) AS n FROM db_fact_ev_session"
    ).collect()[0].n == bronze_sample.good
    spark.catalog.dropTempView("db_fact_ev_session")


def test_optimize_compacts_as_metadata_commit(spark, orders, tmp_path):
    """OPTIMIZE rewrites many files per partition into one, as a new
    version: row-for-row identical content, pre-compaction versions
    still time-travelable, old files reclaimed only by vacuum."""
    t = _tbl(tmp_path)
    st.create_table(orders.repartition(6), t, ["o_orderstatus"])
    n = orders.count()
    files_before = st._read_manifest(t, 1)["files"]
    v = st.optimize(spark, t, files_per_partition=1, cluster_by=["o_totalprice"])
    assert v == 2
    files_after = st._read_manifest(t, 2)["files"]
    assert len(files_after) < len(files_before)
    # 3 partitions (o_orderstatus F/O/P), 1 file each
    assert len(files_after) == 3
    snap = st.read_snapshot(spark, t)
    assert snap.count() == n
    assert st.read_snapshot(spark, t, version=1).count() == n
    # clustering sorted rows within each file for stats selectivity
    report = st.vacuum(t, retain_last=1, grace_seconds=0)
    assert report["deleted_files"] == len(files_before)
    assert st.read_snapshot(spark, t).count() == n


def test_merge_into_prunes_to_touched_partitions(spark, orders, tmp_path):
    """Partition-pruned MERGE: only partitions present in the source
    are rewritten; every other partition's files carry over BY
    REFERENCE (same file names in the new manifest)."""
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    files_v1 = set(st._read_manifest(t, 1)["files"])
    # source: update 10 existing 'P' orders, insert 2 new ones
    updates = (
        orders.filter(F.col("o_orderstatus") == "P")
        .limit(10)
        .withColumn("o_totalprice", F.lit(999999.0))
    )
    inserts = (
        orders.filter(F.col("o_orderstatus") == "P")
        .limit(2)
        .withColumn("o_orderkey", F.col("o_orderkey") + 90000000)
    )
    source = updates.unionByName(inserts)
    st.merge_into(spark, t, source, ["o_orderkey"])
    got = st.read_snapshot(spark, t)
    assert got.count() == orders.count() + 2
    assert got.filter(F.col("o_totalprice") == 999999.0).count() == 10
    # untouched partitions carried over by reference
    files_v2 = set(st._read_manifest(t, 2)["files"])
    untouched_v1 = {f for f in files_v1 if "o_orderstatus=P" not in f}
    assert untouched_v1 <= files_v2
    assert not any("o_orderstatus=P" in f for f in files_v1 & files_v2)


def test_merge_into_empty_source_is_noop(spark, orders, tmp_path):
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    v = st.merge_into(
        spark, t, orders.filter(F.lit(False)), ["o_orderkey"]
    )
    assert v == 1 and st.current_version(t) == 1


def test_txn_epoch_tracks_writer_commits(spark, orders, tmp_path):
    t = _tbl(tmp_path)
    st.create_table(orders.limit(10), t, [], txn=("writer-a", 0))
    st.append(orders.limit(5), t, txn=("writer-a", 1))
    st.append(orders.limit(5), t)  # untagged commit by someone else
    assert st.txn_epoch(t, "writer-a") == 1
    assert st.txn_epoch(t, "writer-b") is None


def test_overwrite_table_on_missing_table_records_txn(spark, tmp_path):
    """overwrite_table on a missing table creates it, and that create
    records the writer's txn epoch exactly as replace_table's does."""
    df = spark.createDataFrame([(1,)], "id int")
    for name, write in (("ow", st.overwrite_table), ("rp", st.replace_table)):
        t = str(tmp_path / name)
        assert write(df, t, txn=("app", 7)) == 1
        assert st.txn_epoch(t, "app") == 7


def test_gold_stream_snapshot_kill_and_restart_exactly_once(
    spark, tmp_path, bronze_sample
):
    """The txn-idempotent streaming sink: crash AFTER an epoch's
    snapshot commit but BEFORE its checkpoint; on restart the replayed
    epoch must be detected as already-committed and skipped — final
    table has every silver row exactly once."""
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming import (
        gold_stream_snapshot,
        silver_stream,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    import shutil as _sh

    _sh.copy(bronze_sample.path, indir / "b.csv")
    silver_path = str(tmp_path / "silver")
    q = silver_stream(
        spark,
        str(indir),
        silver_path,
        str(tmp_path / "quarantine"),
        str(tmp_path / "ckpt_silver"),
    )
    q.awaitTermination(120)
    silver_schema = spark.read.parquet(silver_path).schema

    table = str(tmp_path / "gold_snap_stream")
    seen = []

    def crash_first_epoch(epoch_id: int) -> None:
        seen.append(epoch_id)
        if len(seen) == 1:
            raise RuntimeError("injected crash: committed, not checkpointed")

    q2 = gold_stream_snapshot(
        spark,
        silver_path,
        table,
        str(tmp_path / "ckpt_gold"),
        silver_schema,
        max_files_per_trigger=4,
        fault_injector=crash_first_epoch,
    )
    with _pytest.raises(StreamingQueryException, match="injected crash"):
        q2.awaitTermination()
    committed_after_crash = st.current_version(table)
    assert committed_after_crash >= 1  # the commit itself landed

    q3 = gold_stream_snapshot(
        spark,
        silver_path,
        table,
        str(tmp_path / "ckpt_gold"),
        silver_schema,
        max_files_per_trigger=4,
    )
    q3.awaitTermination(180)

    got = st.read_snapshot(spark, table)
    assert got.count() == bronze_sample.good
    assert got.select("sessionId").distinct().count() == bronze_sample.good


def test_schema_evolution_merge_schema(spark, orders, tmp_path):
    """Appending a batch with a new column evolves the manifest schema
    when merge_schema=True: pre-evolution files null-fill the column,
    pre-evolution VERSIONS keep their original schema; without the
    flag the append is rejected, and same-name type changes always
    are."""
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    n = orders.count()
    evolved_batch = orders.limit(10).withColumn("o_priority_score", F.lit(1.5))
    with pytest.raises(ValueError, match="merge_schema"):
        st.append(evolved_batch, t)
    st.append(evolved_batch, t, merge_schema=True)
    snap = st.read_snapshot(spark, t)
    assert "o_priority_score" in snap.columns
    assert snap.count() == n + 10
    assert snap.filter(F.col("o_priority_score").isNull()).count() == n
    assert snap.filter(F.col("o_priority_score") == 1.5).count() == 10
    # time travel to v1 shows the pre-evolution schema
    assert "o_priority_score" not in st.read_snapshot(spark, t, version=1).columns
    # type conflicts are rejected regardless of merge_schema
    bad = orders.limit(1).withColumn("o_totalprice", F.lit("not a number"))
    with pytest.raises(ValueError, match="type conflict"):
        st.append(bad, t, merge_schema=True)


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as hst

_PARTS = ["a", "b", "c"]
_batch = hst.lists(
    hst.tuples(hst.integers(0, 9), hst.sampled_from(_PARTS)),
    min_size=1,
    max_size=5,
)
_op = hst.one_of(
    hst.tuples(hst.just("append"), _batch),
    hst.tuples(hst.just("overwrite_partitions"), _batch),
    hst.tuples(hst.just("overwrite_table"), _batch),
    hst.tuples(hst.just("rollback"), hst.integers(1, 3)),
    hst.tuples(hst.just("rename"), hst.just(0)),
    hst.tuples(hst.just("replace_where"), _batch),
    hst.tuples(hst.just("widen"), hst.just(0)),
    hst.tuples(hst.just("track"), hst.just(0)),
    hst.tuples(hst.just("optimize"), hst.just(0)),
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=hst.lists(_op, min_size=1, max_size=4))
def test_snaptable_model_equivalence(spark, tmp_path_factory, ops):
    """Model-based property test: any sequence of
    append / overwrite_partitions / overwrite_table / rollback /
    rename_column / replace_where / widen_column must leave the
    table's visible rows equal to a trivial in-memory model, and
    EVERY intermediate version must stay time-travelable to its
    recorded model state, its recorded column name (manifest
    immutability — including each version's own column mapping), AND
    its recorded k-column width (each version's own schema)."""
    tmp = tmp_path_factory.mktemp("snapmodel")
    t = str(tmp / "t")

    def mk(batch, kname, wide):
        df = spark.createDataFrame(
            [(i, k, p) for i, (k, p) in enumerate(batch)],
            "row_id int, k int, p string",
        )
        if wide:
            # a widened table's appends arrive at the declared width
            df = df.withColumn("k", F.col("k").cast("long"))
        return df.withColumnRenamed("k", kname) if kname != "k" else df

    seed = [(0, 0, "a"), (1, 1, "b")]
    st.create_table(
        spark.createDataFrame(seed, "row_id int, k int, p string"), t, ["p"]
    )
    model = list(seed)
    kname, wide = "k", False
    # version -> (k column name, rows, k widened to long?)
    states = {1: (kname, list(model), wide)}
    for op, arg in ops:
        if op == "rollback":
            v = min(arg, st.current_version(t))
            st.rollback(t, v)
            kname, model, wide = states[v][0], list(states[v][1]), states[v][2]
        elif op == "rename":
            # toggle k <-> kk; rows are untouched (metadata-only)
            new = "kk" if kname == "k" else "k"
            st.rename_column(t, kname, new)
            kname = new
        elif op == "track":
            # idempotent metadata-only commit; rows untouched
            before = st.current_version(t)
            st.enable_row_tracking(t)
            if st.current_version(t) == before:
                continue  # already tracked: no new version
        elif op == "optimize":
            # content-identical by contract; rows untouched
            st.optimize(spark, t, files_per_partition=1)
        elif op == "widen":
            if wide:
                with pytest.raises(ValueError, match="not a supported widening"):
                    st.widen_column(t, kname, "long")
                continue  # refused: no new version, no state entry
            st.widen_column(t, kname, "long")
            wide = True
        elif op == "replace_where":
            # replace the k >= 5 band; incoming rows forced into it
            batch = [(i, 5 + (k % 5), p) for i, (k, p) in enumerate(arg)]
            st.replace_where(
                spark, mk([(k, p) for _, k, p in batch], kname, wide), t,
                [(kname, ">=", 5)],
            )
            model = [r for r in model if r[1] < 5] + batch
        else:
            batch = [(i, k, p) for i, (k, p) in enumerate(arg)]
            if op == "append":
                st.append(mk(arg, kname, wide), t)
                model = model + batch
            elif op == "overwrite_partitions":
                st.overwrite_partitions(mk(arg, kname, wide), t)
                touched = {p for _, _, p in batch}
                model = [r for r in model if r[2] not in touched] + batch
            else:
                # full replace commits the incoming frame's schema —
                # an int frame legitimately narrows k back
                st.overwrite_table(mk(arg, kname, False), t)
                model = batch
                wide = False
        states[st.current_version(t)] = (kname, list(model), wide)
    for v, (kn, expect, w) in states.items():
        snap = st.read_snapshot(spark, t, version=v)
        assert snap.columns == ["row_id", kn, "p"], (v, snap.columns, kn)
        assert dict(snap.dtypes)[kn] == ("bigint" if w else "int"), (v, kn, w)
        got = sorted(tuple(r) for r in snap.collect())
        assert got == sorted(expect), (v, got, expect)
    head = st.current_version(t)
    if st._read_manifest(t, head).get("row_tracking"):
        # row-id invariant: unique, non-null, one per visible row
        ids = [
            r._row_id
            for r in st.read_snapshot(spark, t, with_row_ids=True).collect()
        ]
        assert len(ids) == len(states[head][1])
        assert None not in ids and len(set(ids)) == len(ids)


def test_data_skipping_scan_prunes_files_exactly(spark, orders, tmp_path):
    """Footer min/max stats in the manifest must let scan() skip
    files a selective predicate can't match — and return exactly the
    rows a plain filter returns. Range-partitioned write gives files
    disjoint o_totalprice ranges, so pruning is provable."""
    t = _tbl(tmp_path)
    st.create_table(orders.repartitionByRange(8, "o_totalprice"), t, [])
    m = st._read_manifest(t, 1)
    assert len(m["files"]) == 8
    assert all(f in m["file_stats"] for f in m["files"])
    hi = orders.agg(F.max("o_totalprice")).collect()[0][0]
    cutoff = float(hi) * 0.9
    pruned = st._prune_files(t, m, [("o_totalprice", ">", cutoff)])
    assert 1 <= len(pruned) < 8  # skipped most files, kept the tail
    got = st.scan(spark, t, [("o_totalprice", ">", cutoff)])
    expected = orders.filter(F.col("o_totalprice") > cutoff)
    assert got.count() == expected.count() > 0
    # equality on a partition column prunes by path, not stats
    t2 = str(tmp_path / "snap_part")
    st.create_table(orders, t2, ["o_orderstatus"])
    m2 = st._read_manifest(t2, 1)
    only_f = st._prune_files(t2, m2, [("o_orderstatus", "=", "F")])
    assert only_f and all("o_orderstatus=F" in f for f in only_f)
    assert st.scan(spark, t2, [("o_orderstatus", "=", "F")]).count() == (
        orders.filter(F.col("o_orderstatus") == "F").count()
    )


def test_data_skipping_stats_survive_carryover_and_optimize(spark, orders, tmp_path):
    """Carried-over files keep their stats through
    overwrite_partitions; optimize with cluster_by re-establishes
    tight per-file ranges (the ZORDER payoff measured as pruning)."""
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    st.overwrite_partitions(
        orders.filter(F.col("o_orderstatus") == "P").limit(10), t
    )
    m = st._read_manifest(t, 2)
    assert all(f in m["file_stats"] for f in m["files"])
    # cluster by o_totalprice -> within each partition one file, but
    # stats still allow pruning on the clustered column across files
    st.optimize(spark, t, files_per_partition=2, cluster_by=["o_totalprice"])
    m3 = st._read_manifest(t, 3)
    assert all(f in m3["file_stats"] for f in m3["files"])
    lo = orders.agg(F.min("o_totalprice")).collect()[0][0]
    none_below = st._prune_files(t, m3, [("o_totalprice", "<", float(lo))])
    assert none_below == []
    assert st.scan(spark, t, [("o_totalprice", "<", float(lo))]).count() == 0


def test_commit_with_retry_wins_after_race(spark, orders, tmp_path):
    """A writer losing the publish race must retry against the NEW
    head and succeed — and the loser's first-attempt data files stay
    invisible orphans."""
    t = _tbl(tmp_path)
    st.create_table(orders.limit(20), t, ["o_orderstatus"])

    raced = {"done": False}
    real_publish = st._publish

    def racing_publish(table, version, manifest):
        # a competing writer lands the version first, exactly once
        if not raced["done"] and manifest["operation"] == "append":
            raced["done"] = True
            competing = dict(manifest, operation="append")
            real_publish(table, version, competing)
        real_publish(table, version, manifest)

    st._publish = racing_publish
    try:
        v = st.commit_with_retry(lambda: st.append(orders.limit(5), t))
    finally:
        st._publish = real_publish
    assert raced["done"] and v == 3  # competing commit took v2
    # retry appended on top of the competing head: rows from both
    assert st.read_snapshot(spark, t).count() == 20 + 5 + 5
    with pytest.raises(st.ConcurrentCommit):
        st.commit_with_retry(
            lambda: (_ for _ in ()).throw(st.ConcurrentCommit("always")), retries=2
        )


def test_two_independent_writers_exactly_one_wins_then_v3(spark, orders, tmp_path):
    """The optimistic-concurrency contract end-to-end with two REAL
    writers carrying distinct payloads: both read head v1; writer A
    publishes v2 while writer B's attempt is in flight; B's stale
    blind append AUTO-REBASES onto the new head (round-11 commit
    reconciliation — no caller retry, no orphaned data files: the
    rebased commit reuses the files B already wrote) and lands a
    consistent v3 containing v1's rows plus BOTH payloads exactly
    once."""
    t = _tbl(tmp_path)
    base = orders.orderBy("o_orderkey").limit(10)
    batch_a = orders.orderBy("o_orderkey").limit(15).subtract(base)
    batch_b = orders.orderBy("o_orderkey").limit(22).subtract(
        orders.orderBy("o_orderkey").limit(15)
    )
    n_a, n_b = batch_a.count(), batch_b.count()
    st.create_table(base, t, [])

    attempts = {"n": 0}

    def writer_b():
        attempts["n"] += 1
        if attempts["n"] == 1:
            # B snapshots the head, then A wins the race mid-flight.
            head = st.current_version(t)
            prev = st._read_manifest(t, head)
            assert st.append(batch_a, t) == 2  # writer A commits v2
            new, _ = st._write_data(batch_b, t, prev["partition_cols"], {})
            return st._commit(
                t, "append", sorted(prev["files"] + new),
                prev["partition_cols"], prev["schema"], head,
            )
        return st.append(batch_b, t)

    v = st.commit_with_retry(writer_b)
    assert v == 3
    assert attempts["n"] == 1  # the stale attempt rebased; no retry needed
    final = st.read_snapshot(spark, t)
    assert final.count() == 10 + n_a + n_b
    assert final.select("o_orderkey").distinct().count() == 10 + n_a + n_b
    # both payloads fully present in the merged head
    assert final.join(batch_a, "o_orderkey", "left_semi").count() == n_a
    assert final.join(batch_b, "o_orderkey", "left_semi").count() == n_b
    # intermediate versions remain time-travelable and consistent
    assert st.read_snapshot(spark, t, version=2).count() == 10 + n_a
    assert [f for f in os.listdir(st._snap_dir(t)) if f.endswith(".tmp")] == []


def test_register_snapshot_sql_surface(spark, orders, tmp_path):
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    st.overwrite_table(orders.limit(7), t)
    st.register_snapshot(spark, t, "snap_now")
    st.register_snapshot(spark, t, "snap_v1", version=1)
    assert spark.sql("SELECT COUNT(*) AS n FROM snap_now").collect()[0].n == 7
    assert (
        spark.sql("SELECT COUNT(*) AS n FROM snap_v1").collect()[0].n
        == orders.count()
    )


def test_zorder_optimize_prunes_on_every_clustered_column(spark, orders, tmp_path):
    """ZORDER vs linear sort: after a linear sort on
    (o_custkey, o_totalprice), footer stats prune on the sort PREFIX
    only — a selective o_totalprice predicate skips ~nothing. After
    Z-ORDER on the same columns, BOTH single-column predicates skip
    files. Results stay exact either way."""
    hi_price = orders.agg(F.max("o_totalprice")).collect()[0][0] * 0.9
    hi_cust = orders.agg(F.max("o_custkey")).collect()[0][0] * 0.9

    linear = str(tmp_path / "lin")
    st.create_table(orders, linear, [])
    st.optimize(
        spark, linear, files_per_partition=8,
        cluster_by=["o_custkey", "o_totalprice"],
    )
    m_lin = st._read_manifest(linear, 2)

    zord = str(tmp_path / "zord")
    st.create_table(orders, zord, [])
    st.optimize(
        spark, zord, files_per_partition=8,
        cluster_by=["o_custkey", "o_totalprice"], zorder=True,
    )
    m_z = st._read_manifest(zord, 2)
    assert len(m_z["files"]) == 8

    f_price = [("o_totalprice", ">", float(hi_price))]
    f_cust = [("o_custkey", ">", int(hi_cust))]
    # linear: prefix column prunes, second column does not
    assert len(st._prune_files(linear, m_lin, f_cust)) < 8
    assert len(st._prune_files(linear, m_lin, f_price)) == 8
    # zorder: BOTH prune
    z_price = st._prune_files(zord, m_z, f_price)
    z_cust = st._prune_files(zord, m_z, f_cust)
    assert len(z_price) < 8, "zorder must prune on o_totalprice"
    assert len(z_cust) < 8, "zorder must prune on o_custkey"
    # exactness unchanged
    for filt, col, val in [
        (f_price, "o_totalprice", float(hi_price)),
        (f_cust, "o_custkey", int(hi_cust)),
    ]:
        assert (
            st.scan(spark, zord, filt).count()
            == orders.filter(F.col(col) > val).count()
        )


def test_zorder_requires_two_columns(spark, orders, tmp_path):
    t = _tbl(tmp_path)
    st.create_table(orders, t, [])
    with pytest.raises(ValueError, match="cluster_by"):
        st.optimize(spark, t, cluster_by=["o_custkey"], zorder=True)


def test_check_constraints_enforced_on_every_commit(spark, orders, tmp_path):
    """Delta-style CHECK constraints: a violating batch is rejected
    with NOTHING published (head unchanged, offending files are
    orphans), valid batches pass, NULL evaluates as pass (SQL CHECK
    semantics), add_constraint validates existing data first, and
    the constraint survives carry-over commits."""
    t = _tbl(tmp_path)
    st.create_table(
        orders,
        t,
        ["o_orderstatus"],
        constraints={"price_positive": "o_totalprice > 0"},
    )
    # violating create is impossible; violating append rejected
    bad = orders.limit(3).withColumn("o_totalprice", F.lit(-5.0))
    with pytest.raises(st.ConstraintViolation, match="price_positive"):
        st.append(bad, t)
    assert st.current_version(t) == 1  # nothing published
    st.vacuum(t, grace_seconds=0)  # reclaims the rejected batch's orphans
    assert st.read_snapshot(spark, t).count() == orders.count()

    # NULL passes (SQL CHECK): a null price row is NOT a violation
    nullish = orders.limit(2).withColumn(
        "o_totalprice", F.lit(None).cast("double")
    )
    st.append(nullish, t)
    assert st.current_version(t) == 2

    # add_constraint rejects when current data violates it
    with pytest.raises(st.ConstraintViolation):
        st.add_constraint(spark, t, "impossible", "o_totalprice < 0")
    # (the fixture legitimately contains o_orderkey = 0, so the
    # non-negative form is the one existing data satisfies)
    st.add_constraint(spark, t, "key_nonneg", "o_orderkey >= 0")
    assert st.current_version(t) == 3
    # enforced after carry-over through overwrite_partitions too
    bad_key = orders.limit(1).withColumn("o_orderkey", F.lit(-1).cast("long"))
    with pytest.raises(st.ConstraintViolation, match="key_nonneg"):
        st.overwrite_partitions(bad_key, t)
    assert sorted(st._read_manifest(t, 3)["constraints"]) == [
        "key_nonneg",
        "price_positive",
    ]


def test_delete_where_rewrites_only_candidate_files(spark, orders, tmp_path):
    """DELETE reads/rewrites only files whose stats may match; the
    rest carry over by reference; time travel sees pre-delete rows."""
    t = _tbl(tmp_path)
    st.create_table(orders, t, [])
    st.optimize(spark, t, files_per_partition=8, cluster_by=["o_totalprice"])
    m2 = st._read_manifest(t, 2)
    hi = orders.agg(F.max("o_totalprice")).collect()[0][0] * 0.9
    st.delete_where(spark, t, [("o_totalprice", ">", float(hi))])
    m3 = st._read_manifest(t, 3)
    carried = set(m2["files"]) & set(m3["files"])
    assert len(carried) >= 5  # most range files untouched by reference
    got = st.read_snapshot(spark, t)
    assert got.count() == orders.filter(F.col("o_totalprice") <= hi).count()
    assert got.filter(F.col("o_totalprice") > hi).count() == 0
    assert st.read_snapshot(spark, t, version=2).count() == orders.count()
    # stats prove nothing matches -> metadata no-op, no new version
    v = st.delete_where(spark, t, [("o_totalprice", ">", float(hi) * 10)])
    assert v == 3 and st.current_version(t) == 3


def test_update_where_old_row_semantics_and_constraints(spark, orders, tmp_path):
    """UPDATE applies SET expressions against the OLD row (swap test:
    two columns exchanging values must not see each other's new
    value), rewrites only candidate files, and re-validates CHECK
    constraints on the rewritten files."""
    t = _tbl(tmp_path)
    st.create_table(
        orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        t,
        [],
        constraints={"price_positive": "o_totalprice > 0"},
    )
    lo = (
        orders.filter(F.col("o_custkey") > 0)
        .agg(F.min("o_custkey"))
        .collect()[0][0]
    )  # smallest POSITIVE key: the swap writes it into o_totalprice,
    # which must keep satisfying the price_positive CHECK
    filters = [("o_custkey", "=", int(lo))]
    n_match = orders.filter(F.col("o_custkey") == lo).count()
    before = {
        r.o_orderkey: (r.o_custkey, r.o_totalprice)
        for r in st.read_snapshot(spark, t).collect()
    }
    st.update_where(
        spark, t, filters,
        {"o_custkey": "CAST(o_totalprice AS BIGINT)", "o_totalprice": "CAST(o_custkey AS DOUBLE)"},
    )
    after = {
        r.o_orderkey: (r.o_custkey, r.o_totalprice)
        for r in st.read_snapshot(spark, t).collect()
    }
    swapped = 0
    for k, (ck, tp) in before.items():
        ck2, tp2 = after[k]
        if ck == lo:
            assert (ck2, tp2) == (int(tp), float(ck))  # true swap: old values
            swapped += 1
        else:
            assert (ck2, tp2) == (ck, tp)
    assert swapped == n_match > 0
    # an update that would break the CHECK constraint is rejected whole
    with pytest.raises(st.ConstraintViolation, match="price_positive"):
        st.update_where(
            spark, t, [("o_custkey", ">", -1)], {"o_totalprice": "-1.0"}
        )


class TestScanPruningProperty:
    """Property test for the data-skipping boundary logic: for ANY
    conjunction of range/equality filters, scan() must return exactly
    the same rows as an unpruned filter — a wrong bound in _OPS would
    silently drop data, the worst failure class this format has. One
    shared 8-file range-clustered table (plus an all-null-stats file
    appended) keeps each example to a single comparison job."""

    @pytest.fixture(scope="class")
    def table(self, spark, sf_dir, tmp_path_factory):
        orders = read_fixture(spark, sf_dir, "orders")
        t = str(tmp_path_factory.mktemp("prune_prop") / "t")
        st.create_table(orders, t, [])
        st.optimize(
            spark, t, files_per_partition=8,
            cluster_by=["o_totalprice", "o_custkey"],
        )
        # a file whose o_totalprice is all-null: no stats -> must
        # never be pruned away incorrectly
        st.append(
            orders.limit(7).withColumn(
                "o_totalprice", F.lit(None).cast("double")
            ),
            t,
        )
        return t

    from hypothesis import HealthCheck as _HC
    from hypothesis import given as _given
    from hypothesis import settings as _settings
    from hypothesis import strategies as _st

    @_settings(
        max_examples=20,
        deadline=None,
        suppress_health_check=[_HC.function_scoped_fixture],
    )
    @_given(
        filters=_st.lists(
            _st.tuples(
                _st.sampled_from(["o_totalprice", "o_custkey"]),
                _st.sampled_from(["<", "<=", ">", ">=", "="]),
                _st.one_of(
                    _st.floats(
                        min_value=0, max_value=600000, allow_nan=False
                    ),
                    _st.integers(min_value=0, max_value=15000),
                ),
            ),
            min_size=1,
            max_size=3,
        )
    )
    def test_scan_equals_unpruned_filter(self, spark, table, filters):
        # normalize: o_custkey filters use int, o_totalprice float
        filters = [
            (c, op, float(v) if c == "o_totalprice" else int(v))
            for c, op, v in filters
        ]
        got = st.scan(spark, table, filters).count()
        full = st.read_snapshot(spark, table)
        cond = st._filters_to_column(filters)
        want = full.filter(cond).count()
        assert got == want, (filters, got, want)

    @_settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[_HC.function_scoped_fixture],
    )
    @_given(
        branches=_st.lists(
            _st.lists(
                _st.tuples(
                    _st.sampled_from(["o_totalprice", "o_custkey"]),
                    _st.sampled_from(["<", "<=", ">", ">=", "=", "!="]),
                    _st.one_of(
                        _st.floats(
                            min_value=0, max_value=600000, allow_nan=False
                        ),
                        _st.integers(min_value=0, max_value=15000),
                    ),
                ),
                min_size=1,
                max_size=2,
            ),
            min_size=1,
            max_size=3,
        )
    )
    def test_scan_any_equals_unpruned_dnf(self, spark, table, branches):
        """Disjunctive skipping exactness on arbitrary OR-of-ANDs,
        including != and the all-null stats-less file: per-branch
        pruning + union must lose no qualifying row."""
        from pyspark.sql import functions as _F

        branches = [
            [
                (c, op, float(v) if c == "o_totalprice" else int(v))
                for c, op, v in b
            ]
            for b in branches
        ]
        got = st.scan_any(spark, table, branches).count()
        full = st.read_snapshot(spark, table)
        cond = _F.lit(False)
        for b in branches:
            cond = cond | st._filters_to_column(b)
        want = full.filter(cond).count()
        assert got == want, (branches, got, want)


def _multiset(df):
    rows = df.select(*sorted(df.columns)).collect()
    from collections import Counter

    return Counter(tuple(r) for r in rows)


def test_changes_net_effect_across_all_dml(spark, orders, tmp_path):
    """The CDF invariant: for ANY commit sequence,
    state(from) - deletes + inserts == state(to) as MULTISETS —
    including delete_where/update_where (whose file rewrites emit
    self-cancelling move pairs), merge_into, and rollback."""
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    st.delete_where(spark, t, [("o_totalprice", "<", 50000.0)])
    st.update_where(
        spark,
        t,
        [("o_orderstatus", "=", "O")],
        {"o_orderpriority": "'9-REWRITTEN'"},
    )
    src = orders.filter(F.col("o_orderkey") % 31 == 1).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(7.0)
    )
    st.merge_into(spark, t, src, ["o_orderkey"])
    st.rollback(t, 2)
    head = st.current_version(t)
    for frm in range(1, head):
        feed = st.changes(spark, t, from_version=frm)
        ins = _multiset(
            feed.filter(F.col("_change_type") == "insert").drop(
                "_change_type", "_commit_version"
            )
        )
        dels = _multiset(
            feed.filter(F.col("_change_type") == "delete").drop(
                "_change_type", "_commit_version"
            )
        )
        start = _multiset(st.read_snapshot(spark, t, version=frm))
        end = _multiset(st.read_snapshot(spark, t))
        # signed arithmetic, NOT Counter-minus (which clips at zero and
        # breaks when a rollback re-inserts a row deleted earlier)
        net = dict(start)
        for k, c in ins.items():
            net[k] = net.get(k, 0) + c
        for k, c in dels.items():
            net[k] = net.get(k, 0) - c
        net = {k: c for k, c in net.items() if c != 0}
        assert net == dict(end), f"net effect broken from v{frm}"


def test_changes_skips_optimize_and_bounds_versions(spark, orders, tmp_path):
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    st.append(orders.limit(50), t)
    st.optimize(spark, t, files_per_partition=1)
    # optimize emitted nothing: the feed since v2 is empty
    assert st.changes(spark, t, from_version=2).count() == 0
    # but state still flows THROUGH the optimize commit: a later
    # append diffs against the compacted file list correctly
    st.append(orders.limit(10), t)
    feed = st.changes(spark, t, from_version=2)
    assert feed.count() == 10
    assert feed.select("_commit_version").distinct().collect()[0][0] == 4
    # bounded feed: to_version caps the window
    assert st.changes(spark, t, from_version=1, to_version=2).count() == 50
    with pytest.raises(ValueError):
        st.changes(spark, t, from_version=99)


def test_maintain_count_sum_handles_group_birth_and_death(spark, orders, tmp_path):
    """Groups created after materialization appear; groups whose
    count reaches zero disappear."""
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    base = (
        st.read_snapshot(spark, t, version=1)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(25,10)"))
            .cast("decimal(25,10)")
            .alias("s"),
        )
    )
    # death: empty the F partition entirely
    st.delete_where(spark, t, [("o_orderstatus", "=", "F")])
    # birth: a brand-new status partition
    st.append(
        orders.limit(25).withColumn("o_orderstatus", F.lit("X")),
        t,
    )
    maintained = st.maintain_count_sum(
        spark, t, base, ["o_orderstatus"], "o_totalprice", from_version=1
    )
    got = {r.o_orderstatus: r.n for r in maintained.collect()}
    assert "F" not in got
    assert got.get("X") == 25
    recomputed = {
        r.o_orderstatus: r.n
        for r in st.read_snapshot(spark, t)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .collect()
    }
    assert {k: v for k, v in got.items()} == recomputed


def test_table_stats_is_truly_metadata_only(spark, orders, tmp_path):
    """table_stats answers COUNT/MIN/MAX with ZERO data reads —
    proven by deleting the entire data directory first."""
    import shutil

    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    expected = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("mn"),
        F.max("o_totalprice").alias("mx"),
    ).collect()[0]
    shutil.rmtree(os.path.join(t, "data"))
    s = st.table_stats(t)
    assert s["rows"] == expected.n
    assert s["min"]["o_totalprice"] == expected.mn
    assert s["max"]["o_totalprice"] == expected.mx
    # strings are deliberately absent (parquet may truncate their stats)
    assert "o_orderstatus" not in s["min"] and "o_orderpriority" not in s["max"]
    # physical footprint answers from the manifest too (data dir gone)
    assert s["total_bytes"] > 0 and s["n_files"] >= 3


def test_vacuum_inflight_reader_errors_never_partial(spark, orders, tmp_path):
    """The other half of the retention contract (round-5 VERDICT item
    6): a reader that planned a DataFrame against an old version
    BEFORE vacuum expired it must fail at execution with Spark's
    missing-file error once the files are gone — NEVER silently
    return a partial/wrong result (Delta raises here too). Guarded by
    ignoreMissingFiles staying false, which this test also pins."""
    t = _tbl(tmp_path)
    st.create_table(orders.limit(30), t, ["o_orderstatus"])
    st.overwrite_table(orders.limit(10), t)

    assert (
        spark.conf.get("spark.sql.files.ignoreMissingFiles") == "false"
    ), "ignoreMissingFiles must stay false or vacuum races go silent"

    stale = st.read_snapshot(spark, t, version=1)  # planned pre-vacuum
    assert stale.count() == 30  # still readable: files exist

    report = st.vacuum(t, retain_last=1, grace_seconds=0)
    assert report["expired_versions"] == 1 and report["deleted_files"] > 0

    from py4j.protocol import Py4JJavaError

    with pytest.raises(Py4JJavaError, match="(?i)file"):
        stale.count()  # files under its plan are gone -> hard error


def test_bloom_index_point_lookup_prunes_and_stays_exact(spark, orders, tmp_path):
    """Per-file bloom index: clustered writes + add_bloom_index turn
    an equality lookup into a 1-2 file read; results stay exact, an
    absent key reads ZERO files, and the index rides the manifest —
    no data file is touched by the index commit."""
    t = _tbl(tmp_path)
    clustered = orders.repartitionByRange(8, "o_custkey")
    v1 = st.create_table(clustered, t, [])
    v2 = st.add_bloom_index(spark, t, "o_custkey")
    assert v2 == v1 + 1
    m1, m2 = st._read_manifest(t, v1), st._read_manifest(t, v2)
    assert m2["files"] == m1["files"]  # metadata-only commit
    assert all("bloom" in m2["file_stats"][f] for f in m2["files"])

    key = int(orders.agg(F.min("o_custkey")).collect()[0][0])
    kept = st._prune_files(t, m2, [("o_custkey", "=", key)])
    # range-clustered: the key lives in one file (bloom may admit a
    # false-positive neighbor, never more)
    assert 1 <= len(kept) <= 2, kept
    expected = sorted(
        r.o_orderkey
        for r in orders.filter(F.col("o_custkey") == key).collect()
    )
    got = sorted(
        r.o_orderkey
        for r in st.scan(spark, t, [("o_custkey", "=", key)]).collect()
    )
    assert got == expected

    assert st._prune_files(t, m2, [("o_custkey", "=", -1)]) == []
    assert st.scan(spark, t, [("o_custkey", "=", -1)]).count() == 0


def test_bloom_index_unindexed_new_files_never_pruned(spark, orders, tmp_path):
    """Files appended AFTER indexing carry no bloom and must always
    be scanned — the index can go stale, never wrong. Re-indexing
    covers the new file again."""
    t = _tbl(tmp_path)
    st.create_table(orders.filter(F.col("o_orderkey") % 2 == 0), t, [])
    st.add_bloom_index(spark, t, "o_orderkey")
    odd = orders.filter(F.col("o_orderkey") % 2 == 1)
    st.append(odd.coalesce(1), t)
    odd_key = int(odd.agg(F.min("o_orderkey")).collect()[0][0])

    head = st._read_manifest(t, st.current_version(t))
    kept = st._prune_files(t, head, [("o_orderkey", "=", odd_key)])
    new_files = [f for f in head["files"] if "bloom" not in head["file_stats"][f]]
    assert new_files and set(new_files) <= set(kept)
    assert st.scan(spark, t, [("o_orderkey", "=", odd_key)]).count() == 1

    st.add_bloom_index(spark, t, "o_orderkey")
    head2 = st._read_manifest(t, st.current_version(t))
    assert all("bloom" in head2["file_stats"][f] for f in head2["files"])
    assert st.scan(spark, t, [("o_orderkey", "=", odd_key)]).count() == 1


def test_partition_evolution_mixed_layouts(spark, orders, tmp_path):
    """evolve_partitioning is metadata-only: old files stay in their
    old hive layout and new appends land under the new one; reads,
    time travel, and per-file pruning work across the mix (each file
    prunes under the spec its own path encodes)."""
    t = _tbl(tmp_path)
    half_a = orders.filter(F.col("o_orderkey") % 2 == 0)
    half_b = orders.filter(F.col("o_orderkey") % 2 == 1)
    v1 = st.create_table(half_a, t, ["o_orderstatus"])
    v2 = st.evolve_partitioning(t, ["o_orderpriority"])
    assert v2 == v1 + 1
    m2 = st._read_manifest(t, v2)
    assert m2["files"] == st._read_manifest(t, v1)["files"]  # no rewrite
    v3 = st.append(half_b, t)

    # totals and schema hold across the layout mix
    total = orders.count()
    assert st.read_snapshot(spark, t).count() == total
    assert st.read_snapshot(spark, t, version=v1).count() == half_a.count()

    head = st._read_manifest(t, v3)
    old_files = [f for f in head["files"] if st._file_spec(f) == ("o_orderstatus",)]
    new_files = [f for f in head["files"] if st._file_spec(f) == ("o_orderpriority",)]
    assert old_files and new_files

    # old-spec files still prune on THEIR path column...
    kept = st._prune_files(t, head, [("o_orderstatus", "=", "F")])
    assert all(
        st._path_values(f).get("o_orderstatus") in (None, "F") for f in kept
    )
    assert len(kept) < len(head["files"])
    # ...and new-spec files prune on the new one
    some_prio = st._path_values(new_files[0])["o_orderpriority"]
    kept2 = st._prune_files(t, head, [("o_orderpriority", "=", some_prio)])
    assert all(
        st._path_values(f).get("o_orderpriority") in (None, some_prio)
        for f in kept2
    )

    # filter results stay exact through the pruned mixed-layout scan
    for col, val in (("o_orderstatus", "F"), ("o_orderpriority", some_prio)):
        got = st.scan(spark, t, [(col, "=", val)]).count()
        assert got == orders.filter(F.col(col) == val).count(), col


def test_partition_evolution_overwrite_requires_migration(spark, orders, tmp_path):
    """Dynamic partition overwrite on a mixed-spec table must refuse
    (an old-spec file can't be matched to the overwritten partitions
    from metadata) until optimize() migrates the layout — after which
    the overwrite works with its usual carry-over semantics."""
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    st.evolve_partitioning(t, ["o_orderpriority"])
    batch = orders.filter(F.col("o_orderpriority") == "1-URGENT").limit(10)
    with pytest.raises(ValueError, match="older partition spec"):
        st.overwrite_partitions(batch, t)

    st.optimize(spark, t, files_per_partition=1)
    head = st._read_manifest(t, st.current_version(t))
    assert all(
        st._file_spec(f) == ("o_orderpriority",) for f in head["files"]
    )
    st.overwrite_partitions(batch, t)
    final = st.read_snapshot(spark, t)
    assert final.filter(F.col("o_orderpriority") == "1-URGENT").count() == 10
    untouched = orders.filter(F.col("o_orderpriority") != "1-URGENT").count()
    assert final.filter(F.col("o_orderpriority") != "1-URGENT").count() == untouched


def test_shallow_clone_zero_copy_and_independent_evolution(spark, orders, tmp_path):
    """clone_table copies metadata only; the clone reads the source's
    files in place, then appends/optimizes/vacuums independently —
    and vacuuming the clone never deletes source data."""
    src_t = str(tmp_path / "src_orders")
    dst_t = str(tmp_path / "clone_orders")
    st.create_table(orders, src_t, ["o_orderstatus"])
    v = st.clone_table(src_t, dst_t)
    assert v == 1

    n = orders.count()
    # zero copy: the clone's own data tree is empty
    assert st._list_data_files(dst_t) == set()
    assert st.read_snapshot(spark, dst_t).count() == n
    # partition pruning works on borrowed absolute-path files
    kept = st._prune_files(
        dst_t, st._read_manifest(dst_t, 1), [("o_orderstatus", "=", "F")]
    )
    assert kept and len(kept) < len(st._read_manifest(dst_t, 1)["files"])
    f_count = orders.filter(F.col("o_orderstatus") == "F").count()
    assert st.scan(spark, dst_t, [("o_orderstatus", "=", "F")]).count() == f_count

    # clone evolves independently of the source...
    st.append(orders.limit(50), dst_t)
    assert st.read_snapshot(spark, dst_t).count() == n + 50
    assert st.read_snapshot(spark, src_t).count() == n
    # ...and vacuuming the clone reclaims nothing it doesn't own
    src_files_before = st._list_data_files(src_t)
    res = st.vacuum(dst_t, retain_last=1, grace_seconds=0)
    assert res["deleted_files"] == 0
    assert st._list_data_files(src_t) == src_files_before
    assert st.read_snapshot(spark, dst_t).count() == n + 50

    # OPTIMIZE migrates the clone onto its own storage entirely
    st.optimize(spark, dst_t, files_per_partition=1)
    head = st._read_manifest(dst_t, st.current_version(dst_t))
    assert all(not os.path.isabs(f) for f in head["files"])
    assert st.read_snapshot(spark, dst_t).count() == n + 50


def test_clone_bloom_index_on_borrowed_files(spark, orders, tmp_path):
    """add_bloom_index on a shallow clone maps input files back to
    the absolute manifest entries of the borrowed source files."""
    src_t = str(tmp_path / "src_orders")
    dst_t = str(tmp_path / "clone_orders")
    st.create_table(orders.repartitionByRange(4, "o_custkey"), src_t, [])
    st.clone_table(src_t, dst_t)
    st.add_bloom_index(spark, dst_t, "o_custkey")
    head = st._read_manifest(dst_t, st.current_version(dst_t))
    assert all("bloom" in head["file_stats"][f] for f in head["files"])
    assert st._prune_files(dst_t, head, [("o_custkey", "=", -1)]) == []
    key = int(orders.agg(F.min("o_custkey")).collect()[0][0])
    expected = orders.filter(F.col("o_custkey") == key).count()
    assert st.scan(spark, dst_t, [("o_custkey", "=", key)]).count() == expected


def test_hidden_partitioning_days_transform(spark, sf_dir, tmp_path):
    """Iceberg-style hidden partitioning: partition spec days(ts)
    lays files out by derived day directories that readers never see
    as a column, and RANGE filters on the source ts column prune
    whole day directories through the transform."""
    import datetime

    ev = read_fixture(spark, sf_dir, "events")
    t = str(tmp_path / "hp_events")
    st.create_table(ev, t, ["days(ts)"])
    m = st._read_manifest(t, 1)
    assert all("ts_day=" in f for f in m["files"])

    df = st.read_snapshot(spark, t)
    assert df.columns == ev.columns  # derived column stays hidden
    assert df.count() == ev.count()

    b = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    mid = b.lo + (b.hi - b.lo) / 2
    lo = datetime.datetime(mid.year, mid.month, mid.day)
    # ts footer bounds prune on their own: strip them from a copy of
    # the manifest so only the days() transform can prune the probes
    phys = (m.get("column_mapping") or {}).get("ts", "ts")
    assert all(phys in fs["min"] for fs in m["file_stats"].values())
    m_path = copy.deepcopy(m)
    for fstat in m_path["file_stats"].values():
        fstat["min"].pop(phys, None)
        fstat["max"].pop(phys, None)
    kept = st._prune_files(t, m_path, [("ts", ">=", lo)])
    assert 0 < len(kept) < len(m["files"])
    got = st.scan(spark, t, [("ts", ">=", lo)]).count()
    assert got == ev.filter(F.col("ts") >= F.lit(lo)).count()
    # equality on a single day keeps exactly that day's files
    day = lo.strftime("%Y-%m-%d")
    kept_eq = st._prune_files(t, m_path, [("ts", "=", lo)])
    assert kept_eq and all(f"ts_day={day}" in f for f in kept_eq)
    # with the bounds, pruning stays sound for a ts no row holds
    assert st.scan(spark, t, [("ts", "=", lo)]).count() == (
        ev.filter(F.col("ts") == F.lit(lo)).count()
    )


def test_hidden_partitioning_bucket_transform(spark, orders, tmp_path):
    """bucket(N, col): equality lookups on the source column open
    exactly one bucket directory; the bucket function is the hash60
    md5 family, so the Python probe and the write layout agree by
    construction. Dynamic partition overwrite works on the DERIVED
    spec (the batch's buckets are replaced, others carry)."""
    t = str(tmp_path / "hp_orders")
    st.create_table(orders, t, ["bucket(8,o_custkey)"])
    m = st._read_manifest(t, 1)
    n_dirs = len({st._path_values(f)["o_custkey_bucket"] for f in m["files"]})
    assert n_dirs == 8

    key = int(orders.agg(F.min("o_custkey")).collect()[0][0])
    kept = st._prune_files(t, m, [("o_custkey", "=", key)])
    assert len({st._path_values(f)["o_custkey_bucket"] for f in kept}) == 1
    assert (
        st.scan(spark, t, [("o_custkey", "=", key)]).count()
        == orders.filter(F.col("o_custkey") == key).count()
    )
    # non-equality filters never prune on a bucket (no order)
    assert len(st._prune_files(t, m, [("o_custkey", ">", key)])) == len(
        m["files"]
    )

    # overwrite by derived partition: replace one customer's bucket
    batch = orders.filter(F.col("o_custkey") == key).withColumn(
        "o_totalprice", F.lit(0.0)
    )
    st.overwrite_partitions(batch, t)
    snap = st.read_snapshot(spark, t)
    assert snap.filter(F.col("o_custkey") == key).count() == batch.count()
    # rows of OTHER customers in the replaced bucket are gone (that
    # is overwrite-by-partition semantics); other buckets carry over
    bucket = st._bucket_of(key, 8)
    assert snap.count() == orders.count() - _bucket_member_count(
        spark, orders, 8, bucket
    ) + batch.count()


def _bucket_member_count(spark, orders, n, bucket):
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.functions.hashing import (
        hash60,
    )

    return orders.filter(
        (hash60(F.col("o_custkey").cast("string")) % n) == bucket
    ).count()


def test_timestamp_as_of_time_travel(spark, orders, tmp_path):
    """TIMESTAMP AS OF: a timestamp between two commits resolves to
    the earlier one; before the first retained commit it errors
    (Delta's earliest-version contract), and after retention expiry
    the earliest RETAINED commit becomes the floor."""
    import json as _json

    t = _tbl(tmp_path)
    st.create_table(orders.limit(100), t, [])
    st.append(orders.limit(50), t)
    st.append(orders.limit(25), t)
    # pin distinct commit times (manifests are the source of truth)
    for v, ts in ((1, 1000.0), (2, 2000.0), (3, 3000.0)):
        path = st._manifest_path(t, v)
        m = _json.load(open(path))
        m["committed_at"] = ts
        os.unlink(path)
        with open(path, "w") as fh:
            _json.dump(m, fh)

    assert st.version_as_of(t, 2999.0) == 2
    assert st.version_as_of(t, 3000.0) == 3
    assert st.read_snapshot(spark, t, as_of=1500.0).count() == 100
    assert st.read_snapshot(spark, t, as_of=2500.0).count() == 150
    with pytest.raises(ValueError, match="at or before"):
        st.version_as_of(t, 999.0)
    with pytest.raises(ValueError, match="at most one of"):
        st.read_snapshot(spark, t, version=1, as_of=1500.0)

    st.vacuum(t, retain_last=1, grace_seconds=0)
    with pytest.raises(ValueError, match="earliest retained: v3"):
        st.version_as_of(t, 2500.0)


def test_in_list_filter_prunes_through_stats_bloom_and_partitions(
    spark, orders, tmp_path
):
    """("col", "in", [v1, v2]) prunes with every index the format
    has: footer min/max keep a file iff ANY value fits its range,
    the bloom keeps it iff ANY value is admitted, hive/bucket
    directories keep it iff ANY value maps there — and the residual
    filter makes results exact either way."""
    t = _tbl(tmp_path)
    st.create_table(orders.repartitionByRange(8, "o_custkey"), t, [])
    st.add_bloom_index(spark, t, "o_custkey")
    keys = [
        int(r.o_custkey)
        for r in orders.select(F.min("o_custkey").alias("o_custkey")).union(
            orders.select(F.max("o_custkey"))
        ).collect()
    ]
    m = st._read_manifest(t, st.current_version(t))
    kept = st._prune_files(t, m, [("o_custkey", "in", keys)])
    assert 2 <= len(kept) <= 4  # min-file + max-file (+bloom FPs)
    expected = orders.filter(F.col("o_custkey").isin(keys)).count()
    assert st.scan(spark, t, [("o_custkey", "in", keys)]).count() == expected
    assert st._prune_files(t, m, [("o_custkey", "in", [-1, -2])]) == []

    # bucket layout: the IN-list opens only the values' buckets
    t2 = str(tmp_path / "hp_in")
    st.create_table(orders, t2, ["bucket(8,o_custkey)"])
    m2 = st._read_manifest(t2, 1)
    kept2 = st._prune_files(t2, m2, [("o_custkey", "in", keys)])
    want = {str(st._bucket_of(k, 8)) for k in keys}
    assert {st._path_values(f)["o_custkey_bucket"] for f in kept2} <= want
    assert st.scan(spark, t2, [("o_custkey", "in", keys)]).count() == expected


def test_nullcount_stats_prune_isnull_notnull(spark, tmp_path):
    """Delta nullCount skipping: IS NULL skips files with zero
    nulls, IS NOT NULL skips all-null files; residual filters keep
    results exact."""
    t = _tbl(tmp_path)
    rows = (
        [(i, "none", float(i)) for i in range(50)]
        + [(100 + i, "some", None if i % 2 else float(i)) for i in range(50)]
        + [(200 + i, "all", None) for i in range(50)]
    )
    df = spark.createDataFrame(rows, "id long, grp string, v double")
    st.create_table(df.coalesce(1), t, ["grp"])  # one file per group
    m = st._read_manifest(t, 1)
    by_grp = {st._path_values(f)["grp"]: f for f in m["files"]}
    stats = m["file_stats"]
    assert stats[by_grp["none"]]["nulls"]["v"] == 0
    assert stats[by_grp["some"]]["nulls"]["v"] == 25
    assert stats[by_grp["all"]]["nulls"]["v"] == 50

    kept_null = st._prune_files(t, m, [("v", "isnull", None)])
    assert by_grp["none"] not in kept_null and by_grp["some"] in kept_null
    kept_notnull = st._prune_files(t, m, [("v", "notnull", None)])
    assert by_grp["all"] not in kept_notnull

    assert st.scan(spark, t, [("v", "isnull", None)]).count() == 75
    assert st.scan(spark, t, [("v", "notnull", None)]).count() == 75
    # composable with other conjuncts
    assert (
        st.scan(spark, t, [("v", "notnull", None), ("id", "<", 100)]).count()
        == 50
    )


def test_full_lifecycle_composition(spark, orders, tmp_path):
    """Cross-feature interaction audit: every mutation/maintenance
    feature applied in sequence against a logical model of the table
    — catching interactions no single-feature test sees (DML on
    mixed partition specs, bloom after evolution, clone of an
    evolved table, rollback across an index commit)."""
    t = _tbl(tmp_path)
    n0 = orders.count()

    # 1. create (identity spec) + append
    st.create_table(orders, t, ["o_orderstatus"])
    extra = orders.limit(200).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10_000_000
    )
    st.append(extra, t)
    assert st.read_snapshot(spark, t).count() == n0 + 200

    # 2. evolve to a bucket spec; append lands in the NEW layout
    st.evolve_partitioning(t, ["bucket(4,o_custkey)"])
    extra2 = orders.limit(100).withColumn(
        "o_orderkey", F.col("o_orderkey") + 20_000_000
    )
    st.append(extra2, t)
    assert st.read_snapshot(spark, t).count() == n0 + 300

    # 3. DML across MIXED specs: delete every appended row
    st.delete_where(spark, t, [("o_orderkey", ">=", 10_000_000)])
    assert st.read_snapshot(spark, t).count() == n0
    assert (
        st.read_snapshot(spark, t)
        .filter(F.col("o_orderkey") >= 10_000_000)
        .count()
        == 0
    )

    # 4. bloom on the mixed table, then a pruned exact lookup
    st.add_bloom_index(spark, t, "o_orderkey")
    key = int(orders.agg(F.min("o_orderkey")).collect()[0][0])
    assert (
        st.scan(spark, t, [("o_orderkey", "=", key)]).count()
        == orders.filter(F.col("o_orderkey") == key).count()
    )

    # 5. shallow-clone the evolved+indexed table; clone reads equal
    clone = str(tmp_path / "lifecycle_clone")
    st.clone_table(t, clone)
    assert st.read_snapshot(spark, clone).count() == n0

    # 6. optimize migrates everything onto the current bucket spec,
    #    enabling dynamic partition overwrite again
    st.optimize(spark, t, files_per_partition=1)
    head = st._read_manifest(t, st.current_version(t))
    assert all(
        st._file_spec(f) == ("o_custkey_bucket",) for f in head["files"]
    )
    batch = orders.filter(F.col("o_custkey") == key).withColumn(
        "o_totalprice", F.lit(1.0)
    )
    v_before_ow = st.current_version(t)
    st.overwrite_partitions(batch, t)
    snap = st.read_snapshot(spark, t)
    assert snap.filter(F.col("o_custkey") == key).count() == batch.count()

    # 7. rollback across the overwrite, then vacuum with retention.
    #    The source survives; the clone — which borrows the source's
    #    PRE-optimize files that no retained source manifest
    #    references anymore — must now fail LOUDLY at plan time, the
    #    exact shallow-clone hazard Delta documents (never a silent
    #    partial read).
    st.rollback(t, v_before_ow)
    assert st.read_snapshot(spark, t).count() == n0
    assert st.read_snapshot(spark, clone).count() == n0  # still fine
    st.vacuum(t, retain_last=2, grace_seconds=0)
    assert st.read_snapshot(spark, t).count() == n0
    from pyspark.errors.exceptions.captured import AnalysisException

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        st.read_snapshot(spark, clone).count()


def _joins_over(plan, leaf: str) -> list[tuple[str, set[str]]]:
    """(join node name, node names of the join side holding ``leaf``)
    for every join in a physical plan with ``leaf`` below one side.
    Walks through AQE wrappers and query stages to the final plan."""

    def kids(node):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            return [node.executedPlan()]
        if "QueryStage" in name:
            return [node.plan()]
        if name == "ReusedExchange":
            return [node.child()]
        cs = node.children()
        return [cs.apply(i) for i in range(cs.size())]

    def names(node) -> set[str]:
        out = {node.nodeName()}
        for c in kids(node):
            out |= names(c)
        return out

    found = []

    def walk(node):
        cs = kids(node)
        if "Join" in node.nodeName():
            for c in cs:
                side = names(c)
                if leaf in side:
                    found.append((node.nodeName(), side))
        for c in cs:
            walk(c)

    walk(plan)
    return found


def test_deletion_vector_executor_decode_above_threshold(
    spark, orders, tmp_path, monkeypatch
):
    """Inflated-DV regime (r15, VERDICT r14 item 6): a sidecar whose
    position count exceeds DV_DRIVER_DECODE_MAX must resolve to a
    LAZY ref, decode in EXECUTORS (mapInArrow over the ref list,
    no broadcast), and produce exactly the same snapshot as the
    driver-side LocalRelation path. The threshold is monkeypatched
    low so the fixture-scale delete exercises the scale path."""
    t = _tbl(tmp_path)
    st.create_table(orders, t, [])
    n0 = orders.count()
    med = orders.approxQuantile("o_totalprice", [0.5], 0.0)[0]
    n_del = orders.filter(F.col("o_totalprice") > med).count()
    assert n_del > st.DV_INLINE_MAX  # must land in a .dvb sidecar

    st.delete_where(spark, t, [("o_totalprice", ">", float(med))], use_dv=True)
    expect = {
        r.o_orderkey
        for r in orders.filter(F.col("o_totalprice") <= med)
        .select("o_orderkey")
        .collect()
    }

    # baseline: driver-side decode (threshold far above the vector)
    base = {
        r.o_orderkey
        for r in st.read_snapshot(spark, t).select("o_orderkey").collect()
    }
    assert base == expect

    monkeypatch.setattr(st, "DV_DRIVER_DECODE_MAX", 16)
    m = st._read_manifest(t, st.current_version(t))
    lazies = [
        ps
        for ps in m["deletion_vectors"].values()
        if isinstance(ps, st._LazyDVPositions)
    ]
    assert lazies and sum(len(ps) for ps in lazies) >= n_del - st.DV_INLINE_MAX

    # conf matrix: the DV side must stay shuffled whether or not
    # auto-broadcast is enabled (session default 64MB, then disabled)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prior = spark.conf.get(key)
    for threshold in (prior, "-1"):
        spark.conf.set(key, threshold)
        try:
            snap = st.read_snapshot(spark, t).select("o_orderkey")
            got = {r.o_orderkey for r in snap.collect()}
            dv_joins = _joins_over(
                snap._jdf.queryExecution().executedPlan(), "MapInArrow"
            )
        finally:
            spark.conf.set(key, prior)
        assert got == expect
        # executor decode is actually planned, and never broadcast
        assert dv_joins, threshold
        for join, side in dv_joins:
            assert join != "BroadcastHashJoin", (threshold, join)
            assert not {"BroadcastExchange", "BroadcastQueryStage"} & side, (
                threshold,
                side,
            )

    # metadata COUNT and CDF set-diffs decode the lazy ref on demand
    assert st.table_stats(t)["rows"] == n0 - n_del
    feed = st.changes(spark, t, from_version=1)
    assert feed.filter(F.col("_change_type") == "delete").count() == n_del


def test_commit_carries_lazy_dv_without_decoding(
    spark, orders, tmp_path, monkeypatch
):
    """A commit that leaves a lazily-resolved deletion vector alone
    must not decode its sidecar on the driver: the unchanged ref passes
    through _commit unsorted and the parent's stored ``{"$dv": ...}``
    entry is reused verbatim — also when the commit loses a publish
    race and rebases (_try_rebase compares vectors by reference), and
    when changes() plans and reads a range over it."""
    t = _tbl(tmp_path)
    st.create_table(orders, t, [])
    med = orders.approxQuantile("o_totalprice", [0.5], 0.0)[0]
    st.delete_where(spark, t, [("o_totalprice", ">", float(med))], use_dv=True)
    monkeypatch.setattr(st, "DV_DRIVER_DECODE_MAX", 16)
    m = st._read_manifest(t, st.current_version(t))
    assert any(
        isinstance(ps, st._LazyDVPositions)
        for ps in m["deletion_vectors"].values()
    )
    decodes = []
    real = st._decode_dv_binary
    monkeypatch.setattr(
        st, "_decode_dv_binary", lambda data: decodes.append(1) or real(data)
    )

    def rebased_append():
        # a winner publishes the version this append computed against
        # first, so the append rebases onto it
        fired = []

        def race(table, version, manifest):
            if not fired:
                fired.append(version)
                st.append(orders.limit(2), t)

        st.pre_publish_hook = race
        try:
            v = st.append(orders.limit(3), t)
        finally:
            st.pre_publish_hook = None
        assert v == fired[0] + 1
        assert st._raw_manifest(t, v)["rebased_from"] == fired[0] - 1
        return v

    def changes_over_append():
        head = st.current_version(t)
        assert st.changes(spark, t, head - 2).count() == 5
        return head

    ops = {
        "append": lambda: st.append(orders.limit(5), t),
        "set_table_properties": lambda: st.set_table_properties(t, {"k": "v"}),
        "add_constraint": lambda: st.add_constraint(
            spark, t, "pk", "o_orderkey >= 0"
        ),
        "rebased_append": rebased_append,
        "changes": changes_over_append,
    }
    for name, op in ops.items():
        raw_before = st._raw_manifest(t, st.current_version(t))[
            "deletion_vectors"
        ]
        st._load_dv_sidecar.cache_clear()
        decodes.clear()
        v = op()
        assert decodes == [], name
        assert st._raw_manifest(t, v)["deletion_vectors"] == raw_before, name


@pytest.fixture(scope="module")
def carry_table(spark, tmp_path_factory):
    """A table exercising every piece of carried manifest state: a
    sidecar DV and an inline DV, a CHECK constraint, a renamed (mapped)
    column, a generated column, row tracking and a table property."""
    t = str(tmp_path_factory.mktemp("carry") / "t")
    df = spark.createDataFrame(
        [(i, "a" if i < 100 else "b", i % 7, i, i * 1.5, f"n{i}") for i in range(200)],
        "id long, part string, qty int, w int, price double, note string",
    ).coalesce(1)
    st.create_table(
        df, t, ["part"], constraints={"pos": "qty >= 0"}, generated={"dbl": "qty * 2"}
    )
    st.rename_column(t, "note", "memo")
    st.enable_row_tracking(t)
    st.set_table_properties(t, {"owner": "x"})
    st.delete_where(spark, t, [("id", "<", 70)], use_dv=True)  # sidecar
    st.delete_where(spark, t, [("id", ">=", 197)], use_dv=True)  # inline
    raw = st._raw_manifest(t, st.current_version(t))["deletion_vectors"]
    assert sorted(type(v).__name__ for v in raw.values()) == ["dict", "list"]
    return t


#: every metadata-only operation -> (call, manifest fields it documents
#: changing); every other field must equal the parent's
_METADATA_OPS = {
    "set_table_properties": (
        lambda spark, t: st.set_table_properties(t, {"k2": "v"}),
        {"properties"},
    ),
    "unset_table_properties": (
        lambda spark, t: st.unset_table_properties(t, ["owner"]),
        {"properties"},
    ),
    "add_constraint": (
        lambda spark, t: st.add_constraint(spark, t, "ids", "id >= 0"),
        {"constraints"},
    ),
    "drop_constraint": (
        lambda spark, t: st.drop_constraint(t, "pos"),
        {"constraints"},
    ),
    "analyze_table": (
        lambda spark, t: st.analyze_table(spark, t, ["id"]),
        {"table_stats"},
    ),
    "add_bloom_index": (
        lambda spark, t: st.add_bloom_index(spark, t, "id"),
        {"file_stats"},
    ),
    "evolve_partitioning": (
        lambda spark, t: st.evolve_partitioning(t, []),
        {"partition_cols"},
    ),
    "add_columns": (
        lambda spark, t: st.add_columns(t, [("extra", "int")]),
        {"schema"},
    ),
    "rename_column": (
        lambda spark, t: st.rename_column(t, "price", "cost"),
        {"schema", "column_mapping"},
    ),
    "widen_column": (
        lambda spark, t: st.widen_column(t, "w", "long"),
        {"schema", "reader_features", "writer_features"},
    ),
    "drop_column": (
        lambda spark, t: st.drop_column(t, "price"),
        {"schema", "retired_columns"},
    ),
    "enable_identity": (
        lambda spark, t: st.enable_identity(t, "sk"),
        {"identity", "reader_features", "writer_features"},
    ),
}

#: per-commit bookkeeping that differs on every commit by design
_COMMIT_KEYS = {"version", "parent", "operation", "committed_at", "metrics"}


@pytest.mark.parametrize("op", sorted(_METADATA_OPS))
def test_commit_carries_parent_state(spark, carry_table, tmp_path, op):
    """The commit contract: a metadata-only operation changes exactly
    the manifest fields it documents; every other field (files, stats,
    DVs in stored form, constraints, mapping, generated columns, row
    tracking, properties, features) is the parent's."""
    import shutil

    t = str(tmp_path / "t")
    shutil.copytree(carry_table, t)
    head = st.current_version(t)
    call, changes = _METADATA_OPS[op]
    v = call(spark, t)
    assert v == head + 1
    before, after = st._read_manifest(t, head), st._read_manifest(t, v)
    for key in (set(before) | set(after)) - _COMMIT_KEYS - changes:
        assert after.get(key) == before.get(key), key
    for key in changes:
        assert after.get(key) != before.get(key), key
    raw_dvs = [st._raw_manifest(t, x)["deletion_vectors"] for x in (head, v)]
    assert raw_dvs[1] == raw_dvs[0]


def test_commit_restricts_state_to_committed_files(spark, carry_table, tmp_path):
    """Rewrites never leave a deletion vector or a stats entry naming a
    file the committed list no longer holds."""
    import shutil

    t = str(tmp_path / "t")
    shutil.copytree(carry_table, t)
    cols = "id long, part string, qty int, w int, price double, memo string"
    batch = spark.createDataFrame([(500, "a", 1, 1, 1.0, "x")], cols)
    ops = [
        lambda: st.overwrite_partitions(batch, t),
        lambda: st.replace_where(
            spark,
            spark.createDataFrame([(600, "b", 2, 2, 2.0, "y")], cols),
            t,
            [("part", "=", "b"), ("id", ">=", 150)],
        ),
        lambda: st.delete_where(spark, t, [("id", "=", 120)]),
        lambda: st.optimize(spark, t, partitions={"part": "a"}),
    ]
    for op in ops:
        v = op()
        m = st._read_manifest(t, v)
        live = set(m["files"])
        assert set(m["deletion_vectors"]) <= live, m["operation"]
        assert set(m["file_stats"]) <= live, m["operation"]


def test_deletion_vectors_merge_on_read(spark, orders, tmp_path):
    """use_dv=True deletes touch NO data file: the commit records row
    positions, readers anti-join them out via the parquet row index,
    time travel still sees the rows, metadata COUNT subtracts them,
    re-running the same delete is a metadata no-op, and OPTIMIZE
    materializes the vectors back into clean files."""
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    files_v1 = set(st._read_manifest(t, 1)["files"])
    n0 = orders.count()
    n_del = orders.filter(F.col("o_totalprice") > 400000.0).count()
    assert 0 < n_del < 1000  # selective at fixture scale

    v2 = st.delete_where(
        spark, t, [("o_totalprice", ">", 400000.0)], use_dv=True
    )
    m2 = st._read_manifest(t, v2)
    assert m2["operation"] == "delete_dv"
    assert set(m2["files"]) == files_v1  # no file touched
    assert sum(len(ps) for ps in m2["deletion_vectors"].values()) == n_del

    snap = st.read_snapshot(spark, t)
    assert snap.count() == n0 - n_del
    assert snap.filter(F.col("o_totalprice") > 400000.0).count() == 0
    # scan path applies DVs too, composed with pruning + residuals
    assert st.scan(spark, t, [("o_totalprice", ">", 300000.0)]).count() == (
        orders.filter(
            (F.col("o_totalprice") > 300000.0)
            & (F.col("o_totalprice") <= 400000.0)
        ).count()
    )
    # time travel: v1 still sees everything
    assert st.read_snapshot(spark, t, version=1).count() == n0
    # metadata-only COUNT subtracts the vectors
    assert st.table_stats(t)["rows"] == n0 - n_del
    # idempotent: same predicate again deletes nothing new
    assert st.delete_where(
        spark, t, [("o_totalprice", ">", 400000.0)], use_dv=True
    ) == v2

    # a rewrite-mode delete on the DV'd table must not resurrect rows
    st.delete_where(spark, t, [("o_orderstatus", "=", "P")])
    after = st.read_snapshot(spark, t)
    assert after.filter(F.col("o_totalprice") > 400000.0).count() == 0
    expect = orders.filter(
        (F.col("o_totalprice") <= 400000.0) & (F.col("o_orderstatus") != "P")
    ).count()
    assert after.count() == expect

    # OPTIMIZE materializes: fresh files, no vectors, same contents
    st.optimize(spark, t, files_per_partition=1)
    mh = st._read_manifest(t, st.current_version(t))
    assert mh["deletion_vectors"] == {}
    assert st.read_snapshot(spark, t).count() == expect


def test_deletion_vectors_change_feed_and_clone(spark, orders, tmp_path):
    """CDF: a delete_dv commit emits EXACTLY the newly-deleted rows
    as deletes (net-effect identity holds), and a shallow clone
    carries the source's vectors with its borrowed files."""
    t = _tbl(tmp_path)
    st.create_table(orders, t, [])
    key = int(orders.agg(F.min("o_orderkey")).collect()[0][0])
    st.delete_where(spark, t, [("o_orderkey", "=", key)], use_dv=True)

    feed = st.changes(spark, t, from_version=1).collect()
    assert len(feed) == 1
    assert feed[0]._change_type == "delete"
    assert feed[0].o_orderkey == key
    assert feed[0]._commit_version == 2

    # net effect: state(head) == state(v1) - deletes + inserts
    n_now = st.read_snapshot(spark, t).count()
    assert n_now == orders.count() - 1

    clone = str(tmp_path / "dv_clone")
    st.clone_table(t, clone)
    csnap = st.read_snapshot(spark, clone)
    assert csnap.count() == n_now
    assert csnap.filter(F.col("o_orderkey") == key).count() == 0


def test_deletion_vector_update(spark, orders, tmp_path):
    """use_dv=True UPDATE: old matching rows are position-deleted in
    place, updated rows append as new files — original files
    untouched, visible state identical to a rewrite UPDATE, and the
    CDF shows the delete+insert pair."""
    t = _tbl(tmp_path)
    st.create_table(orders, t, [])
    files_v1 = set(st._read_manifest(t, 1)["files"])
    key = int(orders.agg(F.min("o_orderkey")).collect()[0][0])

    v2 = st.update_where(
        spark,
        t,
        [("o_orderkey", "=", key)],
        {"o_totalprice": "o_totalprice * 0 + 123.5"},
        use_dv=True,
    )
    m2 = st._read_manifest(t, v2)
    assert m2["operation"] == "update_dv"
    assert files_v1 < set(m2["files"])  # originals untouched, new appended
    assert sum(len(ps) for ps in m2["deletion_vectors"].values()) == 1

    snap = st.read_snapshot(spark, t)
    assert snap.count() == orders.count()
    got = snap.filter(F.col("o_orderkey") == key).collect()
    assert len(got) == 1 and got[0].o_totalprice == 123.5

    feed = st.changes(spark, t, from_version=1).collect()
    kinds = sorted((r._change_type, r.o_orderkey) for r in feed)
    assert kinds == [("delete", key), ("insert", key)]


def test_deletion_vectors_compose_with_hidden_partitioning(spark, sf_dir, tmp_path):
    """DV delete on a days(ts)-partitioned table: candidate files are
    found through the transform pruning, positions recorded per
    hidden-layout file, and a later ts-range scan composes directory
    pruning with the vector anti-join."""
    import datetime

    ev = read_fixture(spark, sf_dir, "events")
    t = str(tmp_path / "hp_dv_events")
    st.create_table(ev, t, ["days(ts)"])

    b = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    mid = b.lo + (b.hi - b.lo) / 2
    day0 = datetime.datetime(mid.year, mid.month, mid.day)
    day1 = day0 + datetime.timedelta(days=1)

    # DV-delete one full day
    st.delete_where(
        spark,
        t,
        [("ts", ">=", day0), ("ts", "<", day1)],
        use_dv=True,
    )
    m = st._read_manifest(t, st.current_version(t))
    day_str = day0.strftime("%Y-%m-%d")
    assert all(f"ts_day={day_str}" in f for f in m["deletion_vectors"])

    n_day = ev.filter(
        (F.col("ts") >= F.lit(day0)) & (F.col("ts") < F.lit(day1))
    ).count()
    assert n_day > 0
    assert st.read_snapshot(spark, t).count() == ev.count() - n_day
    # range scan across the deleted day: directory pruning + DV join
    got = st.scan(spark, t, [("ts", ">=", day0)]).count()
    assert got == ev.filter(F.col("ts") >= F.lit(day0)).count() - n_day


def test_transform_spec_name_collision_rejected(spark, orders, tmp_path):
    """A transform whose derived hive name collides with a real
    schema column is rejected at create and at evolve — silently
    partitioning by the user's column would corrupt pruning."""
    t = _tbl(tmp_path)
    clash = orders.withColumn("ts_day", F.lit("x")).withColumn(
        "ts", F.current_timestamp()
    )
    with pytest.raises(ValueError, match="collides"):
        st.create_table(clash, t, ["days(ts)"])
    st.create_table(clash, t, [])
    with pytest.raises(ValueError, match="collides"):
        st.evolve_partitioning(t, ["days(ts)"])
    with pytest.raises(ValueError, match="missing"):
        st.create_table(orders, str(tmp_path / "t2"), ["days(nope)"])


def test_row_index_is_file_scoped_across_row_groups(spark, tmp_path):
    """The deletion-vector design rests on ``_metadata.row_index``
    being the row's position WITHIN THE FILE — if it restarted per
    parquet row group, positions would collide on any multi-row-group
    file (the norm at scale) and DVs would delete the wrong rows.
    Force a many-row-group file and pin the contract."""
    import glob

    import pyarrow.parquet as pq

    d = str(tmp_path / "rg")
    df = spark.range(0, 50000).withColumn("payload", F.expr("repeat('x', 200)"))
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("parquet.block.size", 65536)
        .parquet(d)
    )
    f = glob.glob(d + "/*.parquet")[0]
    assert pq.ParquetFile(f).metadata.num_row_groups > 10
    r = spark.read.parquet(d).select(F.col("_metadata.row_index").alias("ri"))
    n = r.count()
    s = r.agg(
        F.min("ri").alias("lo"),
        F.max("ri").alias("hi"),
        F.count_distinct("ri").alias("k"),
    ).collect()[0]
    assert (s.lo, s.hi, s.k) == (0, n - 1, n)


def test_relative_table_path_dv_and_bloom(spark, orders, tmp_path):
    """A RELATIVE table path (possible via the CLI ``table --table``
    subcommand run from any cwd) must behave identically to the
    absolute spelling: _abs_uri resolves manifest entries to absolute
    file: URIs, so DV anti-joins still match Spark's absolute
    ``_metadata.file_path`` (deleted rows stay deleted — before the
    abspath fix they silently resurrected) and add_bloom_index still
    maps input files back to manifest entries (before the fix it
    committed empty bitmaps that pruned EVERY file, returning zero
    rows for any equality scan)."""
    t_abs = _tbl(tmp_path)
    t = os.path.relpath(t_abs)  # relative to the JVM/driver cwd
    assert not os.path.isabs(t)
    st.create_table(orders, t, ["o_orderstatus"])
    n0 = orders.count()
    n_del = orders.filter(F.col("o_totalprice") > 400000.0).count()
    assert n_del > 0

    v2 = st.delete_where(
        spark, t, [("o_totalprice", ">", 400000.0)], use_dv=True
    )
    assert st._read_manifest(t, v2)["operation"] == "delete_dv"
    snap = st.read_snapshot(spark, t)
    assert snap.count() == n0 - n_del
    assert snap.filter(F.col("o_totalprice") > 400000.0).count() == 0

    # OPTIMIZE on the relative path materializes the DVs, not the
    # deleted rows
    st.optimize(spark, t, files_per_partition=1)
    assert st.read_snapshot(spark, t).count() == n0 - n_del

    st.add_bloom_index(spark, t, "o_custkey")
    m = st._read_manifest(t, st.current_version(t))
    indexed = [
        s["bloom"]["o_custkey"]["pos"]
        for s in m["file_stats"].values()
        if "bloom" in s and "o_custkey" in s.get("bloom", {})
    ]
    assert indexed and any(pos for pos in indexed)  # non-empty bitmaps
    key = orders.filter(F.col("o_totalprice") <= 400000.0).first().o_custkey
    expect = orders.filter(
        (F.col("o_custkey") == key) & (F.col("o_totalprice") <= 400000.0)
    ).count()
    got = st.scan(spark, t, [("o_custkey", "=", int(key))]).count()
    assert got == expect and got > 0


def test_table_stats_omits_minmax_under_deletion_vectors(spark, orders, tmp_path):
    """After a DV delete removes a column's extreme rows, the footer
    min/max of DV-carrying files describe rows that no longer exist —
    table_stats must OMIT such columns (mirroring missing-stats
    behavior) rather than answer stale, while ``rows`` stays exact.
    OPTIMIZE materializes the DVs into fresh files, after which exact
    min/max come back reflecting the delete."""
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    s0 = st.table_stats(t)
    true_max0 = orders.agg(F.max("o_totalprice")).collect()[0][0]
    assert s0["max"]["o_totalprice"] == true_max0

    n0 = orders.count()
    n_del = orders.filter(F.col("o_totalprice") > 400000.0).count()
    st.delete_where(spark, t, [("o_totalprice", ">", 400000.0)], use_dv=True)
    s1 = st.table_stats(t)
    assert s1["rows"] == n0 - n_del  # exact under DVs
    # the max-carrying file now has a DV -> column omitted entirely
    assert "o_totalprice" not in s1["max"]
    assert "o_totalprice" not in s1["min"]

    st.optimize(spark, t, files_per_partition=1)
    s2 = st.table_stats(t)
    live_max = (
        orders.filter(F.col("o_totalprice") <= 400000.0)
        .agg(F.max("o_totalprice"))
        .collect()[0][0]
    )
    assert s2["rows"] == n0 - n_del
    assert s2["max"]["o_totalprice"] == live_max


def test_not_equal_pruning_and_filtering(spark, orders, tmp_path):
    """!= prunes exactly the degenerate cases it can prove: a file
    whose footer min == max == v (every row equals v) and a partition
    directory holding exactly v; everything else reads and the
    residual filter keeps results exact."""
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    m = st._read_manifest(t, 1)
    # partition-path pruning: status != 'F' must drop the F directory
    pruned = st._prune_files(t, m, [("o_orderstatus", "!=", "F")])
    assert pruned and all("o_orderstatus=F" not in f for f in pruned)
    got = st.scan(spark, t, [("o_orderstatus", "!=", "F")]).count()
    assert got == orders.filter(F.col("o_orderstatus") != "F").count()
    # constant-column file: min == max == v -> pruned by stats
    const = spark.createDataFrame(
        [(1, 7.0), (2, 7.0)], "id bigint, v double"
    ).coalesce(1)
    t2 = str(tmp_path / "const")
    st.create_table(const, t2, [])
    m2 = st._read_manifest(t2, 1)
    assert st._prune_files(t2, m2, [("v", "!=", 7.0)]) == []
    assert st.scan(spark, t2, [("v", "!=", 7.0)]).count() == 0


def test_scan_any_dnf_prunes_union_of_branches(spark, orders, tmp_path):
    """Disjunctive skipping: each branch prunes independently and the
    union is read; results equal the unpruned OR-of-ANDs filter
    exactly, and the file set is strictly smaller than the table when
    both branches are selective."""
    t = _tbl(tmp_path)
    st.create_table(
        orders.orderBy("o_totalprice").coalesce(8), t, []
    )
    st.optimize(spark, t, files_per_partition=8, cluster_by=["o_totalprice"])
    m = st._read_manifest(t, st.current_version(t))
    branches = [
        [("o_totalprice", "<", 5000.0), ("o_orderstatus", "=", "F")],
        [("o_totalprice", ">", 480000.0)],
    ]
    per_branch = [set(st._prune_files(t, m, b)) for b in branches]
    union = per_branch[0] | per_branch[1]
    assert len(union) < len(m["files"]), "both branches should prune"
    got = st.scan_any(spark, t, branches)
    expect = orders.filter(
        ((F.col("o_totalprice") < 5000.0) & (F.col("o_orderstatus") == "F"))
        | (F.col("o_totalprice") > 480000.0)
    )
    assert got.count() == expect.count()
    assert sorted(r.o_orderkey for r in got.collect()) == sorted(
        r.o_orderkey for r in expect.collect()
    )
    # a single-conjunct scan could only push the trivial common factor
    # (nothing) — DNF reads strictly fewer files than the full table
    with pytest.raises(ValueError):
        st.scan_any(spark, t, [])


def test_vacuum_dry_run_reports_without_deleting(spark, orders, tmp_path):
    """VACUUM DRY RUN: the report names exactly the files a real
    vacuum would delete (orphans + files only expired versions
    reference) while touching nothing — manifests, data files, and
    time travel all survive."""
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    st.overwrite_table(orders.limit(100), t)  # v1 files become expirable
    n_files_before = len(st._list_data_files(t))
    report = st.vacuum(t, retain_last=1, dry_run=True, grace_seconds=0)
    assert report["dry_run"] is True
    assert report["expired_versions"] == 1
    assert report["deleted_files"] == len(report["files"]) > 0
    # nothing happened
    assert len(st._list_data_files(t)) == n_files_before
    assert st.read_snapshot(spark, t, version=1).count() == orders.count()
    # the real vacuum deletes exactly the reported set
    real = st.vacuum(t, retain_last=1, grace_seconds=0)
    assert real["deleted_files"] == report["deleted_files"]
    assert real["expired_versions"] == 1


def test_partition_scoped_optimize(spark, orders, tmp_path):
    """OPTIMIZE WHERE: only the named partition's files rewrite;
    other partitions' files, stats, and deletion vectors carry by
    reference — the 100 TB compaction pattern (compact yesterday's
    hot partition, never the table)."""
    t = _tbl(tmp_path)
    st.create_table(orders.repartition(6), t, ["o_orderstatus"])
    # DV a few rows in an untouched partition to prove DVs survive
    st.delete_where(
        spark,
        t,
        [("o_orderstatus", "=", "O"), ("o_totalprice", ">", 400000.0)],
        use_dv=True,
    )
    prev = st._read_manifest(t, st.current_version(t))
    f_files = [f for f in prev["files"] if "o_orderstatus=F" in f]
    o_files = [f for f in prev["files"] if "o_orderstatus=O" in f]
    assert len(f_files) > 1 and prev["deletion_vectors"]
    n_total = st.read_snapshot(spark, t).count()

    v = st.optimize(
        spark, t, files_per_partition=1, partitions={"o_orderstatus": "F"}
    )
    m = st._read_manifest(t, v)
    new_f = [f for f in m["files"] if "o_orderstatus=F" in f]
    assert len(new_f) == 1 and not set(new_f) & set(f_files)  # rewritten
    assert set(o_files) <= set(m["files"])  # untouched partition carried
    assert m["deletion_vectors"] == prev["deletion_vectors"]  # DVs survive
    assert st.read_snapshot(spark, t).count() == n_total
    # scoping errors are loud
    with pytest.raises(ValueError, match="unknown partition"):
        st.optimize(spark, t, partitions={"nope": "x"})
    # no-op scope returns the head unchanged
    assert st.optimize(spark, t, partitions={"o_orderstatus": "ZZ"}) == v


def _single_file_table(spark, t, pcols, n_rows=30, n_parts=3):
    """``n_parts`` partitions of ``g`` (or one unpartitioned file), each
    written as exactly one file."""
    st.create_table(
        spark.createDataFrame(
            [(i, i % n_parts, i * 10) for i in range(n_rows)],
            "id int, g int, v int",
        ).coalesce(1),
        t,
        pcols,
    )


def test_default_optimize_rewrites_only_uncompacted_partitions(spark, tmp_path):
    """The default OPTIMIZE rewrites exactly the partitions that are not
    already one clean file: an append into 2 of 10 partitions and a DV
    delete in a third make 3 new files, and the other 7 files carry
    with their paths and stats verbatim."""
    t = _tbl(tmp_path)
    _single_file_table(spark, t, ["g"], n_rows=100, n_parts=10)
    st.append(
        spark.createDataFrame(
            [(100 + i, i % 2, 0) for i in range(4)], "id int, g int, v int"
        ).coalesce(1),
        t,
    )
    st.delete_where(spark, t, [("g", "=", 2), ("id", "<", 50)], use_dv=True)
    prev = st._read_manifest(t, st.current_version(t))
    assert len(prev["files"]) == 12 and len(prev["deletion_vectors"]) == 1
    before = sorted(st.read_snapshot(spark, t).collect())

    m = st._read_manifest(t, st.optimize(spark, t))
    new = set(m["files"]) - set(prev["files"])
    carried = {
        f for f in prev["files"] if st._path_values(f)["g"] not in ("0", "1", "2")
    }
    assert len(new) == 3 and len(carried) == 7
    assert set(m["files"]) == new | carried
    assert {f: m["file_stats"][f] for f in carried} == {
        f: prev["file_stats"][f] for f in carried
    }
    assert not m["deletion_vectors"]
    assert sorted(st.read_snapshot(spark, t).collect()) == before


def _footers_lack(t, col):
    import pyarrow.parquet as pq

    m = st._read_manifest(t, st.current_version(t))
    for f in m["files"]:
        assert col not in pq.read_schema(os.path.join(t, f)).names, f


def _ids_materialized(t, files=None):
    """Every file of the head (or just ``files``) is marked as carrying
    materialized row ids."""
    m = st._read_manifest(t, st.current_version(t))
    files = m["files"] if files is None else files
    assert files and all(
        m["file_stats"][f].get("materialized_row_ids") for f in files
    )


@pytest.mark.parametrize(
    "pcols,mutate,follow_up",
    [
        pytest.param(
            ["g"],
            lambda spark, t: st.delete_where(
                spark, t, [("id", "<", 3)], use_dv=True
            ),
            lambda t: st.drop_feature(t, "deletion-vectors"),
            id="dv_materialized",
        ),
        pytest.param(
            ["bucket(3,id)"],
            lambda spark, t: st.evolve_partitioning(t, []),
            lambda t: st.drop_feature(t, "hidden-partitioning"),
            id="legacy_spec_migrated",
        ),
        pytest.param(
            ["g"],
            lambda spark, t: st.widen_column(t, "v", "bigint"),
            lambda t: st.drop_feature(t, "type-widening"),
            id="widened_type_rewritten_wide",
        ),
        pytest.param(
            ["g"],
            lambda spark, t: st.drop_column(t, "v"),
            lambda t: _footers_lack(t, "v"),
            id="retired_column_purged",
        ),
        pytest.param(
            [],
            lambda spark, t: st.enable_row_tracking(t),
            _ids_materialized,
            id="row_ids_materialized",
        ),
    ],
)
def test_default_optimize_rewrites_single_file_partitions_it_must(
    spark, tmp_path, pcols, mutate, follow_up
):
    """Every side effect a full rewrite had survives the incremental
    rule: a single-file partition that carries a DV, sits under a
    legacy spec, stores a narrower type or a retired column, or lacks
    materialized row ids is still rewritten, with unchanged content."""
    t = _tbl(tmp_path)
    _single_file_table(spark, t, pcols)
    mutate(spark, t)
    prev = st._read_manifest(t, st.current_version(t))
    dirs = {os.path.dirname(f) for f in prev["files"]}
    assert len(dirs) == len(prev["files"])  # one file per partition
    with pytest.raises((ValueError, AssertionError)):
        follow_up(t)
    track = bool(prev.get("row_tracking"))
    before = sorted(st.read_snapshot(spark, t, with_row_ids=track).collect())

    m = st._read_manifest(t, st.optimize(spark, t))
    assert not set(prev["files"]) & set(m["files"])
    assert sorted(st.read_snapshot(spark, t, with_row_ids=track).collect()) == before
    follow_up(t)


def test_default_optimize_moves_borrowed_clone_files_home(spark, tmp_path):
    """A shallow clone's single-file partitions are borrowed source
    files, not the clone's own layout: the default OPTIMIZE still
    rewrites them into the clone's tree."""
    src, t = str(tmp_path / "src"), _tbl(tmp_path)
    _single_file_table(spark, src, ["g"])
    st.clone_table(src, t)
    before = sorted(st.read_snapshot(spark, t).collect())
    m = st._read_manifest(t, st.optimize(spark, t))
    assert m["files"] and not any(os.path.isabs(f) for f in m["files"])
    assert sorted(st.read_snapshot(spark, t).collect()) == before


@pytest.mark.parametrize("pcols", [["g"], []])
def test_default_optimize_on_compact_table_writes_nothing(spark, tmp_path, pcols):
    """A table that is already compact still gets its one optimize
    version, but it references the parent's files, writes no data
    file and adds nothing to the change feed."""
    t = _tbl(tmp_path)
    _single_file_table(spark, t, pcols, n_parts=10)
    head = st.current_version(t)
    prev = st._read_manifest(t, head)
    on_disk = st._list_data_files(t)

    v = st.optimize(spark, t)
    m = st._read_manifest(t, v)
    assert v == head + 1 and m["operation"] == "optimize"
    assert m["files"] == prev["files"]
    assert m["file_stats"] == prev["file_stats"]
    assert st._list_data_files(t) == on_disk
    assert st.changes(spark, t, from_version=head).count() == 0


def test_table_layout_is_metadata_only(spark, orders, tmp_path):
    """table_layout answers the small-files report with zero data
    reads — proven by answering AFTER the data directory is gone —
    and its row totals agree with the live snapshot beforehand."""
    import shutil

    t = _tbl(tmp_path)
    st.create_table(orders.repartition(5), t, ["o_orderstatus"])
    layout = st.table_layout(t)
    assert sum(e["rows"] for e in layout) == orders.count()
    assert all(
        e["min_file_rows"] <= e["max_file_rows"] for e in layout
    )
    worst = layout[0]["n_files"]
    assert worst == max(e["n_files"] for e in layout)
    shutil.rmtree(st._data_dir(t))
    # still answers: manifest-only
    again = st.table_layout(t)
    assert again == layout


# ---------------------------------------------------------------------------
# Semantic-conflict matrix (round-7 VERDICT item 7): every pair of
# concurrent commits collides at the version slot (conservative
# optimistic concurrency — the publish is a compare-and-swap on the
# version number), and the commit_with_retry protocol re-RUNS the
# losing closure against the new head, so semantically-conflicting
# pairs serialize instead of silently merging stale state. These
# tests define that contract for the pairs Delta/Iceberg call out.
# ---------------------------------------------------------------------------


def _race(monkeypatch, trigger_op: str, competitor):
    """Patch _publish so that the FIRST commit whose operation matches
    ``trigger_op`` loses the version slot to ``competitor()`` (which
    runs and commits first); everything else publishes normally."""
    raced = {"done": False}
    real_publish = st._publish

    def racing_publish(table, version, manifest):
        if not raced["done"] and manifest["operation"] == trigger_op:
            raced["done"] = True
            competitor()
        real_publish(table, version, manifest)

    monkeypatch.setattr(st, "_publish", racing_publish)
    return raced


def test_conflict_overwrite_partitions_same_partition_serializes(
    spark, orders, tmp_path, monkeypatch
):
    """Two dynamic overwrites of the SAME partition: the loser must
    NOT land its stale file set next to the winner's (a silent
    double-write of the partition) — its retry re-runs against the
    new head and REPLACES the winner's files, so the final partition
    holds exactly the last writer's rows."""
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    part = orders.where(F.col("o_orderstatus") == "F")
    other_n = orders.where(F.col("o_orderstatus") != "F").count()
    batch_winner = part.limit(7).withColumn("o_orderpriority", F.lit("WINNER"))
    batch_loser = part.limit(3).withColumn("o_orderpriority", F.lit("LOSER"))

    raced = _race(
        monkeypatch,
        "overwrite_partitions",
        lambda: st.overwrite_partitions(batch_winner, t),
    )
    v = st.commit_with_retry(lambda: st.overwrite_partitions(batch_loser, t))
    assert raced["done"] and v == 3
    snap = st.read_snapshot(spark, t)
    got = snap.where(F.col("o_orderstatus") == "F")
    # last writer wins the partition OUTRIGHT: no winner rows remain
    assert got.count() == 3
    assert got.where(F.col("o_orderpriority") == "WINNER").count() == 0
    # untouched partitions carried over intact
    assert snap.where(F.col("o_orderstatus") != "F").count() == other_n
    # and the intermediate (winner-only) state is time-travelable
    assert (
        st.read_snapshot(spark, t, version=2)
        .where(F.col("o_orderpriority") == "WINNER")
        .count()
        == 7
    )


def test_conflict_overwrite_partitions_disjoint_partitions_both_land(
    spark, orders, tmp_path, monkeypatch
):
    """Two dynamic overwrites of DIFFERENT partitions: the loser's
    retry must preserve the winner's partition while replacing its
    own — both payloads visible, nothing lost."""
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    batch_f = (
        orders.where(F.col("o_orderstatus") == "F")
        .limit(5)
        .withColumn("o_orderpriority", F.lit("NEW-F"))
    )
    batch_o = (
        orders.where(F.col("o_orderstatus") == "O")
        .limit(4)
        .withColumn("o_orderpriority", F.lit("NEW-O"))
    )
    raced = _race(
        monkeypatch,
        "overwrite_partitions",
        lambda: st.overwrite_partitions(batch_f, t),
    )
    v = st.commit_with_retry(lambda: st.overwrite_partitions(batch_o, t))
    assert raced["done"] and v == 3
    snap = st.read_snapshot(spark, t)
    assert snap.where(F.col("o_orderpriority") == "NEW-F").count() == 5
    assert snap.where(F.col("o_orderpriority") == "NEW-O").count() == 4
    assert snap.where(F.col("o_orderstatus") == "F").count() == 5
    assert snap.where(F.col("o_orderstatus") == "O").count() == 4


def test_conflict_delete_races_optimize(spark, orders, tmp_path, monkeypatch):
    """DELETE loses the slot to a concurrent OPTIMIZE that rewrote
    the very files the delete targeted: committing the stale file
    list would resurrect every row the optimize carried (double data)
    or lose the delete. The retry re-prunes against the compacted
    head, so the final state is exactly optimize-then-delete."""
    t = _tbl(tmp_path)
    st.create_table(orders.repartition(8), t, [])
    n = orders.count()
    n_del = orders.where(F.col("o_totalprice") > 300000.0).count()
    assert 0 < n_del < n

    raced = _race(
        monkeypatch,
        "delete",
        lambda: st.optimize(spark, t, files_per_partition=1),
    )
    v = st.commit_with_retry(
        lambda: st.delete_where(spark, t, [("o_totalprice", ">", 300000.0)])
    )
    assert raced["done"] and v == 3
    snap = st.read_snapshot(spark, t)
    assert snap.count() == n - n_del
    assert snap.where(F.col("o_totalprice") > 300000.0).count() == 0
    # the head references the post-compaction lineage, not v1 files
    head_files = set(st._read_manifest(t, v)["files"])
    v1_files = set(st._read_manifest(t, 1)["files"])
    assert not head_files & v1_files


def test_conflict_optimize_races_delete(spark, orders, tmp_path, monkeypatch):
    """The mirror image: OPTIMIZE loses to a concurrent DELETE. Its
    stale rewrite holds rows the delete removed — committing it would
    resurrect them. The retry re-reads the post-delete snapshot (and
    its row-count guard re-verifies against it), so deleted rows stay
    deleted through the compaction."""
    t = _tbl(tmp_path)
    st.create_table(orders.repartition(8), t, [])
    n = orders.count()
    n_del = orders.where(F.col("o_totalprice") > 300000.0).count()

    raced = _race(
        monkeypatch,
        "optimize",
        lambda: st.delete_where(
            spark, t, [("o_totalprice", ">", 300000.0)]
        ),
    )
    v = st.commit_with_retry(lambda: st.optimize(spark, t, files_per_partition=1))
    assert raced["done"] and v == 3
    snap = st.read_snapshot(spark, t)
    assert snap.count() == n - n_del
    assert snap.where(F.col("o_totalprice") > 300000.0).count() == 0


def test_conflict_dv_delete_races_optimize(
    spark, orders, tmp_path, monkeypatch
):
    """Merge-on-read DELETE (deletion vectors) loses to OPTIMIZE: its
    DV keys reference file paths the compaction just removed from the
    head — committing them would silently drop the delete (positions
    against dead files). The retry recomputes positions against the
    compacted files."""
    t = _tbl(tmp_path)
    st.create_table(orders.repartition(4), t, [])
    n = orders.count()
    n_del = orders.where(F.col("o_totalprice") > 400000.0).count()
    raced = _race(
        monkeypatch,
        "delete_dv",
        lambda: st.optimize(spark, t, files_per_partition=1),
    )
    v = st.commit_with_retry(
        lambda: st.delete_where(
            spark, t, [("o_totalprice", ">", 400000.0)], use_dv=True
        )
    )
    assert raced["done"] and v == 3
    snap = st.read_snapshot(spark, t)
    assert snap.count() == n - n_del
    # every DV in the head points at a LIVE file
    m = st._read_manifest(t, v)
    assert set(m.get("deletion_vectors", {})) <= set(m["files"])


# ---------------------------------------------------------------------------
# Named refs: tags, branches, fast-forward (Write-Audit-Publish).
# ---------------------------------------------------------------------------
class TestRefs:
    def test_tag_lifecycle(self, spark, orders, tmp_path):
        t = _tbl(tmp_path)
        st.create_table(orders, t, ["o_orderstatus"])
        st.append(orders.limit(50), t)
        n1 = st.read_snapshot(spark, t, version=1).count()
        assert st.create_tag(t, "v1-audit", version=1) == 1
        assert st.read_tag(t, "v1-audit") == 1
        assert st.read_snapshot(spark, t, tag="v1-audit").count() == n1
        # default tags the head
        assert st.create_tag(t, "latest") == 2
        # immutable: re-tagging fails, pointer unchanged
        with pytest.raises(ValueError, match="already exists"):
            st.create_tag(t, "latest", version=1)
        assert st.read_tag(t, "latest") == 2
        st.drop_tag(t, "latest")
        with pytest.raises(ValueError, match="does not exist"):
            st.read_tag(t, "latest")
        with pytest.raises(ValueError, match="invalid ref name"):
            st.create_tag(t, "bad/name")

    def test_vacuum_spares_tagged_versions(self, spark, orders, tmp_path):
        t = _tbl(tmp_path)
        st.create_table(orders.limit(100), t, [])
        st.overwrite_table(orders.limit(60), t)
        st.overwrite_table(orders.limit(30), t)
        st.create_tag(t, "keep", version=1)
        res = st.vacuum(t, retain_last=1, grace_seconds=0)
        # v2 expired; v1 survives via the tag, v3 via retain_last
        assert res["expired_versions"] == 1
        assert st.read_snapshot(spark, t, tag="keep").count() == 100
        with pytest.raises(ValueError, match="does not exist"):
            st.read_snapshot(spark, t, version=2)
        # dropping the tag lets the version age out on the next vacuum
        st.drop_tag(t, "keep")
        st.vacuum(t, retain_last=1, grace_seconds=0)
        with pytest.raises(ValueError, match="does not exist"):
            st.read_snapshot(spark, t, version=1)
        assert st.read_snapshot(spark, t).count() == 30

    def test_branch_isolation_and_refs(self, spark, orders, tmp_path):
        t = _tbl(tmp_path)
        st.create_table(orders, t, ["o_orderstatus"])
        n = orders.count()
        bp = st.create_branch(t, "audit")
        st.append(orders.limit(200), bp)
        # branch sees the fork data plus its own appends, zero copies
        assert st.read_snapshot(spark, bp).count() == n + 200
        # main is untouched
        assert st.current_version(t) == 1
        assert st.read_snapshot(spark, t).count() == n
        refs = st.list_refs(t)
        assert refs["branches"]["audit"] == {"head": 2, "fork_version": 1}
        with pytest.raises(ValueError, match="already exists"):
            st.create_branch(t, "audit")

    def test_fast_forward_publishes_and_consumes(self, spark, orders, tmp_path):
        t = _tbl(tmp_path)
        st.create_table(orders, t, ["o_orderstatus"])
        n = orders.count()
        bp = st.create_branch(t, "audit")
        st.append(orders.limit(200), bp)
        v = st.fast_forward(t, "audit")
        assert v == 2
        assert st.read_snapshot(spark, t).count() == n + 200
        # the branch was consumed
        assert st.list_refs(t)["branches"] == {}
        # no manifest entry escapes the table's own tree: every file
        # resolves under the main data/ dir
        man = st._read_manifest(t, 2)
        assert man["operation"] == "fast_forward"
        for f in man["files"]:
            assert not os.path.isabs(f), f
            assert not f.startswith(st.BRANCH_DIR), f
        # v1 time travel still works
        assert st.read_snapshot(spark, t, version=1).count() == n

    def test_fast_forward_diverged(self, spark, orders, tmp_path):
        t = _tbl(tmp_path)
        st.create_table(orders, t, [])
        bp = st.create_branch(t, "audit")
        st.append(orders.limit(10), bp)
        st.append(orders.limit(5), t)  # main advances past the fork
        with pytest.raises(st.BranchDiverged):
            st.fast_forward(t, "audit")
        # the failed fast-forward left both lineages intact
        assert st.read_snapshot(spark, bp).count() == orders.count() + 10
        assert st.read_snapshot(spark, t).count() == orders.count() + 5

    def test_wap_delete_on_branch_carries_dvs(self, spark, orders, tmp_path):
        t = _tbl(tmp_path)
        st.create_table(orders, t, [])
        n = orders.count()
        bad = orders.filter(F.col("o_orderkey") % 100 == 7)
        n_bad = bad.count()
        assert n_bad > 0
        bp = st.create_branch(t, "wap")
        st.append(bad.withColumn("o_totalprice", -F.col("o_totalprice")), bp)
        # audit gate: quarantine the negative-price rows on the branch
        # (merge-on-read DVs — the fast-forward must remap their keys)
        assert st.delete_where(spark, bp, [("o_totalprice", "<", 0)], use_dv=True) == 3
        assert (
            st.read_snapshot(spark, bp).filter(F.col("o_totalprice") < 0).count()
            == 0
        )
        st.fast_forward(t, "wap")
        out = st.read_snapshot(spark, t)
        assert out.count() == n
        assert out.filter(F.col("o_totalprice") < 0).count() == 0

    def test_wap_replace_where_on_branch_fast_forwards(
        self, spark, orders, tmp_path
    ):
        """Write-Audit-Publish with the round-8 predicate overwrite:
        stage a band replacement on a branch, audit it there, publish
        by fast-forward — the main table sees the replaced band
        atomically and the carried files by reference."""
        t = _tbl(tmp_path)
        st.create_table(orders, t, [])
        band = [("o_totalprice", ">", 400000.0)]
        in_band = F.col("o_totalprice") > 400000.0
        n_out_of_band = orders.filter(~in_band).count()
        bp = st.create_branch(t, "wap_rw")
        repl = orders.filter(in_band).limit(5).withColumn(
            "o_orderpriority", F.lit("9-STAGED")
        )
        st.replace_where(spark, repl, bp, band)
        # audit on the branch: band now holds exactly the staged rows
        staged = st.read_snapshot(spark, bp)
        assert staged.filter(in_band).count() == 5
        # main is untouched until publish
        assert st.read_snapshot(spark, t).filter(
            F.col("o_orderpriority") == "9-STAGED"
        ).count() == 0
        st.fast_forward(t, "wap_rw")
        out = st.read_snapshot(spark, t)
        assert out.filter(~in_band).count() == n_out_of_band
        assert out.filter(in_band).count() == 5
        assert out.filter(F.col("o_orderpriority") == "9-STAGED").count() == 5

    def test_fast_forward_without_branch_commits(self, spark, orders, tmp_path):
        t = _tbl(tmp_path)
        st.create_table(orders.limit(40), t, [])
        st.create_branch(t, "noop")
        v = st.fast_forward(t, "noop")
        assert v == 2
        assert st.read_snapshot(spark, t).count() == 40


# ---------------------------------------------------------------------------
# REPLACE WHERE (Delta replaceWhere semantics)
# ---------------------------------------------------------------------------
class TestReplaceWhere:
    def _seed(self, spark, orders, tmp_path):
        t = _tbl(tmp_path)
        st.create_table(orders, t, [])
        st.optimize(spark, t, files_per_partition=8, cluster_by=["o_totalprice"])
        return t

    def test_replaces_exactly_the_predicate_region(
        self, spark, orders, tmp_path
    ):
        t = self._seed(spark, orders, tmp_path)
        band = [("o_totalprice", ">=", 100000.0), ("o_totalprice", "<", 200000.0)]
        repl = orders.filter(
            (F.col("o_totalprice") >= 100000.0) & (F.col("o_totalprice") < 200000.0)
        ).filter(F.col("o_orderkey") % 2 == 0)
        st.replace_where(spark, repl, t, band)
        got = st.read_snapshot(spark, t)
        in_band = (F.col("o_totalprice") >= 100000.0) & (
            F.col("o_totalprice") < 200000.0
        )
        # outside the band: untouched
        assert (
            got.filter(~in_band).count() == orders.filter(~in_band).count()
        )
        # inside the band: only the replacement rows (a shrink — proves
        # delete happened, not a blind append)
        assert got.filter(in_band).count() == repl.count()
        assert got.filter(in_band & (F.col("o_orderkey") % 2 == 1)).count() == 0

    def test_incoming_rows_outside_predicate_rejected_atomically(
        self, spark, orders, tmp_path
    ):
        t = self._seed(spark, orders, tmp_path)
        band = [("o_totalprice", ">=", 100000.0), ("o_totalprice", "<", 200000.0)]
        v = st.current_version(t)
        stray = orders.limit(5).withColumn("o_totalprice", F.lit(1.0))
        with pytest.raises(ValueError, match="violate the predicate"):
            st.replace_where(spark, stray, t, band)
        assert st.current_version(t) == v
        assert st.read_snapshot(spark, t).count() == orders.count()

    def test_unfiltered_replace_refused(self, spark, orders, tmp_path):
        t = self._seed(spark, orders, tmp_path)
        with pytest.raises(ValueError, match="unfiltered"):
            st.replace_where(spark, orders, t, [])

    def test_single_commit_and_file_carryover(self, spark, orders, tmp_path):
        t = self._seed(spark, orders, tmp_path)
        band = [("o_totalprice", ">", 400000.0)]
        v = st.current_version(t)
        before = set(st._read_manifest(t, v)["files"])
        repl = orders.filter(F.col("o_totalprice") > 400000.0).limit(10)
        v2 = st.replace_where(spark, repl, t, band)
        assert v2 == v + 1  # delete + insert consumed ONE version
        after = set(st._read_manifest(t, v2)["files"])
        assert before & after, "untouched files must carry by reference"

    def test_cdf_net_effect_is_exact(self, spark, orders, tmp_path):
        t = self._seed(spark, orders, tmp_path)
        band = [("o_totalprice", ">", 400000.0)]
        v = st.current_version(t)
        repl = orders.filter(F.col("o_totalprice") > 400000.0).limit(10)
        v2 = st.replace_where(spark, repl, t, band)
        cdf = st.changes(spark, t, from_version=v, to_version=v2)
        ins = cdf.filter(F.col("_change_type") == "insert").drop(
            "_change_type", "_commit_version"
        )
        dels = cdf.filter(F.col("_change_type") == "delete").drop(
            "_change_type", "_commit_version"
        )
        prev_state = st.read_snapshot(spark, t, version=v)
        new_state = st.read_snapshot(spark, t, version=v2)
        # state(v2) == state(v) - deletes + inserts (multiset)
        lhs = new_state.groupBy(*new_state.columns).count()
        rhs = (
            prev_state.unionByName(ins)
            .groupBy(*prev_state.columns)
            .count()
            .join(
                dels.groupBy(*dels.columns).count().withColumnRenamed("count", "d"),
                on=list(prev_state.columns),
                how="left",
            )
            .select(
                *prev_state.columns,
                (F.col("count") - F.coalesce(F.col("d"), F.lit(0))).alias("count"),
            )
            .filter(F.col("count") > 0)
        )
        assert lhs.exceptAll(rhs).count() == 0
        assert rhs.exceptAll(lhs).count() == 0

    def test_replace_where_respects_check_constraints(
        self, spark, orders, tmp_path
    ):
        t = self._seed(spark, orders, tmp_path)
        st.add_constraint(spark, t, "price_nonneg", "o_totalprice >= 0")
        band = [("o_totalprice", ">", 400000.0)]
        v = st.current_version(t)
        bad = (
            orders.filter(F.col("o_totalprice") > 400000.0)
            .limit(3)
            .withColumn("o_totalprice", F.lit(-500000.0))
        )
        # violates BOTH the predicate and the constraint — predicate
        # check fires first; craft one that passes the predicate but
        # breaks the constraint via a negative band
        with pytest.raises(ValueError):
            st.replace_where(spark, bad, t, band)
        assert st.current_version(t) == v

    def test_replace_where_after_rename_column(self, spark, orders, tmp_path):
        """Rewrite-path DML after a metadata-only RENAME: the predicate
        arrives under the LOGICAL name, survivor files are written
        under logical names (stats simply stop pruning for them — safe
        direction), and the table stays readable."""
        t = self._seed(spark, orders, tmp_path)
        st.rename_column(t, "o_totalprice", "total_price")
        band = [("total_price", ">", 400000.0)]
        repl = (
            st.read_snapshot(spark, t)
            .filter(F.col("total_price") > 400000.0)
            .limit(7)
        )
        v = st.replace_where(spark, repl, t, band)
        got = st.read_snapshot(spark, t, version=v)
        assert "total_price" in got.columns
        assert got.filter(F.col("total_price") > 400000.0).count() == 7


# ---------------------------------------------------------------------------
# TYPE WIDENING (Delta type-widening semantics, metadata-only)
# ---------------------------------------------------------------------------
class TestTypeWidening:
    def _seed(self, spark, tmp_path):
        from pyspark.sql.types import (
            FloatType,
            IntegerType,
            StructField,
            StructType,
        )

        t = _tbl(tmp_path)
        schema = StructType(
            [
                StructField("id", IntegerType()),
                StructField("qty", IntegerType()),
                StructField("price", FloatType()),
            ]
        )
        df = spark.createDataFrame(
            [(i, i * 10, float(i) + 0.5) for i in range(1, 101)], schema
        )
        st.create_table(df, t, [])
        return t, df

    def test_widen_is_metadata_only_and_reads_back(self, spark, tmp_path):
        t, df = self._seed(spark, tmp_path)
        files_before = set(st._read_manifest(t, 1)["files"])
        st.widen_column(t, "qty", "long")
        st.widen_column(t, "price", "double")
        m = st._read_manifest(t, st.current_version(t))
        assert set(m["files"]) == files_before, "no data file may be touched"
        got = st.read_snapshot(spark, t)
        assert dict(got.dtypes)["qty"] == "bigint"
        assert dict(got.dtypes)["price"] == "double"
        assert got.count() == 100
        assert got.agg(F.sum("qty")).collect()[0][0] == sum(i * 10 for i in range(1, 101))

    def test_append_wide_values_after_widen(self, spark, tmp_path):
        t, _ = self._seed(spark, tmp_path)
        st.widen_column(t, "qty", "long")
        wide = spark.createDataFrame(
            [(999, 2**40, 1.25)], "id int, qty long, price float"
        )
        st.append(wide, t)
        got = st.read_snapshot(spark, t)
        assert got.count() == 101
        assert got.filter(F.col("qty") == 2**40).count() == 1

    def test_time_travel_keeps_narrow_schema(self, spark, tmp_path):
        t, _ = self._seed(spark, tmp_path)
        st.widen_column(t, "qty", "long")
        old = st.read_snapshot(spark, t, version=1)
        assert dict(old.dtypes)["qty"] == "int"
        assert dict(st.read_snapshot(spark, t).dtypes)["qty"] == "bigint"

    def test_narrowing_and_cross_family_refused(self, spark, tmp_path):
        t, _ = self._seed(spark, tmp_path)
        st.widen_column(t, "qty", "long")
        with pytest.raises(ValueError, match="not a supported widening"):
            st.widen_column(t, "qty", "int")
        with pytest.raises(ValueError, match="unsupported widen target"):
            st.widen_column(t, "price", "string")
        with pytest.raises(ValueError, match="not a supported widening"):
            st.widen_column(t, "qty", "double")

    def test_constraint_and_generated_references_refused(self, spark, tmp_path):
        t, _ = self._seed(spark, tmp_path)
        st.add_constraint(spark, t, "qty_pos", "qty >= 0")
        with pytest.raises(ValueError, match="CHECK constraint"):
            st.widen_column(t, "qty", "long")
        # unreferenced column still widens
        st.widen_column(t, "price", "double")

    def test_widen_drops_bloom_but_keeps_minmax_pruning(self, spark, tmp_path):
        t, _ = self._seed(spark, tmp_path)
        st.optimize(spark, t, files_per_partition=8, cluster_by=["qty"])
        st.add_bloom_index(spark, t, "qty")
        m1 = st._read_manifest(t, st.current_version(t))
        assert any("bloom" in e for e in m1["file_stats"].values())
        st.widen_column(t, "qty", "long")
        m2 = st._read_manifest(t, st.current_version(t))
        assert not any(
            "qty" in (e.get("bloom") or {}) for e in m2["file_stats"].values()
        ), "widened column's bloom entries must drop (string-hash skew)"
        # min/max skipping still prunes on the widened column
        pruned = st._prune_files(t, m2, [("qty", ">", 900)])
        assert len(pruned) < len(m2["files"])
        assert st.scan(spark, t, [("qty", ">", 900)]).count() == 10

    def test_widen_decimal_precision_same_scale(self, spark, tmp_path):
        t = _tbl(tmp_path)
        df = spark.range(5).selectExpr(
            "id", "cast(id * 1.5 as decimal(10,2)) as amt"
        )
        st.create_table(df, t, [])
        st.widen_column(t, "amt", "decimal(30,2)")
        got = st.read_snapshot(spark, t)
        assert dict(got.dtypes)["amt"] == "decimal(30,2)"
        assert got.count() == 5
        with pytest.raises(ValueError, match="not a supported widening"):
            st.widen_column(t, "amt", "decimal(32,4)")  # scale change

    def test_widen_composes_with_rename(self, spark, tmp_path):
        t, _ = self._seed(spark, tmp_path)
        st.rename_column(t, "qty", "quantity")
        st.widen_column(t, "quantity", "long")
        got = st.read_snapshot(spark, t)
        assert dict(got.dtypes)["quantity"] == "bigint"
        assert got.agg(F.sum("quantity")).collect()[0][0] == sum(
            i * 10 for i in range(1, 101)
        )


# ---------------------------------------------------------------------------
# Protocol versioning (Delta readerFeatures model)
# ---------------------------------------------------------------------------
class TestReaderFeatures:
    def test_features_accrue_from_content_and_stick(self, spark, orders, tmp_path):
        t = _tbl(tmp_path)
        st.create_table(orders, t, [])
        m = st._read_manifest(t, 1)
        assert not m.get("reader_features")
        st.delete_where(
            spark, t, [("o_totalprice", ">", 400000.0)], use_dv=True
        )
        m = st._read_manifest(t, st.current_version(t))
        assert "deletion-vectors" in m["reader_features"]
        st.rename_column(t, "o_orderpriority", "priority")
        m = st._read_manifest(t, st.current_version(t))
        assert {"deletion-vectors", "column-mapping"} <= set(
            m["reader_features"]
        )
        # sticky: a plain append keeps both flags even though it adds
        # neither DVs nor renames
        st.append(
            st.read_snapshot(spark, t).limit(1), t
        )
        m = st._read_manifest(t, st.current_version(t))
        assert {"deletion-vectors", "column-mapping"} <= set(
            m["reader_features"]
        )

    def test_widen_requires_type_widening_feature(self, spark, tmp_path):
        t = _tbl(tmp_path)
        df = spark.createDataFrame([(1, 10)], "id int, qty int")
        st.create_table(df, t, [])
        st.widen_column(t, "qty", "long")
        m = st._read_manifest(t, 2)
        assert "type-widening" in m["reader_features"]

    def test_hidden_partitioning_flagged(self, spark, orders, tmp_path):
        t = _tbl(tmp_path)
        st.create_table(orders, t, ["days(o_orderdate)"])
        m = st._read_manifest(t, 1)
        assert "hidden-partitioning" in m["reader_features"]

    def test_unknown_future_feature_refused_loudly(self, spark, orders, tmp_path):
        import json as _json

        t = _tbl(tmp_path)
        st.create_table(orders, t, [])
        path = st._manifest_path(t, 1)
        m = _json.load(open(path))
        m["reader_features"] = ["row-tracking-v9"]
        os.unlink(path)
        with open(path, "w") as fh:
            _json.dump(m, fh)
        with pytest.raises(ValueError, match="row-tracking-v9"):
            st.read_snapshot(spark, t)
        # and commits on top are refused too (no building on an
        # unreadable head)
        with pytest.raises(ValueError, match="row-tracking-v9"):
            st.append(orders.limit(1), t)

    def test_operation_metrics_in_history(self, spark, orders, tmp_path):
        """Delta-operationMetrics equivalent: per-commit added/removed
        file counts and output rows, pure manifest arithmetic."""
        t = _tbl(tmp_path)
        st.create_table(orders, t, [])
        st.append(orders.limit(25), t)
        st.delete_where(spark, t, [("o_totalprice", ">", 400000.0)])
        hist = {h["version"]: h for h in st.history(t)}
        m1, m2, m3 = (hist[v]["metrics"] for v in (1, 2, 3))
        assert m1["num_removed_files"] == 0
        assert m1["num_output_rows"] == orders.count()
        assert m2["num_added_files"] >= 1 and m2["num_removed_files"] == 0
        assert m2["num_output_rows"] == 25
        # the delete rewrote at least one file and removed at least one
        assert m3["num_removed_files"] >= 1
        # byte deltas ride the stats index (Delta's numAdded/RemovedBytes)
        assert m1["num_added_bytes"] > 0 and m1["num_removed_bytes"] == 0
        assert m3["num_removed_bytes"] > 0

    def test_clone_carries_reader_features(self, spark, tmp_path):
        """A shallow clone of a widened table MUST carry
        type-widening (its borrowed files are narrow parquet under
        the wide schema — not derivable from clone content)."""
        src = str(tmp_path / "feat_src")
        dst = str(tmp_path / "feat_dst")
        df = spark.createDataFrame([(1, 10), (2, 20)], "id int, qty int")
        st.create_table(df, src, [])
        st.widen_column(src, "qty", "long")
        st.clone_table(src, dst)
        m = st._read_manifest(dst, 1)
        assert "type-widening" in (m.get("reader_features") or [])
        got = st.read_snapshot(spark, dst)
        assert dict(got.dtypes)["qty"] == "bigint"
        assert got.count() == 2

    def test_fast_forward_carries_branch_features(self, spark, tmp_path):
        """A widen staged on a WAP branch must gate the parent after
        publish — the parent's pre-publish head has no flag and the
        hard-linked files are narrow parquet."""
        t = str(tmp_path / "ff_feat")
        df = spark.createDataFrame([(1, 10), (2, 20)], "id int, qty int")
        st.create_table(df, t, [])
        bp = st.create_branch(t, "widen_wap")
        st.widen_column(bp, "qty", "long")
        st.append(
            spark.createDataFrame([(3, 2**40)], "id int, qty long"), bp
        )
        st.fast_forward(t, "widen_wap")
        m = st._read_manifest(t, st.current_version(t))
        assert "type-widening" in (m.get("reader_features") or [])
        got = st.read_snapshot(spark, t)
        assert dict(got.dtypes)["qty"] == "bigint"
        assert got.filter(F.col("qty") == 2**40).count() == 1

    def test_branch_of_widened_table_carries_features(self, spark, tmp_path):
        t = str(tmp_path / "br_feat")
        df = spark.createDataFrame([(1, 10)], "id int, qty int")
        st.create_table(df, t, [])
        st.widen_column(t, "qty", "long")
        bp = st.create_branch(t, "b1")
        m = st._read_manifest(bp, 1)
        assert "type-widening" in (m.get("reader_features") or [])
        assert dict(st.read_snapshot(spark, bp).dtypes)["qty"] == "bigint"


class TestWriterFeatures:
    """writer_features gating (Delta's writerFeatures twin of
    TestReaderFeatures): writer flags accrue from content + the
    check-constraints writer-only obligation, stick across plain
    commits, and a manifest demanding an unknown future WRITER
    feature still reads but refuses commits."""

    def test_writer_features_accrue_and_stick(self, spark, orders, tmp_path):
        t = _tbl(tmp_path)
        st.create_table(
            orders, t, [], constraints={"nonneg": "o_totalprice >= 0"}
        )
        m = st._read_manifest(t, 1)
        # constraints are a pure writer obligation: writer flag only
        assert m.get("writer_features") == ["check-constraints"]
        assert not m.get("reader_features")
        st.delete_where(
            spark, t, [("o_totalprice", ">", 400000.0)], use_dv=True
        )
        st.append(st.read_snapshot(spark, t).limit(1), t)  # plain commit
        m = st._read_manifest(t, st.current_version(t))
        assert {"check-constraints", "deletion-vectors"} <= set(
            m["writer_features"]
        )
        # every reader feature also obligates writers
        assert set(m.get("reader_features") or []) <= set(m["writer_features"])

    def test_unknown_writer_feature_reads_but_refuses_commits(
        self, spark, orders, tmp_path
    ):
        import json as _json

        t = _tbl(tmp_path)
        st.create_table(orders.limit(10), t, [])
        path = st._manifest_path(t, 1)
        m = _json.load(open(path))
        m["writer_features"] = ["vector-clock-commits"]
        os.unlink(path)
        with open(path, "w") as fh:
            _json.dump(m, fh)
        # reads are fine — reader gating is separate
        assert st.read_snapshot(spark, t).count() == 10
        # commits refuse loudly, naming the missing feature
        with pytest.raises(ValueError, match="vector-clock-commits"):
            st.append(orders.limit(1), t)
        with pytest.raises(ValueError, match="vector-clock-commits"):
            st.delete_where(spark, t, [("o_totalprice", ">", 0.0)])

    def test_widen_and_clone_carry_writer_features(self, spark, tmp_path):
        src = str(tmp_path / "wf_src")
        dst = str(tmp_path / "wf_dst")
        df = spark.createDataFrame([(1, 10), (2, 20)], "id int, qty int")
        st.create_table(df, src, [])
        st.widen_column(src, "qty", "long")
        assert "type-widening" in (
            st._read_manifest(src, 2).get("writer_features") or []
        )
        st.clone_table(src, dst)
        assert "type-widening" in (
            st._read_manifest(dst, 1).get("writer_features") or []
        )

    def test_fast_forward_carries_writer_features(self, spark, tmp_path):
        t = str(tmp_path / "wf_ff")
        df = spark.createDataFrame([(1, 10)], "id int, qty int")
        st.create_table(df, t, [])
        bp = st.create_branch(t, "wap")
        st.widen_column(bp, "qty", "long")
        st.fast_forward(t, "wap")
        m = st._read_manifest(t, st.current_version(t))
        assert "type-widening" in (m.get("writer_features") or [])


class TestLogSegments:
    """Checkpoint + log-segment storage (snaptable.py _store_form /
    _read_manifest): steady-state commit metadata must be O(files
    touched), not O(table files) — the Delta checkpoint / Iceberg
    manifest-reuse property — while every materialized view stays
    byte-equivalent to the self-contained form."""

    def test_segment_form_and_materialization(self, spark, tmp_path):
        t = str(tmp_path / "seg_basic")
        df = spark.range(0, 100).withColumn("g", F.col("id") % 4)
        st.create_table(df.repartition(4), t, [])
        st.append(
            spark.range(100, 110).withColumn("g", F.lit(9).cast("long")), t
        )
        raw1 = st._raw_manifest(t, 1)
        raw2 = st._raw_manifest(t, 2)
        assert "files" in raw1 and not raw1.get("segment")  # checkpoint
        assert raw2.get("segment") and raw2["base"] == 1
        assert "files" not in raw2
        m2 = st._read_manifest(t, 2)
        m1 = st._read_manifest(t, 1)
        assert set(m1["files"]) < set(m2["files"])
        assert all(f in m2["file_stats"] for f in m2["files"])
        assert st.read_snapshot(spark, t).count() == 110

    def test_head_manifest_bytes_stay_bounded_over_100_commits(
        self, spark, tmp_path
    ):
        """100 single-file appends: segment manifests must NOT grow
        with table size — the whole point of the log-segment design."""
        t = str(tmp_path / "seg_bounded")
        st.create_table(spark.range(0, 10).coalesce(1), t, [])
        seg_sizes = []
        for i in range(1, 100):
            v = st.append(
                spark.range(10 * i, 10 * i + 10).coalesce(1), t
            )
            raw = st._raw_manifest(t, v)
            if raw.get("segment"):
                seg_sizes.append(
                    os.path.getsize(st._manifest_path(t, v))
                )
        assert len(seg_sizes) >= 80  # most commits are segments
        # late segments are no bigger than early ones (+ slack for
        # version-number digits): size is flat, not O(n_files)
        assert max(seg_sizes[-10:]) < 3 * min(seg_sizes[:10])
        # checkpoints DO grow — and exist at the expected cadence
        checkpoints = [
            v
            for v in st._list_versions(t)
            if not st._raw_manifest(t, v).get("segment")
        ]
        assert len(checkpoints) >= 100 // st.CHECKPOINT_INTERVAL
        # the materialized head sees every row of every commit
        assert st.read_snapshot(spark, t).count() == 1000

    def test_overwrite_resets_chain_as_checkpoint(self, spark, tmp_path):
        t = str(tmp_path / "seg_ow")
        st.create_table(spark.range(0, 50).coalesce(1), t, [])
        st.append(spark.range(50, 60).coalesce(1), t)
        v = st.overwrite_table(spark.range(0, 5).coalesce(1), t)
        raw = st._raw_manifest(t, v)
        assert not raw.get("segment")  # full-diff commit -> checkpoint
        assert st.read_snapshot(spark, t).count() == 5

    def test_metadata_only_commit_is_tiny_segment(self, spark, tmp_path):
        """widen_column on a kept file set stores no file list at all
        — and changed stats entries (bloom drops) overlay exactly."""
        t = str(tmp_path / "seg_meta")
        df = spark.createDataFrame([(1, 10), (2, 20)], "id int, qty int")
        st.create_table(df.coalesce(1), t, [])
        st.add_bloom_index(spark, t, "qty")
        st.widen_column(t, "qty", "long")
        head = st.current_version(t)
        raw = st._raw_manifest(t, head)
        assert raw.get("segment")
        assert raw["add_files"] == [] and raw["remove_files"] == []
        m = st._read_manifest(t, head)
        prev = st._read_manifest(t, head - 1)
        assert m["files"] == prev["files"]
        assert all(
            "bloom" not in m["file_stats"][f] for f in m["files"]
        )
        assert all("bloom" in prev["file_stats"][f] for f in prev["files"])

    def test_vacuum_rewrites_kept_segments_before_expiry(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "seg_vac")
        st.create_table(spark.range(0, 10).coalesce(1), t, [])
        for i in range(1, 6):
            st.append(spark.range(10 * i, 10 * i + 10).coalesce(1), t)
        assert st._raw_manifest(t, 5).get("segment")
        st.vacuum(t, retain_last=2, grace_seconds=0)
        # kept versions 5 and 6: v5's chain went through expired
        # manifests, so it must now be a self-contained checkpoint
        assert st._list_versions(t) == [5, 6]
        assert not st._raw_manifest(t, 5).get("segment")
        assert st._read_manifest(t, 5)["files"]
        assert st.read_snapshot(spark, t, version=5).count() == 50
        assert st.read_snapshot(spark, t).count() == 60
        with pytest.raises(ValueError):
            st.read_snapshot(spark, t, version=2)

    def test_vacuum_keeps_tagged_segment_readable(self, spark, tmp_path):
        t = str(tmp_path / "seg_tag")
        st.create_table(spark.range(0, 10).coalesce(1), t, [])
        for i in range(1, 8):
            st.append(spark.range(10 * i, 10 * i + 10).coalesce(1), t)
        st.create_tag(t, "audit", version=4)
        st.vacuum(t, retain_last=2, grace_seconds=0)
        assert st.read_snapshot(spark, t, version=4).count() == 40
        assert st.read_snapshot(spark, t).count() == 80


class TestRowTracking:
    """Delta-style row tracking (snaptable.enable_row_tracking /
    read_snapshot(with_row_ids=True)): stable _row_id survives
    appends, DV deletes, and OPTIMIZE (materialized into rewritten
    files); gated behind the row-tracking reader feature."""

    @staticmethod
    def _one_file(df, key):
        return df.repartition(1).sortWithinPartitions(key)

    def test_ids_stable_across_append_and_delete(self, spark, tmp_path):
        t = str(tmp_path / "rt_basic")
        df1 = self._one_file(
            spark.createDataFrame(
                [(i, f"u{i}") for i in range(10)], "id int, name string"
            ),
            "id",
        )
        st.create_table(df1, t, [])
        st.enable_row_tracking(t)
        m = st._read_manifest(t, st.current_version(t))
        assert m["row_tracking"] and m["next_row_id"] == 10
        assert "row-tracking" in m["reader_features"]
        got = {
            r.id: r._row_id
            for r in st.read_snapshot(spark, t, with_row_ids=True).collect()
        }
        assert got == {i: i for i in range(10)}  # sorted single file

        df2 = self._one_file(
            spark.createDataFrame(
                [(i, f"u{i}") for i in range(10, 15)], "id int, name string"
            ),
            "id",
        )
        st.append(df2, t)
        got = {
            r.id: r._row_id
            for r in st.read_snapshot(spark, t, with_row_ids=True).collect()
        }
        assert got == {i: i for i in range(15)}

        # DV delete retires ids, survivors keep theirs
        st.delete_where(spark, t, [("id", "in", [3, 12])], use_dv=True)
        got = {
            r.id: r._row_id
            for r in st.read_snapshot(spark, t, with_row_ids=True).collect()
        }
        assert got == {i: i for i in range(15) if i not in (3, 12)}

    def test_optimize_materializes_ids(self, spark, tmp_path):
        t = str(tmp_path / "rt_opt")
        st.create_table(
            self._one_file(
                spark.createDataFrame(
                    [(i, i * 2) for i in range(20)], "id int, v int"
                ),
                "id",
            ),
            t,
            [],
        )
        st.enable_row_tracking(t)
        st.append(
            self._one_file(
                spark.createDataFrame(
                    [(i, i * 2) for i in range(20, 30)], "id int, v int"
                ),
                "id",
            ),
            t,
        )
        st.delete_where(spark, t, [("id", "=", 7)], use_dv=True)
        before = {
            r.id: r._row_id
            for r in st.read_snapshot(spark, t, with_row_ids=True).collect()
        }
        v = st.optimize(spark, t, files_per_partition=1)
        m = st._read_manifest(t, v)
        assert all(
            e.get("materialized_row_ids") for e in m["file_stats"].values()
        )
        assert not m["deletion_vectors"]  # DVs materialized away
        after = {
            r.id: r._row_id
            for r in st.read_snapshot(spark, t, with_row_ids=True).collect()
        }
        assert after == before  # ids preserved through the rewrite
        # normal reads never see the materialized physical column
        assert "_rt_row_id" not in st.read_snapshot(spark, t).columns
        # fresh appends after optimize keep allocating off the mark
        st.append(
            self._one_file(
                spark.createDataFrame([(99, 0)], "id int, v int"), "id"
            ),
            t,
        )
        got = {
            r.id: r._row_id
            for r in st.read_snapshot(spark, t, with_row_ids=True).collect()
        }
        assert got[99] == 30  # next_row_id survived materialization

    def test_row_ids_require_enablement_and_gate_readers(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "rt_gate")
        st.create_table(spark.range(3).coalesce(1), t, [])
        with pytest.raises(ValueError, match="row tracking"):
            st.read_snapshot(spark, t, with_row_ids=True)
        st.enable_row_tracking(t)
        assert st.enable_row_tracking(t) == st.current_version(t)  # idempotent
        m = st._read_manifest(t, st.current_version(t))
        assert "row-tracking" in m["reader_features"]

    def test_partition_scoped_optimize_preserves_ids(self, spark, tmp_path):
        from pyspark.sql import functions as F2

        t = str(tmp_path / "rt_popt")
        df = (
            spark.createDataFrame(
                [(i, "a" if i < 10 else "b") for i in range(20)],
                "id int, g string",
            )
            .repartition(1)
            .sortWithinPartitions("id")
        )
        st.create_table(df, t, ["g"])
        st.enable_row_tracking(t)
        st.append(
            spark.createDataFrame([(100, "a"), (101, "a")], "id int, g string")
            .repartition(1)
            .sortWithinPartitions("id"),
            t,
        )
        before = {
            r.id: r._row_id
            for r in st.read_snapshot(spark, t, with_row_ids=True).collect()
        }
        st.optimize(spark, t, files_per_partition=1, partitions={"g": "a"})
        after = {
            r.id: r._row_id
            for r in st.read_snapshot(spark, t, with_row_ids=True).collect()
        }
        assert after == before
        assert (
            st.read_snapshot(spark, t)
            .filter(F2.col("g") == "b")
            .count()
            == 10
        )


def test_cli_enable_row_tracking(spark, orders, tmp_path):
    import json as _json
    import subprocess
    import sys

    t = str(tmp_path / "cli_rt")
    st.create_table(orders.limit(50).coalesce(1), t, [])
    r = subprocess.run(
        [
            sys.executable,
            "-m",
            "ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.cli",
            "table",
            "--table",
            t,
            "enable-row-tracking",
        ],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 0, r.stderr[-500:]
    assert _json.loads(r.stdout) == {"version": 2}
    ids = [
        row._row_id
        for row in st.read_snapshot(spark, t, with_row_ids=True).collect()
    ]
    assert sorted(ids) == list(range(50))


class TestRowIdCDF:
    """Row-id-aware change data feed: update_where's DV path preserves
    stable ids into its rewritten rows, and changes(with_row_ids=True)
    upgrades delete+insert of the same id within a commit to Delta's
    update_preimage/update_postimage pair."""

    def _mk(self, spark, tmp_path, name):
        t = str(tmp_path / name)
        df = (
            spark.createDataFrame(
                [(i, i * 10) for i in range(10)], "id int, v int"
            )
            .repartition(1)
            .sortWithinPartitions("id")
        )
        st.create_table(df, t, [])
        st.enable_row_tracking(t)
        return t

    def test_update_preserves_row_ids(self, spark, tmp_path):
        t = self._mk(spark, tmp_path, "ridcdf_upd")
        before = {
            r.id: r._row_id
            for r in st.read_snapshot(spark, t, with_row_ids=True).collect()
        }
        st.update_where(
            spark, t, [("id", ">=", 7)], {"v": "v + 1"}, use_dv=True
        )
        after = {
            r.id: r._row_id
            for r in st.read_snapshot(spark, t, with_row_ids=True).collect()
        }
        assert after == before  # updated rows kept their ids
        got = {
            r.id: r.v for r in st.read_snapshot(spark, t).collect()
        }
        assert got == {i: i * 10 + (1 if i >= 7 else 0) for i in range(10)}

    def test_cdf_pairs_updates_by_row_id(self, spark, tmp_path):
        t = self._mk(spark, tmp_path, "ridcdf_pairs")
        st.update_where(
            spark, t, [("id", "=", 3)], {"v": "999"}, use_dv=True
        )
        st.delete_where(spark, t, [("id", "=", 5)], use_dv=True)
        st.append(
            spark.createDataFrame([(100, 0)], "id int, v int").coalesce(1), t
        )
        cdf = st.changes(spark, t, 2, with_row_ids=True).collect()
        by_type = {}
        for r in cdf:
            by_type.setdefault(r._change_type, []).append(r)
        pre = by_type.get("update_preimage", [])
        post = by_type.get("update_postimage", [])
        assert len(pre) == 1 and len(post) == 1
        assert pre[0]._row_id == post[0]._row_id == 3
        assert pre[0].v == 30 and post[0].v == 999
        assert pre[0]._commit_version == post[0]._commit_version == 3
        dels = by_type.get("delete", [])
        assert [(r.id, r._row_id) for r in dels] == [(5, 5)]
        ins = by_type.get("insert", [])
        assert [(r.id, r._row_id) for r in ins] == [(100, 10)]

    def test_cdf_without_tracking_refuses_row_ids(self, spark, tmp_path):
        t = str(tmp_path / "ridcdf_gate")
        st.create_table(spark.range(3).coalesce(1), t, [])
        st.append(spark.range(3, 5).coalesce(1), t)
        with pytest.raises(ValueError, match="row tracking"):
            st.changes(spark, t, 1, with_row_ids=True)
        # the plain file-diff CDF is untouched
        got = st.changes(spark, t, 1).collect()
        assert {r.id for r in got} == {3, 4}


class TestDMLKeepsRowIds:
    """One stable-row-id rule for every row-level DML path: DELETE,
    UPDATE and replace_where (and SQL DELETE, which takes the default
    path) keep the id of every row they do not delete, in rewrite
    mode as in DV mode; only rows a commit inserts allocate fresh ids
    off ``next_row_id``. Identity values derive from the ids, so they
    stay put too."""

    OPS = ["delete", "update", "replace_where", "sql_delete"]

    @staticmethod
    def _mk(spark, tmp_path, name, identity=False):
        t = str(tmp_path / name)
        df = (
            spark.createDataFrame(
                [(i, i * 10) for i in range(10)], "id int, v int"
            )
            .repartition(1)
            .sortWithinPartitions("id")
        )
        st.create_table(df, t, [])
        if identity:
            st.enable_identity(t, "sk", start=100)
        else:
            st.enable_row_tracking(t)
        return t

    @staticmethod
    def _run(spark, t, op):
        """Touch row id=5 through ``op``, in its default mode."""
        from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
            ddl,
        )

        if op == "delete":
            st.delete_where(spark, t, [("id", "=", 5)])
        elif op == "update":
            st.update_where(spark, t, [("id", "=", 5)], {"v": "v + 1"})
        elif op == "replace_where":
            new = spark.createDataFrame([(5, 51)], "id int, v int")
            st.replace_where(spark, new, t, [("id", "=", 5)])
        else:
            ddl.execute_sql(spark, f"DELETE FROM `{t}` WHERE id = 5")

    @staticmethod
    def _ids(spark, t, col="_row_id"):
        rows = st.read_snapshot(spark, t, with_row_ids=col == "_row_id")
        return {r.id: r[col] for r in rows.collect()}

    @pytest.mark.parametrize("op", OPS)
    def test_tracked_survivors_keep_row_ids(self, spark, tmp_path, op):
        t = self._mk(spark, tmp_path, f"dml_rid_{op}")
        before = self._ids(spark, t)
        assert before == {i: i for i in range(10)}
        self._run(spark, t, op)
        after = self._ids(spark, t)
        assert {i: r for i, r in after.items() if i != 5} == {
            i: i for i in range(10) if i != 5
        }
        if op == "update":
            assert after[5] == 5  # the updated row keeps its id
        elif op == "replace_where":
            assert after[5] == 10  # the incoming row is an insert
        else:
            assert 5 not in after
        mark = st._manifest_at(t)[1]["next_row_id"]
        st.append(
            spark.createDataFrame([(100, 0)], "id int, v int").coalesce(1), t
        )
        got = self._ids(spark, t)
        assert got[100] == mark
        assert len(set(got.values())) == len(got)

    @pytest.mark.parametrize("op", OPS)
    def test_constraints_checked_only_on_new_rows(
        self, spark, tmp_path, monkeypatch, op
    ):
        """CHECK constraints validate the rows a DML commit makes new
        (UPDATE's row images, replace_where's incoming rows through
        _admit), never a rewrite's surviving rows: those were admitted
        when written, and add_constraint validated the whole table."""
        t = self._mk(spark, tmp_path, f"dml_chk_{op}")
        st.add_constraint(spark, t, "pos", "v >= 0")
        checked = []
        real = st._validate_constraints
        monkeypatch.setattr(
            st,
            "_validate_constraints",
            lambda df, cs: checked.append(df.count()) or real(df, cs),
        )
        self._run(spark, t, op)
        # rows checked per call: the candidate file's 10 updated rows,
        # or replace_where's 1 incoming row
        assert checked == {"update": [10], "replace_where": [1]}.get(op, [])
        if op == "update":
            for use_dv in (False, True):
                with pytest.raises(st.ConstraintViolation, match="pos"):
                    st.update_where(
                        spark, t, [("id", "=", 1)], {"v": "-1"}, use_dv=use_dv
                    )

    @pytest.mark.parametrize("op", OPS)
    def test_identity_survivors_keep_keys(self, spark, tmp_path, op):
        t = self._mk(spark, tmp_path, f"dml_sk_{op}", identity=True)
        st.delete_where(spark, t, [("id", "=", 2)], use_dv=True)
        self._run(spark, t, op)
        after = self._ids(spark, t, "sk")
        assert {i: k for i, k in after.items() if i != 5} == {
            i: 100 + i for i in range(10) if i not in (2, 5)
        }
        if op == "update":
            assert after[5] == 105
        elif op == "replace_where":
            assert after[5] == 110
        else:
            assert 5 not in after

    def test_cdf_pairs_rewrite_update(self, spark, tmp_path):
        t = self._mk(spark, tmp_path, "dml_rid_cdf")
        st.update_where(spark, t, [("id", "=", 3)], {"v": "999"})
        cdf = st.changes(spark, t, 2, with_row_ids=True).collect()
        pre = {r._row_id: r for r in cdf if r._change_type == "update_preimage"}
        post = {r._row_id: r for r in cdf if r._change_type == "update_postimage"}
        assert pre[3].id == post[3].id == 3
        assert (pre[3].v, post[3].v) == (30, 999)
        # the file's other rows were rewritten in place: value-identical
        # pairs, and no plain insert or delete at all
        assert set(pre) == set(post) == set(range(10))
        assert all(pre[i].v == post[i].v for i in range(10) if i != 3)
        assert {r._change_type for r in cdf} == {
            "update_preimage",
            "update_postimage",
        }
        # net multiset rule: state(to) == state(from) - deletes + inserts
        from collections import Counter

        state = lambda v: Counter(
            (r.id, r.v) for r in st.read_snapshot(spark, t, version=v).collect()
        )
        minus = Counter((r.id, r.v) for r in pre.values())
        plus = Counter((r.id, r.v) for r in post.values())
        assert state(2) - minus + plus == state(3)

    def test_replace_where_refuses_identity_values(self, spark, tmp_path):
        t = self._mk(spark, tmp_path, "dml_sk_always", identity=True)
        supplied = spark.createDataFrame([(5, 0, 7)], "id int, v int, sk long")
        with pytest.raises(ValueError, match="GENERATED ALWAYS AS IDENTITY"):
            st.replace_where(spark, supplied, t, [("id", "=", 5)])

    def test_truncated_identity_table_reads_empty(self, spark, tmp_path):
        t = self._mk(spark, tmp_path, "dml_sk_empty", identity=True)
        st.truncate_table(t)
        assert st.read_snapshot(spark, t).collect() == []
        got = st.read_snapshot(spark, t, with_row_ids=True)
        assert got.columns == ["id", "v", "_row_id", "sk"]

    def test_replace_where_dnf_equals_one_replace_per_branch(
        self, spark, tmp_path
    ):
        rows = [(i, i * 10) for i in range(20)]
        branches = [[("id", "=", 1)], [("id", ">=", 15), ("v", "<", 170)]]
        new = [(1, -1), (15, -15), (16, -16)]
        tables = []
        for name in ("dnf_once", "dnf_each"):
            t = str(tmp_path / name)
            st.create_table(
                spark.createDataFrame(rows, "id int, v int").repartition(3, "id"),
                t,
                [],
            )
            tables.append(t)
        once, each = tables
        st.replace_where(
            spark, spark.createDataFrame(new, "id int, v int"), once, branches
        )
        st.replace_where(
            spark, spark.createDataFrame(new[:1], "id int, v int"), each, branches[0]
        )
        st.replace_where(
            spark, spark.createDataFrame(new[1:], "id int, v int"), each, branches[1]
        )
        got = sorted(st.read_snapshot(spark, once).collect())
        assert got == sorted(st.read_snapshot(spark, each).collect())
        assert (1, -1) in got and (17, 170) in got and (16, 160) not in got
        # every incoming row must still match one branch
        with pytest.raises(ValueError, match="violate the predicate"):
            st.replace_where(
                spark, spark.createDataFrame([(3, 0)], "id int, v int"), once, branches
            )

    @pytest.mark.parametrize("use_dv", [False, True])
    @pytest.mark.parametrize("set_exprs", [{}, {"vv": "0"}])
    def test_update_without_a_column_to_set_refuses(
        self, spark, tmp_path, use_dv, set_exprs
    ):
        """An empty SET map, or a SET key naming no column, is refused
        before anything commits: it must not pass as a DELETE of the
        matching rows, nor as an UPDATE that changes nothing."""
        t = self._mk(spark, tmp_path, "dml_set_refused")
        head = st.current_version(t)
        with pytest.raises(ValueError, match="SET must name columns"):
            st.update_where(spark, t, [("id", "=", 5)], set_exprs, use_dv=use_dv)
        assert st.current_version(t) == head
        assert self._ids(spark, t) == {i: i for i in range(10)}


def test_one_dml_body_and_one_row_id_rule():
    """DELETE, UPDATE and replace_where share snaptable._rewrite_rows,
    and the base-row-id map that derives stable ids is built in one
    place (snaptable._attach_row_ids)."""
    src = open(st.__file__).read()
    assert src.count('"___bf string, ___base long"') == 1
    assert src.count("refusing an unfiltered") == 1
    assert not hasattr(st, "_rewrite_matching_files")
    assert not hasattr(st, "_with_row_ids")


def test_one_write_path_and_one_alias_rule():
    """Every data-adding commit writes through snaptable._write_data
    under an explicit column mapping: no head-mapping lookup remains,
    the physical-alias f-string exists once (snaptable._fresh_aliases),
    only the writer marks materialized row ids, and only the writer
    collects footer stats."""
    import ast

    src = open(st.__file__).read()
    assert not hasattr(st, "_head_mapping")
    assert src.count('__r{') == 1
    assert src.count('"materialized_row_ids"] = True') <= 1
    callers = [
        fn.name
        for fn in ast.walk(ast.parse(src))
        if isinstance(fn, ast.FunctionDef)
        for node in ast.walk(fn)
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", None) == "_collect_stats"
    ]
    assert callers == ["_write_data"]


def test_one_streaming_write_path():
    """The streaming sink writes through snaptable.append: in the whole
    package only snaptable._write_data collects footer stats (plain or
    attribute calls), no DataSource stream writer exists, and the
    streaming package asks txn_epoch for its replay check in one place
    (ingest._commit_epoch)."""
    import ast
    import pathlib

    pkg = pathlib.Path(st.__file__).parent.parent
    calls, in_writer, txn_checks = 0, 0, 0
    for path in sorted(pkg.rglob("*.py")):
        src = path.read_text()
        assert "DataSourceStreamWriter" not in src, path
        if path.parent.name == "streaming":
            txn_checks += src.count("txn_epoch(")
        tree = ast.parse(src)
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "_write_data":
                in_writer += sum(
                    isinstance(n, ast.Call)
                    and getattr(n.func, "id", None) == "_collect_stats"
                    for n in ast.walk(node)
                )
            if isinstance(node, ast.Call) and "_collect_stats" in (
                getattr(node.func, "id", None),
                getattr(node.func, "attr", None),
            ):
                calls += 1
    assert calls == in_writer == 1
    assert txn_checks == 1


def test_merge_numbers_inserts_per_partition(spark, tmp_path, monkeypatch):
    """A row-tracked MERGE numbers its fresh inserts where they are —
    per-partition counts, a driver prefix sum, position in partition —
    not through an unpartitioned window that moves every insert into
    one task: the merged frame's plan has no Window without a
    partition spec, the inserts span several partitions, and their ids
    are exactly mark..mark+n-1."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "rt_merge_wide")
    st.create_table(
        spark.createDataFrame([(i, i) for i in range(4)], "id int, v int")
        .repartition(1)
        .sortWithinPartitions("id"),
        t,
        [],
    )
    st.enable_row_tracking(t)
    mark = st._manifest_at(t)[1]["next_row_id"]
    seen = []
    write = st.overwrite_table

    def spy(df, *a, **kw):
        seen.append(df)
        return write(df, *a, **kw)

    monkeypatch.setattr(st, "overwrite_table", spy)
    n = 30
    src = spark.createDataFrame(
        [(2, 99)] + [(100 + i, i) for i in range(n)], "id int, v int"
    ).repartition(3)
    st.merge_into(spark, t, src, ["id"])
    (merged,) = seen
    plan = merged._jdf.queryExecution().optimizedPlan()
    nodes = []
    while (node := plan.apply(len(nodes))) is not None:
        nodes.append(node)
    assert len(nodes) > 3
    assert all(
        n.partitionSpec().nonEmpty() for n in nodes if n.nodeName() == "Window"
    )
    fresh = merged.filter(F.col("id") >= 100)
    assert fresh.select(F.spark_partition_id()).distinct().count() >= 2
    ids = {
        r.id: r._row_id
        for r in st.read_snapshot(spark, t, with_row_ids=True).collect()
    }
    assert {ids[100 + i] for i in range(n)} == set(range(mark, mark + n))
    assert {ids[i] for i in range(4)} == set(range(4))
    assert st._manifest_at(t)[1]["next_row_id"] == mark + n


def test_one_change_feed_planner():
    """The batch and streaming change feeds plan each commit through
    snaptable._change_plan: the OPTIMIZE-emits-nothing test exists once,
    in the planner; cdf_source.py neither tests for OPTIMIZE nor diffs
    two manifests' deletion vectors itself; _norm_dvs, which sorted
    (and so decoded) every vector, is defined nowhere."""
    import ast
    import pathlib

    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming import (
        cdf_source,
    )

    pkg = pathlib.Path(st.__file__).parent.parent
    optimize_tests = []
    for path in sorted(pkg.rglob("*.py")):
        src = path.read_text()
        assert "def _norm_dvs" not in src, path
        for fn in ast.walk(ast.parse(src)):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Compare) and any(
                    isinstance(c, ast.Constant) and c.value == "optimize"
                    for c in [node.left, *node.comparators]
                ) and "operation" in ast.unparse(node):
                    optimize_tests.append((path.name, fn.name))
    assert optimize_tests == [("snaptable.py", "_change_plan")]
    src = open(cdf_source.__file__).read()
    assert 'operation"] == "optimize"' not in src
    # the one read of a manifest's vectors left is the bootstrap
    # snapshot (_plan_snapshot), which diffs nothing
    assert src.count('"deletion_vectors"') == 1


def test_rollback_keeps_row_ids(spark, tmp_path):
    """Rollback publishes the TARGET's stats verbatim — which predate
    row tracking when restoring an early version. Carried files must
    reconcile their id ranges from the parent (rows never change ids
    because history was restored); files the target re-adds without a
    range get fresh ids off the high-water mark."""
    t = str(tmp_path / "rb_rt")
    df = (
        spark.createDataFrame([(i, i) for i in range(8)], "id int, v int")
        .repartition(1)
        .sortWithinPartitions("id")
    )
    st.create_table(df, t, [])  # v1: pre-tracking
    st.enable_row_tracking(t)  # v2
    st.append(
        spark.createDataFrame([(8, 8)], "id int, v int").coalesce(1), t
    )  # v3
    ids_v3 = {
        r.id: r._row_id
        for r in st.read_snapshot(spark, t, with_row_ids=True).collect()
    }
    st.rollback(t, 1)  # v4: restore the pre-tracking file set
    m = st._read_manifest(t, st.current_version(t))
    assert m["row_tracking"]  # sticky
    ids_v4 = {
        r.id: r._row_id
        for r in st.read_snapshot(spark, t, with_row_ids=True).collect()
    }
    # the carried file's rows kept their original ids, none are null
    assert ids_v4 == {i: ids_v3[i] for i in range(8)}
    assert all(v is not None for v in ids_v4.values())
    # appends after the rollback still allocate off the high mark
    st.append(
        spark.createDataFrame([(9, 9)], "id int, v int").coalesce(1), t
    )
    got = {
        r.id: r._row_id
        for r in st.read_snapshot(spark, t, with_row_ids=True).collect()
    }
    assert got[9] == 9  # mark survived (8 rows + 1 append at v3)


class TestDVSidecars:
    """Deletion vectors above DV_INLINE_MAX externalize to immutable
    sidecar files (Delta's DV-file design): manifests carry tiny
    refs, unchanged vectors reuse the parent's ref verbatim across
    commits (including log segments), and vacuum reclaims sidecars no
    kept manifest references."""

    def test_large_dv_externalizes_and_reads_back(self, spark, tmp_path):
        t = str(tmp_path / "dv_side")
        st.create_table(
            spark.range(0, 500).selectExpr("id", "id * 2 AS v").coalesce(1),
            t,
            [],
        )
        st.delete_where(spark, t, [("id", "<", 200)], use_dv=True)
        raw = st._raw_manifest(t, 2)
        (entry,) = raw["deletion_vectors"].values()
        assert isinstance(entry, dict) and entry["n"] == 200
        assert os.path.exists(
            os.path.join(st._snap_dir(t), entry["$dv"])
        )
        # materialized form resolves to the position list
        m = st._read_manifest(t, 2)
        (ps,) = m["deletion_vectors"].values()
        assert isinstance(ps, list) and len(ps) == 200
        assert st.read_snapshot(spark, t).count() == 300

    def test_unchanged_dv_ref_reused_across_commits(self, spark, tmp_path):
        t = str(tmp_path / "dv_reuse")
        st.create_table(spark.range(0, 500).coalesce(1), t, [])
        st.delete_where(spark, t, [("id", "<", 100)], use_dv=True)
        ref2 = next(iter(st._raw_manifest(t, 2)["deletion_vectors"].values()))
        assert isinstance(ref2, dict)
        st.append(spark.range(500, 510).coalesce(1), t)  # unrelated commit
        ref3 = next(iter(st._raw_manifest(t, 3)["deletion_vectors"].values()))
        assert ref3 == ref2  # verbatim reuse: no sidecar rewrite
        # growing the vector writes a NEW sidecar; the old one orphans
        st.delete_where(spark, t, [("id", "<", 150)], use_dv=True)
        ref4 = next(iter(st._raw_manifest(t, 4)["deletion_vectors"].values()))
        assert isinstance(ref4, dict) and ref4 != ref2
        assert st.read_snapshot(spark, t).count() == 360

    def test_vacuum_reclaims_orphan_sidecars(self, spark, tmp_path):
        t = str(tmp_path / "dv_vac")
        st.create_table(spark.range(0, 500).coalesce(1), t, [])
        st.delete_where(spark, t, [("id", "<", 100)], use_dv=True)
        st.delete_where(spark, t, [("id", "<", 200)], use_dv=True)
        sidecars = [
            f for f in os.listdir(st._snap_dir(t)) if f.startswith("dv-")
        ]
        assert len(sidecars) == 2
        res = st.vacuum(t, retain_last=1, grace_seconds=0)
        kept = [
            f for f in os.listdir(st._snap_dir(t)) if f.startswith("dv-")
        ]
        assert len(kept) == 1 and res["deleted_dv_sidecars"] == 1
        assert res["reclaimed_bytes"] > 0  # sidecar bytes count too
        assert st.read_snapshot(spark, t).count() == 300
        # optimize materializes the DV away; vacuum then reclaims it
        st.optimize(spark, t, files_per_partition=1)
        res2 = st.vacuum(t, retain_last=1, grace_seconds=0)
        assert res2["deleted_dv_sidecars"] == 1
        assert not [
            f for f in os.listdir(st._snap_dir(t)) if f.startswith("dv-")
        ]
        assert st.read_snapshot(spark, t).count() == 300


class TestBinaryDVSidecars:
    """Compact ``.dvb`` sidecar encoding (run-length + varint — the
    RoaringBitmap shape Delta uses): lossless round-trip, ≥10x
    smaller than the JSON int-list form on a dense delete, and old
    ``.json`` sidecars stay readable without any table rewrite."""

    def test_roundtrip_property(self):
        import random

        rng = random.Random(42)
        cases = [
            [0],
            [7],
            list(range(1000)),  # fully dense
            list(range(0, 2000, 2)),  # alternating
            sorted(rng.sample(range(10**6), 500)),  # sparse scattered
            sorted(rng.sample(range(100), 99)),  # dense with one hole
            [0, 1, 2, 10**12, 10**12 + 1],  # huge positions
        ]
        for ps in cases:
            blob = st._encode_dv_binary(ps)
            assert st._decode_dv_binary(blob) == sorted(ps)

    def test_dense_delete_sidecar_much_smaller_than_json(self):
        import json as _json

        ps = list(range(100_000))  # dense bulk delete
        blob = st._encode_dv_binary(ps)
        json_size = len(_json.dumps(ps))
        assert len(blob) * 10 <= json_size, (len(blob), json_size)
        # scattered singles carry irreducible entropy but still beat
        # the text form (varint deltas vs ~9-char decimals + commas)
        import random

        sparse = sorted(random.Random(7).sample(range(10**7), 10_000))
        blob_s = st._encode_dv_binary(sparse)
        assert len(blob_s) * 2 <= len(_json.dumps(sparse))

    def test_writer_emits_dvb_sidecars(self, spark, tmp_path):
        t = str(tmp_path / "dvb_new")
        st.create_table(spark.range(0, 500).coalesce(1), t, [])
        st.delete_where(spark, t, [("id", "<", 200)], use_dv=True)
        (entry,) = st._raw_manifest(t, 2)["deletion_vectors"].values()
        assert entry["$dv"].endswith(".dvb")
        assert st.read_snapshot(spark, t).count() == 300

    def test_legacy_json_sidecar_still_reads(self, spark, tmp_path):
        """A table whose sidecar predates the binary form (JSON int
        list) resolves through the same path: no rewrite needed."""
        import json as _json

        t = str(tmp_path / "dvb_legacy")
        st.create_table(spark.range(0, 500).coalesce(1), t, [])
        st.delete_where(spark, t, [("id", "<", 200)], use_dv=True)
        raw = st._raw_manifest(t, 2)
        (f,) = raw["deletion_vectors"]
        entry = raw["deletion_vectors"][f]
        # rewrite the sidecar in the pre-r12 JSON form
        ps = st._decode_dv_binary(
            open(os.path.join(st._snap_dir(t), entry["$dv"]), "rb").read()
        )
        legacy = entry["$dv"][: -len(".dvb")] + ".json"
        with open(os.path.join(st._snap_dir(t), legacy), "w") as fh:
            _json.dump(ps, fh)
        os.unlink(os.path.join(st._snap_dir(t), entry["$dv"]))
        mpath = st._manifest_path(t, 2)
        m = _json.load(open(mpath))
        m["deletion_vectors"][f] = {"$dv": legacy, "n": len(ps)}
        os.unlink(mpath)
        with open(mpath, "w") as fh:
            _json.dump(m, fh)
        assert st.read_snapshot(spark, t).count() == 300
        # and vacuum sweeps orphaned legacy sidecars too
        st.delete_where(spark, t, [("id", "<", 250)], use_dv=True)
        res = st.vacuum(t, retain_last=1, grace_seconds=0)
        assert res["deleted_dv_sidecars"] == 1
        assert not [
            fn
            for fn in os.listdir(st._snap_dir(t))
            if fn.endswith(".json") and fn.startswith("dv-")
        ]


class TestTargetFileBytes:
    """Byte-sized compaction (Delta's OPTIMIZE targetFileSize): the
    output file count derives from manifest byte stats — planning
    reads zero data — and the byte-aware auto_compact flags exactly
    the partitions whose files average under target."""

    def test_optimize_unpartitioned_by_bytes(self, spark, tmp_path):
        t = str(tmp_path / "tfb_flat")
        st.create_table(spark.range(0, 20_000).repartition(8), t, [])
        m = st._read_manifest(t, 1)
        total = st._live_file_bytes(t, m, m["files"])
        assert total > 0 and len(m["files"]) == 8
        # target = half the table -> 2 output files
        v = st.optimize(spark, t, target_file_bytes=(total + 1) // 2)
        files = st._read_manifest(t, v)["files"]
        assert len(files) == 2
        assert st.read_snapshot(spark, t).count() == 20_000
        # a huge target -> single file
        v2 = st.optimize(spark, t, target_file_bytes=total * 100)
        assert len(st._read_manifest(t, v2)["files"]) == 1

    def test_partitioned_requires_scope_or_sweep(self, spark, orders, tmp_path):
        t = _tbl(tmp_path)
        st.create_table(orders, t, ["o_orderstatus"])
        with pytest.raises(ValueError, match="per-partition"):
            st.optimize(spark, t, target_file_bytes=10**6)
        # scoped to one partition it works
        v = st.optimize(
            spark,
            t,
            partitions={"o_orderstatus": "F"},
            target_file_bytes=10**12,
        )
        m = st._read_manifest(t, v)
        f_files = [f for f in m["files"] if "o_orderstatus=F" in f]
        assert len(f_files) == 1

    def test_auto_compact_by_bytes_handles_old_spec_files(
        self, spark, tmp_path
    ):
        """Files a partition evolution left behind (no hive dirs under
        the current spec) group under the empty key; the byte-aware
        sweep must compact them via a sized full-table optimize, not
        crash on the partitioned-table guard."""
        t = str(tmp_path / "tfb_evolve")
        df = spark.range(0, 4_000).selectExpr(
            "id", "CASE WHEN id % 2 = 0 THEN 'A' ELSE 'B' END AS g"
        )
        st.create_table(df.repartition(6), t, [])  # unpartitioned spec
        st.evolve_partitioning(t, ["g"])  # metadata-only: files stay dir-less
        m = st._read_manifest(t, st.current_version(t))
        assert m["partition_cols"] == ["g"]
        total = st._live_file_bytes(t, m, m["files"])
        plan = st.plan_compaction_bytes(t, total)
        assert plan == {(): 1}
        versions = st.auto_compact(spark, t, target_file_bytes=total)
        assert len(versions) == 1
        m2 = st._read_manifest(t, versions[0])
        # the rewrite migrated rows into the current hive layout
        assert all("g=" in f for f in m2["files"])
        assert st.read_snapshot(spark, t).count() == 4_000

    def test_auto_compact_by_bytes_flags_fragmented_partitions(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "tfb_auto")
        df = spark.range(0, 10_000).selectExpr(
            "id", "CASE WHEN id % 2 = 0 THEN 'A' ELSE 'B' END AS g"
        )
        # partition A fragmented into many small files; B compact
        st.create_table(
            df.filter("g = 'A'").repartition(8), t, ["g"]
        )
        st.append(df.filter("g = 'B'").coalesce(1), t)
        m = st._read_manifest(t, 2)
        a_files = [f for f in m["files"] if "g=A" in f]
        a_bytes = st._live_file_bytes(t, m, a_files)
        target = a_bytes  # A's 8 files fit in one target-sized file
        plan = st.plan_compaction_bytes(t, target)
        assert plan == {(("g", "A"),): 1}
        versions = st.auto_compact(spark, t, target_file_bytes=target)
        assert len(versions) == 1
        m2 = st._read_manifest(t, versions[0])
        assert len([f for f in m2["files"] if "g=A" in f]) == 1
        assert len([f for f in m2["files"] if "g=B" in f]) == 1  # untouched
        assert st.read_snapshot(spark, t).count() == 10_000
        # idempotent: nothing left to compact at this target
        assert st.plan_compaction_bytes(t, target) == {}
        assert st.auto_compact(spark, t, target_file_bytes=target) == []


def test_commit_timestamps_monotonic_under_clock_skew(
    spark, tmp_path, monkeypatch
):
    """Delta's inCommitTimestamps rule: TIMESTAMP AS OF resolves by
    committed_at order, so a backwards wall-clock step between
    commits must never make a later version look older."""
    import time as _time

    t = str(tmp_path / "ts_mono")
    st.create_table(spark.range(3).coalesce(1), t, [])
    real = _time.time()
    monkeypatch.setattr(st.time, "time", lambda: real - 3600)  # clock jumps BACK
    st.append(spark.range(3, 6).coalesce(1), t)
    monkeypatch.undo()
    m1 = st._read_manifest(t, 1)
    m2 = st._read_manifest(t, 2)
    assert m2["committed_at"] > m1["committed_at"]
    # TIMESTAMP AS OF at v2's commit time resolves to v2, not v1
    assert st.version_as_of(t, m2["committed_at"]) == 2


def test_auto_compact_targets_only_fragmented_partitions(
    spark, tmp_path
):
    """plan_compaction flags partitions over the file threshold from
    manifest arithmetic alone; auto_compact OPTIMIZEs exactly those,
    one atomic commit each, leaving healthy partitions untouched."""
    t = str(tmp_path / "autocompact")
    df = spark.createDataFrame(
        [(i, "hot" if i % 2 == 0 else "cold") for i in range(40)],
        "id int, g string",
    )
    st.create_table(df.repartition(1), t, ["g"])
    # fragment ONLY the hot partition with 5 tiny appends
    for i in range(5):
        st.append(
            spark.createDataFrame(
                [(100 + i, "hot")], "id int, g string"
            ).coalesce(1),
            t,
        )
    plan = st.plan_compaction(t, max_files_per_partition=4)
    assert plan == {(("g", "hot"),): 6}
    before = st._read_manifest(t, st.current_version(t))
    cold_files = [f for f in before["files"] if "g=cold" in f]
    versions = st.auto_compact(spark, t, max_files_per_partition=4)
    assert len(versions) == 1
    after = st._read_manifest(t, st.current_version(t))
    assert [f for f in after["files"] if "g=cold" in f] == cold_files
    assert len([f for f in after["files"] if "g=hot" in f]) == 1
    assert st.read_snapshot(spark, t).count() == 45
    assert st.plan_compaction(t, max_files_per_partition=4) == {}


class TestRowTrackingAdviceFixes:
    """Regression tests for the round-9 review findings: (1) CDF rows
    from commits predating enable_row_tracking carry null _row_id and
    must keep plain insert/delete labels — the relabel window must
    never pair them as update halves; (2) clone_table/create_branch
    carry the LIVE row-tracking state (flag + next_row_id), not just
    the reader feature, so with_row_ids reads work on the fork and id
    allocation never collides with the source's; (3) fast_forward
    publishes the branch's id high-water mark back to the parent."""

    def test_pre_tracking_commits_keep_plain_cdf_labels(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "rt_pre_cdf")
        df = (
            spark.createDataFrame(
                [(i, i * 10) for i in range(10)], "id int, v int"
            )
            .repartition(1)
            .sortWithinPartitions("id")
        )
        st.create_table(df, t, [])  # v1: pre-tracking
        # v2: rewrite commit (adds AND removes files) still pre-tracking
        st.delete_where(spark, t, [("id", "<", 3)], use_dv=False)
        st.enable_row_tracking(t)  # v3
        st.append(
            spark.createDataFrame([(100, 0)], "id int, v int").coalesce(1), t
        )  # v4: tracked insert
        cdf = st.changes(spark, t, 1, with_row_ids=True).collect()
        v2 = [r for r in cdf if r._commit_version == 2]
        # the pre-tracking rewrite has no ids — and is NEVER relabeled
        assert v2 and all(r._row_id is None for r in v2)
        assert {r._change_type for r in v2} == {"insert", "delete"}
        dels = sorted(r.id for r in v2 if r._change_type == "delete")
        ins = sorted(r.id for r in v2 if r._change_type == "insert")
        assert dels == list(range(10)) and ins == list(range(3, 10))
        # tracked commits still get ids (and plain labels here)
        v4 = [r for r in cdf if r._commit_version == 4]
        assert [(r.id, r._change_type, r._row_id) for r in v4] == [
            (100, "insert", 7)
        ]

    def test_clone_preserves_row_tracking(self, spark, tmp_path):
        src = str(tmp_path / "rt_clone_src")
        dst = str(tmp_path / "rt_clone_dst")
        df = (
            spark.createDataFrame(
                [(i, i) for i in range(6)], "id int, v int"
            )
            .repartition(1)
            .sortWithinPartitions("id")
        )
        st.create_table(df, src, [])
        st.enable_row_tracking(src)
        src_ids = {
            r.id: r._row_id
            for r in st.read_snapshot(spark, src, with_row_ids=True).collect()
        }
        st.clone_table(src, dst)
        m = st._read_manifest(dst, 1)
        assert m["row_tracking"] and m["next_row_id"] == 6
        # with_row_ids works on the clone and borrowed files keep ids
        got = {
            r.id: r._row_id
            for r in st.read_snapshot(spark, dst, with_row_ids=True).collect()
        }
        assert got == src_ids
        # new clone commits allocate ABOVE the source's mark
        st.append(
            spark.createDataFrame([(60, 0)], "id int, v int").coalesce(1),
            dst,
        )
        got2 = {
            r.id: r._row_id
            for r in st.read_snapshot(spark, dst, with_row_ids=True).collect()
        }
        assert got2[60] == 6 and len(set(got2.values())) == 7

    def test_branch_preserves_row_tracking_and_ff_publishes_mark(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "rt_branch")
        df = (
            spark.createDataFrame(
                [(i, i) for i in range(5)], "id int, v int"
            )
            .repartition(1)
            .sortWithinPartitions("id")
        )
        st.create_table(df, t, [])
        st.enable_row_tracking(t)
        bp = st.create_branch(t, "audit")
        bm = st._read_manifest(bp, 1)
        assert bm["row_tracking"] and bm["next_row_id"] == 5
        st.append(
            spark.createDataFrame(
                [(50, 0), (51, 0)], "id int, v int"
            ).coalesce(1),
            bp,
        )
        bids = {
            r.id: r._row_id
            for r in st.read_snapshot(spark, bp, with_row_ids=True).collect()
        }
        assert bids[50] == 5 and bids[51] == 6
        st.fast_forward(t, "audit")
        head = st._read_manifest(t, st.current_version(t))
        assert head["row_tracking"] and head["next_row_id"] == 7
        # a parent commit after the publish must not reuse branch ids
        st.append(
            spark.createDataFrame([(99, 0)], "id int, v int").coalesce(1), t
        )
        ids = [
            r._row_id
            for r in st.read_snapshot(spark, t, with_row_ids=True).collect()
        ]
        assert len(ids) == len(set(ids)) == 8


class TestVacuumGrace:
    """vacuum's unreferenced-file sweep must not reclaim files younger
    than the grace window: writers stage data files and DV sidecars
    BEFORE the manifest publish, so a zero-threshold sweep races
    in-flight commits (round-9 review finding). Manifest EXPIRY is
    retention policy and stays age-independent."""

    def test_young_orphans_survive_default_grace(self, spark, tmp_path):
        t = str(tmp_path / "vac_grace")
        st.create_table(spark.range(5).coalesce(1), t, [])
        # simulate an in-flight commit's staged artifacts
        orphan = os.path.join(st._data_dir(t), "part-inflight.parquet")
        with open(orphan, "wb") as fh:
            fh.write(b"x")
        sidecar = os.path.join(st._snap_dir(t), "dv-inflight-abc.json")
        with open(sidecar, "w") as fh:
            fh.write("[1]")
        res = st.vacuum(t)  # default grace: both are brand-new -> kept
        assert res["deleted_files"] == 0
        assert res["deleted_dv_sidecars"] == 0
        assert os.path.exists(orphan) and os.path.exists(sidecar)
        # dry_run honors the same threshold
        dry = st.vacuum(t, dry_run=True)
        assert dry["deleted_files"] == 0
        # aged past the window (mtime backdated), the sweep reclaims
        old = os.path.getmtime(orphan) - st.VACUUM_GRACE_SECONDS - 1
        os.utime(orphan, (old, old))
        os.utime(sidecar, (old, old))
        res2 = st.vacuum(t)
        assert res2["deleted_files"] == 1
        assert res2["deleted_dv_sidecars"] == 1
        assert not os.path.exists(orphan) and not os.path.exists(sidecar)
        assert st.read_snapshot(spark, t).count() == 5

    def test_grace_zero_reclaims_immediately(self, spark, tmp_path):
        t = str(tmp_path / "vac_grace0")
        st.create_table(spark.range(5).coalesce(1), t, [])
        orphan = os.path.join(st._data_dir(t), "part-orphan.parquet")
        with open(orphan, "wb") as fh:
            fh.write(b"x")
        res = st.vacuum(t, grace_seconds=0)
        assert res["deleted_files"] == 1 and not os.path.exists(orphan)


class TestIdentityColumns:
    """GENERATED ALWAYS AS IDENTITY (snaptable.enable_identity):
    metadata-only allocation on the row-tracking ranges, ALWAYS
    write guard, stability through DV delete + OPTIMIZE, feature
    gating, and the merge interplay (derived column never written)."""

    def _mk(self, spark, tmp_path):
        t = str(tmp_path / "ident")
        df = (
            spark.createDataFrame(
                [(i, i * 10) for i in range(8)], "id int, v int"
            )
            .repartition(1)
            .sortWithinPartitions("id")
        )
        st.create_table(df, t, [])
        st.enable_identity(t, "sk", start=1000, step=2)
        return t

    def test_assignment_and_continuation(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        got = sorted((r.id, r.sk) for r in st.read_snapshot(spark, t).collect())
        assert got == [(i, 1000 + 2 * i) for i in range(8)]
        st.append(
            spark.createDataFrame([(100, 0)], "id int, v int").coalesce(1), t
        )
        got = dict(
            (r.id, r.sk) for r in st.read_snapshot(spark, t).collect()
        )
        assert got[100] == 1016  # continues above the high-water mark
        # idempotent re-enable; conflicting spec refused
        assert st.enable_identity(t, "sk", 1000, 2) == st.current_version(t)
        with pytest.raises(ValueError, match="identity spec"):
            st.enable_identity(t, "sk", 1, 1)
        # existing column name refused
        t2 = str(tmp_path / "ident2")
        st.create_table(
            spark.createDataFrame([(1,)], "id int").coalesce(1), t2, []
        )
        with pytest.raises(ValueError, match="already exists"):
            st.enable_identity(t2, "id")

    def test_always_guard_on_writers(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        bad = spark.createDataFrame([(9, 0, 5)], "id int, v int, sk long")
        with pytest.raises(ValueError, match="GENERATED ALWAYS"):
            st.append(bad, t)
        with pytest.raises(ValueError, match="GENERATED ALWAYS"):
            st.overwrite_table(bad, t)
        with pytest.raises(ValueError, match="GENERATED ALWAYS"):
            st.merge_into(spark, t, bad, ["id"])

    def test_stability_through_dv_delete_and_optimize(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        before = {
            r.id: r.sk for r in st.read_snapshot(spark, t).collect()
        }
        st.delete_where(spark, t, [("id", "<", 3)], use_dv=True)
        st.optimize(spark, t, files_per_partition=1)
        after = {r.id: r.sk for r in st.read_snapshot(spark, t).collect()}
        assert after == {i: before[i] for i in range(3, 8)}
        # retired surrogates never reappear
        st.append(
            spark.createDataFrame([(200, 0)], "id int, v int").coalesce(1), t
        )
        sks = [r.sk for r in st.read_snapshot(spark, t).collect()]
        assert len(sks) == len(set(sks))

    def test_reader_feature_gate(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        m = st._raw_manifest(t, st.current_version(t))
        assert "identity-columns" in m["reader_features"]

    def test_merge_evolution_on_identity_table(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        src = spark.createDataFrame(
            [(3, 999, "web"), (300, 5, "app")], "id int, v int, ch string"
        )
        st.merge_into(spark, t, src, ["id"], evolve_schema=True)
        got = {
            r.id: (r.v, r.ch, r.sk)
            for r in st.read_snapshot(spark, t).collect()
        }
        assert got[3][:2] == (999, "web") and got[300][:2] == (5, "app")
        assert got[0][:2] == (0, None)
        # preserved row tracking: survivors AND the matched row keep
        # their surrogate through the merge; the insert allocates
        # above the mark
        assert got[3][2] == 1006 and got[0][2] == 1000
        assert got[300][2] == 1016
        sks = [v[2] for v in got.values()]
        assert len(sks) == len(set(sks))


def test_restore_to_timestamp(spark, tmp_path):
    t = str(tmp_path / "restore_ts")
    st.create_table(spark.range(3).coalesce(1), t, [])
    st.append(spark.range(3, 6).coalesce(1), t)
    ts_v2 = st._read_manifest(t, 2)["committed_at"]
    st.append(spark.range(6, 9).coalesce(1), t)
    v = st.restore_to_timestamp(t, ts_v2)
    assert v == st.current_version(t)
    assert st.read_snapshot(spark, t).count() == 6
    # predating the first commit refuses (version_as_of contract)
    with pytest.raises(ValueError):
        st.restore_to_timestamp(t, 0.0)


def test_merge_evolution_on_partitioned_table(spark, tmp_path):
    """Regression: the PRUNED merge path must commit the WIDENED
    schema — before the fix it committed the parent schema, writing
    the new column into files but dropping it from every read."""
    t = str(tmp_path / "mev_part")
    df = spark.createDataFrame(
        [(i, "A" if i % 2 else "B", i * 1.0) for i in range(10)],
        "id int, g string, v double",
    )
    st.create_table(df, t, ["g"])
    src = spark.createDataFrame(
        [(1, "A", 99.0, "web"), (100, "A", 5.0, "app")],
        "id int, g string, v double, ch string",
    )
    st.merge_into(spark, t, src, ["id"], evolve_schema=True)
    out = st.read_snapshot(spark, t)
    assert "ch" in out.columns
    got = {r.id: (r.v, r.ch) for r in out.collect()}
    assert got[1] == (99.0, "web") and got[100] == (5.0, "app")
    # untouched partition (g='B') carried by reference, null-filled
    assert got[0] == (0.0, None) and got[2] == (2.0, None)
    assert out.count() == 11


def test_merge_preserves_row_ids_and_cdf_pairs_updates(spark, tmp_path):
    """Preserved row tracking through MERGE: survivors and matched
    rows keep their stable ids (materialized into the rewrite), only
    inserts allocate above the mark, and the row-id CDF pairs the
    merge's changes by id — value-identical pairs mark carried rows
    (rewritten in place), value-diffing pairs the real updates."""
    t = str(tmp_path / "rt_merge_cdf")
    df = (
        spark.createDataFrame([(i, i * 10) for i in range(8)], "id int, v int")
        .repartition(1)
        .sortWithinPartitions("id")
    )
    st.create_table(df, t, [])
    st.enable_row_tracking(t)  # v2: ids 0..7 in id order
    src = spark.createDataFrame([(3, 999), (100, 1)], "id int, v int")
    st.merge_into(spark, t, src, ["id"])  # v3
    _ids_materialized(t)  # the unpruned merge rewrote every file
    ids = {
        r.id: r._row_id
        for r in st.read_snapshot(spark, t, with_row_ids=True).collect()
    }
    assert ids == {**{i: i for i in range(8)}, 100: 8}
    assert st._read_manifest(t, 3)["next_row_id"] == 9
    cdf = st.changes(spark, t, 2, with_row_ids=True).collect()
    pre = {r._row_id: r.v for r in cdf if r._change_type == "update_preimage"}
    post = {
        r._row_id: r.v for r in cdf if r._change_type == "update_postimage"
    }
    changed = {k for k in pre if pre[k] != post[k]}
    assert changed == {3} and post[3] == 999
    ins = [(r.id, r._row_id) for r in cdf if r._change_type == "insert"]
    assert ins == [(100, 8)]
    # idempotent replay: same source -> same ids, mark advances by 0
    st.merge_into(spark, t, src, ["id"])
    ids2 = {
        r.id: r._row_id
        for r in st.read_snapshot(spark, t, with_row_ids=True).collect()
    }
    assert ids2 == ids


def test_merge_preserves_row_ids_on_partitioned_table(spark, tmp_path):
    """Preserved-merge ids on the PRUNED path: only the touched
    partition rewrites (with materialized ids); untouched partitions
    carry by reference with their allocated ranges intact."""
    t = str(tmp_path / "rt_merge_part")
    df = (
        spark.createDataFrame(
            [(i, "A" if i < 4 else "B", i * 10) for i in range(8)],
            "id int, g string, v int",
        )
        .repartition(1)
        .sortWithinPartitions("id")
    )
    st.create_table(df, t, ["g"])
    st.enable_row_tracking(t)
    before = {
        r.id: r._row_id
        for r in st.read_snapshot(spark, t, with_row_ids=True).collect()
    }
    src = spark.createDataFrame(
        [(1, "A", 999), (50, "A", 5)], "id int, g string, v int"
    )
    carried = set(st._read_manifest(t, st.current_version(t))["files"])
    st.merge_into(spark, t, src, ["id"])
    m = st._read_manifest(t, st.current_version(t))
    _ids_materialized(t, [f for f in m["files"] if f not in carried])
    after = {
        r.id: r._row_id
        for r in st.read_snapshot(spark, t, with_row_ids=True).collect()
    }
    assert {k: v for k, v in after.items() if k != 50} == before
    assert after[50] == max(before.values()) + 1
    got = {r.id: r.v for r in st.read_snapshot(spark, t).collect()}
    assert got[1] == 999 and got[50] == 5 and got[7] == 70
    # the untouched partition's files carried by reference
    m = st._read_manifest(t, st.current_version(t))
    assert any("g=B" in f for f in m["files"])


# ---------------------------------------------------------------------------
# Round-11 ADVICE regressions: tracked-merge uniqueness guards, pinned
# insert sets, pruned-path evolution type gate, identity metadata-only
# OPTIMIZE, vacuum grace-window observability.
# ---------------------------------------------------------------------------


def test_merge_tracked_duplicate_source_keys_raise(spark, tmp_path):
    """Two source rows matching ONE target key on a row-tracked table
    must raise (Delta's 'multiple source rows matched') — silently
    giving both the same stable _row_id would break the uniqueness
    invariant CDF pairing and identity columns rely on."""
    t = str(tmp_path / "rt_dup_src")
    df = (
        spark.createDataFrame([(i, i * 10) for i in range(4)], "id int, v int")
        .repartition(1)
        .sortWithinPartitions("id")
    )
    st.create_table(df, t, [])
    st.enable_row_tracking(t)
    src = spark.createDataFrame([(2, 7), (2, 8)], "id int, v int")
    with pytest.raises(ValueError, match="multiple source rows"):
        st.merge_into(spark, t, src, ["id"])
    # duplicate source keys that are pure INSERTS stay legal (no target
    # row to pair with; each allocates its own fresh id)
    src2 = spark.createDataFrame([(50, 1), (50, 2)], "id int, v int")
    st.merge_into(spark, t, src2, ["id"])
    ids = [r._row_id for r in st.read_snapshot(spark, t, with_row_ids=True).collect()]
    assert len(ids) == len(set(ids)) == 6


def test_merge_tracked_duplicate_target_keys_match_untracked(spark, tmp_path):
    """Duplicate TARGET keys collapse to the single source row on the
    untracked merge_upsert path; the tracked path must produce the
    same row count (inheriting ONE id, the min per key), not fan the
    matched source row out once per duplicate."""
    t = str(tmp_path / "rt_dup_tgt")
    dup = (
        spark.createDataFrame(
            [(1, 10), (2, 20), (2, 21), (3, 30)], "id int, v int"
        )
        .repartition(1)
        .sortWithinPartitions("id", "v")
    )
    st.create_table(dup, t, [])
    st.enable_row_tracking(t)
    src = spark.createDataFrame([(2, 999)], "id int, v int")
    st.merge_into(spark, t, src, ["id"])
    rows = st.read_snapshot(spark, t, with_row_ids=True).collect()
    got = sorted((r.id, r.v) for r in rows)
    assert got == [(1, 10), (2, 999), (3, 30)]  # merge_upsert semantics
    ids = [r._row_id for r in rows]
    assert len(ids) == len(set(ids))
    # the matched row inherited the MIN of the duplicate pair's ids
    assert {r._row_id for r in rows if r.id == 2} == {1}


def test_merge_tracked_nondeterministic_source_pins_inserts(spark, tmp_path):
    """A nondeterministic source must not commit a next_row_id that
    disagrees with the ids actually written: the insert set is pinned
    (localCheckpoint) before counting, so next_row_id == max(id)+1 and
    ids stay unique even when every evaluation of the source differs."""
    import random as _random

    from pyspark.sql.types import BooleanType

    t = str(tmp_path / "rt_nondet")
    df = (
        spark.createDataFrame([(i, i) for i in range(4)], "id int, v int")
        .repartition(1)
        .sortWithinPartitions("id")
    )
    st.create_table(df, t, [])
    st.enable_row_tracking(t)
    coin = F.udf(lambda: _random.random() < 0.5, BooleanType()).asNondeterministic()
    base = spark.createDataFrame(
        [(100 + i, i) for i in range(40)], "id int, v int"
    )
    st.merge_into(spark, t, base.filter(coin()), ["id"])
    snap = st.read_snapshot(spark, t, with_row_ids=True).collect()
    ids = [r._row_id for r in snap]
    assert len(ids) == len(set(ids))
    mark = st._read_manifest(t, st.current_version(t))["next_row_id"]
    assert mark == max(ids) + 1
    # and a follow-up merge allocates strictly above — no id reuse
    st.merge_into(
        spark,
        t,
        spark.createDataFrame([(500, 1)], "id int, v int"),
        ["id"],
    )
    snap2 = st.read_snapshot(spark, t, with_row_ids=True).collect()
    ids2 = [r._row_id for r in snap2]
    assert len(ids2) == len(set(ids2))
    assert {r._row_id for r in snap2 if r.id == 500} == {mark}


def test_merge_evolution_rejects_type_change_on_pruned_path(spark, tmp_path):
    """The pruned (partition-rewrite) evolve path commits a widened
    schema; a source that ALSO implicitly changes an existing column's
    type (unionByName coercion) must raise the same type-conflict
    error append's mergeSchema raises — committing the coerced type
    would contradict the carried untouched-partition files' physical
    schema."""
    t = str(tmp_path / "evolve_typegate")
    df = spark.createDataFrame(
        [(i, "A" if i < 2 else "B", i) for i in range(4)],
        "id int, g string, v int",
    )
    st.create_table(df, t, ["g"])
    src = spark.createDataFrame(
        [(1, "A", 2**40, "x")], "id int, g string, v long, w string"
    )
    with pytest.raises(ValueError, match="type conflict"):
        st.merge_into(spark, t, src, ["id"], evolve_schema=True)
    # untouched: same-type evolution still commits and carried files null-fill
    ok = spark.createDataFrame(
        [(1, "A", 99, "x")], "id int, g string, v int, w string"
    )
    st.merge_into(spark, t, ok, ["id"], evolve_schema=True)
    got = {r.id: (r.v, r.w) for r in st.read_snapshot(spark, t).collect()}
    assert got[1] == (99, "x") and got[3] == (3, None)


def test_optimize_identity_stays_metadata_only(spark, tmp_path):
    """OPTIMIZE on an identity table must not physically write the
    derived identity column (enable_identity's documented
    metadata-only contract): the rewritten parquet carries row ids,
    the identity values re-derive at read."""
    t = str(tmp_path / "ident_opt")
    df = (
        spark.createDataFrame([(i, i * 10) for i in range(8)], "id int, v int")
        .repartition(2)
    )
    st.create_table(df, t, [])
    st.enable_identity(t, "sk", start=1000, step=2)
    before = {r.id: r.sk for r in st.read_snapshot(spark, t).collect()}
    st.optimize(spark, t, files_per_partition=1)
    m = st._read_manifest(t, st.current_version(t))
    for f in m["files"]:
        phys = spark.read.parquet(os.path.join(t, f)).schema.names
        assert "sk" not in phys, f"identity column physically written in {f}"
        assert st.ROW_ID_COL in phys  # ids ARE materialized
    after = {r.id: r.sk for r in st.read_snapshot(spark, t).collect()}
    assert after == before


def test_vacuum_reports_skipped_young_files(spark, tmp_path):
    """deleted_files=0 under the grace window is ambiguous for
    automation; vacuum reports skipped_young_files so callers can tell
    'nothing to reclaim' from 'deferred by grace'."""
    t = str(tmp_path / "vac_young")
    df = spark.createDataFrame([(1,)], "id int").coalesce(1)
    st.create_table(df, t, [])
    st.overwrite_table(spark.createDataFrame([(2,)], "id int").coalesce(1), t)
    st.vacuum(t, retain_last=1, grace_seconds=0)  # expire history first
    # orphan a fresh file: stage without publishing
    orphan = os.path.join(st._data_dir(t), "part-orphan.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not yet published")
    res = st.vacuum(t)  # default grace: too young to reclaim
    assert res["deleted_files"] == 0 and res["skipped_young_files"] == 1
    dry = st.vacuum(t, dry_run=True)
    assert dry["skipped_young_files"] == 1 and dry["files"] == []
    res2 = st.vacuum(t, grace_seconds=0)
    assert res2["deleted_files"] == 1 and res2["skipped_young_files"] == 0
    assert not os.path.exists(orphan)


# ---------------------------------------------------------------------------
# Concurrent-commit reconciliation (snaptable._try_rebase): disjoint
# writers auto-rebase with no caller retry; true conflicts still raise.
# ---------------------------------------------------------------------------


def _interleave(monkeypatch, winner_fn):
    """Deterministic race: the NEXT _publish first lets ``winner_fn``
    commit (it publishes through the original path), so the caller's
    publish collides and exercises the rebase machinery."""
    orig = st._publish
    state = {"fired": False}

    def inject(table, version, manifest):
        if not state["fired"]:
            state["fired"] = True
            winner_fn()
        return orig(table, version, manifest)

    monkeypatch.setattr(st, "_publish", inject)
    return state


def _mk_part_table(spark, tmp_path, name="cc"):
    t = str(tmp_path / name)
    df = spark.createDataFrame(
        [(i, "A" if i < 4 else "B", i * 10) for i in range(8)],
        "id int, g string, v int",
    ).coalesce(1)  # one file per partition: same-file tests need it
    st.create_table(df, t, ["g"])
    return t


def test_concurrent_disjoint_partition_overwrites_both_commit(
    spark, tmp_path
):
    """The flagship scenario: two interleaved writers overwriting
    DISJOINT partitions both commit, neither needing caller retry —
    the loser auto-rebases onto the winner's head."""
    import threading

    t = _mk_part_table(spark, tmp_path)
    src_a = spark.createDataFrame(
        [(100, "A", 1), (101, "A", 2)], "id int, g string, v int"
    )
    src_b = spark.createDataFrame(
        [(200, "B", 3)], "id int, g string, v int"
    )
    orig = st._publish
    barrier = threading.Barrier(2, timeout=120)
    n_calls = [0]
    lock = threading.Lock()

    def gated(table, version, manifest):
        with lock:
            n_calls[0] += 1
            k = n_calls[0]
        if k <= 2:  # both writers finish computing before either publishes
            barrier.wait()
        return orig(table, version, manifest)

    st._publish = gated
    errs: list[BaseException] = []
    try:
        def run(src):
            try:
                st.overwrite_partitions(src, t)
            except BaseException as e:  # noqa: BLE001
                errs.append(e)

        th = [threading.Thread(target=run, args=(s,)) for s in (src_a, src_b)]
        for x in th:
            x.start()
        for x in th:
            x.join(timeout=300)
    finally:
        st._publish = orig
    assert errs == []
    assert st.current_version(t) == 3  # create + both writers
    got = sorted((r.id, r.g) for r in st.read_snapshot(spark, t).collect())
    assert got == [(100, "A"), (101, "A"), (200, "B")]
    ops = [st._read_manifest(t, v)["operation"] for v in (2, 3)]
    assert ops == ["overwrite_partitions", "overwrite_partitions"]


def test_concurrent_same_partition_overwrite_true_conflict(
    spark, tmp_path, monkeypatch
):
    """Two writers rewriting the SAME partition: the loser's removed
    files are gone at the new head — a true conflict, raised."""
    t = _mk_part_table(spark, tmp_path)
    winner_src = spark.createDataFrame(
        [(100, "A", 1)], "id int, g string, v int"
    )
    loser_src = spark.createDataFrame(
        [(300, "A", 9)], "id int, g string, v int"
    )
    _interleave(
        monkeypatch, lambda: st.overwrite_partitions(winner_src, t)
    )
    with pytest.raises(st.ConcurrentCommit, match="true conflict"):
        st.overwrite_partitions(loser_src, t)
    # the winner's commit stands untouched
    got = sorted((r.id, r.g) for r in st.read_snapshot(spark, t).collect())
    assert got == [(4, "B"), (5, "B"), (6, "B"), (7, "B"), (100, "A")]


def test_concurrent_blind_appends_both_commit(spark, tmp_path, monkeypatch):
    t = _mk_part_table(spark, tmp_path)
    w = spark.createDataFrame([(100, "A", 1)], "id int, g string, v int")
    l = spark.createDataFrame([(200, "B", 2)], "id int, g string, v int")
    _interleave(monkeypatch, lambda: st.append(w, t))
    st.append(l, t)  # no exception: blind appends always rebase
    assert st.current_version(t) == 3
    ids = sorted(r.id for r in st.read_snapshot(spark, t).collect())
    assert ids == list(range(8)) + [100, 200]


def test_append_rebases_past_partition_overwrite(spark, tmp_path, monkeypatch):
    """A blind append losing to a partition overwrite carries both
    effects: the overwrite's rewrite AND the appended rows."""
    t = _mk_part_table(spark, tmp_path)
    w = spark.createDataFrame([(100, "A", 1)], "id int, g string, v int")
    l = spark.createDataFrame([(200, "A", 2)], "id int, g string, v int")
    _interleave(monkeypatch, lambda: st.overwrite_partitions(w, t))
    st.append(l, t)
    got = sorted((r.id, r.g) for r in st.read_snapshot(spark, t).collect())
    assert got == [
        (4, "B"), (5, "B"), (6, "B"), (7, "B"), (100, "A"), (200, "A"),
    ]


def test_partition_overwrite_conflicts_with_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """The mirror image: an overwrite losing to an append INTO the
    partition it rewrites must raise (the rewrite would silently
    clobber the appended rows — Delta's ConcurrentAppendException)."""
    t = _mk_part_table(spark, tmp_path)
    w = spark.createDataFrame([(100, "A", 1)], "id int, g string, v int")
    l = spark.createDataFrame([(300, "A", 9)], "id int, g string, v int")
    _interleave(monkeypatch, lambda: st.append(w, t))
    with pytest.raises(st.ConcurrentCommit, match="rewritten partition"):
        st.overwrite_partitions(l, t)
    # ... while an append into a DIFFERENT partition rebases fine
    t2 = _mk_part_table(spark, tmp_path, "cc2")
    w2 = spark.createDataFrame([(100, "B", 1)], "id int, g string, v int")
    _interleave(monkeypatch, lambda: st.append(w2, t2))
    st.overwrite_partitions(l, t2)
    got = sorted((r.id, r.g) for r in st.read_snapshot(spark, t2).collect())
    assert got == [
        (4, "B"), (5, "B"), (6, "B"), (7, "B"), (100, "B"), (300, "A"),
    ]


def test_concurrent_schema_change_is_true_conflict(spark, tmp_path, monkeypatch):
    t = _mk_part_table(spark, tmp_path)
    w = spark.createDataFrame(
        [(100, "A", 1, "x")], "id int, g string, v int, w string"
    )
    l = spark.createDataFrame([(200, "B", 2)], "id int, g string, v int")
    _interleave(monkeypatch, lambda: st.append(w, t, merge_schema=True))
    with pytest.raises(st.ConcurrentCommit, match="schema changed"):
        st.append(l, t)


def test_concurrent_dv_deletes_on_disjoint_files_merge(
    spark, tmp_path, monkeypatch
):
    """Two merge-on-read deletes touching DIFFERENT files: the loser
    rebases and the final head carries BOTH deletion vectors."""
    t = _mk_part_table(spark, tmp_path)  # g=A file and g=B file
    _interleave(
        monkeypatch,
        lambda: st.delete_where(spark, t, [("id", "=", 1)], use_dv=True),
    )
    st.delete_where(spark, t, [("id", "=", 6)], use_dv=True)
    assert st.current_version(t) == 3
    ids = sorted(r.id for r in st.read_snapshot(spark, t).collect())
    assert ids == [0, 2, 3, 4, 5, 7]


def test_concurrent_dv_deletes_same_file_conflict(spark, tmp_path, monkeypatch):
    t = _mk_part_table(spark, tmp_path)
    _interleave(
        monkeypatch,
        lambda: st.delete_where(spark, t, [("id", "=", 1)], use_dv=True),
    )
    with pytest.raises(st.ConcurrentCommit, match="deletion vector"):
        st.delete_where(spark, t, [("id", "=", 2)], use_dv=True)


def test_optimize_rebases_past_concurrent_append(spark, tmp_path, monkeypatch):
    """OPTIMIZE is row-preserving over exactly the files it removes,
    so a concurrent append's file simply carries through the rebase."""
    t = _mk_part_table(spark, tmp_path)
    w = spark.createDataFrame([(100, "A", 1)], "id int, g string, v int")
    _interleave(monkeypatch, lambda: st.append(w, t))
    st.optimize(spark, t, files_per_partition=1)
    ids = sorted(r.id for r in st.read_snapshot(spark, t).collect())
    assert ids == list(range(8)) + [100]


def test_full_overwrite_conflicts_with_any_concurrent_add(
    spark, tmp_path, monkeypatch
):
    t = _mk_part_table(spark, tmp_path)
    w = spark.createDataFrame([(100, "A", 1)], "id int, g string, v int")
    l = spark.createDataFrame([(0, "A", 0)], "id int, g string, v int")
    _interleave(monkeypatch, lambda: st.append(w, t))
    with pytest.raises(st.ConcurrentCommit, match="added concurrently"):
        st.overwrite_table(l, t)


def test_tracked_appends_rebase_with_fresh_id_ranges(
    spark, tmp_path, monkeypatch
):
    """On a row-tracked table, a rebased blind append RE-ALLOCATES its
    id range off the new head's high-water mark — no collision with
    the ids the winner allocated."""
    t = _mk_part_table(spark, tmp_path)
    st.enable_row_tracking(t)
    w = spark.createDataFrame([(100, "A", 1)], "id int, g string, v int")
    l = spark.createDataFrame([(200, "B", 2)], "id int, g string, v int")
    _interleave(monkeypatch, lambda: st.append(w, t))
    st.append(l, t)
    rows = st.read_snapshot(spark, t, with_row_ids=True).collect()
    ids = [r._row_id for r in rows]
    assert len(ids) == len(set(ids)) == 10
    m = st._read_manifest(t, st.current_version(t))
    assert m["next_row_id"] == max(ids) + 1


def test_tracked_merges_with_concurrent_allocation_conflict(
    spark, tmp_path, monkeypatch
):
    """Two tracked MERGEs both pre-allocate id ranges off the same
    mark — a rebase would collide, so the loser raises."""
    t = _mk_part_table(spark, tmp_path)
    st.enable_row_tracking(t)
    w = spark.createDataFrame([(500, "A", 1)], "id int, g string, v int")
    l = spark.createDataFrame([(600, "B", 2)], "id int, g string, v int")
    _interleave(monkeypatch, lambda: st.merge_into(spark, t, w, ["id"]))
    with pytest.raises(st.ConcurrentCommit, match="row ids"):
        st.merge_into(spark, t, l, ["id"])


def test_rebase_replays_cleanly_and_bounds_attempts(spark, tmp_path, monkeypatch):
    """The rebased manifest is a normal commit: time travel sees the
    winner's version, CDF replays the merged log, and a pathological
    always-colliding publish exhausts the bounded attempts."""
    t = _mk_part_table(spark, tmp_path)
    w = spark.createDataFrame([(100, "A", 1)], "id int, g string, v int")
    l = spark.createDataFrame([(200, "B", 2)], "id int, g string, v int")
    _interleave(monkeypatch, lambda: st.append(w, t))
    st.append(l, t)
    # time travel: v2 is the winner's append alone
    ids_v2 = sorted(r.id for r in st.read_snapshot(spark, t, version=2).collect())
    assert ids_v2 == list(range(8)) + [100]
    ins = [
        r.id
        for r in st.changes(spark, t, 1).collect()
        if r._change_type == "insert"
    ]
    assert sorted(ins) == [100, 200]


def test_three_writer_chain_rebases_twice(spark, tmp_path, monkeypatch):
    """A loser can lose AGAIN mid-rebase: with three stacked winners
    the bounded retry chain lands the commit, history() records the
    ORIGINAL parent in rebased_from, and every payload survives."""
    t = _mk_part_table(spark, tmp_path)
    w1 = spark.createDataFrame([(100, "A", 1)], "id int, g string, v int")
    w2 = spark.createDataFrame([(101, "A", 2)], "id int, g string, v int")
    l = spark.createDataFrame([(200, "B", 3)], "id int, g string, v int")
    orig = st._publish
    state = {"n": 0}

    def inject(table, version, manifest):
        state["n"] += 1
        if state["n"] == 1:
            st.append(w1, t)  # wins round 1
        elif state["n"] == 3:  # the loser's FIRST rebase attempt
            st.append(w2, t)  # wins round 2
        return orig(table, version, manifest)

    monkeypatch.setattr(st, "_publish", inject)
    st.append(l, t)
    monkeypatch.setattr(st, "_publish", orig)
    assert st.current_version(t) == 4
    ids = sorted(r.id for r in st.read_snapshot(spark, t).collect())
    assert ids == list(range(8)) + [100, 101, 200]
    hist = {h["version"]: h for h in st.history(t)}
    assert hist[4]["rebased_from"] == 1  # original parent, not v3
    assert "rebased_from" not in hist[2] and "rebased_from" not in hist[3]


def test_vacuum_reclaims_crashed_staging_dir(spark, tmp_path):
    """A writer that dies mid-_write_data leaves a staging dir under
    data/; vacuum reclaims its files past the grace window and prunes
    the empty dir."""
    t = str(tmp_path / "vac_staging")
    st.create_table(
        spark.createDataFrame([(1,)], "id int").coalesce(1), t, []
    )
    stage = os.path.join(st._data_dir(t), st._STAGING_PREFIX + "deadbeef")
    os.makedirs(stage)
    orphan = os.path.join(stage, "part-crashed.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"crashed write")
    res = st.vacuum(t)  # young: deferred by the grace window
    assert res["deleted_files"] == 0 and res["skipped_young_files"] == 1
    res2 = st.vacuum(t, grace_seconds=0)
    assert res2["deleted_files"] == 1
    assert not os.path.exists(stage)  # empty staging dir pruned
    assert st.read_snapshot(spark, t).count() == 1


def test_vacuum_prunes_nested_partitioned_staging_dir(spark, tmp_path):
    """A crashed write on a PARTITIONED table leaves a nested staging
    tree (data/_staging-X/g=A/part.parquet); ONE vacuum pass must
    remove the whole chain — the bottom-up prune may not trust the
    walk's stale ``dirs`` listing, or the parent survives a pass per
    nesting level."""
    t = str(tmp_path / "vac_staging_nested")
    st.create_table(
        spark.createDataFrame([(1, "A")], "id int, g string").coalesce(1),
        t,
        ["g"],
    )
    stage = os.path.join(st._data_dir(t), st._STAGING_PREFIX + "cafebabe")
    os.makedirs(os.path.join(stage, "g=A"))
    with open(os.path.join(stage, "g=A", "part-crashed.parquet"), "wb") as fh:
        fh.write(b"crashed write")
    res = st.vacuum(t, grace_seconds=0)
    assert res["deleted_files"] == 1
    assert not os.path.exists(stage)  # chain gone in a single pass
    assert st.read_snapshot(spark, t).count() == 1


def test_single_rebase_spans_multiple_winners(spark, tmp_path, monkeypatch):
    """The rebase validates against the AGGREGATED parent->head diff:
    one losing append can jump a chain of two winner commits in a
    single reconciliation."""
    t = _mk_part_table(spark, tmp_path)
    w1 = spark.createDataFrame([(100, "A", 1)], "id int, g string, v int")
    w2 = spark.createDataFrame([(101, "B", 2)], "id int, g string, v int")

    def two_winners():
        st.append(w1, t)   # v2
        st.delete_where(spark, t, [("id", "=", 0)], use_dv=True)  # v3
        st.append(w2, t)   # v4

    _interleave(monkeypatch, two_winners)
    l = spark.createDataFrame([(200, "B", 3)], "id int, g string, v int")
    st.append(l, t)  # computed against v1, rebases across v2..v4
    assert st.current_version(t) == 5
    ids = sorted(r.id for r in st.read_snapshot(spark, t).collect())
    assert ids == list(range(1, 8)) + [100, 101, 200]  # DV delete survives
    assert {h["version"]: h for h in st.history(t)}[5]["rebased_from"] == 1


def test_rebase_refuses_replayed_txn_epoch(spark, tmp_path, monkeypatch):
    """Two writers sharing an (app_id, epoch): if the epoch already
    committed in a winner, the loser's rebase must refuse (a replay
    double-applies on rebase) — the Delta txn appId/version check
    inside reconciliation."""
    t = _mk_part_table(spark, tmp_path)
    batch = spark.createDataFrame([(100, "A", 1)], "id int, g string, v int")
    _interleave(monkeypatch, lambda: st.append(batch, t, txn=("app", 7)))
    with pytest.raises(st.ConcurrentCommit, match="already committed"):
        st.append(batch, t, txn=("app", 7))
    # ... while a FRESH epoch from the same app rebases fine
    t2 = _mk_part_table(spark, tmp_path, "txn2")
    _interleave(monkeypatch, lambda: st.append(batch, t2, txn=("app", 7)))
    nxt = spark.createDataFrame([(200, "B", 2)], "id int, g string, v int")
    st.append(nxt, t2, txn=("app", 8))
    assert st.txn_epoch(t2, "app") == 8
    assert st.read_snapshot(spark, t2).count() == 10


def test_analyze_table_stats_versioned_and_dropped_on_change(spark, tmp_path):
    """ANALYZE TABLE publishes table-level cardinalities as a
    metadata-only version; a later data-changing commit DROPS them
    (a planner must never read stale NDVs as current), while time
    travel to the analyzed version still serves them."""
    t = str(tmp_path / "analyze")
    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3), None if i % 4 == 0 else i * 10) for i in range(12)],
        "id int, g string, v int",
    ).coalesce(1)
    st.create_table(df, t, [])
    v = st.analyze_table(spark, t)
    assert v == 2
    s = st.analyzed_stats(t)
    assert s["rows"] == 12 and s["computed_at_version"] == 1
    assert s["columns"]["id"] == {"ndv": 12, "nulls": 0}
    assert s["columns"]["g"] == {"ndv": 3, "nulls": 0}
    assert s["columns"]["v"] == {"ndv": 9, "nulls": 3}
    # column subset + unknown column guard
    st.analyze_table(spark, t, ["g"])
    assert set(st.analyzed_stats(t)["columns"]) == {"g"}
    with pytest.raises(ValueError, match="unknown columns"):
        st.analyze_table(spark, t, ["nope"])
    # a data change drops the stats; the analyzed version keeps them
    st.append(spark.createDataFrame([(99, "x", 1)], "id int, g string, v int"), t)
    assert st.analyzed_stats(t) is None
    assert st.analyzed_stats(t, version=2)["rows"] == 12
    # partition columns are excluded from the default column set
    t2 = str(tmp_path / "analyze_part")
    st.create_table(df, t2, ["g"])
    st.analyze_table(spark, t2)
    assert set(st.analyzed_stats(t2)["columns"]) == {"id", "v"}


# ---------------------------------------------------------------------------
# refresh_count_sum_view: cursor-driven materialized-view refresh
# (cursor rides the sink's txn — data + cursor in one atomic commit)
# ---------------------------------------------------------------------------


def _mk_ivm_source(spark, tmp_path):
    t = str(tmp_path / "ivm_src")
    df = spark.createDataFrame(
        [(i, "A" if i % 2 == 0 else "B", float(i)) for i in range(10)],
        "id int, g string, v double",
    ).coalesce(1)
    st.create_table(df, t, [])
    return t


def _recompute(spark, source):
    from pyspark.sql import functions as F

    return {
        (r.g, r.n, str(r.s))
        for r in st.read_snapshot(spark, source)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("v").cast("decimal(25,10)"))
            .cast("decimal(38,10)")
            .alias("s"),
        )
        .collect()
    }


def _sink_rows(spark, sink):
    return {
        (r.g, r.n, str(r.s))
        for r in st.read_snapshot(spark, sink).collect()
    }


def _minmax_recompute(spark, source):
    return {
        (r.g, r.n, r.mn, r.mx)
        for r in st.read_snapshot(spark, source)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }


def _minmax_sink_rows(spark, sink):
    return {
        (r.g, r.n, r.mn, r.mx)
        for r in st.read_snapshot(spark, sink).collect()
    }


def _hll_recompute(spark, source):
    return sorted(
        (r.g, r.idx, r.r)
        for r in st.hll_regs(st.read_snapshot(spark, source), ["g"], "v").collect()
    )


def _hll_sink_rows(spark, sink):
    return sorted(
        (r.g, r.idx, r.r) for r in st.read_snapshot(spark, sink).collect()
    )


#: view kind -> (refresh function, recompute oracle over the source,
#: sink reader): the exactly-once protocol tests run over all three
#: views, each against its own oracle
_VIEWS = {
    "count_sum": (st.refresh_count_sum_view, _recompute, _sink_rows),
    "minmax": (st.refresh_minmax_view, _minmax_recompute, _minmax_sink_rows),
    "hll": (st.refresh_hll_view, _hll_recompute, _hll_sink_rows),
}


def test_refresh_count_sum_view_lifecycle(spark, tmp_path):
    """full -> delta -> noop, each state bit-identical to a recompute
    over the source's visible rows, with the cursor advancing inside
    the sink's own commits."""
    src = _mk_ivm_source(spark, tmp_path)
    sink = str(tmp_path / "ivm_sink")
    r1 = st.refresh_count_sum_view(spark, src, sink, ["g"], "v")
    assert r1["mode"] == "full" and r1["to_version"] == 1
    assert _sink_rows(spark, sink) == _recompute(spark, src)
    # source churn: an append and a delete
    st.append(
        spark.createDataFrame([(100, "A", 5.5)], "id int, g string, v double"),
        src,
    )
    st.delete_where(spark, src, [("v", "<", 3.0)])
    r2 = st.refresh_count_sum_view(spark, src, sink, ["g"], "v")
    assert r2["mode"] == "delta" and r2["from_version"] == 1
    assert r2["to_version"] == 3
    assert _sink_rows(spark, sink) == _recompute(spark, src)
    r3 = st.refresh_count_sum_view(spark, src, sink, ["g"], "v")
    assert r3["mode"] == "noop"
    # stable sink schema across full and delta commits; (37,10) so the
    # delta addition (37,10)+(35,10) needs exactly precision 38 and
    # stays exact (38 would need 39 -> allowPrecisionLoss -> (38,9))
    s_field = [
        f for f in st.read_snapshot(spark, sink).schema.fields if f.name == "s"
    ][0]
    assert str(s_field.dataType) == "DecimalType(37,10)"


@pytest.mark.parametrize("view", sorted(_VIEWS))
def test_refresh_view_crash_at_publish_converges(
    spark, tmp_path, monkeypatch, view
):
    """Kill the refresh AT the publish (commit never lands): the
    cursor is unchanged, so the re-run re-applies the same delta to
    the OLD aggregate and converges — no double-fold possible because
    data and cursor share the commit."""
    refresh, recompute, sink_rows = _VIEWS[view]
    src = _mk_ivm_source(spark, tmp_path)
    sink = str(tmp_path / "ivm_sink2")
    refresh(spark, src, sink, ["g"], "v")
    st.append(
        spark.createDataFrame([(100, "B", 9.0)], "id int, g string, v double"),
        src,
    )
    orig = st._publish
    boom = {"armed": True}

    def crashing(table, version, manifest):
        if boom["armed"] and table == sink:
            boom["armed"] = False
            raise RuntimeError("simulated crash at publish")
        return orig(table, version, manifest)

    monkeypatch.setattr(st, "_publish", crashing)
    with pytest.raises(RuntimeError, match="simulated crash"):
        refresh(spark, src, sink, ["g"], "v")
    # replay: cursor still at v1, delta re-applies cleanly
    r = refresh(spark, src, sink, ["g"], "v")
    assert r["mode"] == "delta"
    assert sink_rows(spark, sink) == recompute(spark, src)
    # and once landed, a further replay no-ops
    assert refresh(spark, src, sink, ["g"], "v")["mode"] == "noop"


@pytest.mark.parametrize("view", sorted(_VIEWS))
def test_refresh_view_expired_cursor_full_rebuild(spark, tmp_path, view):
    """Source retention expired the cursor's snapshot between
    refreshes: the refresh falls back to a FULL rebuild instead of
    failing — correctness never depends on history retention."""
    refresh, recompute, sink_rows = _VIEWS[view]
    src = _mk_ivm_source(spark, tmp_path)
    sink = str(tmp_path / "ivm_sink3")
    refresh(spark, src, sink, ["g"], "v")  # cursor = v1
    for i in range(3):
        st.append(
            spark.createDataFrame(
                [(200 + i, "A", 1.0)], "id int, g string, v double"
            ),
            src,
        )
    st.vacuum(src, retain_last=1, grace_seconds=0)  # v1 expired
    assert 1 not in st._list_versions(src)
    r = refresh(spark, src, sink, ["g"], "v")
    assert r["mode"] == "full"
    assert sink_rows(spark, sink) == recompute(spark, src)


def test_register_snapshot_view_sql_and_time_travel(spark, orders, tmp_path):
    """spark.sql reaches snapshot tables through registered views:
    head + pinned-version views coexist, time travel composes, DV
    deletes apply through the view's plan, and snapshot isolation
    holds (commits after registration are invisible until
    re-registered)."""
    t = _tbl(tmp_path)
    st.create_table(orders, t, ["o_orderstatus"])
    n_all = orders.count()
    st.delete_where(spark, t, [("o_totalprice", "<", 50000.0)], use_dv=True)
    n_head = orders.filter(F.col("o_totalprice") >= 50000.0).count()

    name = st.register_snapshot_view(spark, t, "sv_head")
    assert name == "sv_head"
    v1 = st.register_snapshot_view(spark, t, "sv_v1", version=1)
    assert spark.sql("SELECT COUNT(*) AS n FROM sv_head").collect()[0].n == n_head
    assert spark.sql(f"SELECT COUNT(*) AS n FROM {v1}").collect()[0].n == n_all
    # joins across views work like any SQL relation
    joined = spark.sql(
        "SELECT COUNT(*) AS n FROM sv_v1 a LEFT ANTI JOIN sv_head b "
        "ON a.o_orderkey = b.o_orderkey"
    ).collect()[0]
    assert joined.n == n_all - n_head
    # snapshot isolation: a commit AFTER registration is invisible
    st.append(orders.limit(5), t)
    assert spark.sql("SELECT COUNT(*) AS n FROM sv_head").collect()[0].n == n_head
    # re-register to advance to the new head
    st.register_snapshot_view(spark, t, "sv_head")
    assert (
        spark.sql("SELECT COUNT(*) AS n FROM sv_head").collect()[0].n
        == n_head + 5
    )
    # global temp view gets the qualified name back
    g = st.register_snapshot_view(spark, t, "sv_g", global_view=True)
    assert g == "global_temp.sv_g"
    assert spark.sql(f"SELECT COUNT(*) AS n FROM {g}").collect()[0].n == n_head + 5
    with pytest.raises(ValueError, match="identifier"):
        st.register_snapshot_view(spark, t, "bad-name; DROP")
    spark.catalog.dropTempView("sv_head")
    spark.catalog.dropTempView("sv_v1")
    spark.catalog.dropGlobalTempView("sv_g")


def test_register_changes_view_sql(spark, orders, tmp_path):
    """table_changes-style SQL over the change feed: the registered
    view matches the batch changes() frame and joins against a
    snapshot view in one statement."""
    t = _tbl(tmp_path)
    st.create_table(orders.limit(50).coalesce(1), t, [])
    st.delete_where(spark, t, [("o_totalprice", ">", 200000.0)])
    st.append(orders.limit(5).coalesce(1), t)
    cv = st.register_changes_view(spark, t, "cv_feed", 1)
    sv = st.register_snapshot_view(spark, t, "cv_snap")
    batch = (
        st.changes(spark, t, 1)
        .groupBy("_change_type")
        .count()
        .collect()
    )
    got = {
        r._change_type: r.n
        for r in spark.sql(
            f"SELECT _change_type, COUNT(*) AS n FROM {cv} GROUP BY 1"
        ).collect()
    }
    assert got == {r._change_type: r["count"] for r in batch}
    # cross-view join: every current row's latest change is an insert
    n = spark.sql(
        f"""SELECT COUNT(*) AS n FROM {sv} s
            LEFT ANTI JOIN (SELECT o_orderkey FROM {cv}
                            WHERE _change_type = 'insert') c
            ON s.o_orderkey = c.o_orderkey"""
    ).collect()[0].n
    assert n == 0
    spark.catalog.dropTempView("cv_feed")
    spark.catalog.dropTempView("cv_snap")


def test_cli_register_view_runs_sql(spark, orders, tmp_path, capsys, monkeypatch):
    """CLI `table register-view --sql`: the ad-hoc SQL-on-snapshot
    endpoint registers the view and prints the statement's rows."""
    import json as _json

    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.cli import main

    # the CLI stops its session on exit; keep the shared test session
    monkeypatch.setattr(spark.__class__, "stop", lambda self: None)
    t = _tbl(tmp_path)
    st.create_table(orders.limit(100).coalesce(1), t, [])
    rc = main(
        [
            "table",
            "--table",
            t,
            "register-view",
            "--name",
            "cli_view",
            "--sql",
            "SELECT COUNT(*) AS n FROM cli_view",
        ]
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["view"] == "cli_view"
    assert out["rows"] == [{"n": 100}]
    spark.catalog.dropTempView("cli_view")


class TestMaintainMinMax:
    """maintain_minmax: the non-self-maintainable IVM case. Inserts
    fold as deltas; deletes touching a group's extreme trigger the
    bounded per-group rescan; every path must equal a recompute."""

    def _mk(self, spark, tmp_path, rows, name="mm"):
        t = str(tmp_path / name)
        st.create_table(
            spark.createDataFrame(rows, "id int, g string, v double").coalesce(1),
            t,
            [],
        )
        return t

    def _base(self, spark, t):
        return (
            st.read_snapshot(spark, t, version=1)
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.min("v").alias("mn"),
                F.max("v").alias("mx"),
            )
        )

    def _roll(self, spark, t, base):
        got = {
            r.g: (r.n, r.mn, r.mx)
            for r in st.maintain_minmax(
                spark, t, base, ["g"], "v", from_version=1
            ).collect()
        }
        want = {
            r.g: (r.n, r.mn, r.mx)
            for r in st.read_snapshot(spark, t)
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.min("v").alias("mn"),
                F.max("v").alias("mx"),
            )
            .collect()
        }
        assert got == want
        return got

    def test_delete_extreme_forces_correct_rescan(self, spark, tmp_path):
        t = self._mk(
            spark, tmp_path,
            [(1, "a", 1.0), (2, "a", 5.0), (3, "a", 9.0), (4, "b", 2.0)],
        )
        base = self._base(spark, t)
        st.delete_where(spark, t, [("v", ">", 8.0)])  # a's max gone
        got = self._roll(spark, t, base)
        assert got["a"] == (2, 1.0, 5.0)  # runner-up recovered
        assert got["b"] == (1, 2.0, 2.0)  # untouched group intact

    def test_duplicate_extreme_survives_single_delete(self, spark, tmp_path):
        """Two rows share the max; deleting ONE must keep the max —
        unknowable from the aggregate alone, proven via the rescan."""
        t = self._mk(
            spark, tmp_path,
            [(1, "a", 9.0), (2, "a", 9.0), (3, "a", 1.0)],
            "mm_dup",
        )
        base = self._base(spark, t)
        st.delete_where(spark, t, [("id", "=", 1)])
        got = self._roll(spark, t, base)
        assert got["a"] == (2, 1.0, 9.0)

    def test_insert_only_is_pure_delta(self, spark, tmp_path):
        t = self._mk(spark, tmp_path, [(1, "a", 5.0)], "mm_ins")
        base = self._base(spark, t)
        st.append(
            spark.createDataFrame(
                [(2, "a", 1.0), (3, "c", 7.0)], "id int, g string, v double"
            ),
            t,
        )
        got = self._roll(spark, t, base)
        assert got["a"] == (2, 1.0, 5.0)
        assert got["c"] == (1, 7.0, 7.0)  # brand-new group

    def test_insert_then_delete_within_window(self, spark, tmp_path):
        """A value inserted AND deleted inside the window must not
        leak into the extremes (candidate came from the insert, the
        delete touches it -> rescan)."""
        t = self._mk(spark, tmp_path, [(1, "a", 5.0)], "mm_iw")
        base = self._base(spark, t)
        st.append(
            spark.createDataFrame(
                [(2, "a", 99.0)], "id int, g string, v double"
            ),
            t,
        )
        st.delete_where(spark, t, [("id", "=", 2)])
        got = self._roll(spark, t, base)
        assert got["a"] == (1, 5.0, 5.0)

    def test_group_fully_deleted_drops(self, spark, tmp_path):
        t = self._mk(
            spark, tmp_path, [(1, "a", 5.0), (2, "b", 3.0)], "mm_gone"
        )
        base = self._base(spark, t)
        st.delete_where(spark, t, [("g", "=", "a")])
        got = self._roll(spark, t, base)
        assert set(got) == {"b"}


def test_table_properties_append_only_and_vacuum_grace(spark, tmp_path):
    """SET/UNSET TBLPROPERTIES: properties carry forward on every
    commit; appendOnly refuses row-removing operations at the commit
    gate while appends/OPTIMIZE/DDL stay allowed; vacuum.graceSeconds
    becomes the table's default grace window."""
    t = str(tmp_path / "props")
    st.create_table(
        spark.createDataFrame(
            [(i, float(i)) for i in range(20)], "id int, v double"
        ).coalesce(1),
        t,
        [],
    )
    assert st.table_properties(t) == {}
    v = st.set_table_properties(t, {"appendOnly": "true", "owner": "etl"})
    assert st.table_properties(t) == {"appendOnly": "true", "owner": "etl"}
    # appends and OPTIMIZE still allowed; the property survives both
    st.append(spark.createDataFrame([(100, 1.0)], "id int, v double"), t)
    st.optimize(spark, t, files_per_partition=1)
    assert st.table_properties(t)["appendOnly"] == "true"
    # row-removing operations refuse at the commit gate
    with pytest.raises(ValueError, match="appendOnly"):
        st.delete_where(spark, t, [("v", ">", 5.0)])
    with pytest.raises(ValueError, match="appendOnly"):
        st.delete_where(spark, t, [("v", ">", 5.0)], use_dv=True)
    with pytest.raises(ValueError, match="appendOnly"):
        st.overwrite_table(
            spark.createDataFrame([(1, 1.0)], "id int, v double"), t
        )
    with pytest.raises(ValueError, match="appendOnly"):
        st.truncate_table(t)
    with pytest.raises(ValueError, match="appendOnly"):
        st.replace_table(
            spark.createDataFrame([(1, 1.0)], "id int, v double"), t
        )
    n = st.read_snapshot(spark, t).count()
    assert n == 21  # nothing was removed
    # unset: deletes work again
    st.unset_table_properties(t, ["appendOnly"])
    st.delete_where(spark, t, [("id", "=", 100)])
    assert st.read_snapshot(spark, t).count() == 20
    assert st.table_properties(t) == {"owner": "etl"}
    with pytest.raises(ValueError, match="no such table properties"):
        st.unset_table_properties(t, ["nope"], if_exists=False)
    # vacuum grace default from the property: fresh orphans survive
    st.set_table_properties(t, {"vacuum.graceSeconds": "3600"})
    st._write_data(
        spark.createDataFrame([(999, 9.0)], "id int, v double"), t, [], {}
    )  # simulated crashed write, seconds old
    rep = st.vacuum(t)  # no grace arg -> property applies
    assert rep["deleted_files"] == 0 and rep["skipped_young_files"] > 0
    rep2 = st.vacuum(t, grace_seconds=0)  # explicit arg overrides
    assert rep2["deleted_files"] > 0


def test_add_drop_constraint_ddl(spark, tmp_path):
    """ALTER TABLE ADD/DROP CONSTRAINT: add validates existing rows
    first (one agg pass; NULL passes, SQL CHECK semantics), records
    the constraint metadata-only, and future commits enforce it;
    drop is metadata-only with IF EXISTS semantics; duplicate adds
    raise."""
    t = str(tmp_path / "con_ddl")
    st.create_table(
        spark.createDataFrame(
            [(1, 10.0), (2, None), (3, 5.0)], "id int, v double"
        ).coalesce(1),
        t,
        [],
    )
    # existing rows violate -> refused, nothing committed
    with pytest.raises(st.ConstraintViolation):
        st.add_constraint(spark, t, "v_big", "v > 6.0")
    assert st.current_version(t) == 1
    # NULL passes (SQL CHECK), so v >= 5 holds for (10, NULL, 5)
    v = st.add_constraint(spark, t, "v_min", "v >= 5.0")
    assert v == 2
    assert st._read_manifest(t, 2)["constraints"] == {"v_min": "v >= 5.0"}
    with pytest.raises(ValueError, match="already exists"):
        st.add_constraint(spark, t, "v_min", "v >= 0.0")
    # future commits enforce it
    with pytest.raises(st.ConstraintViolation):
        st.append(
            spark.createDataFrame([(4, 1.0)], "id int, v double"), t
        )
    st.append(spark.createDataFrame([(4, 7.0)], "id int, v double"), t)
    # drop: metadata-only; IF EXISTS tolerates absence
    v2 = st.drop_constraint(t, "v_min")
    assert st._read_manifest(t, v2)["constraints"] == {}
    with pytest.raises(ValueError, match="no constraint"):
        st.drop_constraint(t, "v_min")
    assert st.drop_constraint(t, "v_min", if_exists=True) == v2
    # enforcement really ended
    st.append(spark.createDataFrame([(5, 1.0)], "id int, v double"), t)
    assert st.read_snapshot(spark, t).count() == 5


def test_txn_index_carried_seeded_and_legacy_fallback(spark, tmp_path):
    """txn_epoch is an O(1) head lookup on indexed tables (Delta's
    setTransactions-in-checkpoint): every commit carries the
    app_id -> latest-epoch map; a pre-index history seeds the map at
    the first indexed commit so historical cursors are never lost;
    manifests with no index at all still answer via the legacy
    scan."""
    import json as _json

    df = spark.createDataFrame([(1, "a")], "id int, g string").coalesce(1)
    t = str(tmp_path / "txn_idx")
    st.create_table(df, t, [], txn=("w", 1))
    st.append(df, t, txn=("w", 2))
    st.append(df, t, txn=("u", 7))
    st.append(df, t)  # txn-less commit still carries the map
    head = st.current_version(t)
    idx = st._raw_manifest(t, head)["txn_index"]
    assert idx == {"w": 2, "u": 7}
    assert st.txn_epoch(t, "w") == 2
    assert st.txn_epoch(t, "u") == 7
    assert st.txn_epoch(t, "nobody") is None
    # at_version resolves against THAT version's index
    assert st.txn_epoch(t, "u", at_version=2) is None

    # legacy table: strip the index from every manifest -> fallback
    # scan still answers; the next commit re-seeds the full map
    for v in st._list_versions(t):
        p = st._manifest_path(t, v)
        m = _json.load(open(p))
        m.pop("txn_index", None)
        os.unlink(p)
        with open(p, "w") as fh:
            _json.dump(m, fh)
    assert st.txn_epoch(t, "w") == 2  # legacy scan
    st.append(df, t, txn=("u", 8))
    re_idx = st._raw_manifest(t, st.current_version(t))["txn_index"]
    assert re_idx == {"w": 2, "u": 8}  # seeded history + new epoch


def test_txn_index_merges_across_concurrent_rebase(spark, tmp_path):
    """Two barrier-synchronized txn writers (different app_ids): the
    loser auto-rebases onto the winner, and the final head's
    txn_index must carry BOTH cursors — the rebase recomputes the
    index from the new parent."""
    import threading

    df = spark.createDataFrame([(1, "a")], "id int, g string").coalesce(1)
    t = str(tmp_path / "txn_idx_ccw")
    st.create_table(df, t, [])
    barrier = threading.Barrier(2, timeout=120)
    lock = threading.Lock()
    n = [0]

    def gated(table, version, manifest):
        if table != t:
            return
        with lock:
            n[0] += 1
            k = n[0]
        if k <= 2:
            barrier.wait()

    errs: list[BaseException] = []

    def run(app, epoch):
        try:
            st.append(df, t, txn=(app, epoch))
        except BaseException as exc:  # noqa: BLE001 — surfaced below
            errs.append(exc)

    st.pre_publish_hook = gated
    try:
        threads = [
            threading.Thread(target=run, args=a)
            for a in (("w1", 5), ("w2", 9))
        ]
        for x in threads:
            x.start()
        for x in threads:
            x.join(timeout=300)
    finally:
        st.pre_publish_hook = None
    assert errs == []
    assert st.current_version(t) == 3  # create + both appends
    idx = st._raw_manifest(t, 3)["txn_index"]
    assert idx == {"w1": 5, "w2": 9}
    assert st.txn_epoch(t, "w1") == 5 and st.txn_epoch(t, "w2") == 9


def test_refresh_minmax_view_lifecycle(spark, tmp_path):
    """full -> delta -> noop for the COUNT/MIN/MAX view, each state
    identical to a recompute, including a delta that deletes a
    group's extreme (the rescan path) — same atomic-cursor protocol
    as the count/sum view."""
    src = _mk_ivm_source(spark, tmp_path)  # g in {A,B}, v = float(i)
    sink = str(tmp_path / "ivm_mm_sink")

    def recompute():
        return _minmax_recompute(spark, src)

    def sink_rows():
        return _minmax_sink_rows(spark, sink)

    r1 = st.refresh_minmax_view(spark, src, sink, ["g"], "v")
    assert r1["mode"] == "full"
    assert sink_rows() == recompute()
    # churn: new max for B, then delete A's max (rescan path)
    st.append(
        spark.createDataFrame(
            [(100, "B", 99.0)], "id int, g string, v double"
        ),
        src,
    )
    st.delete_where(spark, src, [("v", "=", 8.0)])  # A's max (8.0)
    r2 = st.refresh_minmax_view(spark, src, sink, ["g"], "v")
    assert r2["mode"] == "delta" and r2["from_version"] == 1
    assert sink_rows() == recompute()
    assert st.refresh_minmax_view(spark, src, sink, ["g"], "v")["mode"] == "noop"
    # vacuum the cursor away -> full rebuild fallback
    for i in range(3):
        st.append(
            spark.createDataFrame(
                [(200 + i, "A", 1.0)], "id int, g string, v double"
            ),
            src,
        )
    st.vacuum(src, retain_last=1, grace_seconds=0)
    r3 = st.refresh_minmax_view(spark, src, sink, ["g"], "v")
    assert r3["mode"] == "full"
    assert sink_rows() == recompute()


@pytest.mark.parametrize("view", sorted(_VIEWS))
def test_refresh_concurrent_same_app_id_collides(
    spark, tmp_path, monkeypatch, view
):
    """A concurrent refresher with the same app_id publishing between
    our cursor read and our commit must COLLIDE (parent_version pin ->
    rebase txn replay guard), not be silently built over with the
    delta double-applied."""
    refresh, recompute, sink_rows = _VIEWS[view]
    src = _mk_ivm_source(spark, tmp_path)
    sink = str(tmp_path / "ivm_sink_race")
    refresh(spark, src, sink, ["g"], "v")
    st.append(
        spark.createDataFrame([(100, "A", 7.0)], "id int, g string, v double"),
        src,
    )
    orig_read = st.read_snapshot
    fired = {}

    def racy_read(spark_, table, version=None, **kw):
        if table == sink and not fired:
            fired["x"] = True
            # the concurrent refresher lands the SAME delta first
            refresh(spark, src, sink, ["g"], "v")
        return orig_read(spark_, table, version=version, **kw)

    monkeypatch.setattr(st, "read_snapshot", racy_read)
    with pytest.raises(st.ConcurrentCommit):
        refresh(spark, src, sink, ["g"], "v")
    monkeypatch.setattr(st, "read_snapshot", orig_read)
    # the inner refresher's result stands; no double-fold happened
    assert sink_rows(spark, sink) == recompute(spark, src)
    assert refresh(spark, src, sink, ["g"], "v")["mode"] == "noop"


def test_refresh_tenth_decimal_digit_survives_delta(spark, tmp_path):
    """Inputs using the full 10 fractional digits the (25,10) source
    cast permits must survive a DELTA refresh bit-identically. Under
    a (38,10) sink pin the delta addition needed precision 39 and
    Spark's allowPrecisionLoss rounded to (38,9), zeroing the 10th
    digit every refresh."""
    t = str(tmp_path / "ivm_src_tiny")
    st.create_table(
        spark.createDataFrame(
            [(1, "A", 1e-10)], "id int, g string, v double"
        ).coalesce(1),
        t,
        [],
    )
    sink = str(tmp_path / "ivm_sink_tiny")
    st.refresh_count_sum_view(spark, t, sink, ["g"], "v")
    st.append(
        spark.createDataFrame([(2, "A", 1e-10)], "id int, g string, v double"),
        t,
    )
    r = st.refresh_count_sum_view(spark, t, sink, ["g"], "v")
    assert r["mode"] == "delta"
    from decimal import Decimal

    [(g, n, s)] = list(_sink_rows(spark, sink))
    assert (g, n) == ("A", 2)
    assert Decimal(s) == Decimal("2e-10")  # 10th digit intact, not 0
    assert _sink_rows(spark, sink) == _recompute(spark, t)


def test_commit_rejects_non_monotone_epoch(spark, tmp_path):
    """Epoch monotonicity per app_id is enforced on the conflict-free
    path, not just after a publish collision: committing an epoch <=
    the writer's last committed one fails loudly instead of silently
    rewinding the replay cursor."""
    t = str(tmp_path / "mono_epoch")
    df = spark.createDataFrame([(1, "a")], "id int, g string").coalesce(1)
    st.create_table(df, t, [], txn=("w", 5))
    with pytest.raises(ValueError, match="non-monotone txn epoch"):
        st.append(df, t, txn=("w", 5))
    with pytest.raises(ValueError, match="non-monotone txn epoch"):
        st.append(df, t, txn=("w", 4))
    st.append(df, t, txn=("w", 6))  # strictly increasing: fine
    assert st.txn_epoch(t, "w") == 6
    # other writers are independent
    st.append(df, t, txn=("w2", 1))
    assert st.txn_epoch(t, "w") == 6
    assert st.txn_epoch(t, "w2") == 1
    # at_version answers as of a pinned snapshot
    assert st.txn_epoch(t, "w", at_version=1) == 5


def test_escaped_partition_values_row_ids_and_dvs(spark, tmp_path):
    """Hive-escaped partition dirs (':' -> %3A, ' ' -> %20 in the
    file URI) must not break _metadata.file_path matching: row-id /
    identity derivation must cover every file, and DV deletes must
    actually delete (a missed match silently RESURFACES deleted
    rows)."""
    t = str(tmp_path / "escaped_parts")
    st.create_table(
        spark.createDataFrame(
            [
                (1, "x:y", 10),
                (2, "a b", 20),
                (3, None, 30),
                (4, "plain", 40),
                (5, "Genève", 50),  # non-ASCII letter: URI keeps it RAW
                (6, "nb\xa0sp", 60),  # U+00A0 Zs: URI encodes %C2%A0
            ],
            "id int, g string, v int",
        ).coalesce(1),
        t,
        ["g"],
    )
    st.enable_row_tracking(t)
    st.enable_identity(t, "sk", start=100, step=1)
    got = {
        (r.id, r.g, r.sk)
        for r in st.read_snapshot(spark, t).collect()
    }
    assert all(sk is not None for _, _, sk in got)  # every file matched
    assert {g for _, g, _ in got} == {
        "x:y", "a b", None, "plain", "Genève", "nb\xa0sp",
    }
    # DV delete inside an escaped partition must stick
    st.delete_where(spark, t, [("id", "=", 1)], use_dv=True)
    st.delete_where(spark, t, [("id", "=", 5)], use_dv=True)
    left = {(r.id, r.g) for r in st.read_snapshot(spark, t).collect()}
    assert (1, "x:y") not in left  # a URI mismatch would resurface it
    assert (5, "Genève") not in left  # ditto for the raw non-ASCII dir
    assert len(left) == 4


def test_changes_emits_undelete_on_dv_shrink(spark, tmp_path):
    """Rollback/restore past a MERGE-ON-READ delete shrinks a kept
    file's deletion vector without touching the file list; the change
    feed must emit the resurrected positions as INSERTS — dropping
    the shrink side silently breaks the net-effect invariant exactly
    where only DVs changed."""
    t = str(tmp_path / "dv_shrink")
    st.create_table(
        spark.createDataFrame([(1, 10), (2, 20)], "id int, v int").coalesce(1),
        t,
        [],
    )
    st.delete_where(spark, t, [("id", "=", 1)], use_dv=True)  # v2
    st.rollback(t, 1)  # v3: DV shrinks, same files
    feed = sorted(
        (r.id, r._change_type, r._commit_version)
        for r in st.changes(spark, t, 1).collect()
    )
    assert feed == [(1, "delete", 2), (1, "insert", 3)]
    # net effect from EVERY offset equals the final state
    from collections import Counter

    final = dict(Counter((r.id, r.v) for r in st.read_snapshot(spark, t).collect()))
    for frm in (1, 2):
        net = dict(
            Counter(
                (r.id, r.v)
                for r in st.read_snapshot(spark, t, version=frm).collect()
            )
        )
        for r in st.changes(spark, t, frm).collect():
            k = (r.id, r.v)
            net[k] = net.get(k, 0) + (1 if r._change_type == "insert" else -1)
        assert {k: c for k, c in net.items() if c} == final, frm


def test_append_only_gates_rollback_and_restore(spark, tmp_path):
    """appendOnly must also refuse RESTORE/rollback: re-publishing an
    older file set removes every row appended since, exactly the
    mutation the property forbids (Delta's delta.appendOnly likewise
    blocks RESTORE because it commits row-removing RemoveFiles)."""
    t = str(tmp_path / "ao_restore")
    st.create_table(
        spark.createDataFrame([(1, 1.0)], "id int, v double").coalesce(1), t, []
    )
    st.append(spark.createDataFrame([(2, 2.0)], "id int, v double"), t)
    st.set_table_properties(t, {"appendOnly": "true"})
    with pytest.raises(ValueError, match="appendOnly"):
        st.rollback(t, 1)
    with pytest.raises(ValueError, match="appendOnly"):
        st.restore_to_timestamp(t, st._read_manifest(t, 1)["committed_at"])
    assert st.read_snapshot(spark, t).count() == 2
    # unset -> restore works again
    st.unset_table_properties(t, ["appendOnly"])
    st.rollback(t, 1)
    assert st.read_snapshot(spark, t).count() == 1


def test_dv_binary_encoder_defensive():
    """The durable .dvb sidecar encoder must not trust its caller:
    duplicate positions previously made the gap varint negative and
    the encoder spin forever; negatives are refused outright."""
    # duplicates dedup to one logical position set
    enc = st._encode_dv_binary([5, 5, 2, 9, 2])
    assert st._decode_dv_binary(enc) == [2, 5, 9]
    # dense run stays compact and round-trips
    enc2 = st._encode_dv_binary(list(range(1000)) + [500, 501])
    assert st._decode_dv_binary(enc2) == list(range(1000))
    assert len(enc2) < 16
    with pytest.raises(ValueError, match="negative"):
        st._encode_dv_binary([3, -1])


def test_vacuum_dry_run_counts_dv_sidecar_bytes(spark, tmp_path):
    """VACUUM DRY RUN's reclaimable_bytes must include orphaned DV
    sidecar bytes — on a merge-on-read-heavy table most reclaimable
    space IS sidecars, and the dry run must match what the real run
    then reclaims."""
    t = str(tmp_path / "dv_vac")
    st.create_table(
        spark.createDataFrame(
            [(i, float(i)) for i in range(3000)], "id int, v double"
        ).coalesce(1),
        t,
        [],
    )
    # two DV deletes, each large enough to externalize as a sidecar;
    # the second supersedes the first's vector -> v2's sidecar is an
    # orphan once history is truncated
    st.delete_where(spark, t, [("id", "<", 1200)], use_dv=True)
    st.delete_where(spark, t, [("id", "<", 2400)], use_dv=True)
    sidecars = [
        f for f in os.listdir(st._snap_dir(t)) if f.startswith("dv-")
    ]
    assert len(sidecars) >= 2  # both vectors externalized
    dry = st.vacuum(t, retain_last=1, dry_run=True, grace_seconds=0)
    assert dry["reclaimable_dv_sidecars"] >= 1
    real = st.vacuum(t, retain_last=1, grace_seconds=0)
    assert real["deleted_dv_sidecars"] == dry["reclaimable_dv_sidecars"]
    assert real["reclaimed_bytes"] == dry["reclaimable_bytes"]
    # table still reads correctly after the sweep
    assert st.read_snapshot(spark, t).count() == 600


def test_cli_set_property_rejects_malformed(spark, orders, tmp_path, monkeypatch):
    """`table set-property --property K` (no '=') must exit with an
    argparse error, not an unhandled ValueError traceback."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.cli import main

    monkeypatch.setattr(spark.__class__, "stop", lambda self: None)
    t = _tbl(tmp_path)
    st.create_table(orders.limit(10).coalesce(1), t, [])
    with pytest.raises(SystemExit):
        main(["table", "--table", t, "set-property", "--property", "ownerETL"])
    # well-formed still works
    rc = main(
        ["table", "--table", t, "set-property", "--property", "owner=etl"]
    )
    assert rc == 0
    assert st.table_properties(t)["owner"] == "etl"


def test_add_constraint_single_definition():
    """Exactly one add_constraint must exist in the module — a
    shadowing duplicate made the improved r12 implementation dead
    code (ADVICE r12)."""
    import ast
    import inspect

    tree = ast.parse(inspect.getsource(st))
    defs = [
        n for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef) and n.name == "add_constraint"
    ]
    assert len(defs) == 1


class TestDropFeature:
    """ALTER TABLE ... DROP FEATURE (protocol downgrade): the only
    path by which the sticky feature sets shrink. Matrix: refuse
    while live content needs the flag, succeed after the content is
    purged, re-accrue on re-use, leave history gating intact."""

    def _feats(self, t):
        head = st.current_version(t)
        m = st._read_manifest(t, head)
        return set(m.get("reader_features") or []), set(
            m.get("writer_features") or []
        )

    def test_deletion_vectors_purge_then_drop(self, spark, tmp_path):
        t = str(tmp_path / "df_dv")
        st.create_table(
            spark.createDataFrame(
                [(i, float(i)) for i in range(200)], "id int, v double"
            ).coalesce(1),
            t,
            [],
        )
        st.delete_where(spark, t, [("id", "<", 50)], use_dv=True)
        rf, wf = self._feats(t)
        assert "deletion-vectors" in rf and "deletion-vectors" in wf
        # refused while a live file carries a DV
        with pytest.raises(ValueError, match="live deletion vector"):
            st.drop_feature(t, "deletion-vectors")
        # OPTIMIZE materializes the deletes; then the drop lands
        st.optimize(spark, t, files_per_partition=1)
        v = st.drop_feature(t, "deletion-vectors")
        rf, wf = self._feats(t)
        assert "deletion-vectors" not in rf and "deletion-vectors" not in wf
        assert st._read_manifest(t, v)["operation"] == (
            "drop_feature_deletion-vectors"
        )
        # data unchanged; history still gates per-manifest
        assert st.read_snapshot(spark, t).count() == 150
        assert "deletion-vectors" in (
            st._read_manifest(t, 2).get("reader_features") or []
        )
        # re-use re-accrues the flag (content-driven, like Delta)
        st.delete_where(spark, t, [("id", "=", 60)], use_dv=True)
        rf, _ = self._feats(t)
        assert "deletion-vectors" in rf
        # idempotent no-op when absent
        t2 = str(tmp_path / "df_plain")
        st.create_table(
            spark.createDataFrame([(1,)], "id int").coalesce(1), t2, []
        )
        assert st.drop_feature(t2, "deletion-vectors") == 1

    def test_check_constraints_and_unknown(self, spark, tmp_path):
        t = str(tmp_path / "df_con")
        st.create_table(
            spark.createDataFrame([(1, 5.0)], "id int, v double").coalesce(1),
            t,
            [],
        )
        st.add_constraint(spark, t, "v_pos", "v > 0")
        with pytest.raises(ValueError, match="drop them first"):
            st.drop_feature(t, "check-constraints")
        st.drop_constraint(t, "v_pos")
        st.drop_feature(t, "check-constraints")
        _, wf = self._feats(t)
        assert "check-constraints" not in wf
        with pytest.raises(ValueError, match="unknown feature"):
            st.drop_feature(t, "time-travel-plus")

    def test_column_mapping_blocked_while_renamed(self, spark, tmp_path):
        t = str(tmp_path / "df_cm")
        st.create_table(
            spark.createDataFrame([(1, "x")], "id int, name string").coalesce(1),
            t,
            [],
        )
        st.rename_column(t, "name", "label")
        with pytest.raises(ValueError, match="live column mapping"):
            st.drop_feature(t, "column-mapping")

    def test_row_tracking_drop_disables_and_identity_blocks(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "df_rt")
        st.create_table(
            spark.createDataFrame([(1,), (2,)], "id int").coalesce(1), t, []
        )
        st.enable_row_tracking(t)
        st.enable_identity(t, "sk")
        with pytest.raises(ValueError, match="rides on row ids"):
            st.drop_feature(t, "row-tracking")
        with pytest.raises(ValueError, match="identity spec"):
            st.drop_feature(t, "identity-columns")
        # without identity, row tracking downgrades cleanly
        t2 = str(tmp_path / "df_rt2")
        st.create_table(
            spark.createDataFrame([(1,), (2,)], "id int").coalesce(1), t2, []
        )
        st.enable_row_tracking(t2)
        st.drop_feature(t2, "row-tracking")
        rf, wf = self._feats(t2)
        assert "row-tracking" not in rf and "row-tracking" not in wf
        head = st.current_version(t2)
        assert st._read_manifest(t2, head)["row_tracking"] is False
        # appends after the downgrade no longer require the feature
        st.append(spark.createDataFrame([(3,)], "id int"), t2)
        rf, _ = self._feats(t2)
        assert "row-tracking" not in rf

    def test_type_widening_requires_rewrite(self, spark, tmp_path):
        t = str(tmp_path / "df_tw")
        st.create_table(
            spark.createDataFrame([(1, 5)], "id int, v int").coalesce(1), t, []
        )
        st.widen_column(t, "v", "bigint")
        rf, _ = self._feats(t)
        assert "type-widening" in rf
        with pytest.raises(ValueError, match="narrower physical"):
            st.drop_feature(t, "type-widening")
        st.optimize(spark, t, files_per_partition=1)  # rewrites wide
        st.drop_feature(t, "type-widening")
        rf, wf = self._feats(t)
        assert "type-widening" not in rf and "type-widening" not in wf
        assert [r.v for r in st.read_snapshot(spark, t).collect()] == [5]

    def test_hidden_partitioning_blocked_by_spec(self, spark, tmp_path):
        t = str(tmp_path / "df_hp")
        st.create_table(
            spark.createDataFrame(
                [(i, float(i)) for i in range(8)], "id int, v double"
            ).coalesce(1),
            t,
            ["bucket(4,id)"],
        )
        with pytest.raises(ValueError, match="transforms"):
            st.drop_feature(t, "hidden-partitioning")


def test_refresh_hll_view_lifecycle(spark, tmp_path):
    """full -> delta -> noop for the HLL-register view (mergeable-
    sketch IVM): every state's register set BIT-EQUAL to a recompute,
    including a delta whose delete removes register witnesses (the
    bounded-rescan path) and the expired-cursor full-rebuild
    fallback — same atomic-cursor protocol as count/sum and minmax."""
    src = _mk_ivm_source(spark, tmp_path)  # g in {A,B}, v = float(i)
    sink = str(tmp_path / "ivm_hll_sink")

    def recompute():
        return _hll_recompute(spark, src)

    def sink_regs():
        return _hll_sink_rows(spark, sink)

    r1 = st.refresh_hll_view(spark, src, sink, ["g"], "v")
    assert r1["mode"] == "full"
    assert sink_regs() == recompute()
    # churn: fresh values for B, delete half of A (register witnesses)
    st.append(
        spark.createDataFrame(
            [(100 + i, "B", 50.0 + i) for i in range(5)],
            "id int, g string, v double",
        ),
        src,
    )
    st.delete_where(spark, src, [("g", "=", "A"), ("v", ">=", 4.0)])
    r2 = st.refresh_hll_view(spark, src, sink, ["g"], "v")
    assert r2["mode"] == "delta" and r2["from_version"] == 1
    assert sink_regs() == recompute()
    assert st.refresh_hll_view(spark, src, sink, ["g"], "v")["mode"] == "noop"
    # estimate is derivable from the sink alone and sane
    est = {
        r.g: r.hll_est
        for r in st.hll_estimate(
            st.read_snapshot(spark, sink), ["g"]
        ).collect()
    }
    assert set(est) == {"A", "B"} and all(v > 0 for v in est.values())
    # vacuum the cursor away -> full rebuild fallback
    for i in range(3):
        st.append(
            spark.createDataFrame(
                [(300 + i, "A", 1.0)], "id int, g string, v double"
            ),
            src,
        )
    st.vacuum(src, retain_last=1, grace_seconds=0)
    r3 = st.refresh_hll_view(spark, src, sink, ["g"], "v")
    assert r3["mode"] == "full"
    assert sink_regs() == recompute()


def test_liquid_clustering_declaration(spark, tmp_path):
    """ALTER TABLE ... CLUSTER BY (liquid clustering's declaration
    surface): the clusterBy property makes every later OPTIMIZE apply
    the layout without re-stating keys — pruning on the clustered
    column must improve after a default OPTIMIZE; CLUSTER BY NONE
    unsets; unknown/partition columns refuse."""
    t = str(tmp_path / "liquid")
    st.create_table(
        spark.createDataFrame(
            [(i, i % 97, float(i)) for i in range(4000)],
            "id int, k int, v double",
        ).repartition(8),  # shuffled layout: k spread across all files
        t,
        [],
    )
    with pytest.raises(ValueError, match="unknown clustering"):
        st.set_clustering(t, ["nope"])
    st.set_clustering(t, ["k"])
    assert st.table_properties(t)["clusterBy"] == "k"
    # default OPTIMIZE picks the declared keys: files split by k range
    st.optimize(spark, t, files_per_partition=4)
    man = st._read_manifest(t, st.current_version(t))
    pruned = st._prune_files(t, man, [("k", "=", 5)])
    assert len(pruned) < len(man["files"])  # stats now prune
    assert st.read_snapshot(spark, t).count() == 4000
    # CLUSTER BY NONE unsets; next optimize does not cluster
    st.set_clustering(t, None)
    assert "clusterBy" not in st.table_properties(t)
    # partition columns refuse
    tp = str(tmp_path / "liquid_p")
    st.create_table(
        spark.createDataFrame([(1, "a", 1.0)], "id int, g string, v double"),
        tp,
        ["g"],
    )
    with pytest.raises(ValueError, match="partition columns"):
        st.set_clustering(tp, ["g"])
    # SQL-text routing
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import ddl

    r = ddl.execute_sql(spark, f"ALTER TABLE `{t}` CLUSTER BY (k, id)")
    assert r.collect()[0].operation == "cluster_by"
    assert st.table_properties(t)["clusterBy"] == "k,id"
    ddl.execute_sql(spark, f"ALTER TABLE `{t}` CLUSTER BY NONE")
    assert "clusterBy" not in st.table_properties(t)


def test_vacuum_retain_hours_age_based_expiry(spark, tmp_path):
    """VACUUM RETAIN n HOURS: versions older than the window expire
    (head and tagged versions survive), files exclusive to expired
    history reclaim, and the policy composes with retain_last."""
    import time as _time

    t = str(tmp_path / "age_vac")
    st.create_table(
        spark.createDataFrame([(1, 1.0)], "id int, v double").coalesce(1), t, []
    )
    for i in range(2, 6):
        st.overwrite_table(
            spark.createDataFrame([(i, float(i))], "id int, v double"), t
        )
    st.create_tag(t, "keep_v2", version=2)
    # backdate commits v1-v3 far into the past (manifests record
    # committed_at; rewrite them directly — the test seam)
    import json as _json

    for v in (1, 2, 3):
        mp = st._manifest_path(t, v)
        m = _json.load(open(mp))
        m["committed_at"] = _time.time() - 10 * 3600
        _json.dump(m, open(mp, "w"))
    rep = st.vacuum(t, retain_hours=1.0, grace_seconds=0)
    # v1, v3 aged out; v2 tagged -> survives; v4, v5 in-window
    assert rep["expired_versions"] == 2
    assert st._list_versions(t) == [2, 4, 5]
    with pytest.raises(ValueError):
        st.read_snapshot(spark, t, version=1)
    assert [r.id for r in st.read_snapshot(spark, t, version=2).collect()] == [2]
    assert [r.id for r in st.read_snapshot(spark, t).collect()] == [5]
    # a huge window expires nothing more
    rep2 = st.vacuum(t, retain_hours=1000.0, grace_seconds=0)
    assert rep2["expired_versions"] == 0
    # composes with retain_last: count-based retires v2's exemption? no
    # — tagged versions survive BOTH policies
    rep3 = st.vacuum(t, retain_last=1, retain_hours=0.0, grace_seconds=0)
    assert st._list_versions(t) == [2, 5]


def test_drop_feature_hidden_partitioning_legacy_files(spark, tmp_path):
    """Partition evolution to a plain spec is NOT enough to drop
    hidden-partitioning: live files under the historical transform
    directories still need the feature to read. OPTIMIZE migrates
    them; then the drop lands."""
    t = str(tmp_path / "hp_drop")
    st.create_table(
        spark.createDataFrame(
            [(i, float(i)) for i in range(8)], "id int, v double"
        ).coalesce(1),
        t,
        ["bucket(4,id)"],
    )
    st.evolve_partitioning(t, [])
    with pytest.raises(ValueError, match="historical transform"):
        st.drop_feature(t, "hidden-partitioning")
    st.optimize(spark, t, files_per_partition=1)  # migrates old-spec files
    st.drop_feature(t, "hidden-partitioning")
    head = st._read_manifest(t, st.current_version(t))
    assert "hidden-partitioning" not in (head.get("reader_features") or [])
    assert st.read_snapshot(spark, t).count() == 8


def test_evolve_partitioning_refuses_rebucketing_live_dirs(spark, tmp_path):
    """A bucket directory name does not record its bucket count:
    evolving bucket(3,id) to bucket(2,id) over live id_bucket= files
    would prune them under the wrong count (point lookups lose rows)
    and let the default OPTIMIZE carry them as laid out. Refused until
    optimize() moves the files out of that layout."""
    t = str(tmp_path / "rebucket")
    st.create_table(
        spark.createDataFrame(
            [(i, i * 10) for i in range(30)], "id int, v int"
        ).coalesce(1),
        t,
        ["bucket(3,id)"],
    )
    with pytest.raises(ValueError, match="re-bucket"):
        st.evolve_partitioning(t, ["bucket(2,id)"])
    st.evolve_partitioning(t, [])
    with pytest.raises(ValueError, match="re-bucket"):
        st.evolve_partitioning(t, ["bucket(2,id)"])
    st.optimize(spark, t)  # migrates the id_bucket= files out
    st.evolve_partitioning(t, ["bucket(2,id)"])
    st.append(spark.createDataFrame([(30, 300)], "id int, v int"), t)
    for k in (2, 21, 23, 29, 30):
        assert st.scan(spark, t, [("id", "=", k)]).count() == 1, k


def test_drop_feature_type_widening_decimal(spark, tmp_path):
    """Decimal precision widening: the footer check must compare
    pyarrow's 'decimal128(12, 2)' rendering correctly (it inserts a
    space Spark's simpleString lacks) — a clean decimal table drops
    the feature after rewrite, and is NOT flagged forever."""
    t = str(tmp_path / "dec_tw")
    st.create_table(
        spark.createDataFrame([(1,)], "id int")
        .selectExpr("id", "CAST(5.25 AS DECIMAL(10,2)) AS amt")
        .coalesce(1),
        t,
        [],
    )
    st.widen_column(t, "amt", "decimal(12,2)")
    with pytest.raises(ValueError, match="narrower physical"):
        st.drop_feature(t, "type-widening")
    st.optimize(spark, t, files_per_partition=1)  # rewrites wide
    st.drop_feature(t, "type-widening")
    head = st._read_manifest(t, st.current_version(t))
    assert "type-widening" not in (head.get("reader_features") or [])
    assert str(st.read_snapshot(spark, t).collect()[0].amt) == "5.25"


def test_clustering_keys_follow_column_ddl(spark, tmp_path):
    """Review fixes (r13): RENAME COLUMN rewrites a declared
    clustering key in the same commit; DROP COLUMN refuses while the
    column is a clustering key — a stale clusterBy would fail every
    later default OPTIMIZE and the maintenance sweep."""
    t = str(tmp_path / "clust_ddl")
    st.create_table(
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "id int, v double"
        ).coalesce(1),
        t,
        [],
    )
    st.set_clustering(t, ["v"])
    st.rename_column(t, "v", "val")
    assert st.table_properties(t)["clusterBy"] == "val"
    st.optimize(spark, t)  # default clustering resolves post-rename
    assert st.read_snapshot(spark, t).count() == 10
    with pytest.raises(ValueError, match="clustering key"):
        st.drop_column(t, "val")
    st.set_clustering(t, None)
    st.drop_column(t, "val")  # allowed once undeclared
    assert "val" not in st.read_snapshot(spark, t).columns


def test_metadata_count_exact_no_scan(spark, tmp_path):
    """metadata_count answers COUNT(*) purely from the manifest:
    exact against a real read at head and at a time-travel version,
    per-partition via path-decided equality filters, DV-deleted rows
    subtracted — and non-partition predicates refuse (a stats prune
    would be an upper bound, not a count)."""
    import pytest as _pytest

    t = str(tmp_path / "meta_count")
    st.create_table(
        spark.createDataFrame(
            [(i, "g%d" % (i % 3), float(i)) for i in range(30)],
            "id int, g string, v double",
        ),
        t,
        ["g"],
    )
    st.append(
        spark.createDataFrame(
            [(100 + i, "g0", 1.0) for i in range(5)],
            "id int, g string, v double",
        ),
        t,
    )
    assert st.metadata_count(t) == 35
    assert st.metadata_count(t, version=1) == 30
    assert st.metadata_count(t, [("g", "=", "g1")]) == 10
    # merge-on-read delete: DV positions subtract from the file rows
    st.delete_where(spark, t, [("id", ">=", 100)], use_dv=True)
    assert st.metadata_count(t) == 30
    assert st.metadata_count(t, [("g", "=", "g0")]) == 10
    # every answer equals the real read
    assert st.read_snapshot(spark, t).count() == 30
    with _pytest.raises(ValueError, match="partition equalities"):
        st.metadata_count(t, [("v", ">", 1.0)])
    with _pytest.raises(ValueError, match="partition equalities"):
        st.metadata_count(t, [("id", "=", 3)])


def test_metadata_count_contradictory_filters_zero(spark, tmp_path):
    """Review r14: duplicate equalities on one partition column are an
    AND-conjunction — a contradictory pair must count 0 rows, not
    last-one-wins."""
    t = str(tmp_path / "mc_and")
    st.create_table(
        spark.createDataFrame(
            [(i, "g%d" % (i % 2)) for i in range(10)], "id int, g string"
        ),
        t,
        ["g"],
    )
    assert (
        st.metadata_count(t, [("g", "=", "g0"), ("g", "=", "g1")]) == 0
    )
    assert st.metadata_count(t, [("g", "=", "g0"), ("g", "=", "g0")]) == 5


def test_changes_surface_truncate_as_deletes(spark, tmp_path):
    """TRUNCATE is metadata-only but its CDF effect is exact: every
    previously-live row surfaces as a delete (file-diff CDF sees the
    whole file set removed), so downstream mirrors converge."""
    t = str(tmp_path / "cdf_trunc")
    st.create_table(
        spark.createDataFrame(
            [(i, float(i)) for i in range(12)], "id int, v double"
        ),
        t,
    )
    st.truncate_table(t)
    feed = st.changes(spark, t, from_version=1).collect()
    assert len(feed) == 12
    assert {r._change_type for r in feed} == {"delete"}
    assert {r.id for r in feed} == set(range(12))
