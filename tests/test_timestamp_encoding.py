"""INT64 timestamps and time-range file skipping.

``session.DEFAULT_CONF`` writes every Parquet timestamp as INT64
TIMESTAMP(MICROS), whose footers carry min/max; Spark's default INT96
carries none. The snapshot format keeps DATE/TIMESTAMP footer bounds
as epoch days / epoch microseconds and prunes time ranges with them.
These tests pin the encoding, check that the pruning never drops a
matching row, and check that tables holding both encodings read like
their all-INT96 twins."""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.operators.gold import (
    run_gold,
)
from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.operators.silver import (
    run_silver,
)
from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
    snaptable as st,
)

TS_TYPE_CONF = "spark.sql.parquet.outputTimestampType"


@contextlib.contextmanager
def _conf(spark, key, value):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _parquet_files(root):
    return sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# the medallion pipeline writes INT64 TIMESTAMP(MICROS) with min/max
# ---------------------------------------------------------------------------
DAYS = 3


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory, evgen):
    """Three generated days through run_silver (one batch a day) and
    run_gold into a snapshot gold table."""
    root = tmp_path_factory.mktemp("ts_lake")
    for day in range(DAYS):
        csv = root / f"day{day}.csv"
        csv.write_text(evgen.make_batch(seed=3, day_index=day, n_rows=150).csv_text)
        run_silver(spark, str(csv), str(root / "silver"), str(root / "quarantine"))
    run_gold(spark, str(root / "silver"), str(root / "gold"), table_format="snapshot")
    return root


def test_pipeline_files_store_int64_timestamps_with_bounds(lake):
    gold = str(lake / "gold")
    _, man = st._manifest_at(gold)
    for layer in ("silver", "quarantine", "gold"):
        files = _parquet_files(lake / layer)
        assert files, layer
        for path in files:
            md = pq.ParquetFile(path).metadata
            chunks = {
                md.row_group(0).column(i).path_in_schema: md.row_group(0).column(i)
                for i in range(md.num_columns)
            }
            for col in ("created", "ended"):
                chunk = chunks[col]
                assert chunk.physical_type == "INT64", (path, col)
                lt = chunk.statistics.logical_type
                assert lt.type == "TIMESTAMP" and '"microseconds"' in lt.to_json()
                stats = chunk.statistics
                # an all-null chunk (quarantined null timestamps) has no
                # bounds to record; every other chunk has them
                assert stats.has_min_max or stats.null_count == md.num_rows
    for rel in man["files"]:
        col = pq.read_table(os.path.join(gold, rel), columns=["created", "ended"])
        for name in ("created", "ended"):
            arr = col.column(name).cast("int64")
            assert man["file_stats"][rel]["min"][name] == pc.min(arr).as_py()
            assert man["file_stats"][rel]["max"][name] == pc.max(arr).as_py()


def test_created_range_plans_only_the_matching_day(spark, lake):
    gold = str(lake / "gold")
    _, man = st._manifest_at(gold)
    days = sorted({f.split("event_date=")[1].split("/")[0] for f in man["files"]})
    assert len(days) == DAYS
    lo = dt.datetime.fromisoformat(days[1])
    hi = lo + dt.timedelta(days=1)
    flt = [("created", ">=", lo), ("created", "<", hi)]
    got = st.scan(spark, gold, flt)
    planned = {f.split("event_date=")[1].split("/")[0] for f in got.inputFiles()}
    assert planned == {days[1]}
    full = st.read_snapshot(spark, gold)
    want = full.filter((F.col("created") >= lo) & (F.col("created") < hi))
    assert _rows(got) == _rows(want) and got.count() > 0
    # an open range still skips the earlier days
    later = st.scan(spark, gold, [("created", ">=", lo)])
    assert 0 < len(later.inputFiles()) < len(man["files"])
    assert _rows(later) == _rows(full.filter(F.col("created") >= lo))


# ---------------------------------------------------------------------------
# pruning is sound for every literal shape and op
# ---------------------------------------------------------------------------
BASE = dt.datetime(2024, 1, 1)
OPS = ["=", "==", ">", ">=", "<", "<=", "!=", "in"]


@pytest.fixture(scope="module")
def temporal_table(spark, tmp_path_factory):
    """Four one-day files (partition ``p``); rows at 00, 06, 12, 18 h
    in a TIMESTAMP, a TIMESTAMP_NTZ and a DATE column."""
    rows = []
    for day in range(4):
        for hour in (0, 6, 12, 18):
            wall = BASE + dt.timedelta(days=day, hours=hour)
            rows.append((len(rows), day, wall, wall, wall.date()))
    df = spark.createDataFrame(
        rows, "id int, p int, ts timestamp, ntz timestamp_ntz, d date"
    )
    t = str(tmp_path_factory.mktemp("temporal") / "t")
    st.create_table(df.repartition(1), t, ["p"])
    return t


def _literals():
    edge = BASE + dt.timedelta(days=2)  # a file's lower bound
    mid = BASE + dt.timedelta(days=1, hours=9)  # between rows
    plus5 = dt.timezone(dt.timedelta(hours=5))
    by_col = {
        "ts": [
            edge,
            mid,
            edge.replace(tzinfo=dt.timezone.utc),
            mid.replace(tzinfo=plus5),
            edge.date(),
            "2024-01-03 00:00:00",
        ],
        "ntz": [edge, mid, mid.replace(tzinfo=plus5), edge.date(), "2024-01-02"],
        "d": [edge.date(), mid.date(), mid, "2024-01-02"],
    }
    for col, vals in by_col.items():
        for op in OPS:
            for v in vals:
                yield col, op, ([v, BASE + dt.timedelta(days=3)] if op == "in" else v)


def _unpruned(spark, t, filters):
    """{filter index: sorted ids the unpruned filter keeps} and
    {id: data file}, from one job over the whole table."""
    full = st.read_snapshot(spark, t).select(
        "id",
        F.input_file_name().alias("file"),
        *[st._filters_to_column(f).alias(f"q{i}") for i, f in enumerate(filters)],
    )
    rows = full.collect()
    want = {
        i: sorted(r["id"] for r in rows if r[f"q{i}"]) for i in range(len(filters))
    }
    return want, {r["id"]: r["file"].split("/data/", 1)[1] for r in rows}


def test_temporal_scan_returns_exactly_the_unpruned_rows(spark, temporal_table):
    """Every op of _OPS plus ``in``, against naive and aware datetimes,
    dates and strings on TIMESTAMP, TIMESTAMP_NTZ and DATE columns:
    ``scan`` returns the rows of the unpruned filter. A filter that
    prunes no file reads every file through that same filter, so only
    the filters that do prune run their scan (as one union job)."""
    t = temporal_table
    _, man = st._manifest_at(t)
    filters = [[f] for f in _literals()]
    want, _ = _unpruned(spark, t, filters)
    pruning = [
        i
        for i, f in enumerate(filters)
        if len(st._prune_files(t, man, f)) < len(man["files"])
    ]
    assert len(pruning) >= 30
    scans = [
        st.scan(spark, t, filters[i]).select(F.lit(i).alias("q"), "id")
        for i in pruning
    ]
    got = {i: [] for i in pruning}
    for r in functools.reduce(lambda a, b: a.unionAll(b), scans).collect():
        got[r["q"]].append(r["id"])
    bad = [
        (filters[i], sorted(got[i]), want[i])
        for i in got
        if sorted(got[i]) != want[i]
    ]
    assert not bad, bad[:3]


@pytest.mark.parametrize("zone", ["Pacific/Kiritimati", "Etc/GMT+12"])
def test_temporal_pruning_is_sound_in_any_session_zone(spark, temporal_table, zone):
    """Under session zones from UTC+14 to UTC-12 (the Python process
    stays on its own zone), every file holding a row the unpruned
    filter keeps survives pruning — which is what makes ``scan``
    exact, as it re-applies the filter to the surviving files."""
    t = temporal_table
    filters = [[f] for f in _literals()]
    _, man = st._manifest_at(t)
    with _conf(spark, "spark.sql.session.timeZone", zone):
        want, file_of = _unpruned(spark, t, filters)
    lost = [
        (filters[i], ids)
        for i, ids in want.items()
        if not {"data/" + file_of[x] for x in ids}
        <= set(st._prune_files(t, man, filters[i]))
    ]
    assert not lost, lost[:3]


def test_temporal_bounds_prune_typed_literals_only(spark, temporal_table):
    """The bounds do prune: a typed literal skips files on each
    column, while a string literal keeps them all."""
    _, man = st._manifest_at(temporal_table)
    n = len(man["files"])
    edge = BASE + dt.timedelta(days=2)

    def kept(col, op, v):
        return len(st._prune_files(temporal_table, man, [(col, op, v)]))

    assert kept("ts", ">=", edge) == 2
    assert kept("ts", "<", edge.replace(tzinfo=dt.timezone.utc)) == 2
    assert kept("d", "=", edge.date()) == 1
    # NTZ bounds widen by the zone offsets, yet still skip far files
    assert kept("ntz", ">", edge + dt.timedelta(hours=12)) == 2
    assert kept("ts", ">=", "2024-01-03 00:00:00") == n
    assert kept("ts", ">=", edge.date()) == n
    assert kept("d", "=", edge) == n
    # a session that types naive literals TIMESTAMP_NTZ compares them
    # with a TIMESTAMP column after a cast in the session zone
    with _conf(spark, "spark.sql.timestampType", "TIMESTAMP_NTZ"):
        assert kept("ts", ">=", edge) == n
        assert kept("ts", ">=", edge.replace(tzinfo=dt.timezone.utc)) == 2
    entry =man["file_stats"][man["files"][0]]
    assert all(isinstance(entry["min"][c], int) for c in ("ts", "ntz", "d"))


# ---------------------------------------------------------------------------
# tables holding INT96 and INT64 files read like all-INT96 twins
# ---------------------------------------------------------------------------
def _frame(spark, day, n=12):
    start = BASE + dt.timedelta(days=day)
    rows = [
        (
            day * 100 + i,
            start + dt.timedelta(hours=3 * i),
            start + dt.timedelta(hours=3 * i, minutes=40),
            (start + dt.timedelta(hours=3 * i)).date(),
            float(i),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "id int, created timestamp, ended timestamp, event_date date, v double"
    )


def _drain_stream(spark, table, root):
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming import (
        read_snapshot_stream,
        register_snapshot_stream,
    )

    register_snapshot_stream(spark)
    out = str(root / "stream_out")
    q = (
        read_snapshot_stream(spark, table)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(root / "stream_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return _rows(spark.read.parquet(out))


def _snapshot_history(spark, root, int64_from):
    """Three commits, each spanning two days, then OPTIMIZE (step 3);
    steps before ``int64_from`` write INT96. Returns what each read
    surface sees."""
    t = str(root / "t")
    cut = BASE + dt.timedelta(days=1, hours=6)

    def encoding(step):
        return _conf(
            spark, TS_TYPE_CONF, "INT96" if step < int64_from else "TIMESTAMP_MICROS"
        )

    for day in range(3):
        with encoding(day):
            df = _frame(spark, day).coalesce(1)
            if day == 0:
                st.create_table(df, t, ["event_date"])
            else:
                st.append(df, t)
    seen = {
        "read": _rows(st.read_snapshot(spark, t)),
        "scan": _rows(st.scan(spark, t, [("created", ">=", cut)])),
        "changes": _rows(st.changes(spark, t, 1)),
        "stream": _drain_stream(spark, t, root),
    }
    n_files = len(st._manifest_at(t)[1]["files"])
    with encoding(3):
        st.optimize(spark, t)
    seen["optimize"] = [(n_files, len(st._manifest_at(t)[1]["files"]))]
    seen["optimized"] = _rows(st.read_snapshot(spark, t))
    seen["optimized_scan"] = _rows(st.scan(spark, t, [("created", "<", cut)]))
    return seen


def test_mixed_encoding_snapshot_table_reads_like_int96_twin(spark, tmp_path):
    twin = _snapshot_history(spark, tmp_path / "int96", int64_from=4)
    mixed = _snapshot_history(spark, tmp_path / "mixed", int64_from=2)
    for surface, rows in twin.items():
        assert rows, surface
        assert mixed[surface] == rows, surface
    (before, after), = twin["optimize"]
    assert after < before  # OPTIMIZE merged INT96 and INT64 files
    encodings = {
        pq.ParquetFile(f).metadata.row_group(0).column(1).physical_type
        for f in _parquet_files(tmp_path / "mixed" / "t" / "data")
    }
    assert encodings == {"INT96", "INT64"}


def test_mixed_encoding_silver_dir_reads_like_int96_twin(spark, tmp_path, evgen):
    def build(root, int96_days):
        for day in range(2):
            csv = tmp_path / f"day{day}.csv"
            if not csv.exists():
                csv.write_text(
                    evgen.make_batch(seed=5, day_index=day, n_rows=100).csv_text
                )
            mode = "INT96" if day < int96_days else "TIMESTAMP_MICROS"
            with _conf(spark, TS_TYPE_CONF, mode):
                run_silver(spark, str(csv), str(root / "silver"), str(root / "bad"))
        run_gold(
            spark, str(root / "silver"), str(root / "gold"), table_format="snapshot"
        )
        return (
            _rows(spark.read.parquet(str(root / "silver"))),
            _rows(st.read_snapshot(spark, str(root / "gold"))),
        )

    assert build(tmp_path / "mixed", 1) == build(tmp_path / "int96", 2)
