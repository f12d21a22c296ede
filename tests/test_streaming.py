"""Streaming surface tests: file-source silver ingest via foreachBatch,
watermarked windowed aggregation, session windows — driven with
availableNow/memory sinks so a batch of fixture rows runs the
streaming plan to completion synchronously."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming import (
    session_windows,
    silver_stream,
    windowed_event_counts,
)
from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources.readers import (
    read_fixture,
)

def test_silver_stream_matches_batch(spark, tmp_path, bronze_sample):
    indir = tmp_path / "in"
    indir.mkdir()
    shutil.copy(bronze_sample.path, indir / "batch1.csv")

    q = silver_stream(
        spark,
        str(indir),
        str(tmp_path / "silver"),
        str(tmp_path / "quarantine"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    good = spark.read.parquet(str(tmp_path / "silver"))
    bad = spark.read.parquet(str(tmp_path / "quarantine"))
    assert good.count() == bronze_sample.good
    assert bad.count() == bronze_sample.bad


@pytest.mark.parametrize("sink", ["parquet", "snapshot"])
def test_silver_stream_releases_split_cache(spark, tmp_path, evgen, sink):
    """Every epoch unpersists the frame split_good_bad persisted for
    its two sinks: two one-file epochs leave no cache entry behind."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming import (
        silver_stream_snapshot,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    for day in (0, 1):
        batch = evgen.make_batch(seed=1, day_index=day, n_rows=100)
        (indir / f"day{day}.csv").write_text(batch.csv_text)
    start = silver_stream if sink == "parquet" else silver_stream_snapshot
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    q = start(
        spark,
        str(indir),
        str(tmp_path / "silver"),
        str(tmp_path / "quarantine"),
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    assert q.lastProgress["batchId"] == 1  # one epoch per file
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_windowed_counts_stream_vs_batch(spark, sf_dir, tmp_path):
    """The SAME windowed-agg plan over the events data as a stream
    (memory sink) and as a batch frame must agree."""
    events = read_fixture(spark, sf_dir, "events")
    batch = windowed_event_counts(events, "1 hour").orderBy(
        "window_start", "event_type"
    )

    # parquet re-write with micros timestamps so readStream can use
    # an explicit schema
    src = str(tmp_path / "events_us")
    events.write.parquet(src)
    stream = (
        spark.readStream.schema(events.schema).parquet(src)
    )
    out = windowed_event_counts(stream, "1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = spark.sql(
        "SELECT * FROM win_counts ORDER BY window_start, event_type"
    ).collect()
    batch_rows = batch.collect()
    assert [tuple(r) for r in stream_rows] == [tuple(r) for r in batch_rows]


def test_stateful_user_totals_across_batches(spark, sf_dir, tmp_path):
    """applyInPandasWithState: replay the events fixture in multiple
    micro-batches; the final emitted state per user must equal the
    batch groupBy totals (state accumulates across batches)."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming import (
        stateful_user_totals,
    )

    events = read_fixture(spark, sf_dir, "events")
    expected = {
        r.user_id: (r.n, r.total)
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }

    src = str(tmp_path / "events_src")
    # several files -> maxFilesPerTrigger=1 forces multiple batches
    events.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stateful_user_totals(stream)
        .writeStream.format("memory")
        .queryName("user_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # update mode appends one row per (user, batch); the row with the
    # max n_events per user is the final state
    final = {
        r.user_id: (r.n_events, r.total_value)
        for r in spark.sql(
            """SELECT user_id, n_events, total_value FROM (
                 SELECT *, row_number() OVER (PARTITION BY user_id
                                              ORDER BY n_events DESC) rn
                 FROM user_totals) WHERE rn = 1"""
        ).collect()
    }
    assert set(final) == set(expected)
    for uid, (n, total) in expected.items():
        fn, ftotal = final[uid]
        assert fn == n, uid
        assert abs(ftotal - total) < 1e-6, uid


def test_stream_stream_join_matches_batch_range_join(spark, sf_dir, tmp_path):
    """The watermarked stream-stream interval join must produce
    exactly the batch range-join result when the whole fixture is
    replayed (append mode; watermark wide enough that nothing is
    dropped within the replay)."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.operators.analytics import (
        q_range_join_attribution,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming import (
        stream_stream_attribution,
    )

    expected = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in q_range_join_attribution(spark, sf_dir).collect()
    }

    events = read_fixture(spark, sf_dir, "events")
    src = str(tmp_path / "events_ss")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    clicks = stream.filter(F.col("event_type") == "click")
    purchases = stream.filter(F.col("event_type") == "purchase")
    q = (
        stream_stream_attribution(clicks, purchases, watermark="365 days")
        .writeStream.format("memory")
        .queryName("ss_attr")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM ss_attr").collect()
    }
    assert got == expected
    assert expected  # non-vacuous


def test_session_windows_batch(spark, sf_dir):
    sess = session_windows(read_fixture(spark, sf_dir, "events"), gap="30 minutes")
    rows = sess.collect()
    assert len(rows) > 0
    assert all(r.session_end >= r.session_start for r in rows)
    # each user's sessions must not overlap
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((r.session_start, r.session_end))
    for spans in by_user.values():
        spans.sort()
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert s2 >= e1


def test_dedup_stream_matches_batch(spark, sf_dir, tmp_path):
    """events with injected exact duplicates: the streaming dedup
    (watermark-bounded state) must keep exactly the distinct
    event_ids, same as batch dropDuplicates."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming.ingest import (
        dedup_stream,
    )

    events = read_fixture(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    dup = events.orderBy("event_id").limit(200)
    with_dups = events.union(dup).union(dup)
    src = str(tmp_path / "events_dup")
    with_dups.write.parquet(src)

    stream = spark.readStream.schema(with_dups.schema).parquet(src)
    q = (
        dedup_stream(stream, ["event_id"])
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r.event_id for r in spark.sql("SELECT event_id FROM dedup_out").collect()}
    expect = {r.event_id for r in events.select("event_id").distinct().collect()}
    assert got == expect
    n = spark.sql("SELECT COUNT(*) AS n FROM dedup_out").collect()[0].n
    assert n == len(expect), "duplicates survived the streaming dedup"


def test_session_windows_stream_vs_batch(spark, sf_dir, tmp_path):
    """session_window in a real stream (watermark + append mode,
    multiple micro-batches) must converge to the batch result once
    all input is consumed: gap-merge is order-sensitive state, so
    this exercises session-state merge across micro-batches. The
    watermark is set beyond the fixture's time span: the file split
    is random, not time-ordered, so a realistic watermark would
    legitimately drop most of batches 2-3 as late data — here we
    test the merge semantics, not eviction."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming import (
        session_windows,
    )

    events = read_fixture(spark, sf_dir, "events")
    batch = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in session_windows(events).collect()
    }

    src = str(tmp_path / "events_sess")
    events.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = session_windows(stream, watermark="365 days")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_win")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.sql("SELECT * FROM sess_win").collect()
    }
    assert got == batch


def test_gold_stream_matches_batch_gold(spark, tmp_path, bronze_sample):
    """Full streaming medallion: silver_stream(CSV) -> gold_stream
    (silver parquet file stream) must land the same gold fact rows
    as the batch run_gold over the same silver data."""
    import shutil as _sh

    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.operators.gold import (
        build_gold,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming import (
        gold_stream,
        silver_stream,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    _sh.copy(bronze_sample.path, indir / "batch1.csv")
    silver_path = str(tmp_path / "silver")
    q = silver_stream(
        spark,
        str(indir),
        silver_path,
        str(tmp_path / "quarantine"),
        str(tmp_path / "ckpt_silver"),
    )
    q.awaitTermination(120)

    silver_batch = spark.read.parquet(silver_path)
    gold_path = str(tmp_path / "gold")
    q2 = gold_stream(
        spark,
        silver_path,
        gold_path,
        str(tmp_path / "ckpt_gold"),
        silver_schema=silver_batch.schema,
        max_files_per_trigger=4,
    )
    q2.awaitTermination(180)

    got = spark.read.parquet(gold_path)
    expected = build_gold(silver_batch)
    assert got.count() == bronze_sample.good == expected.count()
    key = lambda r: (r.sessionId, r.event_date)
    g = {key(r): (r.session_duration_minutes, r.avg_cost_per_kwh) for r in got.collect()}
    e = {key(r): (r.session_duration_minutes, r.avg_cost_per_kwh) for r in expected.collect()}
    assert g == e


def test_silver_stream_kill_and_restart_exactly_once(
    spark, tmp_path, bronze_sample
):
    """Kill the silver stream AFTER a batch's sink writes but BEFORE
    its epoch commit (the worst-case crash point for foreachBatch),
    restart it, and assert the final silver/quarantine state has no
    duplicated and no lost rows (round-3 VERDICT item 8).

    The input CSV is split into 3 files processed one per epoch:
    epoch 0 commits cleanly, the injected fault crashes the query at
    the post-write/pre-commit point of epoch 1, and the restart must
    replay epoch 1 idempotently (its partitions get rewritten, not
    re-appended) then process epoch 2."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    lines = open(bronze_sample.path).read().splitlines()
    header, rows = lines[0], lines[1:]
    assert len(rows) == bronze_sample.rows
    indir = tmp_path / "in"
    indir.mkdir()
    for i, chunk in enumerate((rows[:1200], rows[1200:2400], rows[2400:])):
        (indir / f"part{i}.csv").write_text("\n".join([header, *chunk]) + "\n")

    silver_path = str(tmp_path / "silver")
    quarantine_path = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")

    state = {"epochs_seen": []}

    def crash_after_write_of_second_epoch(epoch_id: int) -> None:
        state["epochs_seen"].append(epoch_id)
        if len(state["epochs_seen"]) == 2:
            raise RuntimeError("injected crash: writes done, epoch uncommitted")

    q = silver_stream(
        spark,
        str(indir),
        silver_path,
        quarantine_path,
        ckpt,
        max_files_per_trigger=1,
        fault_injector=crash_after_write_of_second_epoch,
    )
    with pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination()
    assert len(state["epochs_seen"]) == 2  # crash really was mid-stream

    # Restart against the same checkpoint, no fault: the uncommitted
    # epoch replays (idempotently), the remaining file then processes.
    q2 = silver_stream(
        spark,
        str(indir),
        silver_path,
        quarantine_path,
        ckpt,
        max_files_per_trigger=1,
    )
    q2.awaitTermination(180)

    good = spark.read.parquet(silver_path)
    bad = spark.read.parquet(quarantine_path)
    # exactly-once: golden split totals, nothing lost, nothing doubled
    assert good.count() == bronze_sample.good
    assert bad.count() == bronze_sample.bad
    assert good.select("sessionId").distinct().count() == bronze_sample.good
    assert bad.select("sessionId").distinct().count() == bronze_sample.bad_ids
    # the replayed epoch's rows live under their epoch partition once
    assert good.select("_epoch").distinct().count() >= 2


def test_corpus_prep_stream_incremental_dedup_exactly_once(spark, tmp_path):
    """Streaming corpus ingest: two epochs of documents where the
    second repeats texts from the first (different doc_ids) and one
    doc embeds a leaked eval phrase. The accumulated snapshot corpus
    must contain each unique clean text exactly once, drop the
    contaminated doc, and a restart on the same checkpoint must be a
    no-op (txn-tagged epochs)."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming import (
        corpus_prep_stream,
    )

    def doc(i, text):
        return (i, text, "en", "src0", len(text))

    leak = "secret eval benchmark answer forty two"
    base = [
        doc(100 + j, f"unique clean document number {j} with plenty of words")
        for j in range(8)
    ]
    base.append(doc(150, f"contaminated doc contains {leak} inside it"))
    dupes = [
        doc(200 + j, f"unique clean document number {j} with plenty of words")
        for j in range(4)  # texts identical to batch 1's first four
    ]
    fresh = [doc(300 + j, f"second wave document {j} also has enough words") for j in range(5)]

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    indir = tmp_path / "docs_in"
    indir.mkdir()
    evdir = tmp_path / "eval"
    spark.createDataFrame(base, schema).coalesce(1).write.parquet(
        str(indir / "batch1")
    )
    spark.createDataFrame(dupes + fresh, schema).coalesce(1).write.parquet(
        str(indir / "batch2")
    )
    spark.createDataFrame([doc(1, leak)], schema).write.parquet(str(evdir))

    doc_schema = spark.read.parquet(str(indir / "batch1")).schema
    table = str(tmp_path / "corpus_snap")
    ckpt = str(tmp_path / "ckpt")
    q = corpus_prep_stream(
        spark,
        f"{indir}/*",
        str(evdir),
        table,
        ckpt,
        doc_schema,
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)

    got = st.read_snapshot(spark, table)
    texts = sorted(r.text for r in got.collect())
    # 8 clean base + 5 fresh survive; the contaminated 9th base doc
    # and the 4 cross-batch duplicate texts are gone
    assert len(texts) == 8 + 5
    assert len(set(texts)) == len(texts)
    assert not any("secret eval benchmark" in t for t in texts)
    assert got.select("digest").distinct().count() == len(texts)
    head = st.current_version(table)

    # restart on the same checkpoint: all epochs already committed
    q2 = corpus_prep_stream(
        spark,
        f"{indir}/*",
        str(evdir),
        table,
        ckpt,
        doc_schema,
        max_files_per_trigger=1,
    )
    q2.awaitTermination(120)
    assert st.current_version(table) == head
    assert st.read_snapshot(spark, table).count() == len(texts)


def _has_protobuf() -> bool:
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithState's Python<->JVM state protocol needs the "
    "protobuf package, which this image does not ship (verified "
    "2026-08-14: ModuleNotFoundError: google; installation prohibited). "
    "The operator's arbitrary-state semantics are covered by the "
    "applyInPandasWithState twin above; this test activates unchanged "
    "in an image that carries protobuf.",
)
def test_transform_with_state_topk_across_batches(spark, sf_dir, tmp_path):
    """transformWithStateInPandas (Spark 4.x typed-state API):
    replay events in multiple micro-batches; the final per-user top-3
    and event count must equal the batch computation. Top-k is an
    order-insensitive fold, so this holds for ANY interleaving of
    events across micro-batches."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming import (
        streaming_topk_per_user,
    )

    events = read_fixture(spark, sf_dir, "events")
    expected = {
        r.user_id: (tuple(r.top), r.n)
        for r in events.groupBy("user_id")
        .agg(
            F.slice(F.sort_array(F.collect_list("value"), asc=False), 1, 3).alias(
                "top"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }

    # transformWithState requires the RocksDB state store provider
    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )

    src = str(tmp_path / "events_topk_src")
    events.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_topk_per_user(stream, k=3)
        .writeStream.format("memory")
        .queryName("user_topk")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_topk"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )

    final = {
        r.user_id: (tuple(r.top_values), r.n_events)
        for r in spark.sql(
            """SELECT user_id, top_values, n_events FROM (
                 SELECT *, row_number() OVER (PARTITION BY user_id
                                              ORDER BY n_events DESC) rn
                 FROM user_topk) WHERE rn = 1"""
        ).collect()
    }
    assert final == expected


def test_streaming_zscore_bit_exact_vs_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState rolling z-score: replay the events
    fixture in 4 time-ordered micro-batches; the streamed anomaly set
    must equal the batch q_rolling_zscore rows BIT-EXACTLY (same
    event_ids, same z doubles) — the decimal-frame-sum replay in
    streaming/stateful.py reproduces dsum()'s double->decimal->
    string->double route, so a streaming deployment and a batch
    backfill of the same detector can never disagree."""
    import os
    import time

    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.plans.registry import (
        QUERIES,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming import (
        streaming_zscore,
    )

    events = read_fixture(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    batch = {
        r.event_id: r
        for r in QUERIES["rolling_zscore"](spark, sf_dir).collect()
    }

    # 4 contiguous time slices written oldest-first with strictly
    # increasing mtimes: the file source replays them in order, so
    # cross-batch per-user event order holds (the operator's contract)
    src = tmp_path / "events_src"
    src.mkdir()
    rows = events.orderBy("ts", "event_id").collect()
    quarter = (len(rows) + 3) // 4
    now = time.time()
    for i in range(4):
        chunk = rows[i * quarter : (i + 1) * quarter]
        spark.createDataFrame(chunk, events.schema).coalesce(1).write.parquet(
            str(tmp_path / f"stage_{i}")
        )
        part = next(
            p for p in (tmp_path / f"stage_{i}").iterdir()
            if p.name.endswith(".parquet")
        )
        dst = src / f"slice_{i}.parquet"
        part.rename(dst)
        os.utime(dst, (now + 100 * i, now + 100 * i))

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(src))
    )
    q = (
        streaming_zscore(stream)
        .writeStream.format("memory")
        .queryName("zscore_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    streamed = {
        r.event_id: r for r in spark.sql("SELECT * FROM zscore_stream").collect()
    }
    assert set(streamed) == set(batch)
    for eid, b in batch.items():
        s = streamed[eid]
        assert (s.user_id, s.n_prior) == (b.user_id, b.n_prior), eid
        assert s.value == b.value and s.z == b.z, (
            f"{eid}: stream z={s.z!r} batch z={b.z!r}"
        )


def test_streaming_zscore_state_survives_restart(spark, sf_dir, tmp_path):
    """Stop the z-score stream after half the time slices, restart
    from the checkpoint with the rest: the per-user trailing-window
    state must resume (not reset), so the union of both runs' flagged
    rows equals the batch detector exactly — an event early in slice
    3 is scored against window values carried over from slices 1-2."""
    import os
    import time

    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.plans.registry import (
        QUERIES,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming import (
        streaming_zscore,
    )

    events = read_fixture(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    batch = {
        r.event_id: r
        for r in QUERIES["rolling_zscore"](spark, sf_dir).collect()
    }

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    rows = events.orderBy("ts", "event_id").collect()
    quarter = (len(rows) + 3) // 4
    now = time.time()

    def add_slice(i: int) -> None:
        chunk = rows[i * quarter : (i + 1) * quarter]
        spark.createDataFrame(chunk, events.schema).coalesce(1).write.parquet(
            str(tmp_path / f"stage_{i}")
        )
        part = next(
            p for p in (tmp_path / f"stage_{i}").iterdir()
            if p.name.endswith(".parquet")
        )
        dst = src / f"slice_{i}.parquet"
        part.rename(dst)
        os.utime(dst, (now + 100 * i, now + 100 * i))

    def run_available() -> None:
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            streaming_zscore(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    add_slice(0)
    add_slice(1)
    run_available()  # first run: slices 0-1, then stops (availableNow)
    add_slice(2)
    add_slice(3)
    run_available()  # restart from checkpoint: slices 2-3 only

    streamed = {r.event_id: r for r in spark.read.parquet(out).collect()}
    assert set(streamed) == set(batch)
    for eid, b in batch.items():
        s = streamed[eid]
        assert (s.user_id, s.n_prior) == (b.user_id, b.n_prior), eid
        assert s.value == b.value and s.z == b.z, eid


def test_streaming_zscore_constant_window_skips_not_crashes():
    """A user whose trailing window is constant (>= ROLLING_Z_MIN_PRIOR
    identical values — plausible for heartbeat/sensor feeds) has zero
    sample variance; the batch twin's zero-divide yields NULL and
    filters the row, so the streaming operator must SKIP the row, not
    raise ZeroDivisionError / math domain error and kill the query."""
    import pandas as pd

    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.operators.analytics import (
        ROLLING_Z_MIN_PRIOR,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming.stateful import (
        _update_zscore,
    )

    class FakeState:
        exists = False

        def update(self, v):
            self.stored = v

    n = ROLLING_Z_MIN_PRIOR + 5
    pdf = pd.DataFrame(
        {
            "event_id": range(n + 1),
            "user_id": [7] * (n + 1),
            "ts": range(n + 1),
            "value": [42.0] * n + [1e9],  # constant prior window
        }
    )
    state = FakeState()
    out = pd.concat(list(_update_zscore((7,), iter([pdf]), state)))
    # every scored row saw a zero-variance window -> nothing emitted,
    # and crucially nothing raised
    assert out.empty
    # state still advanced: the window now holds the trailing values
    assert state.stored[0][-1] == 1e9


def test_streaming_concurrent_peak_matches_batch(spark, sf_dir, tmp_path):
    """Stateful sweep-line concurrency: replay the session-boundary
    delta feed (start +1 at ts, end -1 at ts + floor(value*60) + 1)
    in 4 time-ordered micro-batches; the final per-type high-water
    mark must equal the batch q_concurrent_peak rows exactly (same
    peak AND same first-reached epoch), with O(1) state per type."""
    import os
    import time

    from pyspark.sql import functions as F

    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.plans.registry import (
        QUERIES,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming import (
        streaming_concurrent_peak,
    )

    batch = {
        r.event_type: r
        for r in QUERIES["concurrent_peak"](spark, sf_dir).collect()
    }

    ev = read_fixture(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.unix_timestamp("ts").alias("start_t"),
        F.floor(F.col("value") * F.lit(60.0)).cast("long").alias("dur"),
    )
    deltas = (
        ev.select(
            "event_type",
            "event_id",
            F.explode(
                F.array(
                    F.struct(F.col("start_t").alias("t"), F.lit(1).alias("delta")),
                    F.struct(
                        (F.col("start_t") + F.col("dur") + F.lit(1)).alias("t"),
                        F.lit(-1).alias("delta"),
                    ),
                )
            ).alias("e"),
        )
        .select("event_type", F.col("e.t").alias("t"), F.col("e.delta").alias("delta"), "event_id")
    )

    # pre-sorted delta replay: the operator's cross-batch order
    # contract (a production feed gets this from watermark reordering)
    src = tmp_path / "delta_src"
    src.mkdir()
    rows = deltas.orderBy("t", "delta", "event_id").collect()
    quarter = (len(rows) + 3) // 4
    now = time.time()
    for i in range(4):
        chunk = rows[i * quarter : (i + 1) * quarter]
        spark.createDataFrame(chunk, deltas.schema).coalesce(1).write.parquet(
            str(tmp_path / f"dstage_{i}")
        )
        part = next(
            p for p in (tmp_path / f"dstage_{i}").iterdir()
            if p.name.endswith(".parquet")
        )
        dst = src / f"slice_{i}.parquet"
        part.rename(dst)
        os.utime(dst, (now + 100 * i, now + 100 * i))

    stream = (
        spark.readStream.schema(deltas.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(src))
    )
    q = (
        streaming_concurrent_peak(stream)
        .writeStream.format("memory")
        .queryName("conc_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # memory sink in update mode appends each batch's emission; the
    # high-water mark is monotone, and peak_at is a pure function of
    # the peak value (it only moves when peak strictly increases), so
    # the max-peak row per type IS the final state, independent of
    # sink row order
    final = {
        r.event_type: r
        for r in spark.sql(
            "SELECT event_type, peak, peak_at_epoch FROM ("
            "  SELECT *, row_number() OVER (PARTITION BY event_type "
            "         ORDER BY peak DESC) AS rk FROM conc_stream"
            ") WHERE rk = 1"
        ).collect()
    }
    assert set(final) == set(batch)
    for et, b in batch.items():
        s = final[et]
        assert (s.peak, s.peak_at_epoch) == (b.peak, b.peak_at_epoch), et


def test_streaming_concurrent_peak_state_survives_restart(
    spark, sf_dir, tmp_path
):
    """Stop the concurrency stream after half the delta slices,
    restart from the checkpoint with the rest: the (conc, peak,
    peak_at) state must resume — a high-water mark reached in slice 1
    must survive into the final emission even if later slices never
    reach it again, and the running concurrency must carry over so a
    peak straddling the restart boundary is still counted."""
    import os
    import time

    from pyspark.sql import functions as F

    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.plans.registry import (
        QUERIES,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming import (
        streaming_concurrent_peak,
    )

    batch = {
        r.event_type: r
        for r in QUERIES["concurrent_peak"](spark, sf_dir).collect()
    }
    ev = read_fixture(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.unix_timestamp("ts").alias("start_t"),
        F.floor(F.col("value") * F.lit(60.0)).cast("long").alias("dur"),
    )
    deltas = ev.select(
        "event_type",
        "event_id",
        F.explode(
            F.array(
                F.struct(F.col("start_t").alias("t"), F.lit(1).alias("delta")),
                F.struct(
                    (F.col("start_t") + F.col("dur") + F.lit(1)).alias("t"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("e"),
    ).select(
        "event_type",
        F.col("e.t").alias("t"),
        F.col("e.delta").alias("delta"),
        "event_id",
    )

    src = tmp_path / "dsrc"
    src.mkdir()
    out = str(tmp_path / "dout")
    ckpt = str(tmp_path / "dckpt")
    rows = deltas.orderBy("t", "delta", "event_id").collect()
    quarter = (len(rows) + 3) // 4
    now = time.time()

    def add_slice(i: int) -> None:
        chunk = rows[i * quarter : (i + 1) * quarter]
        spark.createDataFrame(chunk, deltas.schema).coalesce(1).write.parquet(
            str(tmp_path / f"dstage_{i}")
        )
        part = next(
            p for p in (tmp_path / f"dstage_{i}").iterdir()
            if p.name.endswith(".parquet")
        )
        dst = src / f"slice_{i}.parquet"
        part.rename(dst)
        os.utime(dst, (now + 100 * i, now + 100 * i))

    def run_available() -> None:
        stream = (
            spark.readStream.schema(deltas.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

        # update-mode emissions land via foreachBatch (the parquet
        # sink itself only accepts append mode)
        def sink_batch(df, _epoch):
            df.write.mode("append").parquet(out)

        q = (
            streaming_concurrent_peak(stream)
            .writeStream.foreachBatch(sink_batch)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    add_slice(0)
    add_slice(1)
    run_available()
    add_slice(2)
    add_slice(3)
    run_available()

    import pandas as pd  # noqa: F401

    sink = spark.read.parquet(out)
    final = {
        r.event_type: r
        for r in spark.sql(
            "SELECT event_type, peak, peak_at_epoch FROM ("
            "  SELECT *, row_number() OVER (PARTITION BY event_type "
            "         ORDER BY peak DESC) AS rk FROM {df}"
            ") WHERE rk = 1",
            df=sink,
        ).collect()
    }
    assert set(final) == set(batch)
    for et, b in batch.items():
        s = final[et]
        assert (s.peak, s.peak_at_epoch) == (b.peak, b.peak_at_epoch), et


def test_streaming_twap_bit_exact_vs_batch(spark, sf_dir, tmp_path):
    """Stateful TWAP: replay the observation feed in 4 time-ordered
    micro-batches; the final per-type emission must equal the batch
    q_time_weighted_avg rows BIT-EXACTLY (the state's decimal-string
    accumulator mirrors the batch DECIMAL(38,10) route), with O(1)
    state per type."""
    import os
    import time

    from pyspark.sql import functions as F

    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.plans.registry import (
        QUERIES,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming import (
        streaming_twap,
    )

    batch = {
        r.event_type: r
        for r in QUERIES["time_weighted_avg"](spark, sf_dir).collect()
    }

    obs = read_fixture(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros("ts").alias("t_us"),
        "event_id",
        "value",
    )
    src = tmp_path / "twap_src"
    src.mkdir()
    rows = obs.orderBy("t_us", "event_id").collect()
    quarter = (len(rows) + 3) // 4
    now = time.time()
    for i in range(4):
        chunk = rows[i * quarter : (i + 1) * quarter]
        spark.createDataFrame(chunk, obs.schema).coalesce(1).write.parquet(
            str(tmp_path / f"tstage_{i}")
        )
        part = next(
            p
            for p in (tmp_path / f"tstage_{i}").iterdir()
            if p.name.endswith(".parquet")
        )
        dst = src / f"slice_{i}.parquet"
        part.rename(dst)
        os.utime(dst, (now + 100 * i, now + 100 * i))

    stream = (
        spark.readStream.schema(obs.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(src))
    )
    q = (
        streaming_twap(stream)
        .writeStream.format("memory")
        .queryName("twap_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # n_intervals is strictly monotone per type, so the max-n row per
    # type IS the final state, independent of sink row order
    final = {
        r.event_type: r
        for r in spark.sql(
            "SELECT event_type, n_intervals, twap, span_days FROM ("
            "  SELECT *, row_number() OVER (PARTITION BY event_type "
            "         ORDER BY n_intervals DESC) AS rk FROM twap_stream"
            ") WHERE rk = 1"
        ).collect()
    }
    assert set(final) == set(batch)
    for et, b in batch.items():
        s = final[et]
        assert s.n_intervals == b.n_intervals, et
        assert s.twap == b.twap, (et, s.twap, b.twap)
        assert s.span_days == b.span_days, et


def test_streaming_twap_state_survives_restart(spark, sf_dir, tmp_path):
    """Stop the TWAP stream after half the observation slices,
    restart from the checkpoint with the rest: the (last observation,
    decimal accumulator, weight total) state must resume so the final
    emission is STILL bit-identical to the batch query — including
    the hold interval that straddles the restart boundary."""
    import os
    import time

    from pyspark.sql import functions as F

    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.plans.registry import (
        QUERIES,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming import (
        streaming_twap,
    )

    batch = {
        r.event_type: r
        for r in QUERIES["time_weighted_avg"](spark, sf_dir).collect()
    }
    obs = read_fixture(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros("ts").alias("t_us"),
        "event_id",
        "value",
    )
    src = tmp_path / "tsrc"
    src.mkdir()
    out = str(tmp_path / "tout")
    ckpt = str(tmp_path / "tckpt")
    rows = obs.orderBy("t_us", "event_id").collect()
    quarter = (len(rows) + 3) // 4
    now = time.time()

    def add_slice(i: int) -> None:
        chunk = rows[i * quarter : (i + 1) * quarter]
        spark.createDataFrame(chunk, obs.schema).coalesce(1).write.parquet(
            str(tmp_path / f"tstage_{i}")
        )
        part = next(
            p
            for p in (tmp_path / f"tstage_{i}").iterdir()
            if p.name.endswith(".parquet")
        )
        dst = src / f"slice_{i}.parquet"
        part.rename(dst)
        os.utime(dst, (now + 100 * i, now + 100 * i))

    def run_available() -> None:
        stream = (
            spark.readStream.schema(obs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

        def sink_batch(df, _epoch):
            df.write.mode("append").parquet(out)

        q = (
            streaming_twap(stream)
            .writeStream.foreachBatch(sink_batch)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    add_slice(0)
    add_slice(1)
    run_available()
    add_slice(2)
    add_slice(3)
    run_available()

    sink = spark.read.parquet(out)
    final = {
        r.event_type: r
        for r in spark.sql(
            "SELECT event_type, n_intervals, twap, span_days FROM ("
            "  SELECT *, row_number() OVER (PARTITION BY event_type "
            "         ORDER BY n_intervals DESC) AS rk FROM {df}"
            ") WHERE rk = 1",
            df=sink,
        ).collect()
    }
    assert set(final) == set(batch)
    for et, b in batch.items():
        s = final[et]
        assert s.n_intervals == b.n_intervals, et
        assert s.twap == b.twap, (et, s.twap, b.twap)
        assert s.span_days == b.span_days, et


def test_watermark_drops_late_rows_and_matches_batch_twin(
    spark, tmp_path
):
    """Event-time watermark semantics, end to end: replay three
    time-ordered files through windowed_event_counts with a 10-minute
    watermark — the second file carries two genuinely LATE rows whose
    10-minute windows closed when the first file advanced the
    watermark, plus one late-but-within-watermark row that must
    survive. The streamed append-mode output must bit-match the batch
    twin computed over exactly the kept rows (late-drop is the one
    streaming behavior the earlier tests sidestep with
    365-day watermarks)."""
    import os
    from datetime import datetime, timedelta

    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming import (
        windowed_event_counts,
    )

    t0 = datetime(2026, 1, 1, 0, 0, 0)

    def ev(minute, etype="click", value=1.0):
        return (t0 + timedelta(minutes=minute), etype, "u1", value)

    schema = "ts timestamp, event_type string, user_id string, value double"
    # file 1: on-time rows 00:00..00:59 -> watermark after = 00:49
    batch1 = [ev(m) for m in (0, 5, 12, 23, 37, 44, 59)]
    # file 2: on-time hour-2 rows; processing it finalizes (emits +
    # evicts) every window ending <= 00:49 and advances the
    # watermark to 01:49
    batch2 = [ev(m) for m in (60, 71, 85, 99, 119)]
    # file 3: the actual late arrivals, one batch AFTER their
    # windows were finalized:
    #   ev(5), ev(30): windows [00:00,00:10) / [00:30,00:40) were
    #     emitted at the end of file 2 -> DROPPED
    #   ev(105): window [01:40,01:50) ends past the 01:49 watermark,
    #     still open -> KEPT (late but within the watermark bound)
    late_dropped = [ev(5, "late"), ev(30, "late")]
    late_kept = [ev(105, "late_ok")]
    batch3 = [ev(m) for m in (125, 140)] + late_dropped + late_kept
    # file 4: far-future sentinel pushes the watermark past every
    # real window so append mode flushes them; its own open window
    # is excluded from the comparison
    sentinel = [ev(60 * 24 * 10, "sentinel")]

    src = str(tmp_path / "late_src")
    os.makedirs(src)
    for i, rows in enumerate([batch1, batch2, batch3, sentinel]):
        f = os.path.join(src, f"b{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f)
        # file source orders by modification time (latestFirst=false):
        # pin strictly increasing mtimes so trigger order is the
        # logical batch order regardless of write speed
        for root, _dirs, files in os.walk(f):
            for name in files:
                os.utime(os.path.join(root, name), (1000 + i, 1000 + i))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    out = windowed_event_counts(
        stream, window_duration="10 minutes", watermark="10 minutes"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("late_audit")
        .outputMode("append")
        .option(
            "checkpointLocation", str(tmp_path / "late_ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = [
        tuple(r)
        for r in spark.sql(
            "SELECT * FROM late_audit WHERE event_type <> 'sentinel' "
            "ORDER BY window_start, event_type"
        ).collect()
    ]
    # nothing from the dropped rows leaked through
    assert all(r[2] != "late" for r in streamed)
    kept_rows = batch1 + batch2 + [ev(125), ev(140)] + late_kept
    twin = [
        tuple(r)
        for r in windowed_event_counts(
            spark.createDataFrame(kept_rows, schema),
            window_duration="10 minutes",
        )
        .orderBy("window_start", "event_type")
        .collect()
    ]
    assert streamed == twin
    assert any(r[2] == "late_ok" for r in streamed)


def test_stream_stream_left_outer_emits_unmatched_after_watermark(
    spark, tmp_path
):
    """how='left_outer' on the watermarked interval join: clicks with
    no purchase inside their window must emit exactly once with null
    purchase columns — only after the watermark proves no future
    purchase can match — and the final set must bit-match the batch
    left join over the same rows."""
    import os
    from datetime import datetime, timedelta

    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming import (
        stream_stream_attribution,
    )

    t0 = datetime(2026, 1, 1, 0, 0, 0)

    def row(eid, uid, minute):
        return (eid, t0 + timedelta(minutes=minute), uid)

    schema = "event_id long, ts timestamp, user_id long"
    # user 1 converts inside the window; users 2 and 3 never do
    clicks_1 = [row(101, 1, 0), row(102, 2, 1), row(103, 3, 2)]
    purch_1 = [row(201, 1, 4)]
    # sentinel rows advance BOTH watermarks far past every interval
    clicks_2 = [row(109, 9, 600)]
    purch_2 = [row(209, 9, 600)]

    def write_batches(sub, batches):
        src = str(tmp_path / sub)
        os.makedirs(src)
        for i, rows in enumerate(batches):
            f = os.path.join(src, f"b{i}")
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f)
            for root, _dirs, files in os.walk(f):
                for name in files:
                    os.utime(os.path.join(root, name), (1000 + i, 1000 + i))
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    cs = write_batches("clicks", [clicks_1, clicks_2])
    ps = write_batches("purchases", [purch_1, purch_2])
    out = stream_stream_attribution(
        cs, ps, window="10 minutes", watermark="10 minutes", how="left_outer"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("outer_attr")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "outer_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = sorted(
        tuple(r)
        for r in spark.sql(
            "SELECT * FROM outer_attr WHERE user_id <> 9"
        ).collect()
    )
    batch = stream_stream_attribution(
        spark.createDataFrame(clicks_1, schema),
        spark.createDataFrame(purch_1, schema),
        window="10 minutes",
        how="left_outer",
    )
    expected = sorted(tuple(r) for r in batch.collect())
    assert streamed == expected
    # the unmatched clicks surfaced exactly once, with null purchase
    nulls = [r for r in streamed if r[2] is None]
    assert sorted(r[1] for r in nulls) == [102, 103]
    matched = [r for r in streamed if r[2] is not None]
    assert [(r[0], r[1], r[2]) for r in matched] == [(1, 101, 201)]


def test_silver_stream_snapshot_kill_and_replay_state_identical(
    spark, tmp_path, bronze_sample
):
    """Streaming silver ingest INTO THE ACID SNAPSHOT TABLE (round-11
    VERDICT item 5): kill the stream between the good-table commit and
    the epoch checkpoint, restart, and the replayed batch is SKIPPED by
    the txn (app_id, epoch) dedup — final table state identical to a
    crash-free run, every epoch a time-travelable version."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming import (
        silver_stream_snapshot,
    )

    lines = open(bronze_sample.path).read().splitlines()
    header, rows = lines[0], lines[1:]
    indir = tmp_path / "in"
    indir.mkdir()
    for i, chunk in enumerate((rows[:1200], rows[1200:2400], rows[2400:])):
        (indir / f"part{i}.csv").write_text("\n".join([header, *chunk]) + "\n")

    table = str(tmp_path / "silver_snap")
    qtable = str(tmp_path / "quarantine_snap")
    ckpt = str(tmp_path / "ckpt")

    state = {"epochs_seen": []}

    def crash_mid_second_epoch(epoch_id: int) -> None:
        state["epochs_seen"].append(epoch_id)
        if len(state["epochs_seen"]) == 2:
            raise RuntimeError("injected crash: good committed, epoch open")

    q = silver_stream_snapshot(
        spark, str(indir), table, qtable, ckpt,
        max_files_per_trigger=1,
        fault_injector=crash_mid_second_epoch,
    )
    with pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination()
    assert len(state["epochs_seen"]) == 2
    v_after_crash = st.current_version(table)

    q2 = silver_stream_snapshot(
        spark, str(indir), table, qtable, ckpt, max_files_per_trigger=1
    )
    q2.awaitTermination(180)

    good = st.read_snapshot(spark, table)
    bad = st.read_snapshot(spark, qtable)
    # exactly-once: golden split totals, nothing lost, nothing doubled
    assert good.count() == bronze_sample.good
    assert bad.count() == bronze_sample.bad
    assert good.select("sessionId").distinct().count() == bronze_sample.good
    # the replayed epoch did NOT create a duplicate good-table version:
    # exactly one commit per epoch (create + 2 appends = v3)
    assert st.current_version(table) == 3
    assert v_after_crash == 2  # two epochs had committed when it died
    # every epoch is time travelable
    assert st.read_snapshot(spark, table, version=1).count() > 0
    # txn high-water marks recorded per table
    assert st.txn_epoch(table, "silver_stream") == 2
    assert st.txn_epoch(qtable, "silver_stream") == 2


def test_cdc_merge_stream_exactly_once_with_crash(spark, tmp_path):
    """Streaming CDC APPLY CHANGES INTO the snapshot table: per-epoch
    MERGE with txn exactly-once. Three single-file epochs (upsert,
    upsert+delete, insert); the injected fault crashes AFTER epoch
    1's merge commits but BEFORE its checkpoint — the restart must
    skip the committed epoch (txn replay guard) and finish, landing
    exactly the sequential-apply state with no doubles or losses."""
    import os as _os
    import time as _time

    import pytest as _pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming import (
        cdc_merge_stream,
    )

    table = str(tmp_path / "cdc_tgt")
    st.create_table(
        spark.createDataFrame(
            [(1, "a", False), (2, "b", False), (3, "c", False)],
            "k int, v string, is_delete boolean",
        ).select("k", "v").coalesce(1),
        table,
        [],
    )
    # three CDC files, mtime-ordered so the file source replays in order
    src = tmp_path / "cdc_in"
    src.mkdir()
    batches = [
        [(2, "B1", False), (4, "D", False)],          # upserts
        [(3, None, True), (4, "D2", False)],          # delete + update
        [(5, "E", False)],                            # insert
    ]
    schema = "k int, v string, is_delete boolean"
    now = _time.time()
    for i, rows in enumerate(batches):
        stage = tmp_path / f"cdc_stage_{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(stage)
        )
        part = next(
            p for p in stage.iterdir() if p.name.endswith(".parquet")
        )
        dst = src / f"b{i}.parquet"
        part.rename(dst)
        _os.utime(dst, (now + 100 * i, now + 100 * i))

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(str(src))
        )

    ckpt = str(tmp_path / "cdc_ckpt")
    seen = []

    def crash_second(epoch_id):
        seen.append(epoch_id)
        if len(seen) == 2:
            raise RuntimeError("injected crash: merge committed, epoch not")

    q = cdc_merge_stream(
        spark, stream(), table, ckpt, ["k"],
        delete_col="is_delete", fault_injector=crash_second,
    )
    with _pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination()
    q2 = cdc_merge_stream(
        spark, stream(), table, ckpt, ["k"], delete_col="is_delete"
    )
    q2.awaitTermination(180)
    got = {(r.k, r.v) for r in st.read_snapshot(spark, table).collect()}
    assert got == {(1, "a"), (2, "B1"), (4, "D2"), (5, "E")}
    # commit count proves no epoch applied twice: create + 3 merges
    assert st.current_version(table) == 4
    assert st.txn_epoch(table, "cdc_merge_stream") == 2


def test_cdc_merge_stream_compacts_multi_change_batches(spark, tmp_path):
    """A single batch carrying several changes for one key applies
    latest-wins via order_cols before the merge."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming import (
        cdc_merge_stream,
    )

    table = str(tmp_path / "cdc_multi_tgt")
    st.create_table(
        spark.createDataFrame([(1, "a")], "k int, v string").coalesce(1),
        table,
        [],
    )
    src = tmp_path / "cdc_multi_in"
    src.mkdir()
    spark.createDataFrame(
        [(1, "x", False, 1), (1, "y", False, 2), (2, "n", False, 1)],
        "k int, v string, is_delete boolean, seq int",
    ).coalesce(1).write.mode("append").parquet(str(src))
    q = cdc_merge_stream(
        spark,
        spark.readStream.schema(
            "k int, v string, is_delete boolean, seq int"
        ).parquet(str(src)),
        table,
        str(tmp_path / "cdc_multi_ckpt"),
        ["k"],
        delete_col="is_delete",
        order_cols=["seq"],
    )
    q.awaitTermination(180)
    got = {
        (r.k, r.v)
        for r in st.read_snapshot(spark, table).select("k", "v").collect()
    }
    assert got == {(1, "y"), (2, "n")}


# ---------------------------------------------------------------------------
# snapshot_stream: Structured Streaming SOURCE over the commit log
# (streaming/cdf_source.py — the Delta streaming-source model on the
# Python DataSource API: version offsets, file-per-partition reads)
# ---------------------------------------------------------------------------


def _mk_stream_table(spark, tmp_path):
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )

    t = str(tmp_path / "cdf_src_tbl")
    st.create_table(
        spark.createDataFrame(
            [(1, "A", 10), (2, "B", 20)], "id int, g string, v int"
        ).coalesce(1),
        t,
        ["g"],
    )
    st.append(spark.createDataFrame([(3, "A", 30)], "id int, g string, v int"), t)
    return t


def _drain(spark, table, ckpt, out, **opts):
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming import (
        read_snapshot_stream,
        register_snapshot_stream,
    )

    register_snapshot_stream(spark)
    q = (
        read_snapshot_stream(spark, table, **opts)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return sorted(tuple(r) for r in spark.read.parquet(out).collect())


def test_snapshot_stream_source_exactly_once_resume(spark, tmp_path):
    """Version-offset resume: a restarted stream consumes ONLY the
    commits after its checkpointed offset — no replays, no gaps —
    and OPTIMIZE commits stream nothing (content-identical)."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )

    t = _mk_stream_table(spark, tmp_path)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    rows1 = _drain(spark, t, ckpt, out)
    assert rows1 == [(1, "A", 10, 1), (2, "B", 20, 1), (3, "A", 30, 2)]
    st.append(spark.createDataFrame([(4, "B", 40)], "id int, g string, v int"), t)
    st.optimize(spark, t)  # must contribute zero rows
    rows2 = _drain(spark, t, ckpt, out)
    assert rows2 == rows1 + [(4, "B", 40, 3)]


def test_snapshot_stream_source_change_commit_errors_then_skips(
    spark, tmp_path
):
    """A commit that rewrites/deletes rows fails the append feed by
    default (Delta's contract); skipChangeCommits=true drops that
    commit wholesale and the stream continues with later appends."""
    import pytest as _pytest

    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    t = _mk_stream_table(spark, tmp_path)
    st.delete_where(spark, t, [("v", "<", 15)])  # v3: change commit
    st.append(spark.createDataFrame([(5, "A", 50)], "id int, g string, v int"), t)
    with _pytest.raises(StreamingQueryException, match="skipChangeCommits"):
        _drain(spark, t, str(tmp_path / "c1"), str(tmp_path / "o1"))
    rows = _drain(
        spark,
        t,
        str(tmp_path / "c2"),
        str(tmp_path / "o2"),
        skip_change_commits=True,
    )
    # delete commit dropped wholesale; appends before and after stream
    assert rows == [
        (1, "A", 10, 1),
        (2, "B", 20, 1),
        (3, "A", 30, 2),
        (5, "A", 50, 4),
    ]


def test_snapshot_stream_source_starting_version(spark, tmp_path):
    """startingVersion=N streams commits >= N only — the 'tail from
    here' entry point for a consumer that bootstrapped elsewhere."""
    t = _mk_stream_table(spark, tmp_path)
    rows = _drain(
        spark,
        t,
        str(tmp_path / "c"),
        str(tmp_path / "o"),
        starting_version=2,
    )
    assert rows == [(3, "A", 30, 2)]


def test_streaming_medallion_through_snapshot_tables(
    spark, tmp_path, bronze_sample
):
    """The full medallion with the LAKE FORMAT as the streaming
    fabric: bronze CSV -> silver ACID snapshot table (foreachBatch
    sink, txn epochs) -> `snapshot_stream` SOURCE tails the silver
    commit log -> gold per-site aggregate — and an incremental second
    leg: new bronze files land, the gold restart consumes exactly the
    new silver commits. End state must equal the batch gold over the
    silver table's head."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming import (
        read_snapshot_stream,
        register_snapshot_stream,
        silver_stream_snapshot,
    )
    from pyspark.sql import functions as F

    lines = open(bronze_sample.path).read().splitlines()
    header, rows = lines[0], lines[1:]
    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "part0.csv").write_text("\n".join([header, *rows[:1500]]) + "\n")

    silver = str(tmp_path / "silver_snap")
    quarantine = str(tmp_path / "quarantine_snap")

    def run_silver():
        q = silver_stream_snapshot(
            spark, str(indir), silver, quarantine, str(tmp_path / "ck_silver")
        )
        q.awaitTermination(180)

    def run_gold():
        register_snapshot_stream(spark)
        q = (
            read_snapshot_stream(spark, silver)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "gold_feed"))
            .option("checkpointLocation", str(tmp_path / "ck_gold"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return (
            spark.read.parquet(str(tmp_path / "gold_feed"))
            .groupBy("stationId")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        )

    run_silver()
    first = {(r.stationId, r.n_sessions) for r in run_gold().collect()}
    assert sum(n for _, n in first) > 0

    # second leg: more bronze arrives; both streams resume incrementally
    (indir / "part1.csv").write_text("\n".join([header, *rows[1500:]]) + "\n")
    run_silver()
    final = {(r.stationId, r.n_sessions) for r in run_gold().collect()}

    batch = {
        (r.stationId, r.n_sessions)
        for r in st.read_snapshot(spark, silver)
        .groupBy("stationId")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .collect()
    }
    assert final == batch  # streaming fabric == batch truth, end to end


def test_snapshot_stream_source_reads_logical_names_after_rename(
    spark, tmp_path
):
    """RENAME COLUMN mid-stream: files written before AND after the
    rename carry different physical names (column mapping); the
    source must surface the logical name for both — each file reads
    under ITS commit's mapping."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )

    t = str(tmp_path / "cdf_renamed")
    st.create_table(
        spark.createDataFrame([(1, 10)], "id int, val int").coalesce(1), t, []
    )
    st.rename_column(t, "val", "value")  # metadata-only commit
    st.append(spark.createDataFrame([(2, 20)], "id int, value int"), t)
    rows = _drain(spark, t, str(tmp_path / "ck"), str(tmp_path / "out"))
    # pre-rename file surfaces under the logical name too
    assert rows == [(1, 10, 1), (2, 20, 3)]


def test_snapshot_stream_source_hive_decoding_matches_batch(
    spark, tmp_path
):
    """Escaped and NULL partition values must surface exactly as the
    batch read surfaces them — 'a:b' stays 'a:b' (not 'a%3Ab') and
    the hive null sentinel becomes a real NULL."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )

    t = str(tmp_path / "cdf_hive")
    st.create_table(
        spark.createDataFrame(
            [(1, "a:b", 10), (2, None, 20)], "id int, g string, v int"
        ).coalesce(1),
        t,
        ["g"],
    )
    rows = _drain(spark, t, str(tmp_path / "ck"), str(tmp_path / "out"))
    batch = sorted(
        (r.id, r.g, r.v) for r in st.read_snapshot(spark, t).collect()
    )
    assert [(i, g, v) for i, g, v, _ in rows] == batch
    assert ("a:b" in {g for _, g, _ in batch}) and (
        None in {g for _, g, _ in batch}
    )


def test_snapshot_stream_source_surfaces_identity_column(spark, tmp_path):
    """GENERATED ALWAYS AS IDENTITY is part of the table's logical
    contract: the stream must derive the surrogate key exactly as the
    batch read does."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )

    t = str(tmp_path / "cdf_ident")
    st.create_table(
        spark.createDataFrame([(1, 10), (2, 20)], "id int, v int").coalesce(1),
        t,
        [],
    )
    st.enable_row_tracking(t)
    st.enable_identity(t, "sk", start=100, step=2)
    st.append(spark.createDataFrame([(3, 30)], "id int, v int"), t)
    rows = _drain(spark, t, str(tmp_path / "ck"), str(tmp_path / "out"))
    batch = sorted(
        (r.id, r.v, r.sk) for r in st.read_snapshot(spark, t).collect()
    )
    assert sorted((i, v, sk) for i, v, sk, _ in rows) == batch


def test_snapshot_stream_source_vacuumed_history(spark, tmp_path):
    """A fresh earliest start on a vacuumed table bootstraps from the
    earliest kept checkpoint (full snapshot as adds); a checkpointed
    offset whose diff base was vacuumed fails with a clear
    out-of-retention error, never re-streams."""
    import pytest as _pytest

    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    t = str(tmp_path / "cdf_vac")
    st.create_table(
        spark.createDataFrame([(1, 10)], "id int, v int").coalesce(1), t, []
    )
    ck1, out1 = str(tmp_path / "ck1"), str(tmp_path / "out1")
    _drain(spark, t, ck1, out1)  # consumed through v1
    for i in (2, 3, 4):
        st.append(spark.createDataFrame([(i, i * 10)], "id int, v int"), t)
    st.vacuum(t, retain_last=2, grace_seconds=0)  # keeps v3, v4 only
    assert st._list_versions(t) == [3, 4]
    # fresh earliest start: bootstrap = v3's full snapshot + v4's adds
    rows = _drain(spark, t, str(tmp_path / "ck2"), str(tmp_path / "out2"))
    batch = sorted((r.id, r.v) for r in st.read_snapshot(spark, t).collect())
    assert sorted((i, v) for i, v, _ in rows) == batch
    # resume of the OLD checkpoint (offset v1): diff base expired
    with _pytest.raises(StreamingQueryException, match="expired"):
        _drain(spark, t, ck1, out1)


def test_snapshot_stream_bootstrap_optimize_and_dv_snapshot(spark, tmp_path):
    """Bootstrap after vacuum must stream the earliest kept
    manifest's LIVE rows whatever operation wrote it: an OPTIMIZE
    checkpoint is not 'nothing to stream', and a DV-carrying
    checkpoint streams with the deleted positions filtered out."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )

    t = str(tmp_path / "cdf_boot")
    st.create_table(
        spark.createDataFrame(
            [(i, i * 10) for i in range(6)], "id int, v int"
        ).coalesce(1),
        t,
        [],
    )
    st.append(spark.createDataFrame([(6, 60)], "id int, v int"), t)  # v2
    st.delete_where(spark, t, [("id", "<", 2)], use_dv=True)  # v3: DVs
    st.optimize(spark, t)  # v4: materializes DVs away
    st.append(spark.createDataFrame([(7, 70)], "id int, v int"), t)  # v5
    # earliest kept carries DVs (v3): bootstrap must apply them
    st.vacuum(t, retain_last=3, grace_seconds=0)
    assert st._list_versions(t) == [3, 4, 5]
    rows = _drain(spark, t, str(tmp_path / "ck1"), str(tmp_path / "o1"))
    batch = sorted((r.id, r.v) for r in st.read_snapshot(spark, t).collect())
    assert sorted((i, v) for i, v, _ in rows) == batch
    assert not any(i in (0, 1) for i, _, _ in rows)  # DV-deleted filtered
    # earliest kept is the OPTIMIZE commit (v4): bootstrap = its snapshot
    st.vacuum(t, retain_last=2, grace_seconds=0)
    assert st._list_versions(t) == [4, 5]
    rows2 = _drain(spark, t, str(tmp_path / "ck2"), str(tmp_path / "o2"))
    assert sorted((i, v) for i, v, _ in rows2) == batch


def test_snapshot_stream_identity_survives_same_batch_compaction(
    spark, tmp_path
):
    """A file appended and then OPTIMIZE-compacted away inside one
    micro-batch: identity must resolve from the ADDING commit's
    allocation (the end manifest no longer carries the file), not
    wedge the stream."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )

    t = str(tmp_path / "cdf_ident_opt")
    st.create_table(
        spark.createDataFrame([(1, 10)], "id int, v int").coalesce(1), t, []
    )
    st.enable_row_tracking(t)
    st.enable_identity(t, "sk", start=100, step=1)
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    _drain(spark, t, ck, out)  # consumed through enablement
    st.append(spark.createDataFrame([(2, 20)], "id int, v int"), t)
    st.optimize(spark, t)  # rewrites the appended file away
    rows = _drain(spark, t, ck, out)
    batch = sorted(
        (r.id, r.v, r.sk) for r in st.read_snapshot(spark, t).collect()
    )
    assert sorted((i, v, sk) for i, v, sk, _ in rows) == batch


def test_snapshot_stream_max_files_per_trigger_bounds_batches(
    spark, tmp_path
):
    """Admission control (maxFilesPerTrigger): once the run's cursor
    is seeded, every later micro-batch covers whole versions within
    the file budget, and a single oversized commit still advances
    (never stalls). Driven at the reader protocol level in the
    engine's real call order — latestOffset BEFORE any offset is
    known (uncapped by design: capping blind could regress a
    checkpointed offset), then partitions() seeding the cursor, then
    bounded latestOffset calls."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming.cdf_source import (
        SnapshotStreamDataSource,
    )

    t = str(tmp_path / "cdf_rate")
    st.create_table(
        spark.createDataFrame([(1, 10)], "id int, v int").coalesce(1), t, []
    )
    ds = SnapshotStreamDataSource({"path": t, "maxFilesPerTrigger": "1"})
    r = ds.streamReader(ds.schema())
    # first latestOffset of the run: cursor unknown -> uncapped head
    assert r.latestOffset() == {"version": 1}
    r.partitions({"version": 0}, {"version": 1})  # batch runs, cursor = 1
    # backlog lands: 3 single-file commits + 1 two-file commit
    for i in (2, 3, 4):
        st.append(spark.createDataFrame([(i, i * 10)], "id int, v int"), t)
    st.append(
        spark.createDataFrame(
            [(5, 50), (6, 60)], "id int, v int"
        ).repartition(2),
        t,
    )
    # bounded advance: one single-file version per trigger
    assert r.latestOffset() == {"version": 2}
    r.partitions({"version": 1}, {"version": 2})
    assert r.latestOffset() == {"version": 3}
    r.partitions({"version": 2}, {"version": 3})
    assert r.latestOffset() == {"version": 4}
    r.partitions({"version": 3}, {"version": 4})
    # the 2-file commit exceeds the budget but must still advance
    assert r.latestOffset() == {"version": 5}
    r.partitions({"version": 4}, {"version": 5})
    assert r.latestOffset() == {"version": 5}  # caught up


def test_snapshot_stream_starting_timestamp(spark, tmp_path):
    """startingTimestamp (Delta's twin of startingVersion): the
    stream begins at the first commit AT OR AFTER the timestamp; a
    timestamp past the head starts empty; predating history degrades
    to the earliest-bootstrap start; combining both options errors."""
    import pytest as _pytest

    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming.cdf_source import (
        SnapshotStreamDataSource,
    )

    t = _mk_stream_table(spark, tmp_path)  # v1 create, v2 append
    ts2 = st._read_manifest(t, 2)["committed_at"]

    def init(**opts):
        ds = SnapshotStreamDataSource({"path": t, **opts})
        return ds.streamReader(ds.schema()).initialOffset()

    # exactly v2's commit time -> start AT v2
    assert init(startingTimestamp=str(ts2)) == {"version": 1}
    # just after v2 -> nothing at/after yet: wait for future commits
    assert init(startingTimestamp=str(ts2 + 1.0)) == {"version": 2}
    # before everything -> earliest with bootstrap semantics
    assert init(startingTimestamp="0") == {"version": 0, "bootstrap": True}
    with _pytest.raises(Exception, match="mutually exclusive"):
        init(startingTimestamp=str(ts2), startingVersion="1")
    # the helper rejects combining both start options
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming import (
        read_snapshot_stream,
        register_snapshot_stream,
    )

    register_snapshot_stream(spark)
    with _pytest.raises(ValueError, match="mutually exclusive"):
        read_snapshot_stream(
            spark, t, starting_version=1, starting_timestamp=ts2
        )
    # end-to-end: drain from ts2 lands only v2's rows
    rows = _drain(
        spark,
        t,
        str(tmp_path / "ckpt_ts"),
        str(tmp_path / "out_ts"),
        starting_timestamp=ts2,
    )
    assert rows == [(3, "A", 30, 2)]


def test_snapshot_stream_starting_timestamp_across_retention_gap(
    spark, tmp_path
):
    """A tag + vacuum leaves numeric gaps in retained versions; a
    timestamp landing inside the gap must start from the previous
    RETAINED version (one collapsed net diff), not the expired
    numeric predecessor — which no restart could ever read."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming.cdf_source import (
        SnapshotStreamDataSource,
    )

    t = str(tmp_path / "ts_gap")
    st.create_table(
        spark.createDataFrame([(1, 10)], "id int, v int").coalesce(1), t, []
    )
    st.create_tag(t, "keep", version=1)
    for i in (2, 3, 4, 5):
        st.append(
            spark.createDataFrame([(i, i * 10)], "id int, v int").coalesce(1),
            t,
        )
    st.vacuum(t, retain_last=2, grace_seconds=0)
    versions = st._list_versions(t)
    assert versions == [1, 4, 5]  # tag keeps v1; v2/v3 expired
    ts_in_gap = st._raw_manifest(t, 4)["committed_at"]
    ds = SnapshotStreamDataSource(
        {"path": t, "startingTimestamp": str(ts_in_gap)}
    )
    r = ds.streamReader(ds.schema())
    off = r.initialOffset()
    assert off == {"version": 1}  # previous RETAINED version, no gap
    # and the batch actually plans (v1 -> v4 collapsed net diff + v5)
    rows = _drain(
        spark,
        t,
        str(tmp_path / "ckpt_gap"),
        str(tmp_path / "out_gap"),
        starting_timestamp=ts_in_gap,
    )
    assert {(r_[0], r_[1]) for r_ in rows} == {(2, 20), (3, 30), (4, 40), (5, 50)}


def test_snapshot_stream_max_bytes_per_trigger_bounds_batches(
    spark, tmp_path
):
    """Byte-based admission (maxBytesPerTrigger, composing with
    maxFilesPerTrigger — Delta's pairing): batches advance whole
    versions within the BYTE budget read from manifest stats, a
    single file larger than the budget still forms its own batch,
    and a byte-capped drain lands exactly the uncapped row set."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming.cdf_source import (
        SnapshotStreamDataSource,
    )

    t = str(tmp_path / "cdf_bytes")
    st.create_table(
        spark.createDataFrame([(1, 10)], "id int, v int").coalesce(1), t, []
    )
    for i in (2, 3, 4):
        st.append(
            spark.createDataFrame(
                [(i, i * 10)], "id int, v int"
            ).coalesce(1),
            t,
        )
    st.append(
        spark.createDataFrame(
            [(5, 50), (6, 60)], "id int, v int"
        ).repartition(2),
        t,
    )
    # per-version byte cost from the manifest stats (no fs stat)
    m2 = st._read_manifest(t, 2)
    m1_files = set(st._read_manifest(t, 1)["files"])
    [f2] = [f for f in m2["files"] if f not in m1_files]
    one_file = int(m2["file_stats"][f2]["bytes"])

    # budget = one file's bytes -> one single-file version per batch
    ds = SnapshotStreamDataSource(
        {"path": t, "maxBytesPerTrigger": str(one_file)}
    )
    r = ds.streamReader(ds.schema())
    assert r.latestOffset() == {"version": 5}  # first call: uncapped
    r.partitions({"version": 0}, {"version": 1})  # cursor = 1
    assert r.latestOffset() == {"version": 2}
    r.partitions({"version": 1}, {"version": 2})
    assert r.latestOffset() == {"version": 3}
    r.partitions({"version": 2}, {"version": 3})
    assert r.latestOffset() == {"version": 4}
    r.partitions({"version": 3}, {"version": 4})
    # v5's two files exceed the budget but must still advance
    assert r.latestOffset() == {"version": 5}
    r.partitions({"version": 4}, {"version": 5})
    assert r.latestOffset() == {"version": 5}  # caught up

    # composition: a generous byte budget with maxFilesPerTrigger=1
    # lets the FILE cap bind (v5 alone: 2 files > 1 but advances)
    ds2 = SnapshotStreamDataSource(
        {
            "path": t,
            "maxFilesPerTrigger": "1",
            "maxBytesPerTrigger": str(one_file * 100),
        }
    )
    r2 = ds2.streamReader(ds2.schema())
    r2.partitions({"version": 0}, {"version": 1})
    assert r2.latestOffset() == {"version": 2}
    # and a tight byte budget binds even with a generous file cap
    ds3 = SnapshotStreamDataSource(
        {
            "path": t,
            "maxFilesPerTrigger": "100",
            "maxBytesPerTrigger": str(one_file),
        }
    )
    r3 = ds3.streamReader(ds3.schema())
    r3.partitions({"version": 0}, {"version": 1})
    assert r3.latestOffset() == {"version": 2}

    # end-to-end: byte-capped drain + resume lands the uncapped rows
    capped = _drain(
        spark,
        t,
        str(tmp_path / "ckpt_b"),
        str(tmp_path / "out_b"),
        max_bytes_per_trigger=one_file,
    )
    uncapped = _drain(
        spark, t, str(tmp_path / "ckpt_u"), str(tmp_path / "out_u")
    )
    assert capped == uncapped
    # byte-capped RESUME replays identically: new commit, same budget
    st.append(
        spark.createDataFrame([(7, 70)], "id int, v int").coalesce(1), t
    )
    resumed = _drain(
        spark,
        t,
        str(tmp_path / "ckpt_b"),
        str(tmp_path / "out_b"),
        max_bytes_per_trigger=one_file,
    )
    assert resumed == capped + [(7, 70, 6)]


# ---------------------------------------------------------------------------
# snapshot_stream SINK (streaming/cdf_source.write_snapshot_stream): a
# foreachBatch whose every epoch is one txn-tagged snaptable.append
# ---------------------------------------------------------------------------


def test_snapshot_stream_sink_end_to_end_and_resume(spark, tmp_path):
    """File-source stream -> snapshot sink: each run's batches land
    as txn-tagged append commits; a restarted stream consumes only
    new input; partition values with hive-special chars land in
    Spark-compatible dirs and read back exactly."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming.cdf_source import (
        register_snapshot_stream,
        write_snapshot_stream,
    )

    register_snapshot_stream(spark)
    src = tmp_path / "in"
    src.mkdir()
    spark.createDataFrame(
        [(1, "x:y", 10), (2, "B", 20)], "id int, g string, v int"
    ).coalesce(1).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema("id int, g string, v int").parquet(
        str(src)
    )
    t = str(tmp_path / "tbl")
    ck = str(tmp_path / "ck")
    q = write_snapshot_stream(
        spark, stream, t, ck, partition_cols=["g"], app_id="sink_e2e"
    )
    q.awaitTermination(180)
    got = sorted((r.id, r.g, r.v) for r in st.read_snapshot(spark, t).collect())
    assert got == [(1, "x:y", 10), (2, "B", 20)]
    assert st.txn_epoch(t, "sink_e2e") == 0
    # restart: only the new input file streams, as the next epoch
    spark.createDataFrame(
        [(3, "A", 30)], "id int, g string, v int"
    ).coalesce(1).write.mode("append").parquet(str(src))
    q = write_snapshot_stream(
        spark, stream, t, ck, partition_cols=["g"], app_id="sink_e2e"
    )
    q.awaitTermination(180)
    got2 = sorted(
        (r.id, r.g, r.v) for r in st.read_snapshot(spark, t).collect()
    )
    assert got2 == [(1, "x:y", 10), (2, "B", 20), (3, "A", 30)]
    assert st.txn_epoch(t, "sink_e2e") == 1
    import glob

    assert glob.glob(t + "/data/_staging-*") == []  # staging all cleaned


def test_snapshot_stream_sink_replayed_and_empty_epochs_publish_nothing(
    spark, tmp_path
):
    """The exactly-once core, on the sink's epoch body: an epoch the
    table already committed (same app id and epoch id, fresh rows —
    the engine re-running an epoch whose commit published) publishes
    nothing, and neither does an empty epoch."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming.cdf_source import (
        _sink_epoch,
    )

    t = str(tmp_path / "tbl")
    schema = "id int, g string, v int"
    st.create_table(spark.createDataFrame([], schema), t, ["g"])
    batch = spark.createDataFrame([(1, "A", 10), (2, "B", 20)], schema)
    _sink_epoch(t, "sink_proto", batch, 0)
    assert st.current_version(t) == 2
    rows = sorted((r.id, r.g, r.v) for r in st.read_snapshot(spark, t).collect())
    assert rows == [(1, "A", 10), (2, "B", 20)]
    _sink_epoch(t, "sink_proto", batch, 0)  # replay of epoch 0
    assert st.current_version(t) == 2
    _sink_epoch(t, "sink_proto", spark.createDataFrame([], schema), 1)
    assert st.current_version(t) == 2
    assert st.txn_epoch(t, "sink_proto") == 0


def test_snapshot_stream_sink_check_constraints_and_mid_stream_ddl(
    spark, tmp_path
):
    """Each epoch is an append against the head it lands on: a
    CHECK-constrained table takes a conforming epoch and refuses a
    violating one without publishing, a constraint added between
    epochs is enforced, and a column renamed between epochs refuses
    the stale-named epoch instead of reverting the rename."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming.cdf_source import (
        _sink_epoch,
    )

    t = str(tmp_path / "con")
    schema = "id int, v int"
    st.create_table(
        spark.createDataFrame([], schema), t, [], constraints={"v_pos": "v > 0"}
    )
    _sink_epoch(t, "c", spark.createDataFrame([(1, 10)], schema), 0)
    head = st.current_version(t)
    with pytest.raises(st.ConstraintViolation, match="v_pos"):
        _sink_epoch(t, "c", spark.createDataFrame([(2, -5)], schema), 1)
    assert st.current_version(t) == head
    st.add_constraint(spark, t, "v_small", "v < 100")
    with pytest.raises(st.ConstraintViolation, match="v_small"):
        _sink_epoch(t, "c", spark.createDataFrame([(3, 500)], schema), 1)
    st.rename_column(t, "id", "key")
    head = st.current_version(t)
    with pytest.raises(ValueError, match="adds columns"):
        _sink_epoch(t, "c", spark.createDataFrame([(4, 5)], schema), 1)
    assert st.current_version(t) == head
    assert sorted(tuple(r) for r in st.read_snapshot(spark, t).collect()) == [
        (1, 10)
    ]
    assert st.txn_epoch(t, "c") == 0


def test_snapshot_stream_sink_generated_column_and_hidden_partitioning(
    spark, tmp_path
):
    """A table with a generated column under ``bucket(4,k)`` hidden
    partitioning takes the sink's epochs exactly as a batch append of
    the same rows: same rows back, same partition layout."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming.cdf_source import (
        _sink_epoch,
    )

    schema = "k int, v int"
    rows = [(k, k * 3) for k in range(12)]
    tables = [str(tmp_path / "sink"), str(tmp_path / "batch")]
    for t in tables:
        st.create_table(
            spark.createDataFrame([], schema),
            t,
            ["bucket(4,k)"],
            generated={"v2": "v * 2"},
        )
    _sink_epoch(tables[0], "gen", spark.createDataFrame(rows, schema), 0)
    st.append(spark.createDataFrame(rows, schema), tables[1])
    sink, batch = (
        sorted(tuple(r) for r in st.read_snapshot(spark, t).collect())
        for t in tables
    )
    assert sink == batch == [(k, k * 3, k * 6) for k in range(12)]
    dirs = [
        sorted({f.rsplit("/", 1)[0] for f in st._manifest_at(t)[1]["files"]})
        for t in tables
    ]
    assert dirs[0] == dirs[1] and len(dirs[0]) > 1


def test_snapshot_stream_sink_empty_and_null_partition_values_read_null(
    spark, tmp_path
):
    """An empty-string or null partition value lands where Spark's own
    partitioned write puts it and reads back as null."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming.cdf_source import (
        _sink_epoch,
    )

    t = str(tmp_path / "nulls")
    schema = "id int, g string"
    st.create_table(spark.createDataFrame([], schema), t, ["g"])
    _sink_epoch(
        t, "n", spark.createDataFrame([(1, ""), (2, None), (3, "a")], schema), 0
    )
    got = sorted((r.id, r.g) for r in st.read_snapshot(spark, t).collect())
    assert got == [(1, None), (2, None), (3, "a")]


def test_snapshot_stream_sink_refuses_extra_or_retyped_column_at_start(
    spark, tmp_path
):
    """A stream carrying a column the table lacks, or one it retypes,
    is refused by append's own schema gate before any query starts."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming.cdf_source import (
        write_snapshot_stream,
    )

    t = str(tmp_path / "typed")
    st.create_table(spark.createDataFrame([(1, 1)], "id int, v int"), t, [])
    src = tmp_path / "in"
    src.mkdir()
    active = len(spark.streams.active)
    for ddl, match in (
        ("id int, v int, extra int", "adds columns"),
        ("id int, v string", "type conflict"),
    ):
        stream = spark.readStream.schema(ddl).parquet(str(src))
        with pytest.raises(ValueError, match=match):
            write_snapshot_stream(spark, stream, t, str(tmp_path / "ck"))
    assert len(spark.streams.active) == active
    assert st.current_version(t) == 1


def test_snapshot_stream_sink_default_app_id_and_gated_tables(spark, tmp_path):
    """Without ``app_id`` the sink keys its txn on
    ``"snapshot_stream_writer_" + sha256(abspath(checkpoint))[:16]``, so
    a checkpoint an earlier sink wrote resumes without reprocessing; and
    the sink writes into a table with a CHECK constraint, a generated
    column and hidden partitioning at once."""
    import hashlib
    import os

    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming.cdf_source import (
        write_snapshot_stream,
    )

    schema = "k int, v int"
    src = str(tmp_path / "in")
    spark.createDataFrame([(1, 10), (2, 20)], schema).coalesce(1).write.parquet(
        src
    )
    t = str(tmp_path / "tbl")
    st.create_table(
        spark.createDataFrame([], schema),
        t,
        ["bucket(4,k)"],
        constraints={"v_pos": "v > 0"},
        generated={"v2": "v * 2"},
    )
    ck = str(tmp_path / "ck")
    q = write_snapshot_stream(
        spark, spark.readStream.schema(schema).parquet(src), t, ck
    )
    q.awaitTermination(180)
    assert q.exception() is None
    got = sorted(tuple(r) for r in st.read_snapshot(spark, t).collect())
    assert got == [(1, 10, 20), (2, 20, 40)]
    app_id = (
        "snapshot_stream_writer_"
        + hashlib.sha256(os.path.abspath(ck).encode()).hexdigest()[:16]
    )
    assert st.txn_epoch(t, app_id) == 0


def test_snapshot_stream_read_change_feed_matches_batch_cdf(
    spark, tmp_path
):
    """readChangeFeed=true: the stream's change rows over a range of
    append / rewrite-DELETE / MoR-DELETE / MoR-UPDATE / overwrite /
    MERGE commits must equal the batch change feed (snaptable.changes)
    row-for-row, and the net effect replays the final state."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )

    t = str(tmp_path / "cdf_feed")
    st.create_table(
        spark.createDataFrame(
            [(i, "A" if i < 3 else "B", i * 10) for i in range(6)],
            "id int, g string, v int",
        ).coalesce(1),
        t,
        ["g"],
    )
    st.append(spark.createDataFrame([(6, "A", 60)], "id int, g string, v int"), t)
    st.delete_where(spark, t, [("v", "<", 20)])  # rewrite delete
    st.delete_where(spark, t, [("id", "=", 4)], use_dv=True)  # MoR delete
    # MoR update: grows a kept file's DV and adds a file in one commit
    st.update_where(spark, t, [("id", "=", 5)], {"v": "v + 1"}, use_dv=True)
    st.overwrite_partitions(
        spark.createDataFrame([(9, "B", 90)], "id int, g string, v int"), t
    )
    st.merge_into(
        spark,
        t,
        spark.createDataFrame(
            [(2, "A", 21), (7, "A", 70)], "id int, g string, v int"
        ),
        ["id"],
    )
    st.optimize(spark, t)  # must contribute nothing

    rows = _drain(
        spark,
        t,
        str(tmp_path / "ck"),
        str(tmp_path / "out"),
        read_change_feed=True,
    )
    stream_cdf = sorted(
        (r[0], r[1], r[2], r[3], r[4]) for r in rows
    )  # id, g, v, _change_type, _commit_version
    batch = sorted(
        (r.id, r.g, r.v, r._change_type, r._commit_version)
        for r in st.changes(spark, t, 1).collect()
    )
    # the stream starts at v1, so v1's create surfaces as inserts too
    # (batch changes(from=1) EXCLUDES v1); add them for the compare
    v1_inserts = sorted(
        (r.id, r.g, r.v, "insert", 1)
        for r in st.read_snapshot(spark, t, version=1).collect()
    )
    assert stream_cdf == sorted(batch + v1_inserts)
    # net-effect replay: inserts minus deletes == final state
    from collections import Counter

    net = Counter()
    for i, g, v, ch, _cv in stream_cdf:
        net[(i, g, v)] += 1 if ch == "insert" else -1
    final = Counter(
        (r.id, r.g, r.v) for r in st.read_snapshot(spark, t).collect()
    )
    assert {k: c for k, c in net.items() if c} == dict(final)


def test_snapshot_stream_cdf_undelete_and_schema_gate(spark, tmp_path):
    """The stream CDF mirrors the batch feed's DV-shrink handling
    (rollback past a MoR delete re-inserts the row), and a
    user-supplied schema missing _change_type refuses at setup
    instead of streaming unlabeled deletes."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming.cdf_source import (
        SnapshotStreamReader,
    )

    t = str(tmp_path / "cdf_undel")
    st.create_table(
        spark.createDataFrame([(1, 10), (2, 20)], "id int, v int").coalesce(1),
        t,
        [],
    )
    st.delete_where(spark, t, [("id", "=", 1)], use_dv=True)
    st.rollback(t, 1)
    rows = _drain(
        spark,
        t,
        str(tmp_path / "ck"),
        str(tmp_path / "out"),
        read_change_feed=True,
    )
    stream_cdf = sorted((r[0], r[2], r[3]) for r in rows)
    batch = sorted(
        (r.id, r._change_type, r._commit_version)
        for r in st.changes(spark, t, 1).collect()
    ) + [(1, "insert", 1), (2, "insert", 1)]  # v1 create, stream-only
    assert stream_cdf == sorted(batch)

    schema = spark.createDataFrame(
        [], "id int, v int, _commit_version long"
    ).schema
    with pytest.raises(ValueError, match="_change_type"):
        SnapshotStreamReader(schema, {"path": t, "readChangeFeed": "true"})


def _scd2_write_cdc_files(spark, tmp_path, batches, schema, dirname="scd2_in"):
    """mtime-ordered single-file CDC batches for a file-source stream."""
    import os as _os
    import time as _time

    src = tmp_path / dirname
    src.mkdir()
    now = _time.time()
    for i, rows in enumerate(batches):
        stage = tmp_path / f"{dirname}_stage_{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(stage))
        part = next(p for p in stage.iterdir() if p.name.endswith(".parquet"))
        dst = src / f"b{i}.parquet"
        part.rename(dst)
        _os.utime(dst, (now + 100 * i, now + 100 * i))
    return src


def _scd2_target(spark, tmp_path, name="scd2_tgt"):
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )

    table = str(tmp_path / name)
    st.create_table(
        spark.createDataFrame(
            [],
            "k int, v string, valid_from int, valid_to int, is_current boolean",
        ).coalesce(1),
        table,
        [],
    )
    return table


def test_cdc_scd2_stream_matches_batch_twin(spark, tmp_path):
    """APPLY CHANGES ... STORED AS SCD TYPE 2: the same change feed,
    split across three epochs, must land BIT-EQUAL to the batch
    scd2() twin run once over the whole feed — including run
    collapse (consecutive equal attrs) and same-ts tiebreaks."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.operators.merge import (
        scd2,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming import (
        cdc_scd2_stream,
    )

    schema = "k int, v string, ts int, seq int"
    batches = [
        [(1, "a", 10, 0), (2, "x", 10, 1)],
        [(1, "b", 20, 0), (1, "b", 25, 1), (2, "x", 30, 0)],  # repeat collapses
        [(1, "c", 40, 0), (2, "y", 40, 1), (3, "m", 5, 0)],
    ]
    src = _scd2_write_cdc_files(spark, tmp_path, batches, schema)
    table = _scd2_target(spark, tmp_path)

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(str(src))
        )

    q = cdc_scd2_stream(
        spark, stream(), table, str(tmp_path / "ck"), ["k"], "ts",
        tiebreak="seq",
    )
    q.awaitTermination(180)

    got = sorted(
        (r.k, r.v, r.valid_from, r.valid_to, r.is_current)
        for r in st.read_snapshot(spark, table).collect()
    )
    all_changes = spark.createDataFrame(
        [r for b in batches for r in b], schema
    )
    want = sorted(
        (r.k, r.v, r.valid_from, r.valid_to, r.is_current)
        for r in scd2(all_changes, "k", "v", "ts", "seq").collect()
    )
    assert got == want
    # spot-pin the collapse + interval chain for key 1
    assert [(v, f, t) for k, v, f, t, _ in got if k == 1] == [
        ("a", 10, 20), ("b", 20, 40), ("c", 40, None)
    ]


def test_cdc_scd2_stream_delete_reinsert_and_late_data(spark, tmp_path):
    """Deletes close intervals (tombstones survive epoch boundaries:
    a re-insert in a LATER epoch opens a fresh interval, never
    resurrects the closed one), and a late-arriving middle change
    splices into history — the previous row's valid_to moves."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming import (
        cdc_scd2_stream,
    )

    schema = "k int, v string, ts int, seq int, is_delete boolean"
    batches = [
        [(1, "a", 10, 0, False), (2, "p", 10, 0, False)],
        [(1, None, 20, 0, True)],                      # delete k=1 at 20
        [(1, "a", 30, 0, False)],                      # re-insert same value
        [(2, "q", 15, 0, False)],                      # LATE: splices mid-history
    ]
    src = _scd2_write_cdc_files(spark, tmp_path, batches, schema)
    table = _scd2_target(spark, tmp_path)

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(str(src))
        )

    q = cdc_scd2_stream(
        spark, stream(), table, str(tmp_path / "ck"), ["k"], "ts",
        attrs=["v"], tiebreak="seq", delete_col="is_delete",
    )
    q.awaitTermination(180)
    got = sorted(
        (r.k, r.v, r.valid_from, r.valid_to, r.is_current)
        for r in st.read_snapshot(spark, table).collect()
    )
    assert got == [
        (1, "a", 10, 20, False),   # closed by the delete
        (1, "a", 30, None, True),  # re-insert = NEW interval (no resurrect)
        (2, "p", 10, 15, False),   # late change moved this valid_to
        (2, "q", 15, None, True),
    ]


def test_cdc_scd2_stream_exactly_once_with_crash(spark, tmp_path):
    """Crash AFTER epoch 1's merge commit but BEFORE its checkpoint:
    the restart must skip the committed epoch (txn replay guard) and
    land exactly the sequential-apply history."""
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
        snaptable as st,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.streaming import (
        cdc_scd2_stream,
    )

    schema = "k int, v string, ts int, seq int"
    batches = [
        [(1, "a", 10, 0)],
        [(1, "b", 20, 0)],
        [(1, "c", 30, 0)],
    ]
    src = _scd2_write_cdc_files(spark, tmp_path, batches, schema)
    table = _scd2_target(spark, tmp_path)
    ckpt = str(tmp_path / "ck")
    seen = []

    def crash_second(epoch_id):
        seen.append(epoch_id)
        if len(seen) == 2:
            raise RuntimeError("injected crash: merge committed, epoch not")

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(str(src))
        )

    q = cdc_scd2_stream(
        spark, stream(), table, ckpt, ["k"], "ts", tiebreak="seq",
        fault_injector=crash_second,
    )
    with _pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination()
    q2 = cdc_scd2_stream(spark, stream(), table, ckpt, ["k"], "ts", tiebreak="seq")
    q2.awaitTermination(180)
    got = sorted(
        (r.v, r.valid_from, r.valid_to, r.is_current)
        for r in st.read_snapshot(spark, table).collect()
    )
    assert got == [
        ("a", 10, 20, False), ("b", 20, 30, False), ("c", 30, None, True)
    ]
    # create + 3 merges, no double-applied epoch
    assert st.current_version(table) == 4
    assert st.txn_epoch(table, "cdc_scd2_stream") == 2
