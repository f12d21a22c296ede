"""Streaming ingest + windowed aggregation.

Batch/stream unification: ``silver_stream`` runs the exact
``clean_sessions`` + row-rule + split logic from operators/silver.py
inside ``foreachBatch`` — one code path for both modes, which is the
idiomatic Spark pattern for a lakehouse ingest (the reference's
S3-event -> Glue trigger becomes a file-source stream).

Scale notes: file streams at 100 TB need
``maxFilesPerTrigger``/``maxBytesPerTrigger`` back-pressure (exposed
here), watermarks bound state for the windowed aggs, and
``session_window`` gives gap-based sessions with state eviction —
the streaming twin of analytics.q_sessionize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def _commit_epoch(table: str, txn: tuple[str, int], commit) -> None:
    """The one exactly-once replay check of every txn-tagged snapshot
    sink (the Delta idempotent-writer protocol): run ``commit`` — which
    must tag its commit with ``txn = (app_id, epoch_id)`` — unless
    ``table`` already committed that epoch for that app id
    (:func:`..sources.snaptable.txn_epoch`), in which case the replayed
    epoch is skipped and ``table`` is left as it is."""
    from ..sources import snaptable

    done = snaptable.txn_epoch(table, txn[0])
    if done is None or txn[1] > done:
        commit()


def _create_or_append(df: DataFrame, table: str, pcols, txn) -> None:
    """An epoch's commit into a table its first epoch creates."""
    from ..sources import snaptable

    if snaptable.current_version(table) is None:
        snaptable.create_table(df, table, pcols, txn=txn)
    else:
        snaptable.append(df, table, txn=txn)


def silver_stream(
    spark: SparkSession,
    input_dir: str,
    silver_path: str,
    quarantine_path: str,
    checkpoint: str,
    schema=None,
    max_files_per_trigger: int = 16,
    fault_injector=None,
) -> StreamingQuery:
    """CSV file-source stream -> silver/quarantine sinks via
    foreachBatch.

    Exactly-once across crashes: foreachBatch alone is at-least-once
    (a crash after the sink write but before the epoch commit replays
    the epoch), so the sink must make replay idempotent. A plain
    ``mode("append")`` write is NOT — a replayed epoch would append
    its rows twice. Each batch therefore lands via dynamic partition
    overwrite keyed by (event_date, ``_epoch`` = the foreachBatch
    epoch id): a replayed epoch rewrites exactly the partitions its
    first attempt wrote (the file-source offset log pins the same
    input files to the epoch, so the partition set is deterministic),
    and distinct epochs can never clobber each other even when they
    share an event_date. Crash-and-restart behavior is pinned by
    tests/test_streaming.py::test_silver_stream_kill_and_restart_exactly_once.

    ``fault_injector``: optional ``(epoch_id) -> None`` called after
    the sink writes but before the epoch commits — the test seam for
    simulating a mid-batch crash at the worst possible point. Raising
    from it fails the query with the epoch uncommitted.
    """
    from ..operators.silver import clean_sessions, silver_row_rules
    from ..operators.quality import annotate_rows, split_good_bad
    from ..schemas import EV_BRONZE_SCHEMA
    from ..sources.writers import overwrite_partitions

    bronze = (
        spark.readStream.option("header", True)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .schema(schema or EV_BRONZE_SCHEMA)
        .csv(input_dir)
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        silver = clean_sessions(batch_df)
        annotated = annotate_rows(silver, silver_row_rules())
        epoch = F.lit(epoch_id).cast("bigint")
        with split_good_bad(annotated) as (good, bad):
            overwrite_partitions(
                good.withColumn("_epoch", epoch), silver_path, ["event_date", "_epoch"]
            )
            overwrite_partitions(
                bad.withColumn("_epoch", epoch), quarantine_path, ["event_date", "_epoch"]
            )
        if fault_injector is not None:
            fault_injector(epoch_id)

    return (
        bronze.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def silver_stream_snapshot(
    spark: SparkSession,
    input_dir: str,
    table: str,
    quarantine_table: str,
    checkpoint: str,
    schema=None,
    app_id: str = "silver_stream",
    max_files_per_trigger: int = 16,
    fault_injector=None,
) -> StreamingQuery:
    """Bronze CSV stream -> SILVER AS AN ACID SNAPSHOT TABLE: the
    reference's incremental unit (partition re-run,
    jobs/ev_sessions_gold_etl.py:156) upgraded to streaming. Same
    clean/annotate/split pipeline as :func:`silver_stream`, but each
    epoch lands as a snapshot-table append commit carrying
    ``txn = (app_id, epoch_id)`` — the Delta idempotent-writer
    protocol: a replayed epoch whose commit already published is
    skipped via :func:`..sources.snaptable.txn_epoch`, so kill/replay
    leaves the table state IDENTICAL (exactly-once), with every epoch
    a time-travelable version and quarantine rows in their own
    snapshot table under the same protocol (a crash BETWEEN the two
    commits replays the epoch; the good-side txn check skips the
    already-published half, the quarantine side completes — each
    table exactly-once). Crash behavior is pinned by
    tests/test_streaming.py.

    ``fault_injector``: optional ``(epoch_id) -> None`` run between
    the good-table commit and the quarantine commit / epoch
    checkpoint — the worst-point crash seam."""
    from ..operators.quality import annotate_rows, split_good_bad
    from ..operators.silver import clean_sessions, silver_row_rules
    from ..schemas import EV_BRONZE_SCHEMA

    bronze = (
        spark.readStream.option("header", True)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .schema(schema or EV_BRONZE_SCHEMA)
        .csv(input_dir)
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        silver = clean_sessions(batch_df)
        annotated = annotate_rows(silver, silver_row_rules())
        txn = (app_id, int(epoch_id))
        with split_good_bad(annotated) as (good, bad):
            _commit_epoch(
                table,
                txn,
                lambda: _create_or_append(good, table, ["event_date"], txn),
            )
            if fault_injector is not None:
                fault_injector(epoch_id)
            # quarantine rows keep event_date as a plain column but the
            # table is unpartitioned: rejects routinely carry null dates
            _commit_epoch(
                quarantine_table,
                txn,
                lambda: _create_or_append(bad, quarantine_table, [], txn),
            )

    return (
        bronze.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling/sliding window counts per event_type.
    Works on both a static and a streaming events frame (same plan,
    Catalyst inserts the stateful operator only for streams)."""
    w = F.window("ts", window_duration, slide) if slide else F.window("ts", window_duration)
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return src.groupBy(w.alias("win"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(25,10)")).cast("string").cast("double").alias("sum_value"),
    ).select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "event_type",
        "n_events",
        "sum_value",
    )


def session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Gap-based session windows per user (streaming twin of the
    batch sessionization query). State is evicted once the watermark
    passes a session's close — bounded memory at any scale."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return src.groupBy(
        F.session_window("ts", gap).alias("sess"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events")).select(
        "user_id",
        F.col("sess.start").alias("session_start"),
        F.col("sess.end").alias("session_end"),
        "n_events",
    )


def stream_stream_attribution(
    clicks: DataFrame,
    purchases: DataFrame,
    window: str = "10 minutes",
    watermark: str = "20 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: each purchase joins
    the clicks of the same user in the preceding ``window`` — the
    streaming twin of the batch bucket+refine range join
    (analytics.q_range_join_attribution).

    The watermarks bound BOTH sides' state: a click older than
    (watermark + window) can never match a future purchase, so the
    state store evicts it — without the time-interval condition the
    join would buffer both streams forever. Works identically on
    batch frames (Catalyst drops the stateful operator).

    ``how="left_outer"`` is the UNCONVERTED-click feed: a click whose
    interval closes with no purchase emits exactly once with null
    purchase columns — and only once the watermark PROVES no future
    purchase can match (the emission is watermark-driven, so the
    outer rows trail the event time by watermark + window; bit-
    matched against the batch left join in tests)."""
    c = clicks.select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    p = purchases.select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    if clicks.isStreaming:
        c = c.withWatermark("cts", watermark)
    if purchases.isStreaming:
        p = p.withWatermark("pts", watermark)
    return c.join(
        p,
        (F.col("cu") == F.col("pu"))
        & (F.col("pts") > F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr(f"INTERVAL {window}")),
        how,
    ).select(
        F.col("cu").alias("user_id"),
        "click_id",
        "purchase_id",
        ((F.unix_micros("pts") - F.unix_micros("cts")) / F.lit(1e6)).alias("lag_sec"),
    )


def dedup_stream(
    events: DataFrame,
    key_cols: list[str],
    watermark_col: str = "ts",
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: first event per key wins, duplicates
    arriving within ``delay`` of the watermark are dropped.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until
    the watermark passes the key's last-seen event time + delay, so
    state is bounded by (keys per delay window), not by total stream
    history — the property that makes streaming dedup viable on an
    unbounded 100 TB/day feed. The batch twin (same semantics on a
    bounded frame) is ``dropDuplicates(key_cols)``; equivalence is
    pinned in tests/test_streaming.py."""
    return events.withWatermark(watermark_col, delay).dropDuplicatesWithinWatermark(
        key_cols
    )


def gold_stream_snapshot(
    spark: SparkSession,
    silver_path: str,
    table: str,
    checkpoint: str,
    silver_schema,
    app_id: str = "gold_stream",
    max_files_per_trigger: int = 16,
    fault_injector=None,
) -> StreamingQuery:
    """Silver file stream -> gold increments committed as snapshot
    versions (sources/snaptable.py) with TRUE exactly-once across
    crashes: each epoch's append commit records
    ``txn = (app_id, epoch_id)`` in the manifest, and the batch
    handler first checks :func:`..sources.snaptable.txn_epoch` — a
    replayed epoch whose commit already published is skipped instead
    of double-applied. This is the Delta idempotent-writer protocol
    (txn appId/version), strictly stronger than the dynamic-overwrite
    variant in :func:`gold_stream`, which needs a partition's rows to
    arrive within one batch; append + txn-dedup has no such caveat.
    Crash behavior is pinned by tests/test_snaptable.py.

    ``fault_injector``: optional ``(epoch_id) -> None`` run after the
    commit, before the epoch checkpoint — the mid-crash test seam."""
    from ..operators.gold import build_gold

    silver = (
        spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
        .schema(silver_schema)
        .parquet(silver_path)
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        txn = (app_id, int(epoch_id))

        def commit() -> None:
            _create_or_append(build_gold(batch_df), table, ["event_date"], txn)
            if fault_injector is not None:
                fault_injector(epoch_id)

        _commit_epoch(table, txn, commit)

    return (
        silver.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def cdc_merge_stream(
    spark: SparkSession,
    source_stream: DataFrame,
    table: str,
    checkpoint: str,
    keys: list[str],
    delete_col: str | None = None,
    app_id: str = "cdc_merge_stream",
    order_cols: list[str] | None = None,
    fault_injector=None,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming CDC APPLY CHANGES INTO a snapshot table: each epoch
    MERGEs its batch (upsert by ``keys``; rows with ``delete_col``
    true delete their match) with TRUE exactly-once across crashes —
    the epoch's merge commits ``txn = (app_id, epoch_id)`` atomically
    with its data, and a replayed epoch whose commit already
    published is skipped via :func:`..sources.snaptable.txn_epoch`
    (the Delta idempotent-writer protocol; same machinery as
    :func:`gold_stream_snapshot`, composed with MERGE instead of
    append). The DLT APPLY CHANGES surface re-expressed on the
    engine's own table format.

    ``order_cols``: when a batch may carry SEVERAL changes for one
    key (a busy CDC feed), the latest by ``(order_cols)`` wins within
    the batch before merging (:func:`..operators.merge.
    compact_changelog` — include a unique tiebreak column); without
    it, multi-change batches would hit merge's duplicate-key
    contract. Cross-batch ordering is the stream's arrival order,
    as in every CDC apply.

    Scale: each epoch pays one merge — partition-pruned when the
    table is partitioned and the batch carries the partition columns
    (only touched partitions rewrite), and the txn check is O(1)
    manifest reads at the head."""
    from ..operators.merge import compact_changelog
    from ..sources import snaptable

    if snaptable.current_version(table) is None:
        # fail at stream START with the real contract, not a
        # confusing first-epoch crash inside foreachBatch: a merge
        # target's partitioning is a design decision the stream
        # cannot infer (unlike gold_stream_snapshot's fixed layout)
        raise ValueError(
            f"{table} does not exist; create it first "
            "(snaptable.create_table) — cdc_merge_stream cannot "
            "infer the target's partitioning"
        )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        txn = (app_id, int(epoch_id))

        def commit() -> None:
            batch = batch_df
            if order_cols:
                batch = compact_changelog(batch, keys, order_cols)
                # ordering/meta columns (sequence numbers, source LSNs)
                # are batch plumbing, not table payload — drop the ones
                # the target schema doesn't carry before the whole-row
                # merge
                import json as _json

                schema = snaptable._manifest_at(table)[1]["schema"]
                target_cols = {f["name"] for f in _json.loads(schema)["fields"]}
                extra = [
                    c
                    for c in order_cols
                    if c not in target_cols and c != delete_col
                ]
                if extra:
                    batch = batch.drop(*extra)
            if batch.isEmpty():
                return
            snaptable.merge_into(
                spark,
                table,
                batch,
                keys,
                delete_col=delete_col,
                txn=txn,
            )
            if fault_injector is not None:
                fault_injector(epoch_id)

        _commit_epoch(table, txn, commit)

    w = source_stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


#: epochs whose distinct key set fits under this bound push the keys
#: into the stats-skipping scan as IN filters — at 100 TB a CDC epoch
#: touching a few thousand keys then reads a handful of files instead
#: of the whole table (a plain semi join cannot prune files; this is
#: the same move Delta's MERGE makes with min/max file skipping on
#: the merge keys)
KEY_PUSHDOWN_MAX = 10_000


def scd2_apply_to_table(
    spark: SparkSession,
    table: str,
    batch_df: DataFrame,
    keys: list[str],
    ts_col: str,
    attrs: list[str],
    tiebreak: str | None = None,
    delete_col: str | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """Apply ONE change batch to an SCD Type-2 snapshot table — the
    shared epoch body of :func:`cdc_scd2_stream` AND the batch
    ``APPLY CHANGES INTO ... STORED AS SCD TYPE 2`` SQL statement
    (sources/ddl.execute_sql), so stream and SQL text can never
    diverge. Bounded to the batch's keys: affected keys' history
    reads via key-pushdown file skipping when the key set is small,
    the rebuild splices late data / tombstones via
    :func:`..operators.merge.scd2_apply`, and the diff lands as ONE
    merge commit on ``(keys, valid_from)`` (rows the rebuild dropped
    delete via marker)."""
    from ..operators.merge import scd2_apply
    from ..sources import snaptable

    DEL = "__scd2_delete"
    affected = batch_df.select(*keys).distinct()
    # bounded collect BY CONSTRUCTION: capped at the pushdown
    # limit + 1, never the full key set
    sample = affected.limit(KEY_PUSHDOWN_MAX + 1).collect()
    if len(sample) <= KEY_PUSHDOWN_MAX and not any(
        r[k] is None for r in sample for k in keys
    ):
        flt = [
            (k, "in", sorted({r[k] for r in sample})) for k in keys
        ]
        # per-column INs prune files; the semi join restores
        # exactness for multi-key tuples (conjunction of INs is
        # a superset of the tuple set)
        base = snaptable.scan(spark, table, flt)
    else:
        base = snaptable.read_snapshot(spark, table)
    existing = base.join(affected, keys, "left_semi")
    rebuilt = scd2_apply(
        existing, batch_df, keys, attrs, ts_col, tiebreak, delete_col
    )
    out_cols = [*keys, *attrs, "valid_from", "valid_to", "is_current"]
    gone = existing.select(*out_cols).join(
        rebuilt.select(*keys, "valid_from"),
        [*keys, "valid_from"],
        "left_anti",
    )
    src = rebuilt.select(*out_cols).withColumn(
        DEL, F.lit(False)
    ).unionByName(gone.withColumn(DEL, F.lit(True)))
    return snaptable.merge_into(
        spark,
        table,
        src,
        [*keys, "valid_from"],
        delete_col=DEL,
        txn=txn,
    )


def cdc_scd2_stream(
    spark: SparkSession,
    source_stream: DataFrame,
    table: str,
    checkpoint: str,
    keys: list[str],
    ts_col: str,
    attrs: list[str] | None = None,
    tiebreak: str | None = None,
    delete_col: str | None = None,
    app_id: str = "cdc_scd2_stream",
    fault_injector=None,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming APPLY CHANGES INTO ... STORED AS SCD TYPE 2 (the DLT
    surface): the target snapshot table keeps the FULL history — one
    row per (key, run of equal attributes) with ``valid_from`` /
    ``valid_to`` / ``is_current`` — and each epoch splices its change
    batch in via the shared rebuild core
    (:func:`..operators.merge.scd2_apply`, also the batch path — the
    equivalence is asserted in tests). Per epoch, bounded to the
    batch's keys:

    1. the affected keys' existing history rows are read (semi join —
       never the full table into the driver),
    2. the rebuild re-derives those keys' intervals from existing
       change points + the batch (so LATE data splices into the
       middle of history, deletes close intervals via tombstones,
       re-inserts open new ones),
    3. the diff lands as ONE merge commit on ``(keys, valid_from)``:
       rebuilt rows upsert, rows the rebuild no longer contains (a
       late change collapsed a run) delete — atomic with
       ``txn = (app_id, epoch_id)``, so crash replay is exactly-once
       (the same Delta idempotent-writer protocol as
       :func:`cdc_merge_stream`).

    ``attrs`` defaults to every stream column that is not a key /
    timestamp / tiebreak / delete flag. The target table must exist
    with columns ``keys + attrs + valid_from + valid_to + is_current``
    (create it empty first — partitioning is a design decision the
    stream cannot infer; same contract as :func:`cdc_merge_stream`).

    Scale: each epoch pays one semi-joined history read + two
    same-sorted windows over the affected keys + one merge; state
    lives in the TABLE, not stream state — no unbounded
    applyInPandasWithState store."""
    from ..sources import snaptable

    if snaptable.current_version(table) is None:
        raise ValueError(
            f"{table} does not exist; create it first "
            "(snaptable.create_table with columns keys + attrs + "
            "valid_from + valid_to + is_current) — cdc_scd2_stream "
            "cannot infer the target's partitioning"
        )
    if attrs is None:
        skip = set(keys) | {ts_col} | {c for c in (tiebreak, delete_col) if c}
        attrs = [c for c in source_stream.columns if c not in skip]

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        txn = (app_id, int(epoch_id))

        def commit() -> None:
            if batch_df.isEmpty():
                return
            scd2_apply_to_table(
                spark,
                table,
                batch_df,
                keys,
                ts_col,
                attrs,
                tiebreak=tiebreak,
                delete_col=delete_col,
                txn=txn,
            )
            if fault_injector is not None:
                fault_injector(epoch_id)

        _commit_epoch(table, txn, commit)

    w = source_stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def corpus_prep_stream(
    spark: SparkSession,
    input_dir: str,
    eval_dir: str,
    table: str,
    checkpoint: str,
    doc_schema,
    app_id: str = "corpus_prep",
    max_files_per_trigger: int = 16,
) -> StreamingQuery:
    """Incremental LLM corpus ingest — the streaming twin of
    ``operators.llm_prep``: each micro-batch of new documents runs
    intra-batch dedup + quality + decontamination + mixture
    (``llm_prep.prep_batch``), is deduped AGAINST THE ACCUMULATED
    CORPUS by digest (incremental-dedup shape: only 16-byte digests
    of the history are read, never its payloads — the survivors
    carry their digest precisely so the history check stays a
    column-pruned scan), and appends to the snapshot table with a
    txn-tagged commit, so crashed epochs replay exactly-once (same
    protocol as :func:`gold_stream_snapshot`). The eval/benchmark
    corpus is a static parquet dir; its shingle-hash set is built
    once per batch and broadcast.

    ``app_id`` names the logical (stream, checkpoint) pair: epoch ids
    restart at 0 with a fresh checkpoint, so pointing a NEW checkpoint
    at an existing table requires a new app_id or the txn-dedup would
    skip the new epochs as replays. Same caveat applies to
    :func:`gold_stream_snapshot`."""
    from ..operators.llm_prep import eval_hashes_for, prep_batch
    from ..sources import snaptable

    docs = (
        spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
        .schema(doc_schema)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        txn = (app_id, int(epoch_id))

        def commit() -> None:
            ev = eval_hashes_for(spark.read.schema(doc_schema).parquet(eval_dir))
            history = (
                snaptable.read_snapshot(spark, table).select("digest")
                if snaptable.current_version(table) is not None
                else None
            )
            out = prep_batch(batch_df, ev, history_digests=history)
            _create_or_append(out, table, ["source"], txn)

        _commit_epoch(table, txn, commit)

    return (
        docs.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def gold_stream(
    spark: SparkSession,
    silver_path: str,
    gold_path: str,
    checkpoint: str,
    silver_schema,
    max_files_per_trigger: int = 16,
) -> StreamingQuery:
    """Silver parquet file stream -> gold fact increments: the
    streaming completion of the medallion (bronze->silver is
    :func:`silver_stream`; this is silver->gold). Each micro-batch
    runs the SAME ``build_gold`` derivation as the batch job and
    lands via dynamic partition overwrite, so a partition is rewritten
    whole whenever any of its rows arrive in a batch — the streaming
    equivalent of the reference's idempotent ``overwritePartitions``
    rerun unit. Exactly-once per epoch: checkpoint + idempotent
    partition overwrite (a replayed epoch rewrites the same
    partitions to the same state).

    Caveat the caller owns: dynamic overwrite per batch means a
    partition's rows must arrive within one batch to be complete —
    with date-partitioned silver and date-ordered arrival (the
    production layout) that holds; for arbitrary arrival use
    mode="append" plus downstream compaction instead.
    """
    from ..operators.gold import build_gold
    from ..sources.writers import overwrite_partitions

    silver = (
        spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
        .schema(silver_schema)
        .parquet(silver_path)
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        overwrite_partitions(build_gold(batch_df), gold_path, ["event_date"])

    return (
        silver.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
