"""Lakehouse mutation semantics as pure DataFrame transforms: MERGE
upsert, CDC changelog compaction, and SCD Type-2 history.

The reference's only mutation primitive is partition-level overwrite
(``writeTo(...).overwritePartitions()``, ``jobs/ev_sessions_gold_etl
.py:156`` — our ``sources/writers.py`` twin). Row-level MERGE is the
other half of a lakehouse table surface; on Delta it's ``MERGE INTO``,
but the SEMANTICS are engine-independent and expressible as joins, so
we implement them as DataFrame transforms that (a) run anywhere
Parquet runs, and (b) compile to exactly the join plans a Delta MERGE
executes underneath (anti-join + union ≙ the rewrite-matched-files
path). The functions compose with ``writers.overwrite_partitions`` /
``write_bucketed`` for persistence; ``sources/snaptable.merge_into``
is the transactional MERGE on the snapshot table format.

Scale notes:
- ``merge_upsert`` is one shuffle on the merge keys for the anti join
  (or zero if the source is broadcast-small, the common CDC-batch
  case — hint with ``broadcast_source=True``); the union is free.
- ``compact_changelog`` (latest-row-per-key) is the canonical
  max-by-timestamp window — one shuffle on the key; at 100 TB this is
  the standard CDC-read path and benefits from AQE skew splitting on
  hot keys.
- ``scd2`` is two window passes over the same (key, ts) ordering —
  Catalyst plans ONE Exchange+Sort reused by both windows (verified
  in tests/test_merge.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.localframe import local_df
from ..functions.oracle import dsum, dsum_spark_sql, dsum_sql
from ..sources.scratch import scratch_dir

ORACLE: dict[str, str] = {}


def apply_not_matched_by_source(
    kept: DataFrame, clause: bool | str | None
) -> DataFrame:
    """Apply WHEN NOT MATCHED BY SOURCE THEN DELETE to the unmatched
    target rows: ``True`` deletes them all, a SQL condition string
    deletes those satisfying it — with a NULL condition meaning the
    clause does not apply, so the row SURVIVES (Delta's tri-state
    WHEN semantics; hence the coalesce). Shared by
    :func:`merge_upsert` and the snapshot format's row-tracked merge
    so the semantics can never diverge."""
    if clause is True:
        return kept.limit(0)
    if clause:
        return kept.filter(~F.coalesce(F.expr(clause), F.lit(False)))
    return kept


def apply_not_matched_by_source_clauses(
    kept: DataFrame, clauses: list[tuple] | None
) -> DataFrame:
    """Ordered WHEN NOT MATCHED BY SOURCE clause cascade over the
    unmatched target rows — Delta's full grammar, first-match-wins:
    ``clauses`` is ``[(cond | None, action, set_exprs | None), ...]``
    with ``action`` in ``{"delete", "update"}``; conditions and
    UPDATE expressions evaluate on TARGET columns only (there IS no
    source row here). A row matching no clause survives unchanged; a
    NULL condition value means that clause does not apply (tri-state,
    F.when gives it for free). UPDATE expressions cast back to the
    declared column type so a literal can't silently widen the
    written schema. The bool/str delete-only form
    (:func:`apply_not_matched_by_source`) is the degenerate case."""
    if not clauses:
        return kept
    idx = None
    for i, (cond, _a, _p) in enumerate(clauses):
        c = F.expr(cond) if cond else F.lit(True)
        idx = F.when(c, F.lit(i)) if idx is None else idx.when(c, F.lit(i))
    del_idx = [i for i, (_c, a, _p) in enumerate(clauses) if a == "delete"]
    out = kept
    if del_idx:
        out = out.filter(
            ~F.coalesce(idx.isin(del_idx), F.lit(False))
        )
    upd = [(i, p) for i, (_c, a, p) in enumerate(clauses) if a == "update"]
    if upd:
        types = {f.name: f.dataType for f in kept.schema.fields}
        cols = []
        for name in kept.columns:
            expr = None
            for i, set_exprs in upd:
                if name in set_exprs:
                    v = F.expr(set_exprs[name]).cast(types[name])
                    w = F.when(idx == i, v)
                    expr = w if expr is None else expr.when(idx == i, v)
            cols.append(
                expr.otherwise(F.col(name)).alias(name)
                if expr is not None
                else F.col(name)
            )
        out = out.select(*cols)
    return out


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    delete_col: str | None = None,
    broadcast_source: bool = False,
    not_matched_by_source_delete: bool | str | None = None,
    not_matched_by_source: list[tuple] | None = None,
) -> DataFrame:
    """MERGE INTO semantics: source rows replace matched target rows
    (whole-row update), unmatched source rows are inserted, unmatched
    target rows survive. If ``delete_col`` names a boolean column in
    ``source``, rows where it is true delete their match instead
    (and are not inserted) — the full upsert/delete CDC contract.

    ``not_matched_by_source_delete`` is Delta's WHEN NOT MATCHED BY
    SOURCE THEN DELETE — the full-sync mirror clause: target rows
    with no key match in the source are deleted (``True``) or deleted
    when they satisfy a SQL condition (a string, e.g. ``"status =
    'open'"``); matched rows still update as usual. By definition the
    clause examines EVERY unmatched target row, so it is a whole-
    table contract (no partition pruning — same as Delta).

    ``not_matched_by_source`` is the ORDERED full-grammar form
    (``[(cond, "delete"|"update", set_exprs), ...]`` — Delta's WHEN
    NOT MATCHED BY SOURCE THEN UPDATE SET ... joins the delete
    clause); when given it supersedes ``not_matched_by_source_delete``
    (see :func:`apply_not_matched_by_source_clauses`).

    Idempotent by construction: applying the same source twice leaves
    the same table (pinned in tests/test_merge.py)."""
    src = F.broadcast(source) if broadcast_source else source
    kept = target.join(src.select(*keys), keys, "left_anti")
    if not_matched_by_source is not None:
        kept = apply_not_matched_by_source_clauses(
            kept, not_matched_by_source
        )
    else:
        kept = apply_not_matched_by_source(
            kept, not_matched_by_source_delete
        )
    if delete_col is not None:
        incoming = source.filter(~F.col(delete_col)).drop(delete_col)
    else:
        incoming = source
    return kept.unionByName(incoming)


def compact_changelog(
    changes: DataFrame, keys: list[str], order_cols: list[str]
) -> DataFrame:
    """Latest row per key from an append-only changelog (CDC
    compaction / snapshot read). ``order_cols`` must make the order
    total (include a unique id as tiebreak) or the winner is
    nondeterministic."""
    w = W.partitionBy(*keys).orderBy(*[F.desc(c) for c in order_cols])
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def scd2_apply(
    history: DataFrame,
    changes: DataFrame,
    keys: list[str],
    attrs: list[str],
    ts_col: str,
    tiebreak: str | None = None,
    delete_col: str | None = None,
) -> DataFrame:
    """Rebuild SCD Type-2 history for the keys a change batch touches
    — the pure-DataFrame core shared by the batch path and the
    streaming APPLY CHANGES ... STORED AS SCD TYPE 2 surface
    (streaming/ingest.cdc_scd2_stream), so the two can never diverge.

    ``history``: the CURRENT SCD2 rows for (at least) the affected
    keys — columns ``keys + attrs + valid_from + valid_to +
    is_current`` — possibly empty. ``changes``: the new change rows —
    ``keys + attrs + ts_col`` plus optional ``tiebreak`` (within-batch
    ordering for same-timestamp changes) and ``delete_col`` (true =
    the key is deleted at ``ts_col``).

    The rebuild treats every existing history row as a CHANGE POINT
    (its ``valid_from`` + payload), derives TOMBSTONE points for
    interval ends no successor row explains (a prior delete — a mid-
    history gap or an open-ended last close), unions the new change
    points, and re-derives runs: consecutive equal payloads collapse
    (null-safe struct compare), ``valid_to`` = next point's timestamp,
    tombstone points close intervals without opening one. Because
    existing rows re-emerge with the SAME ``(keys, valid_from)``
    identity, the output diffs against the input with a plain join —
    late-arriving changes (older than the current row) splice into
    the middle of history correctly instead of being dropped.

    At equal timestamps, history points order BEFORE new change
    points (nulls-first tiebreak), so a re-delivered change at an
    existing boundary overrides rather than duplicates. Two HISTORY
    points of one key can never share a timestamp — run starts are
    strictly increasing per key by construction (each row's
    valid_from is the previous row's valid_to boundary or later), so
    the null tiebreak among history points is never exercised.

    Scale: two same-sorted windows over ``keys`` — Catalyst plans ONE
    Exchange+Sort (the :func:`scd2` property, pinned in
    tests/test_merge.py); cost is proportional to the affected keys'
    history + the batch, never the full table."""
    TOMB = "__scd2_tombstone"
    TB = "__scd2_tb"
    tb_type = changes.schema[tiebreak].dataType if tiebreak else None

    def _tb_null():
        return (
            F.lit(None).cast(tb_type) if tb_type else F.lit(None).cast("int")
        ).alias(TB)

    attr_types = {f.name: f.dataType for f in history.schema.fields}
    hist_pts = history.select(
        *keys,
        *attrs,
        F.col("valid_from").alias(ts_col),
        _tb_null(),
        F.lit(False).alias(TOMB),
    )
    # a closed interval whose end no same-key row STARTS at = a
    # delete happened there (gap or tail close)
    ends = history.filter(F.col("valid_to").isNotNull()).select(
        *keys, "valid_to"
    )
    starts = history.select(*keys, F.col("valid_from").alias("valid_to"))
    tomb_pts = ends.join(starts, [*keys, "valid_to"], "left_anti").select(
        *keys,
        *[F.lit(None).cast(attr_types[a]).alias(a) for a in attrs],
        F.col("valid_to").alias(ts_col),
        _tb_null(),
        F.lit(True).alias(TOMB),
    )
    is_del = F.col(delete_col) if delete_col else F.lit(False)
    ch_pts = changes.select(
        *keys,
        # null the payload on delete rows so a delete followed by a
        # re-insert of the same values still registers as two runs
        *[F.when(~is_del, F.col(a)).alias(a) for a in attrs],
        F.col(ts_col),
        (F.col(tiebreak) if tiebreak else F.lit(0)).cast(
            tb_type if tb_type else "int"
        ).alias(TB),
        is_del.alias(TOMB),
    )
    pts = hist_pts.unionByName(tomb_pts).unionByName(ch_pts)
    w = W.partitionBy(*keys).orderBy(
        F.col(ts_col).asc(), F.col(TB).asc_nulls_first()
    )
    payload = F.struct(*[F.col(a) for a in attrs], F.col(TOMB))
    collapsed = pts.withColumn("_prev", F.lag(payload).over(w)).filter(
        ~payload.eqNullSafe(F.col("_prev"))
    )
    return (
        collapsed.withColumn("valid_to", F.lead(ts_col).over(w))
        .filter(~F.col(TOMB))
        .select(
            *keys,
            *attrs,
            F.col(ts_col).alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )


def scd2(
    changes: DataFrame,
    key: str,
    attr: str,
    ts_col: str,
    tiebreak: str,
) -> DataFrame:
    """Slowly-changing-dimension Type 2 history from a change log:
    one row per (key, run of equal ``attr``), with ``valid_from`` /
    ``valid_to`` (null = current) / ``is_current``.

    Change detection is lag-compare (null-safe: ``<=>``), interval
    closing is lead over the change rows only — both windows share
    the (key, ts) sort so Catalyst shuffles and sorts once."""
    w = W.partitionBy(key).orderBy(ts_col, tiebreak)
    changed = changes.withColumn("_prev", F.lag(attr).over(w)).filter(
        ~F.col(attr).eqNullSafe(F.col("_prev"))
    )
    w2 = W.partitionBy(key).orderBy(ts_col, tiebreak)
    return (
        changed.withColumn("valid_to", F.lead(ts_col).over(w2))
        .select(
            F.col(key),
            F.col(attr),
            F.col(ts_col).alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )


# ---------------------------------------------------------------------------
# Registered queries over the fixtures
# ---------------------------------------------------------------------------
def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from ..sources.readers import read_fixture

    return read_fixture(spark, sf_dir, name)


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert a synthetic CDC batch into an events snapshot, then
    summarize. Target = events with event_id % 5 != 0; source =
    events with event_id % 3 == 0, value doubled (updates the
    overlap, inserts the rest)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    target = ev.filter(F.col("event_id") % 5 != 0)
    source = ev.filter(F.col("event_id") % 3 == 0).withColumn(
        "value", F.col("value") * 2
    )
    merged = merge_upsert(target, source, ["event_id"])
    return (
        merged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("total_value"),
        )
        .orderBy("event_type")
    )


ORACLE["merge_upsert"] = f"""
WITH target AS (
  SELECT event_id, event_type, value FROM events WHERE event_id % 5 <> 0
), source AS (
  SELECT event_id, event_type, value * 2 AS value FROM events
  WHERE event_id % 3 = 0
), merged AS (
  SELECT * FROM target WHERE event_id NOT IN (SELECT event_id FROM source)
  UNION ALL
  SELECT * FROM source
)
SELECT event_type, COUNT(*) AS n, {dsum_sql('value')} AS total_value
FROM merged
GROUP BY event_type
ORDER BY event_type
"""


def q_changelog_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current snapshot of each user's state from the events
    changelog: the latest event row per user_id."""
    ev = _t(spark, sf_dir, "events")
    return compact_changelog(
        ev.select("user_id", "ts", "event_id", "event_type", "value"),
        ["user_id"],
        ["ts", "event_id"],
    ).orderBy("user_id")


ORACLE["changelog_compaction"] = """
SELECT user_id, ts, event_id, event_type, value
FROM (
  SELECT user_id, ts, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
ORDER BY user_id
"""


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history of each user's event_type runs."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    return scd2(ev, "user_id", "event_type", "ts", "event_id").orderBy(
        "user_id", "valid_from"
    )


ORACLE["scd2_history"] = """
WITH marked AS (
  SELECT user_id, event_type, ts,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), changed AS (
  SELECT user_id, event_type, ts, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn
  FROM marked
  WHERE prev IS DISTINCT FROM event_type
)
SELECT a.user_id, a.event_type,
       a.ts AS valid_from,
       b.ts AS valid_to,
       b.ts IS NULL AS is_current
FROM changed a
LEFT JOIN changed b ON a.user_id = b.user_id AND b.rn = a.rn + 1
ORDER BY a.user_id, valid_from
"""


def q_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACID snapshot table + time travel over plain Parquet
    (sources/snaptable.py) — the in-engine twin of the reference's
    Iceberg v2 fact table (jobs/ev_sessions_gold_etl.py:69-75,
    147-150: snapshot commits, overwritePartitions, format-version 2
    time travel).

    Builds a two-version table from ``orders`` (v1 = full table
    partitioned by o_orderstatus; v2 = dynamic partition overwrite
    replacing the 'F' partition with only its high-value rows), then
    audits BOTH snapshots via time travel. The oracle replays the
    visible row set of each version in SQL, so the manifest logic —
    which files carry over, which are replaced — is what's being
    hash-checked. The per-version aggregate is collected driver-side
    (2 rows, bounded) because the table lives in a run-scoped temp
    dir that must not outlive the call."""
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders")
    with scratch_dir("snap_tt") as table:
        st.create_table(orders, table, ["o_orderstatus"])
        st.overwrite_partitions(
            orders.filter(
                (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 150000)
            ),
            table,
        )
        rows = []
        for v in (1, 2):
            snap = st.read_snapshot(spark, table, version=v)
            r = snap.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                dsum("o_totalprice").alias("sum_totalprice"),
            ).collect()[0]
            # SUM over an empty snapshot is NULL (matches the oracle's
            # SUM over zero rows) — keep it None instead of crashing on
            # an empty daily partition.
            total = None if r.sum_totalprice is None else float(r.sum_totalprice)
            rows.append((v, r.n_orders, total))
    return local_df(spark, 
        rows, "version int, n_orders bigint, sum_totalprice double"
    ).orderBy("version")


ORACLE["snapshot_time_travel"] = f"""
SELECT 1 AS version, COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_totalprice
FROM orders
UNION ALL
SELECT 2, COUNT(*), {dsum_sql('o_totalprice')}
FROM orders
WHERE o_orderstatus <> 'F' OR o_totalprice > 150000
ORDER BY version
"""


def q_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned MERGE INTO on the snapshot table format
    (sources/snaptable.merge_into — upsert with the Delta
    file-rewrite optimization: only the partition present in the
    source batch is rewritten, the rest carry over by file
    reference). Builds a customer table partitioned by c_mktsegment,
    merges a deterministic batch into ONE segment (updates:
    custkey%10=0 get +1000 balance; inserts: custkey%100=7 cloned to
    key+9000000), and audits the committed snapshot per segment. The
    oracle replays the merged row set in SQL, so what's hash-checked
    is the manifest carry-over + rewrite logic itself. Per-segment
    aggregate is collected driver-side (5 rows, bounded) because the
    table lives in a run-scoped temp dir."""
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    cust = read_fixture(spark, sf_dir, "customer")
    with scratch_dir("snap_merge") as table:
        st.create_table(cust, table, ["c_mktsegment"])
        seg = F.col("c_mktsegment") == "BUILDING"
        updates = cust.filter(seg & (F.col("c_custkey") % 10 == 0)).withColumn(
            "c_acctbal", F.col("c_acctbal") + F.lit(1000.0)
        )
        inserts = cust.filter(seg & (F.col("c_custkey") % 100 == 7)).withColumn(
            "c_custkey", F.col("c_custkey") + F.lit(9000000)
        )
        st.merge_into(spark, table, updates.unionByName(inserts), ["c_custkey"])
        audit = (
            st.read_snapshot(spark, table)
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_customers"),
                dsum("c_acctbal").alias("total_acctbal"),
            )
            .orderBy("c_mktsegment")
            .collect()
        )
    return local_df(spark, 
        [(r.c_mktsegment, r.n_customers, float(r.total_acctbal)) for r in audit],
        "c_mktsegment string, n_customers bigint, total_acctbal double",
    ).orderBy("c_mktsegment")


ORACLE["snapshot_merge"] = f"""
WITH updates AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 1000.0 AS c_acctbal,
         c_mktsegment
  FROM customer
  WHERE c_mktsegment = 'BUILDING' AND c_custkey % 10 = 0
), inserts AS (
  SELECT c_custkey + 9000000 AS c_custkey, c_name, c_nationkey, c_acctbal,
         c_mktsegment
  FROM customer
  WHERE c_mktsegment = 'BUILDING' AND c_custkey % 100 = 7
), merged AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM customer
  WHERE NOT (c_mktsegment = 'BUILDING' AND c_custkey % 10 = 0)
  UNION ALL
  SELECT * FROM updates
  UNION ALL
  SELECT * FROM inserts
)
SELECT c_mktsegment, COUNT(*) AS n_customers,
       {dsum_sql('c_acctbal')} AS total_acctbal
FROM merged
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def q_snapshot_scan_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping audit on the snapshot format
    (sources/snaptable.scan): footer min/max stats must prune a
    range-partitioned orders table's files for a selective
    o_totalprice predicate, and the pruned scan must return exactly
    the rows SQL computes over the full table. Live columns:
    pruned_fewer_files (files planned < files in the manifest —
    fails if stats stop pruning), n_rows + sum_totalprice
    (hash-matched against the oracle's replay of the predicate)."""
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders")
    with scratch_dir("snap_skip") as table:
        st.create_table(orders.repartitionByRange(8, "o_totalprice"), table, [])
        manifest = st._read_manifest(table, 1)
        filters = [("o_totalprice", ">", 400000.0)]
        planned = st._prune_files(table, manifest, filters)
        agg = (
            st.scan(spark, table, filters)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                dsum("o_totalprice").alias("sum_totalprice"),
            )
            .collect()[0]
        )
    return local_df(spark, 
        [
            (
                len(planned) < len(manifest["files"]),
                agg.n_rows,
                float(agg.sum_totalprice) if agg.sum_totalprice is not None else None,
            )
        ],
        "pruned_fewer_files boolean, n_rows bigint, sum_totalprice double",
    )


ORACLE["snapshot_scan_skipping"] = f"""
SELECT TRUE AS pruned_fewer_files,
       COUNT(*) AS n_rows,
       {dsum_sql('o_totalprice')} AS sum_totalprice
FROM orders
WHERE o_totalprice > 400000.0
"""


def q_snapshot_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER audit (sources/snaptable.optimize(zorder=True)): after
    interleaved clustering on (o_custkey, o_totalprice), footer-stats
    pruning must bite for a selective single-column predicate on EACH
    clustered column (live booleans — fail if the interleave or the
    stats collection breaks), and the pruned scans' aggregates must
    hash-match a SQL replay of the same predicates over orders."""
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders")
    with scratch_dir("snap_z") as table:
        st.create_table(orders, table, [])
        st.optimize(
            spark,
            table,
            files_per_partition=8,
            cluster_by=["o_custkey", "o_totalprice"],
            zorder=True,
        )
        m = st._read_manifest(table, 2)
        f_price = [("o_totalprice", ">", 400000.0)]
        f_cust = [("o_custkey", ">", 14000)]
        pruned_price = len(st._prune_files(table, m, f_price)) < len(m["files"])
        pruned_cust = len(st._prune_files(table, m, f_cust)) < len(m["files"])
        a = st.scan(spark, table, f_price).agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        ).collect()[0].n
        b = st.scan(spark, table, f_cust).agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        ).collect()[0].n
    return local_df(spark, 
        [(pruned_price, pruned_cust, a, b)],
        "pruned_on_price boolean, pruned_on_custkey boolean, "
        "n_high_price bigint, n_high_cust bigint",
    )


ORACLE["snapshot_zorder"] = """
SELECT TRUE AS pruned_on_price,
       TRUE AS pruned_on_custkey,
       (SELECT COUNT(*) FROM orders WHERE o_totalprice > 400000.0)
         AS n_high_price,
       (SELECT COUNT(*) FROM orders WHERE o_custkey > 14000)
         AS n_high_cust
"""


def q_snapshot_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DML audit on the snapshot format: DELETE the
    high-price tail then UPDATE a low-price band
    (sources/snaptable.delete_where/update_where — stats-driven file
    rewrite, untouched files carried by reference), and hash-check
    the final per-status aggregate against a SQL replay of both
    mutations. files_carried is a live boolean: it fails if the
    rewrite stops carrying untouched files by reference."""
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders")
    with scratch_dir("snap_dml") as table:
        st.create_table(orders, table, [])
        st.optimize(spark, table, files_per_partition=8, cluster_by=["o_totalprice"])
        before = set(st._read_manifest(table, 2)["files"])
        st.delete_where(spark, table, [("o_totalprice", ">", 400000.0)])
        st.update_where(
            spark,
            table,
            [("o_totalprice", "<", 10000.0)],
            {"o_totalprice": "o_totalprice + 1.0"},
        )
        after = set(st._manifest_at(table)[1]["files"])
        carried = len(before & after) > 0
        audit = (
            st.read_snapshot(spark, table)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                dsum("o_totalprice").alias("sum_totalprice"),
            )
            .orderBy("o_orderstatus")
            .collect()
        )
    return local_df(spark, 
        [
            (r.o_orderstatus, r.n_orders, float(r.sum_totalprice), carried)
            for r in audit
        ],
        "o_orderstatus string, n_orders bigint, sum_totalprice double, "
        "files_carried boolean",
    ).orderBy("o_orderstatus")


ORACLE["snapshot_dml"] = f"""
WITH surviving AS (
  SELECT o_orderstatus,
         CASE WHEN o_totalprice < 10000.0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders
  WHERE NOT (o_totalprice > 400000.0)
)
SELECT o_orderstatus, COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_totalprice,
       TRUE AS files_carried
FROM surviving
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def q_snapshot_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK-constraint contract on the snapshot format: a violating
    append must be rejected atomically (head version unchanged, no
    rows added), a valid append must land, and add_constraint must
    refuse a rule the existing data violates. All booleans are live —
    computed from what the table actually did — and row counts
    hash-match a SQL replay."""
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders")
    with scratch_dir("snap_ck") as table:
        st.create_table(
            orders, table, [], constraints={"price_nonneg": "o_totalprice >= 0"}
        )
        bad = orders.limit(5).withColumn("o_totalprice", F.lit(-1.0))
        rejected = False
        try:
            st.append(bad, table)
        except st.ConstraintViolation:
            rejected = True
        head_unchanged = st.current_version(table) == 1
        st.append(orders.filter(F.col("o_custkey") % 100 == 3), table)
        valid_landed = st.current_version(table) == 2
        add_refused = False
        try:
            st.add_constraint(spark, table, "impossible", "o_totalprice < 0")
        except st.ConstraintViolation:
            add_refused = True
        n_rows = st.read_snapshot(spark, table).count()
    return local_df(spark, 
        [(rejected, head_unchanged, valid_landed, add_refused, n_rows)],
        "violating_append_rejected boolean, head_unchanged boolean, "
        "valid_append_landed boolean, bad_add_constraint_refused boolean, "
        "n_rows bigint",
    )


ORACLE["snapshot_constraints"] = """
SELECT TRUE AS violating_append_rejected,
       TRUE AS head_unchanged,
       TRUE AS valid_append_landed,
       TRUE AS bad_add_constraint_refused,
       (SELECT COUNT(*) FROM orders)
         + (SELECT COUNT(*) FROM orders WHERE o_custkey % 100 = 3) AS n_rows
"""


def q_snapshot_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mergeSchema contract: an evolved append adds a column, old
    rows read as NULL for it, the pre-evolution version keeps its
    original schema via time travel. Counts hash-match a SQL replay;
    the schema booleans are live."""
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders")
    with scratch_dir("snap_evo") as table:
        st.create_table(orders, table, [])
        batch = orders.filter(F.col("o_custkey") % 100 == 7).withColumn(
            "priority_score", F.lit(2.5)
        )
        rejected_without_flag = False
        try:
            st.append(batch, table)
        except ValueError:
            rejected_without_flag = True
        st.append(batch, table, merge_schema=True)
        head = st.read_snapshot(spark, table)
        v1 = st.read_snapshot(spark, table, version=1)
        out = (
            rejected_without_flag,
            "priority_score" in head.columns,
            "priority_score" not in v1.columns,
            head.filter(F.col("priority_score").isNull()).count(),
            head.filter(F.col("priority_score") == 2.5).count(),
        )
    return local_df(spark, 
        [out],
        "rejected_without_flag boolean, head_has_column boolean, "
        "v1_lacks_column boolean, n_null_old_rows bigint, n_new_rows bigint",
    )


ORACLE["snapshot_evolution"] = """
SELECT TRUE AS rejected_without_flag,
       TRUE AS head_has_column,
       TRUE AS v1_lacks_column,
       (SELECT COUNT(*) FROM orders) AS n_null_old_rows,
       (SELECT COUNT(*) FROM orders WHERE o_custkey % 100 = 7) AS n_new_rows
"""


def q_snapshot_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed on the snapshot table format
    (sources/snaptable.changes — the Delta CDF equivalent, derived
    from manifest file diffs so each commit's feed reads only the
    files that commit touched).

    Builds a four-version orders table (v1 create partitioned by
    o_orderstatus; v2 dynamic partition overwrite shrinking the 'F'
    partition to its high-value rows; v3 append of a cloned batch;
    v4 OPTIMIZE compaction) and audits the feed SINCE v1 per
    (commit, change_type). The oracle replays each commit's row-level
    effect in SQL — v2 must surface as delete-all-F + insert-the-
    survivors, v3 as pure inserts, and v4 (optimize) as NOTHING,
    which is precisely the content-preservation contract the feed
    guarantees. Driver-side collect is the bounded audit rollup
    (<=3 rows); the table lives in a run-scoped temp dir."""
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders")
    with scratch_dir("snap_cdf") as table:
        st.create_table(orders, table, ["o_orderstatus"])
        st.overwrite_partitions(
            orders.filter(
                (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 150000)
            ),
            table,
        )
        st.append(
            orders.filter(F.col("o_orderkey") % 97 == 3).withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(5000000)
            ),
            table,
        )
        st.optimize(spark, table, files_per_partition=1)
        audit = (
            st.changes(spark, table, from_version=1)
            .groupBy("_commit_version", "_change_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                dsum("o_totalprice").alias("sum_totalprice"),
            )
            .orderBy("_commit_version", "_change_type")
            .collect()
        )
    return local_df(spark, 
        [
            (r._commit_version, r._change_type, r.n_rows, float(r.sum_totalprice))
            for r in audit
        ],
        "commit_version bigint, change_type string, n_rows bigint, "
        "sum_totalprice double",
    ).orderBy("commit_version", "change_type")


ORACLE["snapshot_changes"] = f"""
SELECT CAST(2 AS BIGINT) AS commit_version, 'delete' AS change_type, COUNT(*) AS n_rows,
       {dsum_sql('o_totalprice')} AS sum_totalprice
FROM orders WHERE o_orderstatus = 'F'
UNION ALL
SELECT 2, 'insert', COUNT(*), {dsum_sql('o_totalprice')}
FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 150000
UNION ALL
SELECT 3, 'insert', COUNT(*), {dsum_sql('o_totalprice')}
FROM orders WHERE o_orderkey % 97 = 3
ORDER BY commit_version, change_type
"""


def q_snapshot_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance over the change feed
    (sources/snaptable.maintain_count_sum): a per-status
    COUNT/SUM aggregate materialized at v1 is rolled forward through
    a partition overwrite and an append WITHOUT rescanning the table
    — only the changed files feed the delta aggregation.

    The oracle recomputes the aggregate from scratch over the final
    visible row set, so the hash match IS the maintenance-equals-
    recompute theorem (exact because counts and decimal sums are
    invertible; see maintain_count_sum's docstring). Driver-side
    collect is the bounded per-status rollup; the table lives in a
    run-scoped temp dir."""
    from ..functions.oracle import DEC
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders")
    with scratch_dir("snap_ivm") as table:
        st.create_table(orders, table, ["o_orderstatus"])
        base = (
            st.read_snapshot(spark, table, version=1)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(F.col("o_totalprice").cast(DEC)).cast(DEC).alias("s"),
            )
        )
        st.overwrite_partitions(
            orders.filter(
                (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 150000)
            ),
            table,
        )
        st.append(
            orders.filter(F.col("o_orderkey") % 97 == 3).withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(5000000)
            ),
            table,
        )
        maintained = st.maintain_count_sum(
            spark, table, base, ["o_orderstatus"], "o_totalprice", from_version=1
        )
        rows = (
            maintained.select(
                "o_orderstatus",
                F.col("n").alias("n_orders"),
                F.col("s").cast("string").cast("double").alias("sum_totalprice"),
            )
            .orderBy("o_orderstatus")
            .collect()
        )
    return local_df(spark, 
        [(r.o_orderstatus, r.n_orders, float(r.sum_totalprice)) for r in rows],
        "o_orderstatus string, n_orders bigint, sum_totalprice double",
    ).orderBy("o_orderstatus")


ORACLE["snapshot_incremental_agg"] = f"""
WITH final_state AS (
  SELECT * FROM orders
  WHERE o_orderstatus <> 'F' OR o_totalprice > 150000
  UNION ALL
  SELECT o_orderkey + 5000000, o_custkey, o_orderstatus, o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 97 = 3
)
SELECT o_orderstatus, COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_totalprice
FROM final_state
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def q_snapshot_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregates on the snapshot format
    (sources/snaptable.table_stats): COUNT(*)/MIN/MAX answered from
    the manifest's committed file stats — zero data files opened, the
    Delta 'answer COUNT(*) from the log' optimization. Audited across
    a partition overwrite so carried-over files' stats (kept from the
    parent commit) and fresh files' stats (collected at commit) both
    feed the answer. The oracle recomputes the same aggregates with
    real SQL over each version's replayed row set — the hash match
    proves the metadata path equals the scan path. (That the answer
    truly reads no data is pinned separately in tests/test_snaptable:
    table_stats still answers after data/ is deleted.)"""
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders")
    with scratch_dir("snap_stats") as table:
        st.create_table(orders, table, ["o_orderstatus"])
        st.overwrite_partitions(
            orders.filter(
                (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 150000)
            ),
            table,
        )
        rows = []
        for v in (1, 2):
            s = st.table_stats(table, version=v)

            # footer stats don't exist for a zero-file snapshot (empty
            # daily partition): surface NULL min/max, like MIN/MAX over
            # zero rows, instead of crashing on the missing key.
            def _stat(kind: str, col: str, cast):
                val = s[kind].get(col)
                return None if val is None else cast(val)

            rows.append(
                (
                    v,
                    s["rows"],
                    _stat("min", "o_totalprice", float),
                    _stat("max", "o_totalprice", float),
                    _stat("min", "o_orderkey", int),
                    _stat("max", "o_orderkey", int),
                )
            )
    return local_df(spark, 
        rows,
        "version int, n_rows bigint, min_totalprice double, "
        "max_totalprice double, min_orderkey bigint, max_orderkey bigint",
    ).orderBy("version")


ORACLE["snapshot_stats_query"] = """
SELECT CAST(1 AS INTEGER) AS version, COUNT(*) AS n_rows,
       MIN(o_totalprice) AS min_totalprice,
       MAX(o_totalprice) AS max_totalprice,
       MIN(o_orderkey) AS min_orderkey, MAX(o_orderkey) AS max_orderkey
FROM orders
UNION ALL
SELECT 2, COUNT(*), MIN(o_totalprice), MAX(o_totalprice),
       MIN(o_orderkey), MAX(o_orderkey)
FROM orders
WHERE o_orderstatus <> 'F' OR o_totalprice > 150000
ORDER BY version
"""


# ---------------------------------------------------------------------------
# SCD2 point-in-time lookup — the consumption side of q_scd2_history:
# each fact row joined to the dimension version valid AT ITS OWN
# timestamp (valid_from <= ts < valid_to, open current interval).
# This is the canonical lakehouse dimension-lookup pattern (Delta/
# Iceberg SCD2 guides all end here); building the history without
# ever reading it back point-in-time leaves the hard part untested.
#
# Here the facts are the events themselves and the dimension is the
# SCD2 run history OF those events, which turns the query into a
# self-consistency audit with known ground truth: every event must
# land in EXACTLY one interval of its user (n_matches = n_events)
# and that interval's attribute must equal the event's own
# (n_consistent = n_events) — interval partition-ness, not just
# row counts, is what the oracle hash checks.
#
# Scale: the interval predicate rides an EQUI-join on user_id (one
# hash shuffle, residual range filter per key group) — never a BNLJ
# over the fact table; pinned by the BNLJ=0 plan audit. History per
# key is bounded by the run count, so the per-key interval probe is
# a small sorted lookup exactly like the bucketed history side of
# incremental dedup.
# ---------------------------------------------------------------------------
def q_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    hist = scd2(ev, "user_id", "event_type", "ts", "event_id").select(
        F.col("user_id").alias("h_user_id"),
        F.col("event_type").alias("dim_type"),
        "valid_from",
        "valid_to",
    )
    joined = ev.join(
        hist,
        (F.col("user_id") == F.col("h_user_id"))
        & (F.col("ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
        "left",
    )
    return (
        joined.groupBy("user_id")
        .agg(
            F.count_distinct("event_id").alias("n_events"),
            F.count(F.lit(1)).alias("n_matches"),
            F.sum(
                F.when(F.col("event_type") == F.col("dim_type"), 1).otherwise(0)
            ).alias("n_consistent"),
        )
        .orderBy("user_id")
    )


ORACLE["scd2_pointintime"] = """
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
), changed AS (
  SELECT user_id, event_type, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn
  FROM marked WHERE prev IS DISTINCT FROM event_type
), hist AS (
  SELECT a.user_id, a.event_type AS dim_type,
         a.ts AS valid_from, b.ts AS valid_to
  FROM changed a
  LEFT JOIN changed b ON a.user_id = b.user_id AND b.rn = a.rn + 1
)
SELECT e.user_id, COUNT(DISTINCT e.event_id) AS n_events,
       COUNT(*) AS n_matches,
       CAST(SUM(CASE WHEN e.event_type = h.dim_type THEN 1 ELSE 0 END)
            AS BIGINT) AS n_consistent
FROM events e
LEFT JOIN hist h
  ON e.user_id = h.user_id AND e.ts >= h.valid_from
 AND (h.valid_to IS NULL OR e.ts < h.valid_to)
GROUP BY e.user_id ORDER BY e.user_id
"""


# ---------------------------------------------------------------------------
# Bloom-indexed point lookup — the manifest-level bloom filter
# (sources/snaptable.add_bloom_index, the Delta bloom-filter-index
# twin) driven end to end: cluster orders by o_custkey, index, then
# answer an equality lookup through the bloom-pruned scan. Footer
# min/max can't prune a high-cardinality point predicate (every
# file's range overlaps); the bloom turns it into a 1-2 file read —
# at 100 TB that's the difference between a full scan and opening
# kilobytes. The lookup key is the corpus MIN custkey (engine-
# independent), so the oracle replays the same lookup relationally;
# the pruning itself (<= 2 files kept, 0 for an absent key) is
# pinned by tests/test_snaptable.py.
# ---------------------------------------------------------------------------
def q_snapshot_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders")
    with scratch_dir("snap_bloom") as table:
        st.create_table(orders.repartitionByRange(8, "o_custkey"), table, [])
        st.add_bloom_index(spark, table, "o_custkey")
        out_schema = (
            "custkey bigint, n_orders bigint, sum_totalprice double, "
            "min_orderkey bigint, max_orderkey bigint"
        )
        min_key = orders.agg(F.min("o_custkey")).collect()[0][0]
        if min_key is None:  # empty partition: no key to look up
            return local_df(spark, [], out_schema)
        key = int(min_key)
        hit = st.scan(spark, table, [("o_custkey", "=", key)])
        out = hit.groupBy("o_custkey").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            dsum("o_totalprice").alias("sum_totalprice"),
            F.min("o_orderkey").alias("min_orderkey"),
            F.max("o_orderkey").alias("max_orderkey"),
        ).withColumnRenamed("o_custkey", "custkey")
        rows = [tuple(r) for r in out.collect()]  # bounded: one group
    return local_df(spark, rows, out_schema).orderBy("custkey")


ORACLE["snapshot_bloom_lookup"] = f"""
WITH k AS (SELECT MIN(o_custkey) AS key FROM orders)
SELECT o.o_custkey AS custkey, COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_totalprice,
       MIN(o_orderkey) AS min_orderkey, MAX(o_orderkey) AS max_orderkey
FROM orders o JOIN k ON o.o_custkey = k.key
GROUP BY o.o_custkey ORDER BY custkey
"""


# ---------------------------------------------------------------------------
# Partition evolution driven end to end (snaptable.evolve_
# partitioning): v1 = orders partitioned by o_orderstatus, v2 =
# metadata-only spec change to o_orderpriority, v3 = append under the
# NEW layout — then a priority-filtered aggregate over the final
# mixed-layout snapshot, where the old-spec files answer from footer
# stats + re-filter and the new-spec files from path pruning. The
# oracle replays the same visible row set relationally (v1 half plus
# appended half = all orders), so the hash checks that NO row is
# lost, duplicated, or mis-pruned across the layout mix; the pruning
# mechanics themselves are pinned in tests/test_snaptable.py.
# ---------------------------------------------------------------------------
def q_snapshot_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders")
    with scratch_dir("snap_pev") as table:
        st.create_table(orders.filter(F.col("o_orderkey") % 2 == 0), table,
                        ["o_orderstatus"])
        st.evolve_partitioning(table, ["o_orderpriority"])
        st.append(orders.filter(F.col("o_orderkey") % 2 == 1), table)
        snap = st.scan(spark, table, [("o_orderstatus", "=", "F")])
        out = (
            snap.groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                dsum("o_totalprice").alias("sum_totalprice"),
            )
            .withColumnRenamed("o_orderpriority", "priority")
            .orderBy("priority")
        )
        rows = [tuple(r) for r in out.collect()]  # bounded: |priorities|
    return local_df(spark, 
        rows, "priority string, n_orders bigint, sum_totalprice double"
    ).orderBy("priority")


ORACLE["snapshot_partition_evolution"] = f"""
SELECT o_orderpriority AS priority, COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_totalprice
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority ORDER BY priority
"""


# ---------------------------------------------------------------------------
# Hidden partitioning driven end to end (snaptable days()/bucket()
# transform specs): events laid out by derived ts_day directories a
# reader never sees as a column; a ts-range scan prunes whole day
# directories through the transform before Spark plans a file. The
# fixed cutoff (fixture days span ~30 days from 2024-01-01) keeps
# the filter literal engine-independent, so the oracle replays the
# same range relationally; directory-level pruning mechanics are
# pinned in tests/test_snaptable.py.
# ---------------------------------------------------------------------------
HIDDEN_PART_CUTOFF = "2024-01-15 00:00:00"


def q_snapshot_hidden_partitioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    ev = read_fixture(spark, sf_dir, "events")
    with scratch_dir("snap_hp") as table:
        st.create_table(ev, table, ["days(ts)"])
        import datetime

        cutoff = datetime.datetime.strptime(HIDDEN_PART_CUTOFF, "%Y-%m-%d %H:%M:%S")
        snap = st.scan(spark, table, [("ts", ">=", cutoff)])
        out = (
            snap.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                dsum("value").alias("total_value"),
            )
            .orderBy("event_type")
        )
        rows = [tuple(r) for r in out.collect()]  # bounded: |event types|
    return local_df(spark, 
        rows, "event_type string, n_events bigint, total_value double"
    ).orderBy("event_type")


ORACLE["snapshot_hidden_partitioning"] = f"""
SELECT event_type, COUNT(*) AS n_events,
       {dsum_sql('value')} AS total_value
FROM events
WHERE ts >= TIMESTAMP '{HIDDEN_PART_CUTOFF}'
GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Merge-on-read deletion vectors driven end to end
# (snaptable.delete_where(use_dv=True)): a selective DELETE commits
# row positions instead of rewriting files, and the aggregate below
# runs over the vector-filtered read — the oracle replays the
# surviving row set relationally, so the hash checks that the
# anti-join removes EXACTLY the predicate's rows (no loss, no
# resurrection). File-untouched/time-travel/CDF mechanics are pinned
# in tests/test_snaptable.py.
# ---------------------------------------------------------------------------
DV_DELETE_THRESHOLD = 400000.0


def q_snapshot_dv_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders")
    with scratch_dir("snap_dv") as table:
        st.create_table(orders, table, ["o_orderstatus"])
        st.delete_where(
            spark, table, [("o_totalprice", ">", DV_DELETE_THRESHOLD)], use_dv=True
        )
        out = (
            st.read_snapshot(spark, table)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                dsum("o_totalprice").alias("sum_totalprice"),
            )
            .withColumnRenamed("o_orderstatus", "status")
            .orderBy("status")
        )
        rows = [tuple(r) for r in out.collect()]  # bounded: |statuses|
    return local_df(spark, 
        rows, "status string, n_orders bigint, sum_totalprice double"
    ).orderBy("status")


ORACLE["snapshot_dv_delete"] = f"""
SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_totalprice
FROM orders
WHERE o_totalprice <= {DV_DELETE_THRESHOLD}
GROUP BY o_orderstatus ORDER BY status
"""


def q_snapshot_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only column DDL (sources/snaptable.py rename_column /
    drop_column — the Delta column-mapping equivalent; the reference's
    Iceberg v2 tables get the same capability from the format,
    jobs/ev_sessions_gold_etl.py:69-75): rename o_totalprice ->
    total_price and drop o_orderpriority WITHOUT touching a data
    file, append a batch under the NEW logical names, then audit the
    final state per status plus the pre-DDL version via time travel.
    The oracle replays both visible row sets in SQL (rename is
    aliasing there), so what's hash-checked is the mapping machinery:
    physical-named files reading back under logical names, the append
    translating logical -> physical, and time travel resolving each
    version under ITS OWN manifest's mapping."""
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders")
    with scratch_dir("snap_cm") as table:
        st.create_table(orders, table, ["o_orderstatus"])
        st.rename_column(table, "o_totalprice", "total_price")
        st.drop_column(table, "o_orderpriority")
        batch = (
            orders.orderBy("o_orderkey")
            .limit(100)
            .drop("o_orderpriority")
            .withColumnRenamed("o_totalprice", "total_price")
            .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10_000_000))
        )
        st.append(batch, table)
        head = st.read_snapshot(spark, table)
        cur = head.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            dsum("total_price").alias("sum_price"),
        )
        rows = [
            ("v4:" + r.o_orderstatus, r.n_orders, float(r.sum_price))
            for r in cur.collect()
        ]
        v1 = st.read_snapshot(spark, table, version=1)
        r1 = v1.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            dsum("o_totalprice").alias("s"),
            F.count_distinct("o_orderpriority").cast("bigint").alias("p"),
        ).collect()[0]
        # SUM over an empty snapshot is NULL (empty-lake sweep) — keep it
        rows.append(("v1:all", r1.n, None if r1.s is None else float(r1.s)))
        rows.append(("v1:priorities", r1.p, None))
    return local_df(spark, 
        rows, "slice string, n bigint, sum_price double"
    ).orderBy("slice")


ORACLE["snapshot_column_mapping"] = f"""
WITH both_batches AS (
  SELECT o_orderstatus, o_totalprice FROM orders
  UNION ALL
  SELECT o_orderstatus, o_totalprice
  FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 100)
)
SELECT 'v4:' || o_orderstatus AS slice, COUNT(*) AS n,
       {dsum_sql('o_totalprice')} AS sum_price
FROM both_batches GROUP BY o_orderstatus
UNION ALL
SELECT 'v1:all', COUNT(*), {dsum_sql('o_totalprice')} FROM orders
UNION ALL
SELECT 'v1:priorities', COUNT(DISTINCT o_orderpriority), NULL FROM orders
ORDER BY slice
"""


def q_snapshot_generated_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED ALWAYS AS columns (sources/snaptable.py
    _apply_generated; the Delta generated-column equivalent —
    reference tables carry no derived-column enforcement, the gold
    job recomputes metrics by convention, jobs/ev_sessions_gold_etl.py:
    96-117): create a table whose price_band column is GENERATED from
    o_totalprice, append a batch that OMITS it (computed), then
    UPDATE source prices across the band boundary (recomputed), and
    audit the final band populations. The oracle replays band
    assignment in SQL over the same logical row set, so what's
    hash-checked is the enforcement machinery: compute-on-omit,
    recompute-on-update, and that no stale band survives the source
    change."""
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders")
    with scratch_dir("snap_gen") as table:
        st.create_table(
            orders,
            table,
            [],
            generated={
                "price_band": "CASE WHEN o_totalprice > 200000 THEN 'hi' ELSE 'lo' END"
            },
        )
        batch = (
            orders.orderBy("o_orderkey")
            .limit(200)
            .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(20_000_000))
        )
        st.append(batch, table)  # omits price_band -> computed
        st.update_where(
            spark,
            table,
            [("o_totalprice", ">", 400000.0)],
            {"o_totalprice": "CAST(o_totalprice / 10.0 AS DOUBLE)"},
        )
        out = (
            st.read_snapshot(spark, table)
            .groupBy("price_band")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                dsum("o_totalprice").alias("sum_price"),
            )
            .collect()
        )
    return local_df(spark, 
        [(r.price_band, r.n, float(r.sum_price)) for r in out],
        "price_band string, n bigint, sum_price double",
    ).orderBy("price_band")


ORACLE["snapshot_generated_columns"] = f"""
WITH both_batches AS (
  SELECT o_totalprice FROM orders
  UNION ALL
  SELECT o_totalprice
  FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 200)
), updated AS (
  SELECT CASE WHEN o_totalprice > 400000.0
              THEN CAST(o_totalprice / 10.0 AS DOUBLE)
              ELSE o_totalprice END AS o_totalprice
  FROM both_batches
)
SELECT CASE WHEN o_totalprice > 200000 THEN 'hi' ELSE 'lo' END AS price_band,
       COUNT(*) AS n, {dsum_sql('o_totalprice')} AS sum_price
FROM updated
GROUP BY 1
ORDER BY price_band
"""


def q_snapshot_dnf_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive data skipping (sources/snaptable.py scan_any —
    the stats-pruned OR-of-ANDs read; TPC-H Q19 is the canonical
    consumer of this shape): cluster a snapshot table by price, then
    answer a two-branch disjunctive predicate (cheap F orders OR very
    expensive orders) through per-branch file pruning + union. The
    oracle replays the OR-of-ANDs in SQL, so what's hash-checked is
    that the branch-pruned union loses no qualifying row."""
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders")
    with scratch_dir("snap_dnf") as table:
        st.create_table(orders.orderBy("o_totalprice").coalesce(8), table, [])
        st.optimize(
            spark, table, files_per_partition=8, cluster_by=["o_totalprice"]
        )
        hits = st.scan_any(
            spark,
            table,
            [
                [("o_totalprice", "<", 5000.0), ("o_orderstatus", "=", "F")],
                [("o_totalprice", ">", 480000.0)],
            ],
        )
        out = hits.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            dsum("o_totalprice").alias("sum_price"),
        ).collect()
    return local_df(spark, 
        [
            (r.o_orderstatus, r.n, None if r.sum_price is None else float(r.sum_price))
            for r in out
        ],
        "o_orderstatus string, n bigint, sum_price double",
    ).orderBy("o_orderstatus")


ORACLE["snapshot_dnf_scan"] = f"""
SELECT o_orderstatus, COUNT(*) AS n,
       {dsum_sql('o_totalprice')} AS sum_price
FROM orders
WHERE (o_totalprice < 5000.0 AND o_orderstatus = 'F')
   OR o_totalprice > 480000.0
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def q_snapshot_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish over snapshot-table BRANCHES and TAGS
    (sources/snaptable.py refs — the Iceberg SnapshotRef model the
    reference's catalog wiring implies, jobs/ev_sessions_gold_etl.py:
    69-75): stage a dirty batch on an audit branch, quarantine its
    bad rows THERE with a merge-on-read DV delete, and publish to
    main only via fast-forward — main never exposes a bad row at any
    version.

    Lifecycle: v1 = orders partitioned by o_orderstatus, tagged
    'baseline'; branch 'audit' forks v1 (shallow — zero data copied)
    and receives a deterministic clone batch (o_orderkey % 100 == 7,
    keys shifted +10M) in which odd-custkey rows carry a NEGATED
    price (the planted defect); the audit gate DV-deletes the
    negatives on the branch; fast_forward publishes v2 and consumes
    the branch. The audit reads v1 THROUGH THE TAG and v2 from head,
    so what's hash-checked is fork carry-over + DV remapping through
    the fast-forward + tag resolution. Bounded driver-side collect
    (2 rows) because the table lives in a run-scoped temp dir."""
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders")
    with scratch_dir("snap_wap") as table:
        st.create_table(orders, table, ["o_orderstatus"])
        st.create_tag(table, "baseline")
        bp = st.create_branch(table, "audit")
        batch = (
            orders.filter(F.col("o_orderkey") % 100 == 7)
            .withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
            .withColumn(
                "o_totalprice",
                F.when(
                    F.col("o_custkey") % 2 == 1, -F.col("o_totalprice")
                ).otherwise(F.col("o_totalprice")),
            )
        )
        st.append(batch, bp)
        st.delete_where(spark, bp, [("o_totalprice", "<", 0)], use_dv=True)
        st.fast_forward(table, "audit")
        rows = []
        for v, snap in (
            (1, st.read_snapshot(spark, table, tag="baseline")),
            (2, st.read_snapshot(spark, table)),
        ):
            r = snap.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                dsum("o_totalprice").alias("sum_totalprice"),
            ).collect()[0]
            total = None if r.sum_totalprice is None else float(r.sum_totalprice)
            rows.append((v, r.n_orders, total))
    return local_df(spark, 
        rows, "version int, n_orders bigint, sum_totalprice double"
    ).orderBy("version")


ORACLE["snapshot_wap"] = f"""
SELECT 1 AS version, COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_totalprice
FROM orders
UNION ALL
SELECT 2, COUNT(*), {dsum_sql('o_totalprice')}
FROM (
  SELECT o_totalprice FROM orders
  UNION ALL
  SELECT o_totalprice FROM orders
  WHERE o_orderkey % 100 = 7 AND o_custkey % 2 = 0
)
ORDER BY version
"""


def q_snapshot_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPLACE WHERE lifecycle audit (sources/snaptable.replace_where
    — the Delta ``replaceWhere`` semantics): atomically swap the
    price band [100k, 200k) for a recomputed slice (priority remapped,
    odd orderkeys dropped — a shrink, proving it is not an append), in
    ONE commit; verify (live booleans) that an incoming row OUTSIDE
    the predicate is rejected atomically (head unchanged), that
    untouched files carried by reference, and that delete+insert
    consumed a single version. Final per-priority aggregate
    hash-matches a SQL replay of the band replacement."""
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders")
    with scratch_dir("snap_rw") as table:
        st.create_table(orders, table, [])
        st.optimize(spark, table, files_per_partition=8, cluster_by=["o_totalprice"])
        v_before = st.current_version(table)
        band = [("o_totalprice", ">=", 100000.0), ("o_totalprice", "<", 200000.0)]
        files_before = set(st._read_manifest(table, v_before)["files"])

        replacement = (
            orders.filter(
                (F.col("o_totalprice") >= 100000.0) & (F.col("o_totalprice") < 200000.0)
            )
            .filter(F.col("o_orderkey") % 2 == 0)
            .withColumn("o_orderpriority", F.lit("9-REPLACED"))
        )
        v_after = st.replace_where(spark, replacement, table, band)
        single_commit = v_after == v_before + 1
        files_after = set(st._read_manifest(table, v_after)["files"])
        carried = len(files_before & files_after) > 0

        stray = orders.limit(1).withColumn("o_totalprice", F.lit(1.0))
        try:
            st.replace_where(spark, stray, table, band)
            reject_enforced = False
        except ValueError:
            reject_enforced = st.current_version(table) == v_after

        audit = (
            st.read_snapshot(spark, table)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                dsum("o_totalprice").alias("sum_totalprice"),
            )
            .orderBy("o_orderpriority")
            .collect()
        )
    return local_df(spark, 
        [
            (
                r.o_orderpriority,
                r.n_orders,
                float(r.sum_totalprice),
                carried,
                reject_enforced,
                single_commit,
            )
            for r in audit
        ],
        "o_orderpriority string, n_orders bigint, sum_totalprice double, "
        "files_carried boolean, reject_enforced boolean, single_commit boolean",
    ).orderBy("o_orderpriority")


ORACLE["snapshot_replace_where"] = f"""
WITH surviving AS (
  SELECT CASE WHEN o_totalprice >= 100000.0 AND o_totalprice < 200000.0
              THEN '9-REPLACED' ELSE o_orderpriority END AS o_orderpriority,
         o_totalprice
  FROM orders
  WHERE NOT (o_totalprice >= 100000.0 AND o_totalprice < 200000.0)
     OR o_orderkey % 2 = 0
)
SELECT o_orderpriority, COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_totalprice,
       TRUE AS files_carried, TRUE AS reject_enforced, TRUE AS single_commit
FROM surviving
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_snapshot_type_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TYPE WIDENING lifecycle audit (sources/snaptable.widen_column —
    Delta type-widening semantics): ingest events with deliberately
    narrow column types (int ids, float32 values), widen id -> BIGINT
    and value -> DOUBLE as METADATA-ONLY commits (live boolean: the
    file list must be byte-identical), append a row that OVERFLOWS the
    old int range (the migration that motivates widening), and verify
    time travel still reads the pre-widen narrow schema. The final
    aggregate hash-matches a SQL replay of the same narrow-then-widen
    value pipeline plus the sentinel row."""
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    ev = read_fixture(spark, sf_dir, "events").select(
        F.col("event_id").cast("int").alias("event_id"),
        F.col("user_id").cast("int").alias("user_id"),
        F.col("value").cast("float").alias("value"),
    )
    with scratch_dir("snap_tw") as table:
        st.create_table(ev, table, [])
        files_before = set(st._read_manifest(table, 1)["files"])
        st.widen_column(table, "user_id", "long")
        st.widen_column(table, "value", "double")
        v_widen = st.current_version(table)
        metadata_only = (
            set(st._read_manifest(table, v_widen)["files"]) == files_before
        )
        narrow_travel = dict(st.read_snapshot(spark, table, version=1).dtypes) == {
            "event_id": "int",
            "user_id": "int",
            "value": "float",
        }
        sentinel = local_df(spark, 
            [(2_000_000_000, 2**35, 0.5)], "event_id int, user_id long, value double"
        )
        st.append(sentinel, table)
        got = st.read_snapshot(spark, table)
        wide_types = dict(got.dtypes)["user_id"] == "bigint" and (
            dict(got.dtypes)["value"] == "double"
        )
        audit = got.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("user_id").cast("bigint").alias("sum_user"),
            dsum("value").alias("sum_value"),
        ).collect()[0]
    return local_df(spark, 
        [
            (
                audit.n_rows,
                audit.sum_user,
                float(audit.sum_value),
                metadata_only,
                narrow_travel,
                wide_types,
            )
        ],
        "n_rows bigint, sum_user bigint, sum_value double, "
        "metadata_only boolean, narrow_time_travel boolean, wide_types boolean",
    )


ORACLE["snapshot_type_widening"] = f"""
WITH narrow AS (
  SELECT CAST(user_id AS INTEGER) AS user_id,
         CAST(CAST(value AS REAL) AS DOUBLE) AS value
  FROM events
), u AS (
  SELECT CAST(user_id AS BIGINT) AS user_id, value FROM narrow
  UNION ALL
  SELECT CAST(34359738368 AS BIGINT), CAST(0.5 AS DOUBLE)
)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(user_id) AS BIGINT) AS sum_user,
       {dsum_sql('value')} AS sum_value,
       TRUE AS metadata_only, TRUE AS narrow_time_travel, TRUE AS wide_types
FROM u
"""


def q_snapshot_protocol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protocol-gating lifecycle audit (sources/snaptable reader AND
    writer features — the Delta readerFeatures/writerFeatures model):
    exercise DV delete, RENAME COLUMN, TYPE WIDENING, and a CHECK
    constraint on one table and verify (live booleans) that the head
    manifest lists exactly the reader features its content requires,
    that writer features carry the same set PLUS check-constraints (a
    pure writer obligation readers never evaluate), that the flags are
    STICKY across a later plain append, that a forged manifest
    demanding an unknown future READER feature refuses both reads and
    commits, and that one demanding an unknown future WRITER feature
    still READS but refuses commits. The final per-status aggregate
    (through the renamed, widened, DV-filtered head) hash-matches a
    SQL replay."""
    import json as _json
    import os

    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").cast("int").alias("o_custkey"),
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
    )
    with scratch_dir("snap_proto") as root:
        table = os.path.join(root, "table")
        forged = os.path.join(root, "forged")
        forged_w = os.path.join(root, "forged_w")
        st.create_table(
            orders, table, [], constraints={"price_nonneg": "o_totalprice >= 0"}
        )
        st.delete_where(spark, table, [("o_totalprice", ">", 400000.0)], use_dv=True)
        st.rename_column(table, "o_orderpriority", "priority")
        st.widen_column(table, "o_custkey", "long")
        st.append(st.read_snapshot(spark, table).limit(0), table)  # plain commit
        head = st._manifest_at(table)[1]
        feats = set(head.get("reader_features") or [])
        features_exact = feats == {
            "deletion-vectors",
            "column-mapping",
            "type-widening",
        }
        writer_features_exact = set(head.get("writer_features") or []) == (
            feats | {"check-constraints"}
        )

        # DROP FEATURE (protocol downgrade, r13): refused while a live
        # file carries a DV; after OPTIMIZE purges the DVs (and rewrites
        # the widened column's files wide) BOTH flags drop; a later DV
        # delete re-accrues deletion-vectors content-driven
        try:
            st.drop_feature(table, "deletion-vectors")
            drop_refused_while_live = False
        except ValueError:
            drop_refused_while_live = True
        st.optimize(spark, table, files_per_partition=2)
        st.drop_feature(table, "deletion-vectors")
        st.drop_feature(table, "type-widening")
        after_drop = st._manifest_at(table)[1]
        dropped_ok = set(after_drop.get("reader_features") or []) == {
            "column-mapping"
        }
        st.delete_where(spark, table, [("o_totalprice", "<", 5000.0)], use_dv=True)
        rehead = st._manifest_at(table)[1]
        drop_then_reaccrue_ok = bool(
            dropped_ok
            and set(rehead.get("reader_features") or [])
            == {"column-mapping", "deletion-vectors"}
            and set(rehead.get("writer_features") or [])
            == {"column-mapping", "deletion-vectors", "check-constraints"}
        )

        st.create_table(orders.limit(5), forged, [])
        mpath = st._manifest_path(forged, 1)
        m = _json.load(open(mpath))
        m["reader_features"] = ["row-tracking-v9"]
        os.unlink(mpath)
        with open(mpath, "w") as fh:
            _json.dump(m, fh)
        try:
            st.read_snapshot(spark, forged).count()
            future_read_refused = False
        except ValueError:
            future_read_refused = True
        try:
            st.append(orders.limit(1), forged)
            future_commit_refused = False
        except ValueError:
            future_commit_refused = True

        # forged WRITER feature: reads stay allowed, commits refuse
        st.create_table(orders.limit(5), forged_w, [])
        wpath = st._manifest_path(forged_w, 1)
        mw = _json.load(open(wpath))
        mw["writer_features"] = ["vector-clock-commits"]
        os.unlink(wpath)
        with open(wpath, "w") as fh:
            _json.dump(mw, fh)
        try:
            future_writer_read_ok = (
                st.read_snapshot(spark, forged_w).count() == 5
            )
        except ValueError:
            future_writer_read_ok = False
        try:
            st.append(orders.limit(1), forged_w)
            future_writer_commit_refused = False
        except ValueError:
            future_writer_commit_refused = True

        audit = (
            st.read_snapshot(spark, table)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                dsum("o_totalprice").alias("sum_totalprice"),
            )
            .orderBy("o_orderstatus")
            .collect()
        )
    return local_df(spark, 
        [
            (
                r.o_orderstatus,
                r.n_orders,
                float(r.sum_totalprice),
                features_exact,
                writer_features_exact,
                future_read_refused,
                future_commit_refused,
                future_writer_read_ok,
                future_writer_commit_refused,
                drop_refused_while_live,
                drop_then_reaccrue_ok,
            )
            for r in audit
        ],
        "o_orderstatus string, n_orders bigint, sum_totalprice double, "
        "features_exact boolean, writer_features_exact boolean, "
        "future_read_refused boolean, future_commit_refused boolean, "
        "future_writer_read_ok boolean, "
        "future_writer_commit_refused boolean, "
        "drop_refused_while_live boolean, drop_then_reaccrue_ok boolean",
    ).orderBy("o_orderstatus")


ORACLE["snapshot_protocol"] = f"""
SELECT o_orderstatus, COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_totalprice,
       TRUE AS features_exact, TRUE AS writer_features_exact,
       TRUE AS future_read_refused, TRUE AS future_commit_refused,
       TRUE AS future_writer_read_ok, TRUE AS future_writer_commit_refused,
       TRUE AS drop_refused_while_live, TRUE AS drop_then_reaccrue_ok
FROM orders
WHERE NOT (o_totalprice > 400000.0) AND NOT (o_totalprice < 5000.0)
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def q_snapshot_row_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW TRACKING lifecycle audit (sources/snaptable
    enable_row_tracking / read_snapshot(with_row_ids=True) — the
    Delta row-ID model, gated behind the ``row-tracking`` reader
    feature): stable per-row ids assigned at enablement, extended by
    appends off the id high-water mark, retired by DV deletes, and
    PRESERVED through OPTIMIZE by materializing them into the
    rewritten files.

    The lifecycle makes ids exactly reproducible: each batch lands as
    ONE file sorted by o_orderkey, so a file's parquet row index IS
    the batch-local o_orderkey rank and every _row_id equals the
    deterministic rank algebra the oracle replays with ROW_NUMBER().
    Batches: v1 = 'F' orders (ids 0..n1-1), append 'P' orders (ids
    n1..n1+n2-1), DV-delete totalprice > 400k, OPTIMIZE into one
    file (ids materialize), then append the first 100 'O' orders —
    their ids continue from the high-water mark, proving the mark
    survived materialization. The final per-priority aggregate over
    (_row_id, priority) hash-checks the whole id ledger."""
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )

    def one_file(df):
        return df.repartition(1).sortWithinPartitions("o_orderkey")

    with scratch_dir("snap_rt") as table:
        st.create_table(one_file(orders.filter(F.col("o_orderstatus") == "F")), table, [])
        st.enable_row_tracking(table)
        st.append(one_file(orders.filter(F.col("o_orderstatus") == "P")), table)
        st.delete_where(
            spark, table, [("o_totalprice", ">", 400000.0)], use_dv=True
        )
        st.optimize(spark, table, files_per_partition=1)
        st.append(
            one_file(
                orders.filter(F.col("o_orderstatus") == "O")
                .orderBy("o_orderkey")
                .limit(100)
            ),
            table,
        )
        snap = st.read_snapshot(spark, table, with_row_ids=True)
        out = (
            snap.groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.min("_row_id").cast("bigint").alias("min_rid"),
                F.max("_row_id").cast("bigint").alias("max_rid"),
                F.sum("_row_id").cast("bigint").alias("sum_rid"),
            )
            .collect()  # bounded: one row per order priority (5)
        )
    return local_df(spark, 
        [
            (r.o_orderpriority, r.n_rows, r.min_rid, r.max_rid, r.sum_rid)
            for r in out
        ],
        "o_orderpriority string, n_rows bigint, min_rid bigint, "
        "max_rid bigint, sum_rid bigint",
    ).orderBy("o_orderpriority")


ORACLE["snapshot_row_tracking"] = """
WITH b1 AS (
  SELECT o_orderpriority, o_totalprice,
         ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
  FROM orders WHERE o_orderstatus = 'F'
), c1 AS (
  SELECT COUNT(*) AS n FROM b1
), b2 AS (
  SELECT o_orderpriority, o_totalprice,
         (SELECT n FROM c1) + ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
  FROM orders WHERE o_orderstatus = 'P'
), c2 AS (
  SELECT (SELECT n FROM c1) + COUNT(*) AS n FROM b2
), b3 AS (
  SELECT o_orderpriority, o_totalprice, (SELECT n FROM c2) + rn - 1 AS rid
  FROM (
    SELECT o_orderpriority, o_totalprice,
           ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
    FROM orders WHERE o_orderstatus = 'O'
  ) WHERE rn <= 100
), live AS (
  SELECT * FROM b1 WHERE o_totalprice <= 400000
  UNION ALL
  SELECT * FROM b2 WHERE o_totalprice <= 400000
  UNION ALL
  SELECT o_orderpriority, o_totalprice, rid FROM b3
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(rid) AS BIGINT) AS min_rid,
       CAST(MAX(rid) AS BIGINT) AS max_rid,
       CAST(SUM(rid) AS BIGINT) AS sum_rid
FROM live
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_snapshot_checkpoint_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint + log-segment storage lifecycle audit (sources/
    snaptable _store_form / _read_manifest — the Delta checkpoint,
    Iceberg manifest-reuse property added so commit metadata is
    O(files touched), not O(table files)): drive a 13-commit chain
    (create + 12 bucketed appends), verify the STORED forms are what
    the cadence promises (segments between checkpoints, a fresh
    checkpoint at CHECKPOINT_INTERVAL, segments never carrying a file
    list), then hash-check that time travel THROUGH a segment chain
    and the head read across the checkpoint both materialize the
    exact row sets the oracle replays in SQL."""
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with scratch_dir("snap_ckpt") as table:
        st.create_table(orders.filter(F.col("o_orderstatus") == "F"), table, [])
        other = orders.filter(F.col("o_orderstatus") == "O")
        for b in range(12):
            st.append(other.filter(F.col("o_orderkey") % 12 == b), table)
        versions = st._list_versions(table)
        raws = {v: st._raw_manifest(table, v) for v in versions}
        # v1 parentless checkpoint; v2..v10 segments (chain depth 1..9);
        # v11 re-checkpoints at CHECKPOINT_INTERVAL=10; v12..v13 segments
        forms_ok = (
            not raws[1].get("segment")
            and all(raws[v].get("segment") for v in range(2, 11))
            and not raws[11].get("segment")
            and all(raws[v].get("segment") for v in (12, 13))
            and all("files" not in m for m in raws.values() if m.get("segment"))
        )
        rows = []
        for v in (7, 13):
            snap = st.read_snapshot(spark, table, version=v)
            r = snap.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                dsum("o_totalprice").alias("sum_totalprice"),
            ).collect()[0]
            rows.append(
                (
                    v,
                    bool(forms_ok),
                    r.n_orders,
                    None if r.sum_totalprice is None else float(r.sum_totalprice),
                )
            )
    return local_df(spark, 
        rows,
        "version int, stored_forms_ok boolean, n_orders bigint, "
        "sum_totalprice double",
    ).orderBy("version")


ORACLE["snapshot_checkpoint_log"] = f"""
SELECT 7 AS version, TRUE AS stored_forms_ok, COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_totalprice
FROM orders
WHERE o_orderstatus = 'F'
   OR (o_orderstatus = 'O' AND o_orderkey % 12 <= 5)
UNION ALL
SELECT 13, TRUE, COUNT(*), {dsum_sql('o_totalprice')}
FROM orders
WHERE o_orderstatus = 'F' OR o_orderstatus = 'O'
ORDER BY version
"""


def q_snapshot_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM retention lifecycle audit (sources/snaptable.vacuum —
    Delta's retention window + Iceberg's tag-exempt ref retention):
    build a 4-version chain, tag v2, vacuum retain_last=1, then
    verify the whole retention contract in one hash-checked frame —
    the tagged version stays readable (its manifest was a log SEGMENT
    whose base expired, so vacuum must have rewritten it into a
    self-contained checkpoint first: the round-9 chain-rewrite path),
    the head stays intact, expired time travel refuses fast, and the
    untagged expired manifests are actually gone."""
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with scratch_dir("snap_vac") as table:
        st.create_table(orders.filter(F.col("o_orderstatus") == "F"), table, [])
        st.append(orders.filter(F.col("o_orderstatus") == "P"), table)
        st.create_tag(table, "audit", version=2)
        st.append(
            orders.filter(F.col("o_orderstatus") == "O")
            .orderBy("o_orderkey")
            .limit(100),
            table,
        )
        st.append(
            orders.filter(F.col("o_orderstatus") == "O")
            .orderBy(F.desc("o_orderkey"))
            .limit(100),
            table,
        )
        st.vacuum(table, retain_last=1)
        kept = st._list_versions(table)
        try:
            st.read_snapshot(spark, table, version=3)
            refused = False
        except ValueError:
            refused = True
        contract_ok = bool(refused and kept == [2, 4])
        rows = []
        for label, df in (
            ("head", st.read_snapshot(spark, table)),
            ("tagged", st.read_snapshot(spark, table, tag="audit")),
        ):
            r = df.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                dsum("o_totalprice").alias("sum_totalprice"),
            ).collect()[0]
            rows.append(
                (
                    label,
                    contract_ok,
                    r.n_orders,
                    None if r.sum_totalprice is None else float(r.sum_totalprice),
                )
            )
    return local_df(spark, 
        rows,
        "snapshot string, retention_ok boolean, n_orders bigint, "
        "sum_totalprice double",
    ).orderBy("snapshot")


ORACLE["snapshot_vacuum_retention"] = f"""
WITH o100 AS (
  SELECT o_totalprice,
         ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn_asc,
         ROW_NUMBER() OVER (ORDER BY o_orderkey DESC) AS rn_desc
  FROM orders WHERE o_orderstatus = 'O'
), head_rows AS (
  SELECT o_totalprice FROM orders WHERE o_orderstatus IN ('F', 'P')
  UNION ALL SELECT o_totalprice FROM o100 WHERE rn_asc <= 100
  UNION ALL SELECT o_totalprice FROM o100 WHERE rn_desc <= 100
)
SELECT 'head' AS snapshot, TRUE AS retention_ok, COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_totalprice
FROM head_rows
UNION ALL
SELECT 'tagged', TRUE, COUNT(*), {dsum_sql('o_totalprice')}
FROM orders WHERE o_orderstatus IN ('F', 'P')
ORDER BY snapshot
"""


def q_snapshot_cdf_rowid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-id-aware change data feed lifecycle audit (sources/
    snaptable changes(with_row_ids=True) + preserved row tracking):
    update/delete/append a row-tracked table, then consume the CDF
    and verify Delta's full change vocabulary — updates surface as
    update_preimage/update_postimage PAIRED by stable _row_id (the
    DV update path materializes old ids into its rewritten rows),
    DV deletes carry the deleted rows' ids, and appended rows take
    fresh ids off the high-water mark. The per-change-type aggregate
    over (_row_id, o_totalprice) hash-checks ids and values at once;
    ids are reproducible because every batch lands as one file
    sorted by o_orderkey (see snapshot_row_tracking)."""
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )

    def one_file(df):
        return df.repartition(1).sortWithinPartitions("o_orderkey")

    with scratch_dir("snap_cdfrid") as table:
        st.create_table(one_file(orders.filter(F.col("o_orderstatus") == "F")), table, [])
        st.enable_row_tracking(table)
        st.update_where(
            spark,
            table,
            [("o_totalprice", ">", 400000.0)],
            {"o_totalprice": "o_totalprice + 1.0"},
            use_dv=True,
        )
        # modulo predicates aren't in the pruning filter grammar; express
        # the delete through the grammar-supported IN list instead
        keys = [
            r.o_orderkey
            for r in orders.filter(
                (F.col("o_orderstatus") == "F")
                & (F.col("o_orderkey") % 97 == 0)
            ).collect()  # bounded: ~1/97th of one status slice, ids only
        ]
        if keys:
            st.delete_where(spark, table, [("o_orderkey", "in", keys)], use_dv=True)
        st.append(
            one_file(
                orders.filter(F.col("o_orderstatus") == "O")
                .orderBy("o_orderkey")
                .limit(100)
            ),
            table,
        )
        cdf = st.changes(spark, table, 2, with_row_ids=True)
        out = (
            cdf.groupBy("_change_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("_row_id").cast("bigint").alias("sum_rid"),
                dsum("o_totalprice").alias("sum_price"),
            )
            .collect()  # bounded: one row per change type (<= 4)
        )
    return local_df(spark, 
        [
            (
                r._change_type,
                r.n_rows,
                r.sum_rid,
                None if r.sum_price is None else float(r.sum_price),
            )
            for r in out
        ],
        "change_type string, n_rows bigint, sum_rid bigint, sum_price double",
    ).orderBy("change_type")


ORACLE["snapshot_cdf_rowid"] = f"""
WITH f AS (
  SELECT o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
  FROM orders WHERE o_orderstatus = 'F'
), nf AS (
  SELECT COUNT(*) AS n FROM f
), upd AS (
  SELECT * FROM f WHERE o_totalprice > 400000
), del AS (
  SELECT rid,
         CASE WHEN o_totalprice > 400000 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS p
  FROM f WHERE o_orderkey % 97 = 0
), ins AS (
  SELECT (SELECT n FROM nf) + ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid,
         o_totalprice AS p
  FROM (SELECT * FROM orders WHERE o_orderstatus = 'O'
        ORDER BY o_orderkey LIMIT 100)
), ch AS (
  SELECT 'update_preimage' AS change_type, rid, o_totalprice AS p FROM upd
  UNION ALL
  SELECT 'update_postimage', rid, o_totalprice + 1.0 FROM upd
  UNION ALL
  SELECT 'delete', rid, p FROM del
  UNION ALL
  SELECT 'insert', rid, p FROM ins
)
SELECT change_type, COUNT(*) AS n_rows,
       CAST(SUM(rid) AS BIGINT) AS sum_rid,
       {dsum_sql('p')} AS sum_price
FROM ch
GROUP BY change_type
ORDER BY change_type
"""


def q_snapshot_auto_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-compaction policy lifecycle audit (sources/snaptable
    plan_compaction/auto_compact over partition-scoped OPTIMIZE):
    fragment ONE partition with five deterministic single-file
    appends, let the policy flag and compact exactly that partition,
    and hash-check that (a) the healthy partitions' files carried
    untouched by reference, (b) the fragmented one collapsed to one
    file, (c) the policy report is empty afterwards, and (d) the
    visible rows are exactly the oracle's replay of the appends."""
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with scratch_dir("snap_ac") as table:
        st.create_table(
            orders.repartition(1).sortWithinPartitions("o_orderkey"),
            table,
            ["o_orderstatus"],
        )
        frag = orders.filter(F.col("o_orderstatus") == "F")
        for b in range(5):
            st.append(
                frag.filter(F.col("o_orderkey") % 5 == b)
                .repartition(1)
                .sortWithinPartitions("o_orderkey"),
                table,
            )
        plan = st.plan_compaction(table, max_files_per_partition=4)
        flagged_only_f = list(plan) == [(("o_orderstatus", "F"),)]
        before = st._manifest_at(table)[1]
        healthy_before = sorted(
            f for f in before["files"] if "o_orderstatus=F" not in f
        )
        st.auto_compact(spark, table, max_files_per_partition=4)
        after = st._manifest_at(table)[1]
        healthy_after = sorted(
            f for f in after["files"] if "o_orderstatus=F" not in f
        )
        contract_ok = bool(
            flagged_only_f
            and healthy_after == healthy_before
            and len([f for f in after["files"] if "o_orderstatus=F" in f]) == 1
            and st.plan_compaction(table, max_files_per_partition=4) == {}
        )
        rows = (
            st.read_snapshot(spark, table)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                dsum("o_totalprice").alias("sum_totalprice"),
            )
            .collect()  # bounded: one row per order status
        )
    return local_df(spark, 
        [
            (
                r.o_orderstatus,
                contract_ok,
                r.n_orders,
                None if r.sum_totalprice is None else float(r.sum_totalprice),
            )
            for r in rows
        ],
        "o_orderstatus string, compact_ok boolean, n_orders bigint, "
        "sum_totalprice double",
    ).orderBy("o_orderstatus")


ORACLE["snapshot_auto_compact"] = f"""
WITH visible AS (
  SELECT o_orderstatus, o_totalprice FROM orders
  UNION ALL
  SELECT o_orderstatus, o_totalprice FROM orders
  WHERE o_orderstatus = 'F'
)
SELECT o_orderstatus, TRUE AS compact_ok, COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_totalprice
FROM visible
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def q_snapshot_identity_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED ALWAYS AS IDENTITY lifecycle audit
    (sources/snaptable.enable_identity — Delta identity columns,
    riding the row-tracking id machinery: metadata-only contiguous
    per-file allocation off the table high-water mark, derived at
    read time as start + step * row_id): create a deterministic
    single-file table, enable identity (start=1000, step=2 over the
    parquet row order = the write sort order), append a second sorted
    batch (allocation continues above the mark), DV-delete a price
    band (ids RETIRE, survivors keep theirs), OPTIMIZE (ids preserved
    via materialization), and audit the surviving (key -> surrogate)
    assignment. The oracle replays allocation as row_number() over
    the same write orders — any divergence in ordering, continuation,
    retirement, or post-OPTIMIZE stability moves a surrogate and the
    hash."""
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with scratch_dir("snap_ident") as table:
        b1 = (
            orders.filter(F.col("o_orderstatus") == "F")
            .orderBy("o_orderkey")
            .limit(500)
            .repartition(1)
            .sortWithinPartitions("o_orderkey")
        )
        st.create_table(b1, table, [])
        st.enable_identity(table, "order_sk", start=1000, step=2)
        b2 = (
            orders.filter(F.col("o_orderstatus") == "O")
            .orderBy("o_orderkey")
            .limit(300)
            .repartition(1)
            .sortWithinPartitions("o_orderkey")
        )
        st.append(b2, table)
        st.delete_where(
            spark, table, [("o_totalprice", "<", 50000.0)], use_dv=True
        )
        st.optimize(spark, table, files_per_partition=1)
        final = st.read_snapshot(spark, table)
        stats = final.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.count_distinct("order_sk").cast("bigint").alias("n_sk"),
            F.min("order_sk").alias("min_sk"),
            F.max("order_sk").alias("max_sk"),
            dsum("o_totalprice").alias("sum_price"),
        ).collect()
        head = (
            final.orderBy("order_sk")
            .limit(5)
            .select("order_sk", "o_orderkey")
            .collect()
        )
    rows = [
        ("stats", r.n, r.n_sk, r.min_sk, r.max_sk, float(r.sum_price))
        for r in stats
        if r.n
    ] + [
        (f"sk_{i}", r.order_sk, r.o_orderkey, None, None, None)
        for i, r in enumerate(head)
    ]
    return local_df(spark, 
        rows,
        "row string, a bigint, b bigint, c bigint, d bigint, e double",
    ).orderBy("row")


ORACLE["snapshot_identity_columns"] = f"""
WITH b1 AS (
  SELECT o_orderkey, o_totalprice,
         1000 + 2 * (ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1)
           AS order_sk
  FROM (
    SELECT * FROM orders WHERE o_orderstatus = 'F'
    ORDER BY o_orderkey LIMIT 500
  )
), n1 AS (
  SELECT COUNT(*) AS n FROM b1
), b2 AS (
  SELECT o_orderkey, o_totalprice,
         1000 + 2 * ((SELECT n FROM n1)
                     + ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1)
           AS order_sk
  FROM (
    SELECT * FROM orders WHERE o_orderstatus = 'O'
    ORDER BY o_orderkey LIMIT 300
  )
), live AS (
  SELECT * FROM (
    SELECT * FROM b1 UNION ALL SELECT * FROM b2
  ) WHERE o_totalprice >= 50000.0
), stats AS (
  SELECT 'stats' AS row, COUNT(*) AS a, COUNT(DISTINCT order_sk) AS b,
         MIN(order_sk) AS c, MAX(order_sk) AS d,
         {dsum_sql('o_totalprice')} AS e
  FROM live HAVING COUNT(*) > 0
), head AS (
  SELECT 'sk_' || CAST(ROW_NUMBER() OVER (ORDER BY order_sk) - 1 AS VARCHAR)
           AS row,
         order_sk AS a, o_orderkey AS b,
         CAST(NULL AS BIGINT) AS c, CAST(NULL AS BIGINT) AS d,
         CAST(NULL AS DOUBLE) AS e
  FROM live ORDER BY order_sk LIMIT 5
)
SELECT * FROM stats UNION ALL SELECT * FROM head
ORDER BY row
"""


def q_snapshot_merge_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE WITH SCHEMA EVOLUTION lifecycle audit
    (sources/snaptable.merge_into(evolve_schema=True) — Delta's
    automatic schema evolution on MERGE): the source carries a column
    the target lacks (o_channel); the merge widens the committed
    schema, matched rows take the source's values, surviving target
    rows read null for the new column, and brand-new keys insert with
    it populated. The oracle replays the whole-row upsert + widening
    in SQL; the audit groups by the evolved column (null group
    included) so a wrong null-fill, a dropped update, or a missed
    insert all move the hash."""
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with scratch_dir("snap_mev") as table:
        st.create_table(orders, table, [])
        upd = (
            orders.filter(F.col("o_orderkey") % 10 == 3)
            .select(
                "o_orderkey",
                "o_orderstatus",
                (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
                F.lit("web").alias("o_channel"),
            )
        )
        ins = (
            orders.orderBy("o_orderkey")
            .limit(50)
            .select(
                (F.col("o_orderkey") + F.lit(30_000_000)).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.lit(10.0).alias("o_totalprice"),
                F.lit("app").alias("o_channel"),
            )
        )
        st.merge_into(
            spark, table, upd.unionByName(ins), ["o_orderkey"],
            evolve_schema=True,
        )
        out = (
            st.read_snapshot(spark, table)
            .groupBy("o_channel")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                dsum("o_totalprice").alias("sum_price"),
            )
            .collect()
        )
    return local_df(spark, 
        [
            (r.o_channel, r.n, None if r.sum_price is None else float(r.sum_price))
            for r in out
        ],
        "o_channel string, n bigint, sum_price double",
    ).orderBy("o_channel")


ORACLE["snapshot_merge_evolution"] = f"""
WITH src AS (
  SELECT o_orderkey, o_totalprice + 1.0 AS o_totalprice,
         'web' AS o_channel
  FROM orders WHERE o_orderkey % 10 = 3
  UNION ALL
  SELECT o_orderkey + 30000000, 10.0, 'app'
  FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 50)
), merged AS (
  SELECT t.o_totalprice, CAST(NULL AS VARCHAR) AS o_channel
  FROM orders t
  WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM src)
  UNION ALL
  SELECT o_totalprice, o_channel FROM src
)
SELECT o_channel, COUNT(*) AS n, {dsum_sql('o_totalprice')} AS sum_price
FROM merged
GROUP BY o_channel
ORDER BY o_channel
"""


def q_snapshot_restore_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE ... TIMESTAMP AS OF lifecycle audit
    (sources/snaptable.restore_to_timestamp = rollback composed with
    version_as_of's newest-commit-at-or-before resolution — Delta's
    time-based RESTORE): build a 3-version chain, capture the REAL
    commit timestamp of v2 from the manifest, advance the table, then
    restore to that timestamp and verify (a) the restored head equals
    v2's state exactly, (b) the restore is a NEW head (history
    preserved, the bad commit still time-travelable), and (c) a
    timestamp predating the first commit refuses rather than silently
    serving a younger snapshot. The oracle replays v2's logical row
    set; contract bits ride every row so a wrong resolution moves the
    hash."""
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with scratch_dir("snap_rts") as table:
        st.create_table(orders.filter(F.col("o_orderstatus") == "F"), table, [])
        st.append(orders.filter(F.col("o_orderstatus") == "P"), table)  # v2
        ts_v2 = st._read_manifest(table, 2)["committed_at"]
        st.append(orders.filter(F.col("o_orderstatus") == "O"), table)  # v3
        new_head = st.restore_to_timestamp(table, ts_v2)
        try:
            st.restore_to_timestamp(table, 0.0)
            refused = False
        except ValueError:
            refused = True
        contract_ok = bool(
            refused
            and new_head == 4
            and st.current_version(table) == 4
            # the pre-restore head is still reachable by version
            and st.read_snapshot(spark, table, version=3).count()
            >= st.read_snapshot(spark, table).count()
        )
        out = (
            st.read_snapshot(spark, table)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                dsum("o_totalprice").alias("sum_price"),
            )
            .collect()
        )
    return local_df(spark, 
        [
            (r.o_orderstatus, contract_ok, r.n, float(r.sum_price))
            for r in out
        ],
        "o_orderstatus string, contract_ok boolean, n bigint, "
        "sum_price double",
    ).orderBy("o_orderstatus")


ORACLE["snapshot_restore_timestamp"] = f"""
SELECT o_orderstatus, TRUE AS contract_ok, COUNT(*) AS n,
       {dsum_sql('o_totalprice')} AS sum_price
FROM orders
WHERE o_orderstatus IN ('F', 'P')
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def q_snapshot_concurrent_writers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Concurrent-writer commit reconciliation lifecycle audit
    (sources/snaptable._try_rebase — the Delta/Iceberg
    retry-with-revalidation protocol the reference gets for free from
    Iceberg under Glue's ``max_concurrent_runs = 1`` guard,
    infra/glue-jobs.tf; this engine needs no such guard): two REAL
    interleaved writers dynamic-partition-overwrite DISJOINT
    o_orderstatus partitions — a barrier forces both to compute
    against the SAME parent version before either publishes, so the
    loser's publish collides and must auto-rebase onto the winner's
    head with no caller retry. The audit reads the merged head
    (per-status counts + exact sums prove neither writer's rows were
    lost or doubled), pins the head version (create + two commits =
    3: the rebase landed as a real commit, not a silent drop), and
    replays the merged log's CDF insert/delete counts from v1 — a
    clobbered partition, a lost writer, or a double-applied rebase
    all move the hash."""
    import threading

    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with scratch_dir("snap_ccw") as table:
        st.create_table(orders, table, ["o_orderstatus"])
        src_f = orders.filter(F.col("o_orderstatus") == "F").withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
        )
        src_o = orders.filter(F.col("o_orderstatus") == "O").withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(2.0)
        )
        barrier = threading.Barrier(2, timeout=300)
        lock = threading.Lock()
        n_pub = [0]

        def gated(tbl, version, manifest):
            # gate ONLY this query's table: an unrelated snapshot commit
            # from elsewhere in the process must pass straight through,
            # never count toward (or block at) this query's 2-party barrier
            if tbl != table:
                return
            with lock:
                n_pub[0] += 1
                k = n_pub[0]
            if k <= 2:  # both writers finish computing before either publishes
                barrier.wait()

        errs: list[BaseException] = []

        def run(src):
            try:
                st.overwrite_partitions(src, table)
            except BaseException as e:  # noqa: BLE001 — surfaced below
                errs.append(e)

        # the engine's documented injection seam — no internals swapped
        st.pre_publish_hook = gated
        try:
            threads = [
                threading.Thread(target=run, args=(s,)) for s in (src_f, src_o)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=600)
        finally:
            st.pre_publish_hook = None
        if errs:
            raise errs[0]
        head = st.current_version(table)
        agg = (
            st.read_snapshot(spark, table)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                dsum("o_totalprice").alias("sum_price"),
            )
            .collect()
        )
        cdf = (
            st.changes(spark, table, 1)
            .groupBy("_change_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .collect()
        )
    rows = [
        (r.o_orderstatus, r.n, float(r.sum_price)) for r in agg
    ] + [("head", int(head) if head else 0, None)] + [
        (f"cdf_{r._change_type}", r.n, None) for r in cdf
    ]
    return local_df(spark, 
        rows, "row string, n bigint, sum_price double"
    ).orderBy("row")


ORACLE["snapshot_concurrent_writers"] = f"""
WITH final AS (
  SELECT o_orderstatus,
         CASE o_orderstatus
           WHEN 'F' THEN o_totalprice + 1.0
           WHEN 'O' THEN o_totalprice + 2.0
           ELSE o_totalprice
         END AS o_totalprice
  FROM orders
), agg AS (
  SELECT o_orderstatus AS row, COUNT(*) AS n,
         {dsum_sql('o_totalprice')} AS sum_price
  FROM final GROUP BY o_orderstatus
), extras AS (
  SELECT 'head' AS row, 3 AS n, CAST(NULL AS DOUBLE) AS sum_price
  UNION ALL
  SELECT 'cdf_delete', COUNT(*), NULL FROM orders
  WHERE o_orderstatus IN ('F', 'O')
  UNION ALL
  SELECT 'cdf_insert', COUNT(*), NULL FROM orders
  WHERE o_orderstatus IN ('F', 'O')
)
SELECT * FROM agg UNION ALL SELECT * FROM extras
ORDER BY row
"""


def q_snapshot_incremental_minmax(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental maintenance of the NON-self-maintainable
    aggregates (sources/snaptable.maintain_minmax): per-group
    COUNT/MIN/MAX materialized at v1 rolls forward through a
    row-level DELETE that removes several groups' maxima and an
    append that sets new minima. Inserts fold as pure deltas
    (least/greatest); the delete forces the Gupta-Mumick bounded
    rescan of exactly the groups whose extreme was deleted — the
    oracle recomputes from scratch over the final row set, so the
    hash match is the maintenance-equals-recompute theorem for the
    rescan path too. Bounded driver collect (50 groups); run-scoped
    temp dir."""
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 50).alias("g"),
        "o_totalprice",
    )
    with scratch_dir("snap_mm") as table:
        st.create_table(orders, table, [])
        base = (
            st.read_snapshot(spark, table, version=1)
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.min("o_totalprice").alias("mn"),
                F.max("o_totalprice").alias("mx"),
            )
        )
        # remove a handful of global maxima (touches few groups)
        st.delete_where(spark, table, [("o_totalprice", ">", 520000.0)])
        # and append rows that set NEW minima in their groups
        st.append(
            orders.filter(F.col("o_orderkey") % 89 == 7).select(
                (F.col("o_orderkey") + F.lit(5000000)).alias("o_orderkey"),
                "g",
                (F.col("o_totalprice") * F.lit(0.5)).alias("o_totalprice"),
            ),
            table,
        )
        rows = (
            st.maintain_minmax(
                spark, table, base, ["g"], "o_totalprice", from_version=1
            )
            .orderBy("g")
            .collect()
        )
    return local_df(spark, 
        [(r.g, r.n, float(r.mn), float(r.mx)) for r in rows],
        "g bigint, n_orders bigint, min_price double, max_price double",
    ).orderBy("g")


ORACLE["snapshot_incremental_minmax"] = """
WITH final_state AS (
  SELECT o_orderkey, CAST(o_custkey % 50 AS BIGINT) AS g, o_totalprice
  FROM orders
  WHERE NOT (o_totalprice > 520000.0)
  UNION ALL
  SELECT o_orderkey + 5000000, CAST(o_custkey % 50 AS BIGINT), o_totalprice * 0.5
  FROM orders WHERE o_orderkey % 89 = 7
)
SELECT g, COUNT(*) AS n_orders,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price
FROM final_state
GROUP BY g
ORDER BY g
"""


def q_snapshot_sql_endpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL over ACID snapshot tables incl. time travel
    (sources/snaptable.register_snapshot_view) — the surface the
    reference serves through Athena-on-Iceberg
    (jobs/ev_sessions_gold_etl.py:159-160, README.md:41: analysts
    query the committed fact table, and Iceberg's VERSION AS OF
    reaches history). Builds a two-version table from ``orders``
    (v1 = full table partitioned by o_orderstatus; v2 = DV-backed
    row-level DELETE of low-price rows — merge-on-read, no file
    rewritten), registers the HEAD and the PINNED v1 as session
    views, and audits both through ONE ``spark.sql`` statement. The
    oracle replays each version's visible row set, so what's
    hash-checked is the whole chain: manifest resolution ->
    DV anti-join in the view's plan -> SQL over the registered name.
    Bounded collect (≤6 rows) because the table lives in a run-scoped
    temp dir that must not outlive the call."""
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with scratch_dir("snap_sqlv") as table:
        try:
            st.create_table(orders, table, ["o_orderstatus"])
            st.delete_where(
                spark, table, [("o_totalprice", "<", 20000.0)], use_dv=True
            )
            head_view = st.register_snapshot_view(spark, table, "snap_sql_head")
            v1_view = st.register_snapshot_view(
                spark, table, "snap_sql_v1", version=1
            )
            rows = spark.sql(
                f"""
                SELECT 'head' AS snapshot, o_orderstatus,
                       COUNT(*) AS n_orders,
                       {dsum_spark_sql('o_totalprice')} AS sum_totalprice
                FROM {head_view} GROUP BY o_orderstatus
                UNION ALL
                SELECT 'v1', o_orderstatus, COUNT(*),
                       {dsum_spark_sql('o_totalprice')}
                FROM {v1_view} GROUP BY o_orderstatus
                """
            ).collect()
        finally:
            spark.catalog.dropTempView("snap_sql_head")
            spark.catalog.dropTempView("snap_sql_v1")
    return local_df(spark, 
        [
            (r.snapshot, r.o_orderstatus, r.n_orders, float(r.sum_totalprice))
            for r in rows
        ],
        "snapshot string, o_orderstatus string, n_orders bigint, "
        "sum_totalprice double",
    ).orderBy("snapshot", "o_orderstatus")


ORACLE["snapshot_sql_endpoint"] = f"""
SELECT 'head' AS snapshot, o_orderstatus, COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_totalprice
FROM orders
WHERE o_totalprice >= 20000.0
GROUP BY o_orderstatus
UNION ALL
SELECT 'v1', o_orderstatus, COUNT(*), {dsum_sql('o_totalprice')}
FROM orders
GROUP BY o_orderstatus
ORDER BY snapshot, o_orderstatus
"""


def q_ev_lineage_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full EV lakehouse lineage, bronze CSV -> silver -> gold AS AN
    ACID SNAPSHOT TABLE (operators/silver.run_silver ->
    operators/gold.run_gold(table_format="snapshot") — the reference's
    two Glue jobs, jobs/ev_sessions_silver_etl_clean.py +
    jobs/ev_sessions_gold_etl.py, composed end-to-end on the
    manifest-log format): a synthetic bronze CSV derives
    deterministically from ``orders`` keys (some rows carry the
    two-zero-year quirk to exercise the F2 repair), the silver job
    cleans/verifies/splits it, and the gold job runs TWICE on the
    same input — the rerun must land as a second, idempotent,
    time-travelable version (create + dynamic partition overwrite).
    Contract bits pin head == 2, a clean 200/0 silver split, and
    version-1 == version-2 content; the facility-type rollup of the
    final snapshot (counts + exact sums of kWh, derived duration
    minutes, guarded cost-per-kWh) replays the whole cleaning +
    derivation chain against the DuckDB oracle."""
    import datetime
    import os

    from ..operators.gold import run_gold
    from ..operators.silver import run_silver
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    out_schema = (
        "facilityType string, n bigint, sum_kwh double, "
        "sum_duration_min double, sum_cost_per_kwh double"
    )
    keys = [
        r.k
        for r in read_fixture(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("k"))
        .orderBy("k")
        .limit(200)
        .collect()  # bounded: 200 keys
    ]
    if not keys:
        return local_df(spark, [], out_schema)
    plats = ["android", "ios", "web"]
    wdays = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]
    header = (
        "sessionId,kwhTotal,dollars,created,ended,startTime,endTime,"
        "chargeTimeHrs,weekday,platform,distance,userId,stationId,"
        "locationId,managerVehicle,facilityType,Mon,Tues,Wed,Thurs,"
        "Fri,Sat,Sun,reportedZip"
    )
    lines = [header]
    for k in keys:
        created = datetime.datetime(2018, 3, 1 + k % 5, k % 24, k % 60, 0)
        ended = created + datetime.timedelta(minutes=30 + k % 90)
        c_str = created.strftime("%Y-%m-%d %H:%M:%S")
        if k % 4 == 0:  # exercise the two-zero-year repair (F2)
            c_str = "00" + c_str[2:]
        lines.append(
            f"{k},{5.0 + k % 10},{1.0 + k % 7},{c_str},"
            f"{ended.strftime('%Y-%m-%d %H:%M:%S')},0,0,{1.0 + k % 3},"
            f"{wdays[k % 7]},{plats[k % 3]},{2.5 + k % 5},{1000 + k % 50},"
            f"{100 + k % 20},{10 + k % 5},{k % 2},{1 + k % 4},"
            f"0,0,0,0,0,0,0,0"
        )
    with scratch_dir("lineage") as root:
        csv_path = os.path.join(root, "bronze.csv")
        with open(csv_path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        silver_path = os.path.join(root, "silver")
        quarantine_path = os.path.join(root, "quarantine")
        gold_table = os.path.join(root, "gold_snap")
        res = run_silver(spark, csv_path, silver_path, quarantine_path)
        run_gold(spark, silver_path, gold_table, table_format="snapshot")
        run_gold(spark, silver_path, gold_table, table_format="snapshot")
        head = st.current_version(gold_table)
        v1 = st.read_snapshot(spark, gold_table, version=1)
        v2 = st.read_snapshot(spark, gold_table, version=2)

        def _state(df):
            r = df.agg(
                F.count(F.lit(1)).alias("n"),
                dsum("kwhTotal").alias("s1"),
                dsum("session_duration_minutes").alias("s2"),
            ).collect()[0]
            return (r.n, str(r.s1), str(r.s2))

        contract_ok = (
            head == 2
            and res.good_count == len(keys)
            and res.bad_count == 0
            and _state(v1) == _state(v2)  # rerun idempotent, time travel intact
        )
        agg = (
            v2.groupBy("facilityType")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                dsum("kwhTotal").alias("sum_kwh"),
                dsum("session_duration_minutes").alias("sum_duration_min"),
                dsum("avg_cost_per_kwh").alias("sum_cost_per_kwh"),
            )
            .collect()
        )
    rows = [
        (
            r.facilityType,
            r.n,
            float(r.sum_kwh),
            float(r.sum_duration_min),
            float(r.sum_cost_per_kwh),
        )
        for r in agg
    ] + [("_contract", 1 if contract_ok else 0, None, None, None)]
    return local_df(spark, rows, out_schema).orderBy("facilityType")


ORACLE["ev_lineage_snapshot"] = f"""
WITH ks AS (
  SELECT o_orderkey AS k FROM orders ORDER BY o_orderkey LIMIT 200
), s AS (
  SELECT
    CASE 1 + (k % 4)
      WHEN 1 THEN 'Manufacturing' WHEN 2 THEN 'Office'
      WHEN 3 THEN 'Research and Development' ELSE 'Other'
    END AS facilityType,
    CAST(5.0 + (k % 10) AS DOUBLE) AS kwh,
    CAST(30 + (k % 90) AS DOUBLE) AS dur,
    CAST(1.0 + (k % 7) AS DOUBLE) / CAST(5.0 + (k % 10) AS DOUBLE)
      AS cost_per_kwh
  FROM ks
), agg AS (
  SELECT facilityType, COUNT(*) AS n,
         {dsum_sql('kwh')} AS sum_kwh,
         {dsum_sql('dur')} AS sum_duration_min,
         {dsum_sql('cost_per_kwh')} AS sum_cost_per_kwh
  FROM s GROUP BY facilityType
)
SELECT * FROM agg
UNION ALL
SELECT '_contract', 1, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE)
ORDER BY facilityType
"""


def q_snapshot_ddl_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-table management driven ENTIRELY through SQL *text*
    (sources/ddl.execute_sql) — the reference's SQL-first table
    surface (jobs/ev_sessions_gold_etl.py:127-150: CREATE TABLE IF
    NOT EXISTS (typed cols) USING iceberg PARTITIONED BY ...
    TBLPROPERTIES against the Glue catalog). The lifecycle opens with
    the reference's OWN DDL shape (r14): a plain COLUMN-LIST CREATE
    TABLE — an EMPTY typed table, no AS SELECT — fed by INSERT INTO
    ... SELECT; then properties and a CHECK constraint via ALTER
    TABLE, an append the constraint admits, RESTORE TO VERSION
    (dropping a bad batch), a second append, RENAME COLUMN
    (metadata-only), OPTIMIZE, ANALYZE, DML (conjunctive AND
    disjunctive WHERE — the OR statement lowers to DNF branches so
    each disjunct still prunes files), whole-row MERGE, ADD COLUMNS
    (metadata-only evolution: every pre-existing row null-fills the
    new field, a following UPDATE populates it), VACUUM —
    every step a text statement resolved against a warehouse root by
    bare table name (ddl.register_all_tables, the Glue-durability
    bootstrap). The final rollup replays the whole chain against the
    oracle: which rows each statement left visible, under which
    column name; contract columns pin the empty-create row count,
    the analyze row count, and the exact history operation sequence,
    so a silently misrouted statement hash-mismatches."""
    import os

    from ..sources import ddl as snapddl
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with scratch_dir("ddl_sql") as wh:
        t = os.path.join(wh, "facts")

        def run(stmt: str):
            return snapddl.execute_sql(spark, stmt, warehouse=wh)

        try:
            base = orders.filter(F.col("o_orderkey") % 7 == 0)
            # the reference's exact DDL shape: empty typed table with an
            # embedded -- comment, then INSERT INTO ... SELECT feeds it
            run(
                """
                CREATE TABLE IF NOT EXISTS facts (
                  o_orderkey BIGINT,
                  o_orderstatus STRING,
                  -- measure column (renamed to price later in the chain)
                  o_totalprice DOUBLE
                )
                USING snapshot
                """
            )  # v1 — EMPTY
            empty_create_rows = st.read_snapshot(spark, t, version=1).count()
            base.createOrReplaceTempView("ddl_sql_base")
            run(
                "INSERT INTO facts SELECT o_orderkey, o_orderstatus, "
                "o_totalprice FROM ddl_sql_base"
            )  # v2
            run("ALTER TABLE facts SET TBLPROPERTIES ('owner'='sql')")  # v3
            run(
                "ALTER TABLE facts ADD CONSTRAINT price_nonneg "
                "CHECK (o_totalprice >= 0)"
            )  # v4
            # bad batch lands (passes the constraint but is wrong data)...
            bad = base.select(
                (F.col("o_orderkey") + 5000000).alias("o_orderkey"),
                F.lit("X").alias("o_orderstatus"),
                F.col("o_totalprice"),
            )
            st.append(bad.filter(F.col("o_orderkey") % 3 == 0), t)  # v5
            # ...and is rolled back through SQL text
            run("RESTORE TABLE facts TO VERSION AS OF 4")  # v6
            # a negative-price batch must be REFUSED by the SQL-added
            # constraint (nothing published)
            neg = local_df(spark, 
                [(9000001, "X", -5.0)],
                "o_orderkey bigint, o_orderstatus string, o_totalprice double",
            )
            try:
                st.append(neg, t)
                constraint_enforced = False
            except st.ConstraintViolation:
                constraint_enforced = True
            good = base.select(
                (F.col("o_orderkey") + 6000000).alias("o_orderkey"),
                F.col("o_orderstatus"),
                (F.col("o_totalprice") * 2.0).alias("o_totalprice"),
            )
            st.append(good.filter(F.col("o_orderkey") % 2 == 0), t)  # v7
            # rename refuses while a CHECK constraint references the
            # column (correctly — the expression would silently break),
            # so the lifecycle drops it through SQL first
            try:
                run("ALTER TABLE facts RENAME COLUMN o_totalprice TO price")
                rename_guard_ok = False
            except ValueError:
                rename_guard_ok = True
            run("ALTER TABLE facts DROP CONSTRAINT price_nonneg")  # v8
            run("ALTER TABLE facts RENAME COLUMN o_totalprice TO price")  # v9
            run("OPTIMIZE facts")  # v10
            run("ANALYZE TABLE facts COMPUTE STATISTICS FOR COLUMNS price")  # v11
            # SQL DML leg (r13): INSERT (subquery over the re-registered
            # head view), UPDATE/DELETE through the skipping-friendly
            # conjunctive WHERE grammar, and whole-row MERGE — each one a
            # text statement routed to the snapshot DML
            snapddl.register_all_tables(spark, wh)
            run(
                "INSERT INTO facts SELECT o_orderkey + 90000000, "
                "o_orderstatus, price FROM facts WHERE o_orderkey % 1000 = 0"
            )  # v12
            run(
                "UPDATE facts SET price = price * 1.1 "
                "WHERE o_orderstatus = 'F' AND price < 50000"
            )  # v13
            run("DELETE FROM facts WHERE price > 500000")  # v14
            # disjunctive DELETE (r14): top-level OR lowers to DNF
            # branches — each disjunct prunes files independently
            run(
                "DELETE FROM facts WHERE (price < 950.0) "
                "OR (o_orderstatus = 'P' AND price > 400000.0)"
            )  # v15
            snapddl.register_all_tables(spark, wh)  # advance view to head
            run(
                "MERGE INTO facts USING (SELECT o_orderkey, o_orderstatus, "
                "price * 0.5 AS price FROM facts WHERE o_orderkey % 5 = 0) "
                "AS s ON t.o_orderkey = s.o_orderkey "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"
            )  # v16
            # ADD COLUMNS (r14): metadata-only schema evolution — every
            # row committed so far null-fills `chan`; the UPDATE then
            # populates it for one status through the same SQL surface
            run("ALTER TABLE facts ADD COLUMNS (chan string)")  # v17
            run("UPDATE facts SET chan = 'web' WHERE o_orderstatus = 'O'")  # v18
            # plain VACUUM (no RETAIN): sweeps orphans only — RETAIN n
            # HOURS now expires history by AGE (r13), which would delete
            # the very versions the contract below reads
            run("VACUUM facts")
            ops = [r.operation for r in run("DESCRIBE HISTORY facts").collect()]
            ops_expected = [
                "create",
                "append",  # INSERT INTO ... SELECT into the EMPTY table
                "set_properties",
                "add_constraint",
                "append",
                "rollback_to_v4",
                "append",
                "drop_constraint",
                "rename_column",
                "optimize",
                "analyze",
                "append",  # INSERT INTO
                "update",
                "delete",
                "delete",  # disjunctive DELETE (DNF)
                "overwrite",  # MERGE INTO
                "add_columns",  # metadata-only evolution
                "update",  # populates the added column
            ]
            # stats were computed at the ANALYZE version (v11), BEFORE the
            # DML leg — pin them against that version's row count (stats
            # are a versioned artifact, not a live view)
            stats = st._read_manifest(t, 11)["table_stats"]
            v11_rows = st.read_snapshot(spark, t, version=11).count()
            detail = run("DESCRIBE DETAIL facts").collect()[0]
            view = st.register_snapshot_view(spark, t, "ddl_sql_facts")
            rows = spark.sql(
                f"""
                SELECT o_orderstatus, COUNT(*) AS n,
                       {dsum_spark_sql('price')} AS sum_price,
                       COUNT(chan) AS n_chan
                FROM {view} GROUP BY o_orderstatus
                """
            ).collect()
            contract_ok = bool(
                constraint_enforced
                and rename_guard_ok
                and ops == ops_expected
                and empty_create_rows == 0
                and stats["rows"] == v11_rows
                and detail.properties == '{"owner": "sql"}'
                and detail.constraints == "{}"
            )
        finally:
            for vname in ("ddl_sql_facts", "ddl_sql_base", "facts"):
                try:
                    spark.catalog.dropTempView(vname)
                except Exception:
                    pass
    return local_df(spark, 
        [
            (r.o_orderstatus, r.n, float(r.sum_price), r.n_chan, contract_ok)
            for r in rows
        ],
        "o_orderstatus string, n bigint, sum_price double, "
        "n_chan bigint, contract_ok boolean",
    ).orderBy("o_orderstatus")


ORACLE["snapshot_ddl_sql"] = f"""
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 7 = 0
), s1 AS (
  -- create + valid append + rename(o_totalprice -> price)
  SELECT o_orderkey, o_orderstatus, o_totalprice AS price FROM base
  UNION ALL
  SELECT o_orderkey + 6000000, o_orderstatus, o_totalprice * 2.0
  FROM base WHERE (o_orderkey + 6000000) % 2 = 0
), s2 AS (
  -- INSERT INTO ... SELECT
  SELECT * FROM s1
  UNION ALL
  SELECT o_orderkey + 90000000, o_orderstatus, price
  FROM s1 WHERE o_orderkey % 1000 = 0
), s3 AS (
  -- UPDATE ... SET price = price * 1.1 WHERE status='F' AND price<50000
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderstatus = 'F' AND price < 50000
              THEN price * 1.1 ELSE price END AS price
  FROM s2
), s4 AS (
  -- DELETE FROM ... WHERE price > 500000
  SELECT * FROM s3 WHERE NOT (price > 500000)
), s4b AS (
  -- disjunctive DELETE (DNF): (price<950) OR (status='P' AND price>400k)
  SELECT * FROM s4
  WHERE NOT (price < 950.0 OR (o_orderstatus = 'P' AND price > 400000.0))
), s5 AS (
  -- MERGE matched-update: halve prices of keys % 5 = 0
  SELECT o_orderstatus,
         CASE WHEN o_orderkey % 5 = 0 THEN price * 0.5 ELSE price END
           AS price
  FROM s4b
)
SELECT o_orderstatus, COUNT(*) AS n,
       {dsum_sql('price')} AS sum_price,
       -- ADD COLUMNS (chan) null-fills every row, then
       -- UPDATE ... WHERE o_orderstatus = 'O' populates that group
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_chan,
       TRUE AS contract_ok
FROM s5
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def q_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD2 incremental-apply contract, value-oracled:
    ``scd2_apply(scd2(first), late)`` equals a window replay over the
    RETAINED change points (the first batch's run starts) plus the
    late batch — the core the streaming APPLY CHANGES ... STORED AS
    SCD TYPE 2 surface (streaming/ingest.cdc_scd2_stream) rides.
    The late batch is the INTERLEAVED third of the feed
    (event_id % 3 == 0), so most changes splice into the MIDDLE of
    already-built history: existing rows' valid_to must move,
    equal-payload neighbors must re-collapse, and same-ts collisions
    must break history-point-first (the nulls-first tiebreak).

    Retained points, NOT the raw first batch, are the honest replay
    base: SCD2 history stores one row per run, so a first-batch
    change that collapsed into its predecessor's run is gone — a late
    splice between two collapsed points cannot resurrect it (DLT's
    stored-versions semantics; the docstring of :func:`scd2_apply`
    states the same). The oracle derives the run starts with the same
    LAG window, unions the late points (history points order first at
    equal ts via NULLS FIRST), and re-derives runs — any divergence
    in the rebuild algebra hash-mismatches."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    first = ev.filter(F.col("event_id") % 3 != 0)
    late = ev.filter(F.col("event_id") % 3 == 0)
    hist = scd2(first, "user_id", "event_type", "ts", "event_id")
    return scd2_apply(
        hist, late, ["user_id"], ["event_type"], "ts", tiebreak="event_id"
    ).orderBy("user_id", "valid_from")


ORACLE["scd2_incremental"] = """
WITH first AS (
  SELECT user_id, event_type, ts, event_id FROM events
  WHERE event_id % 3 <> 0
), marked1 AS (
  SELECT user_id, event_type, ts,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM first
), points AS (
  SELECT user_id, event_type, ts, CAST(NULL AS BIGINT) AS tb
  FROM marked1 WHERE prev IS DISTINCT FROM event_type
  UNION ALL
  SELECT user_id, event_type, ts, event_id FROM events
  WHERE event_id % 3 = 0
), marked2 AS (
  SELECT user_id, event_type, ts, tb,
         LAG(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, tb ASC NULLS FIRST) AS prev
  FROM points
), changed AS (
  SELECT user_id, event_type, ts,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts, tb ASC NULLS FIRST) AS rn
  FROM marked2
  WHERE prev IS DISTINCT FROM event_type
)
SELECT a.user_id, a.event_type,
       a.ts AS valid_from,
       b.ts AS valid_to,
       b.ts IS NULL AS is_current
FROM changed a
LEFT JOIN changed b ON a.user_id = b.user_id AND b.rn = a.rn + 1
ORDER BY a.user_id, valid_from
"""


def q_snapshot_merge_clauses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional / column-level MERGE through SQL *text* (r14 —
    VERDICT r13 #2): the full Delta clause grammar ``WHEN MATCHED
    [AND c] THEN UPDATE SET col = expr`` / ``DELETE`` and ``WHEN NOT
    MATCHED [AND c] THEN INSERT (cols) VALUES (exprs)``, lowered by
    sources/ddl._lower_merge_clauses to a source rewrite over the
    joined aliases feeding the one whole-row merge core
    (snaptable.merge_into) — SQL text and the Python API share a
    single committed semantics. The statement exercises every new
    piece at once: two ordered MATCHED clauses (first-match-wins; the
    first one's assignment references BOTH aliases), a conditional
    column-list INSERT (unlisted columns land NULL), source rows
    matching no clause silently dropped, and two ordered WHEN NOT
    MATCHED BY SOURCE clauses — a conditional UPDATE SET (evaluated
    on target columns only; no source row exists) shadowing a
    conditional DELETE, so a row both clauses claim takes the UPDATE
    (first-match-wins across the BY SOURCE cascade too,
    apply_not_matched_by_source_clauses). The oracle replays the
    clause cascades as CASE logic; the NULL-status insert group keeps
    the column-list semantics honest in the hash."""
    import os

    from ..sources import ddl as snapddl
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with scratch_dir("merge_cl") as wh:
        t = os.path.join(wh, "facts")
        try:
            st.create_table(orders.filter(F.col("o_orderkey") % 6 == 0), t, [])
            orders.filter(F.col("o_orderkey") % 4 == 0).select(
                "o_orderkey",
                "o_orderstatus",
                (F.col("o_totalprice") * 1.5).alias("o_totalprice"),
            ).createOrReplaceTempView("merge_cl_src")
            snapddl.execute_sql(
                spark,
                "MERGE INTO facts USING merge_cl_src AS s "
                "ON t.o_orderkey = s.o_orderkey "
                "WHEN MATCHED AND s.o_totalprice > 200000.0 THEN UPDATE SET "
                "o_totalprice = s.o_totalprice - t.o_totalprice, "
                "o_orderstatus = 'H' "
                "WHEN MATCHED AND t.o_orderstatus = 'F' THEN DELETE "
                "WHEN NOT MATCHED AND s.o_totalprice < 50000.0 THEN INSERT "
                "(o_orderkey, o_totalprice) VALUES (s.o_orderkey, "
                "s.o_totalprice * 2.0) "
                "WHEN NOT MATCHED BY SOURCE AND t.o_totalprice < 100000.0 "
                "THEN UPDATE SET o_orderstatus = 'Z' "
                "WHEN NOT MATCHED BY SOURCE AND t.o_orderstatus = 'O' "
                "THEN DELETE",
                warehouse=wh,
            )
            out = (
                st.read_snapshot(spark, t)
                .groupBy("o_orderstatus")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    dsum("o_totalprice").alias("sum_price"),
                )
                .orderBy("o_orderstatus")
                .collect()
            )
        finally:
            try:
                spark.catalog.dropTempView("merge_cl_src")
            except Exception:
                pass
    return local_df(spark, 
        [(r.o_orderstatus, r.n, float(r.sum_price)) for r in out],
        "o_orderstatus string, n bigint, sum_price double",
    ).orderBy("o_orderstatus")


ORACLE["snapshot_merge_clauses"] = f"""
WITH tgt AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 6 = 0
), src AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice * 1.5 AS o_totalprice
  FROM orders WHERE o_orderkey % 4 = 0
), matched AS (
  -- first-match-wins cascade over the two MATCHED clauses
  SELECT t.o_orderkey,
         CASE WHEN s.o_totalprice > 200000.0 THEN 'H'
              ELSE t.o_orderstatus END AS o_orderstatus,
         CASE WHEN s.o_totalprice > 200000.0
              THEN s.o_totalprice - t.o_totalprice
              ELSE t.o_totalprice END AS o_totalprice,
         CASE WHEN s.o_totalprice > 200000.0 THEN FALSE
              WHEN t.o_orderstatus = 'F' THEN TRUE
              ELSE FALSE END AS del
  FROM tgt t JOIN src s ON t.o_orderkey = s.o_orderkey
), final AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM matched WHERE NOT del
  UNION ALL
  -- target rows the source never touched: the BY SOURCE cascade —
  -- UPDATE (first clause) wins over DELETE where both conditions hold
  SELECT o_orderkey,
         CASE WHEN o_totalprice < 100000.0 THEN 'Z'
              ELSE o_orderstatus END AS o_orderstatus,
         o_totalprice
  FROM tgt
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
    AND NOT (o_totalprice >= 100000.0 AND o_orderstatus = 'O')
  UNION ALL
  -- conditional column-list INSERT: status lands NULL
  SELECT o_orderkey, CAST(NULL AS VARCHAR) AS o_orderstatus,
         o_totalprice * 2.0 AS o_totalprice
  FROM src
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM tgt)
    AND o_totalprice < 50000.0
)
SELECT o_orderstatus, COUNT(*) AS n,
       {dsum_sql('o_totalprice')} AS sum_price
FROM final GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q_snapshot_replace_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r14 statement-vocabulary lifecycle, SQL text end-to-end
    (sources/ddl.execute_sql): CTAS CREATE -> INSERT OVERWRITE
    (static full-table overwrite, Spark's semantics) -> TRUNCATE
    (metadata-only: the head references ZERO files, nothing
    rewritten) -> INSERT INTO repopulates -> CREATE OR REPLACE
    re-declares schema AND content atomically with history preserved.
    Every row count along the chain is taken from
    ``snaptable.metadata_count`` — the manifest-only exact count
    (per-file stats minus deletion vectors, no Spark job) — so the
    driver hash also proves the metadata counts equal the real state
    at each step. Contract columns pin the exact history operation
    sequence, the truncate's zero-file commit, the SHOW PARTITIONS
    partition set, and DESCRIBE TABLE's partition flag after the
    replace; ``tt_sum`` hashes the TIME-TRAVELED pre-replace state
    (truncate + re-insert survived the replace in history)."""
    import os

    from ..sources import ddl as snapddl
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with scratch_dir("rtl") as wh:
        t = os.path.join(wh, "facts")

        def run(stmt: str):
            return snapddl.execute_sql(spark, stmt, warehouse=wh)

        try:
            base = orders.filter(F.col("o_orderkey") % 9 == 0)
            n_base = base.count()
            base.createOrReplaceTempView("rtl_base")
            run(
                "CREATE TABLE facts PARTITIONED BY (o_orderstatus) "
                "AS SELECT o_orderkey, o_orderstatus, o_totalprice "
                "FROM rtl_base"
            )  # v1
            c1 = st.metadata_count(t)
            snapddl.register_all_tables(spark, wh)
            run(
                "INSERT OVERWRITE facts SELECT o_orderkey, o_orderstatus, "
                "o_totalprice * 2.0 FROM facts WHERE o_orderkey % 2 = 0"
            )  # v2 — static full-table overwrite
            c2 = st.metadata_count(t)
            n_even = base.filter(F.col("o_orderkey") % 2 == 0).count()
            run("TRUNCATE TABLE facts")  # v3 — metadata-only
            c3 = st.metadata_count(t)
            zero_files = st._read_manifest(t, 3)["files"] == []
            run(
                "INSERT INTO facts SELECT o_orderkey, o_orderstatus, "
                "o_totalprice FROM rtl_base WHERE o_orderkey % 2 = 0"
            )  # v4 — repopulate after truncate
            c4 = st.metadata_count(t)
            run(
                "CREATE OR REPLACE TABLE facts "
                "PARTITIONED BY (o_orderstatus) AS "
                "SELECT o_orderstatus, COUNT(*) AS n FROM rtl_base "
                "GROUP BY o_orderstatus"
            )  # v5 — new schema + content, history preserved
            # time-traveled pre-replace state rides the hash as a scalar —
            # read AFTER the replace committed, so the query actually
            # proves REPLACE preserved history (a replace that dropped old
            # manifests or data files would break this read)
            tt_sum = float(
                st.read_snapshot(spark, t, version=4)
                .agg(dsum("o_totalprice").alias("s"))
                .collect()[0]
                .s
                or 0.0  # empty lake: SUM over zero rows is NULL
            )
            parts = {
                r.partition for r in run("SHOW PARTITIONS facts").collect()
            }
            desc = {
                r.col_name: r.is_partition
                for r in run("DESCRIBE TABLE facts").collect()
            }
            ops = [r.operation for r in run("DESCRIBE HISTORY facts").collect()]
            rows = (
                st.read_snapshot(spark, t)
                .orderBy("o_orderstatus")
                .collect()
            )
            statuses = {r.o_orderstatus for r in rows}
            contract_ok = bool(
                c1 == n_base
                and c2 == n_even
                and c3 == 0
                and zero_files
                and c4 == n_even
                and ops == ["create", "overwrite", "truncate",
                            "append", "replace"]
                and parts == {f"o_orderstatus={s}" for s in statuses}
                and desc == {"o_orderstatus": True, "n": False}
            )
        finally:
            for vname in ("rtl_base", "facts"):
                try:
                    spark.catalog.dropTempView(vname)
                except Exception:
                    pass
    return local_df(spark, 
        [
            (r.o_orderstatus, r.n, tt_sum, contract_ok)
            for r in rows
        ],
        "o_orderstatus string, n bigint, tt_sum double, contract_ok boolean",
    ).orderBy("o_orderstatus")


ORACLE["snapshot_replace_truncate"] = f"""
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 9 = 0
), tt AS (
  -- the time-traveled v4 state: truncate wiped v2, INSERT INTO
  -- repopulated from the base at ORIGINAL prices
  -- COALESCE mirrors the driver's empty-sum coercion, so both
  -- sides agree when no key satisfies the %2 filter
  SELECT COALESCE({dsum_sql('o_totalprice')}, 0.0) AS s FROM base
  WHERE o_orderkey % 2 = 0
)
SELECT o_orderstatus, COUNT(*) AS n,
       (SELECT s FROM tt) AS tt_sum,
       TRUE AS contract_ok
FROM base GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q_snapshot_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DLT's batch ``APPLY CHANGES INTO`` through SQL text (r14,
    sources/ddl.execute_sql): the feed derives keys by residue
    (``o_orderkey % 1000`` — every key carries MANY changes), the
    statement compacts per key by the sequence column (latest wins),
    rows whose LATEST change is a delete (``APPLY AS DELETE WHEN op =
    'D'``, op derived from the status) drop their match, sequence /
    op columns the target doesn't carry are dropped as feed plumbing,
    and pre-seeded keys outside the feed's residue range survive
    untouched — the full type-1 CDC apply contract in one statement.
    The oracle replays it as ROW_NUMBER latest-per-key."""
    import os

    from ..sources import ddl as snapddl
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders")
    with scratch_dir("ac") as wh:
        t = os.path.join(wh, "facts")
        try:
            seeded = spark.range(1000, 1010).select(
                F.col("id").cast("long").alias("k"),
                F.lit("Z").alias("label"),
                F.lit(1.0).alias("price"),
            )
            st.create_table(seeded, t, [])
            orders.select(
                (F.col("o_orderkey") % 1000).alias("k"),
                F.col("o_orderstatus").alias("label"),
                F.col("o_totalprice").alias("price"),
                F.col("o_orderkey").alias("seq"),
                F.when(F.col("o_orderstatus") == "F", "D")
                .otherwise("U")
                .alias("op"),
            ).createOrReplaceTempView("ac_feed")
            r = snapddl.execute_sql(
                spark,
                "APPLY CHANGES INTO facts FROM ac_feed KEYS (k) "
                "SEQUENCE BY seq APPLY AS DELETE WHEN op = 'D'",
                warehouse=wh,
            ).collect()[0]
            ok = r.operation == "apply_changes"
            out = (
                st.read_snapshot(spark, t)
                .groupBy("label")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    dsum("price").alias("sum_price"),
                )
                .collect()
            )
        finally:
            try:
                spark.catalog.dropTempView("ac_feed")
            except Exception:
                pass
    return local_df(spark, 
        [(r.label, r.n, float(r.sum_price), ok) for r in out],
        "label string, n bigint, sum_price double, contract_ok boolean",
    ).orderBy("label")


ORACLE["snapshot_apply_changes"] = f"""
WITH feed AS (
  SELECT o_orderkey % 1000 AS k, o_orderstatus AS label,
         o_totalprice AS price, o_orderkey AS seq
  FROM orders
), latest AS (
  SELECT k, label, price,
         ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
  FROM feed
), applied AS (
  SELECT label, price FROM latest WHERE rn = 1 AND label <> 'F'
  UNION ALL
  -- pre-seeded keys outside the feed's residue range survive
  SELECT 'Z' AS label, 1.0 AS price
  FROM range(1000, 1010)
)
SELECT label, COUNT(*) AS n, {dsum_sql('price')} AS sum_price,
       TRUE AS contract_ok
FROM applied GROUP BY label ORDER BY label
"""


def q_scd2_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch CDC replay through scd2_apply, hash-matched
    against a single-shot oracle (VERDICT r13 #8 — the streaming SCD2
    batch-equivalence argument made driver-checkable end-to-end): the
    events feed splits into three epochs applied strictly one after
    another — and deliberately OUT OF ORDER (epoch ``%3==0`` lands
    LAST), so most of its changes are LATE: they must splice into the
    middle of already-built history, move existing rows' valid_to
    boundaries, and close/reopen intervals around tombstones. The
    tombstones (every 51st event_id DELETEs its key) all ride the
    late epoch: SCD2 state is STORED VERSIONS, so a delete applied
    while its key has no live predecessor leaves no trace — it cannot
    retroactively close an insert spliced in later (DLT's APPLY
    CHANGES drops deletes of unseen keys the same way); putting
    deletes where history is complete keeps replay == single-shot
    while still exercising late tombstone splicing. The final
    history must equal the single-shot SCD2-with-tombstones build
    over the whole feed — the exactly-once replay contract the
    streaming surface (cdc_scd2_stream) rides, epoch semantics and
    all. Timestamps are the globally-unique event_id, so the replay
    is order-deterministic without a tiebreak; payloads are made
    unique per change point (``event_type#event_id``) because SCD2
    history is STORED VERSIONS — a change that collapsed into its
    predecessor's equal-payload run is gone from history, so a later
    splice between the two cannot resurrect it (the documented
    semantics, see :func:`q_scd2_incremental`); replay therefore
    equals single-shot exactly on collapse-free feeds (consecutive
    DELETE collapse, which IS replay-stable, still occurs here)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.concat_ws(
            "#", "event_type", F.col("event_id").cast("string")
        ).alias("payload"),
        F.col("event_id").alias("vt"),
        (F.col("event_id") % 51 == 0).alias("is_del"),
        F.col("event_id"),
    )
    hist = local_df(spark, 
        [],
        "user_id bigint, payload string, valid_from bigint, "
        "valid_to bigint, is_current boolean",
    )
    for epoch in (1, 2, 0):  # epoch 0 applied LAST -> late splices
        batch = ev.filter(F.col("event_id") % 3 == epoch).drop("event_id")
        hist = scd2_apply(
            hist,
            batch,
            ["user_id"],
            ["payload"],
            "vt",
            delete_col="is_del",
        )
        # each epoch's rebuild feeds the next: pin the frame so the
        # lineage doesn't grow a 3-deep window-over-window plan
        hist = hist.localCheckpoint(eager=True)
    return hist.orderBy("user_id", "valid_from")


ORACLE["scd2_replay"] = """
WITH feed AS (
  SELECT user_id,
         CASE WHEN event_id % 51 = 0 THEN NULL
              ELSE concat_ws('#', event_type, CAST(event_id AS VARCHAR))
         END AS payload,
         event_id AS vt,
         (event_id % 51 = 0) AS is_del
  FROM events
), marked AS (
  SELECT user_id, payload, vt, is_del,
         LAG(payload) OVER w AS pp,
         LAG(is_del) OVER w AS pd
  FROM feed WINDOW w AS (PARTITION BY user_id ORDER BY vt)
), changed AS (
  SELECT user_id, payload, vt, is_del,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY vt) AS rn
  FROM marked
  WHERE pp IS DISTINCT FROM payload OR pd IS DISTINCT FROM is_del
)
SELECT a.user_id, a.payload, a.vt AS valid_from,
       b.vt AS valid_to, b.vt IS NULL AS is_current
FROM changed a
LEFT JOIN changed b ON a.user_id = b.user_id AND b.rn = a.rn + 1
WHERE NOT a.is_del
ORDER BY a.user_id, valid_from
"""


def q_snapshot_liquid_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Liquid-clustering lifecycle (sources/snaptable.set_clustering +
    optimize's clusterBy default — Delta liquid clustering's
    declare-once surface): declare clustering keys as table metadata
    through SQL text, run a PLAIN `OPTIMIZE` (no keys restated), and
    verify the layout actually changed query behavior — the file-level
    stats pruning contract (`files_pruned_lt_total`), plus guards
    (unknown column refused, CLUSTER BY NONE unsets). The final
    per-band aggregate replays the table content in DuckDB, so the
    rewrite's row preservation is value-checked, not just counted."""
    import os

    from ..sources import ddl as snapddl
    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 1000).cast("int").alias("cust_band"),
        "o_totalprice",
    )
    with scratch_dir("liquid") as wh:
        t = os.path.join(wh, "facts")

        def run(stmt: str):
            return snapddl.execute_sql(spark, stmt, warehouse=wh)

        # shuffled layout: cust_band spread across every file
        st.create_table(orders.repartition(8), t, [])
        try:
            run("ALTER TABLE facts CLUSTER BY (no_such_col)")
            unknown_refused = False
        except ValueError:
            unknown_refused = True
        run("ALTER TABLE facts CLUSTER BY (cust_band)")
        declared = st.table_properties(t).get("clusterBy") == "cust_band"
        before = st._manifest_at(t)[1]
        pruned_before = len(
            st._prune_files(t, before, [("cust_band", "=", 7)])
        )
        # no cluster_by restated — optimize must pick up the declared
        # keys; 8 output files so range-split pruning is observable
        st.optimize(spark, t, files_per_partition=8)
        after = st._manifest_at(t)[1]
        pruned_after = len(st._prune_files(t, after, [("cust_band", "=", 7)]))
        files_pruned_lt_total = bool(
            pruned_before == len(before["files"])  # shuffled: no pruning
            and pruned_after < len(after["files"])  # clustered: pruning
        )
        run("ALTER TABLE facts CLUSTER BY NONE")
        unset_ok = "clusterBy" not in st.table_properties(t)
        contract_ok = bool(
            unknown_refused and declared and files_pruned_lt_total and unset_ok
        )
        rows = (
            st.read_snapshot(spark, t)
            .groupBy((F.col("cust_band") % 10).alias("band"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                dsum("o_totalprice").alias("sum_price"),
            )
            .orderBy("band")
            .collect()
        )
    return local_df(spark, 
        [(r.band, r.n, float(r.sum_price), contract_ok) for r in rows],
        "band int, n bigint, sum_price double, contract_ok boolean",
    ).orderBy("band")


ORACLE["snapshot_liquid_clustering"] = f"""
SELECT CAST((o_custkey % 1000) % 10 AS INT) AS band, COUNT(*) AS n,
       {dsum_sql('o_totalprice')} AS sum_price,
       TRUE AS contract_ok
FROM orders
GROUP BY band
ORDER BY band
"""


def q_snapshot_copy_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY INTO lifecycle (sources/snaptable.copy_into — the
    idempotent landing-directory ingest the reference's S3->Glue
    trigger pattern needs): two landing files load in one atomic
    commit, an immediate re-run loads ZERO (the per-commit source
    ledger), a third file arriving later loads exactly itself, and a
    PATTERN-filtered copy into a second table takes only the matching
    file. Contract columns pin the loaded/skipped arithmetic and the
    op sequence; the final rollup value-checks that idempotence never
    duplicated a row."""
    import os

    from ..sources import snaptable as st
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with scratch_dir("copyinto") as root:
        land = os.path.join(root, "landing")
        os.makedirs(land)

        def drop(name: str, df) -> None:
            stage = os.path.join(root, "stage_" + name)
            df.coalesce(1).write.parquet(stage)
            part = next(
                f for f in os.listdir(stage) if f.endswith(".parquet")
            )
            os.rename(os.path.join(stage, part), os.path.join(land, name))

        t = os.path.join(root, "facts")
        t2 = os.path.join(root, "f_only")
        drop("batch_a.parquet", orders.filter(F.col("o_orderkey") % 3 == 0))
        drop("batch_b.parquet", orders.filter(F.col("o_orderkey") % 3 == 1))
        st.create_table(orders.limit(0), t, [])
        r1 = st.copy_into(spark, t, land)
        r2 = st.copy_into(spark, t, land)  # idempotent re-run
        drop("batch_c.parquet", orders.filter(F.col("o_orderkey") % 3 == 2))
        r3 = st.copy_into(spark, t, land)  # only the new file
        st.create_table(orders.limit(0), t2, [])
        r4 = st.copy_into(spark, t2, land, pattern="batch_a.*")
        ops = [h["operation"] for h in st.history(t)]
        contract_ok = bool(
            (r1["loaded_files"], r1["skipped_files"]) == (2, 0)
            and (r2["loaded_files"], r2["skipped_files"]) == (0, 2)
            and r2["version"] is None
            and (r3["loaded_files"], r3["skipped_files"]) == (1, 2)
            # pattern scopes the candidate set BEFORE skip counting:
            # non-matching files are out of scope, not "skipped"
            and (r4["loaded_files"], r4["skipped_files"]) == (1, 0)
            and ops == ["create", "copy_into", "copy_into"]
            and len(st.copied_files(t)) == 3
        )
        rows = (
            st.read_snapshot(spark, t)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n"),
                dsum("o_totalprice").alias("sum_price"),
            )
            .orderBy("o_orderstatus")
            .collect()
        )
        n_pattern = st.read_snapshot(spark, t2).count()
    return local_df(spark, 
        [
            (r.o_orderstatus, r.n, float(r.sum_price), n_pattern, contract_ok)
            for r in rows
        ],
        "o_orderstatus string, n bigint, sum_price double, "
        "n_pattern bigint, contract_ok boolean",
    ).orderBy("o_orderstatus")


ORACLE["snapshot_copy_into"] = f"""
SELECT o_orderstatus, COUNT(*) AS n,
       {dsum_sql('o_totalprice')} AS sum_price,
       (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 = 0)
         AS n_pattern,
       TRUE AS contract_ok
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def q_snapshot_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy-driven maintenance sweep (sources/maintenance.py — the
    managed-lakehouse auto-upkeep surface): a fragmented table
    declares its policies through SQL TBLPROPERTIES (auto-compact
    with a per-partition cap, age-based vacuum, analyze), a
    policy-free sibling sits beside it, and ONE run_maintenance pass
    applies exactly what each declares. Contract columns pin: the
    dry-run audit flags the fragmentation but commits nothing, the
    real pass compacts to the cap / sweeps superseded files / lands
    stats, the policy-free table is untouched, and a second pass
    no-ops. The final per-status rollup value-checks that maintenance
    preserved every row."""
    import os

    from ..sources import ddl as snapddl
    from ..sources import snaptable as st
    from ..sources.maintenance import run_maintenance
    from ..sources.readers import read_fixture

    orders = read_fixture(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with scratch_dir("maint") as wh:
        t = os.path.join(wh, "hot")
        st.create_table(
            orders.repartition(6), t, ["o_orderstatus"]
        )  # 6 files per status dir: fragmented
        st.create_table(
            orders.limit(10).coalesce(1), os.path.join(wh, "cold"), []
        )
        snapddl.execute_sql(
            spark,
            "ALTER TABLE hot SET TBLPROPERTIES ("
            "'maintenance.autoCompact'='true', "
            "'maintenance.maxFilesPerPartition'='2', "
            "'maintenance.vacuumRetainHours'='0', "
            "'maintenance.analyze'='o_totalprice', "
            "'vacuum.graceSeconds'='0')",
            warehouse=wh,
        )
        dry = run_maintenance(spark, wh, dry_run=True)
        head_after_dry = st.current_version(t)
        real = run_maintenance(spark, wh)
        man = st._manifest_at(t)[1]
        from collections import Counter

        per_part = Counter(f.split("/")[1] for f in man["files"])
        stats = man["table_stats"]
        second = run_maintenance(spark, wh)
        rows = (
            st.read_snapshot(spark, t)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n"),
                dsum("o_totalprice").alias("sum_price"),
            )
            .orderBy("o_orderstatus")
            .collect()
        )
        total = sum(r.n for r in rows)
        contract_ok = bool(
            dry["hot"]["compaction_plan"]  # fragmentation flagged
            and head_after_dry == 2  # dry run committed nothing
            and dry["cold"] == {} == real["cold"]  # no policy, untouched
            and real["hot"]["compacted_versions"]
            and real["hot"]["vacuum"]["deleted_files"] > 0
            and all(n <= 2 for n in per_part.values())
            and stats["rows"] == total
            and second["hot"]["compacted_versions"] == []
            and second["hot"]["vacuum"]["deleted_files"] == 0
        )
    return local_df(spark, 
        [
            (r.o_orderstatus, r.n, float(r.sum_price), contract_ok)
            for r in rows
        ],
        "o_orderstatus string, n bigint, sum_price double, "
        "contract_ok boolean",
    ).orderBy("o_orderstatus")


ORACLE["snapshot_maintenance"] = f"""
SELECT o_orderstatus, COUNT(*) AS n,
       {dsum_sql('o_totalprice')} AS sum_price,
       TRUE AS contract_ok
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""
