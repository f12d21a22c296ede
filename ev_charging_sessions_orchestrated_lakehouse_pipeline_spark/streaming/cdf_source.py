"""Structured Streaming SOURCE over the snapshot table — Delta's
streaming source (DeltaSource's reservoir-version offsets) rebuilt on
the Python DataSource API (Spark 4) — and the sink that pairs with it:

    register_snapshot_stream(spark)
    df = read_snapshot_stream(spark, table)          # readStream
    write_snapshot_stream(spark, df2, other_table, ckpt)  # sink

The DataSource is read-only. The sink, :func:`write_snapshot_stream`,
is a ``foreachBatch`` over :func:`..sources.snaptable.append`: each
epoch is one append commit tagged ``txn = (app_id, epoch_id)`` (the
DeltaSink handshake), written by the same path every batch commit
takes, and a replayed epoch is skipped by the one exactly-once check,
:func:`.ingest._commit_epoch`.

Offsets are COMMIT VERSIONS (``{"version": N}`` = every commit <= N
consumed), so resume-from-checkpoint replays a deterministic range of
immutable manifests — exactly-once across kill/restart with no
source-side state. Commits stream as their ADDED files (one input
partition per file, the parallelism unit, like Delta's file-based
streaming batches), each row tagged ``_commit_version``.

Each commit is planned by :func:`..sources.snaptable._change_plan`,
the one planner the batch :func:`..sources.snaptable.changes` feed
uses too: every entry of its plan becomes one input partition.
Semantics match Delta's source contract:

* append commits stream their new rows;
* OPTIMIZE commits stream nothing (the planner gives them no entry:
  content-identical by contract, like Delta's no-data compaction
  commits);
* a commit whose plan holds anything but whole-file inserts (it
  REMOVES files or changes deletion vectors) is an error by default
  (a pure append feed cannot represent it), skipped wholesale with
  ``skipChangeCommits=true`` (Delta's option verbatim), or — with
  ``readChangeFeed=true`` — streamed as ROW-LEVEL CHANGES:
  ``_change_type`` insert|delete, the batch feed's rows (added files
  as inserts, removed files as deletes under the parent's DVs, kept
  files' DV deltas as position-selected MoR deletes or rollback
  re-inserts). The cursor-driven batch consumer is
  :func:`..sources.snaptable.refresh_count_sum_view`.

Scale: the driver plans each micro-batch from manifest DIFFS (tiny,
O(files touched)); executors read only the added files via Arrow
batches — no full-table listing, no payload through the driver. At
100 TB this is the "tail the table" primitive: downstream silver/gold
streams consume exactly the new files of each commit.

Reference lineage: upgrades the reference's incremental unit — Glue
job re-runs per partition (jobs/ev_sessions_gold_etl.py:156) — to
continuous consumption, the same step Delta users take when moving a
batch MERGE pipeline onto a streaming source.

Trigger note: Spark's Python streaming sources don't implement the
``Trigger.AvailableNow`` admission protocol, so an availableNow
query logs a warning and falls back to SINGLE-BATCH execution —
one micro-batch from the checkpointed offset to the current head,
then stop. For this source that is semantically identical (offsets
are versions; one batch covers the same range), which the
drain-restart tests rely on.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from ..functions.localframe import local_df

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

SOURCE_NAME = "snapshot_stream"
COMMIT_COL = "_commit_version"
CHANGE_COL = "_change_type"


@dataclass
class _FilePartition(InputPartition):
    """One added data file of one commit: everything the executor
    needs, precomputed driver-side (no package imports on workers)."""

    path: str  # absolute parquet path (physical column names inside)
    rel: str  # table-relative path (stats lookups in the END manifest)
    version: int
    renames: dict  # physical -> logical column renames for this file
    part_values: list  # [(logical col, decoded value | None), ...]
    schema_ddl: str  # declared source schema as a StructType json
    # GENERATED ALWAYS AS IDENTITY derivation for this file: (col,
    # start, step, base_row_id | None, row_id_col); base None means
    # the file materializes row_id_col and ids come from that column
    identity: tuple | None = None
    # deletion-vector row positions: EXCLUDED from the file's rows by
    # default (bootstrap snapshots, CDF sides reading under their own
    # vectors), or with dv_select=True the ONLY rows read (a kept
    # file's newly-masked positions = this commit's MoR deletes)
    dv_positions: list | None = None
    dv_select: bool = False
    # CDF row label this file contributes ("insert" | "delete")
    change: str = "insert"
    # the adding commit's row-id allocation entry (subset of stats)
    add_alloc: dict | None = None


#: hive writes a null partition value as this sentinel directory name
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _decode_hive(raw: str):
    """Partition value as Spark's partition discovery would surface
    it: percent-unescaped, null sentinel -> None (batch/stream reads
    of the same table must agree on values like 'a:b' or NULL)."""
    if raw == _HIVE_NULL:
        return None
    from urllib.parse import unquote

    return unquote(raw)


def _manifest_chain(table: str):
    # local import: the module is pickled BY VALUE to python workers
    # (register_snapshot_stream), which must not drag the engine in
    from ..sources import snaptable as st

    return st


def _opt_bool(opts: dict, name: str) -> bool:
    """Truthiness of an already-lowercased option map entry — ONE
    parse shared by the reader and schema() so they can never
    disagree about a mode."""
    return str(opts.get(name, "false")).lower() in ("true", "1")


def _opt_path(options: dict) -> str:
    """The table path from DSv2's case-insensitive option map —
    ``.load(path)`` or ``.option("table", path)``."""
    opts = {k.lower(): v for k, v in options.items()}
    table = opts.get("path") or opts.get("table")
    if not table:
        raise ValueError(
            "snapshot_stream needs .load(<table path>) or "
            '.option("table", <table path>)'
        )
    return table


class SnapshotStreamReader(DataSourceStreamReader):
    def __init__(self, schema, options: dict) -> None:
        # DSv2 hands options through a case-insensitive map; normalize
        opts = {k.lower(): v for k, v in options.items()}
        self._table = _opt_path(options)
        self._skip_changes = _opt_bool(opts, "skipchangecommits")
        # Delta's streaming readChangeFeed: stream EVERY commit's
        # row-level changes (_change_type insert|delete, the batch
        # changes() vocabulary) instead of an append-only feed —
        # rewrites and deletes become data, not errors
        self._cdf = _opt_bool(opts, "readchangefeed")
        if self._cdf and self._skip_changes:
            raise ValueError(
                "readChangeFeed and skipChangeCommits are mutually "
                "exclusive: one streams change commits, the other "
                "drops them"
            )
        self._starting = str(opts.get("startingversion", "earliest"))
        # Delta's startingTimestamp twin: the stream begins at the
        # FIRST commit at or after the timestamp (see initialOffset).
        # A timestamp predating retained history degrades to the
        # earliest-bootstrap start; one past the head starts empty.
        # Mutually exclusive with startingVersion, like Delta.
        self._starting_ts = opts.get("startingtimestamp")
        if self._starting_ts is not None and "startingversion" in opts:
            raise ValueError(
                "startingVersion and startingTimestamp are mutually "
                "exclusive"
            )
        # admission control (Delta's maxFilesPerTrigger): cap how many
        # DATA FILES a micro-batch may cover, advancing the end offset
        # whole versions at a time (offsets are versions). 0/absent =
        # unbounded. Scope (a Python-source API reality, measured):
        # the engine's FIRST latestOffset of a run arrives before the
        # reader has seen any offset (initialOffset may not have been
        # consulted yet, and after a checkpoint restart it never is),
        # so the first micro-batch of each run is uncapped — capping
        # it blind could move the end offset BEHIND a checkpointed
        # start and re-stream consumed commits. partitions() then
        # seeds the cursor, and every later batch of the run is
        # bounded — the 24/7 load-smoothing contract.
        self._max_files = int(opts.get("maxfilespertrigger", 0) or 0)
        # byte-based admission (Delta's maxBytesPerTrigger, a soft
        # max): cap each micro-batch's cumulative DATA FILE bytes,
        # composing with maxFilesPerTrigger — the batch ends when
        # EITHER budget would be exceeded. File sizes come from the
        # manifest's per-file stats ("bytes", a metadata read), so at
        # 100 TB — where file sizes vary by orders of magnitude and a
        # file-count cap alone admits wildly uneven batches — the
        # byte cap smooths load without stat-ing the lake. A single
        # file larger than the budget still forms its own batch
        # (always-progress, same as the file cap).
        self._max_bytes = int(opts.get("maxbytespertrigger", 0) or 0)
        self._cursor: int | None = None
        self._schema_json = schema.json()
        self._schema_names = [f.name for f in schema.fields]
        if self._cdf and CHANGE_COL not in self._schema_names:
            # a user-supplied .schema() without the label column would
            # stream deletes indistinguishable from inserts
            raise ValueError(
                f"readChangeFeed=true needs the {CHANGE_COL!r} column "
                "in the stream schema; omit .schema() to use the "
                "source-provided one"
            )

    # -- offsets ---------------------------------------------------------
    def initialOffset(self) -> dict:
        st = _manifest_chain(self._table)
        versions = st._list_versions(self._table)
        if not versions:
            raise ValueError(f"{self._table} does not exist")
        if self._starting_ts is not None:
            # Delta's contract: stream every change committed AT OR
            # AFTER the timestamp. A timestamp predating retained
            # history degrades to the earliest-with-bootstrap start;
            # one past the head starts empty and waits for commits.
            ts = float(self._starting_ts)
            # committed_at is stored verbatim on the raw (segment)
            # form and is forced monotonic at commit time, so raw
            # reads suffice — materializing every manifest here would
            # reconstruct full file maps and DV sidecars per version
            # just to read one float
            later = [
                v
                for v in versions
                if st._raw_manifest(self._table, v)["committed_at"] >= ts
            ]
            if later and later[0] == versions[0]:
                off = {"version": versions[0] - 1, "bootstrap": True}
            elif later:
                # the offset must name a RETAINED version: vacuum with
                # tags leaves numeric gaps, and later[0] - 1 could be
                # an expired manifest no restart can ever read. The
                # previous retained version collapses the gap into one
                # net diff, same as the vacuumed-history batch path.
                off = {"version": versions[versions.index(later[0]) - 1]}
            else:
                off = {"version": versions[-1]}
        elif self._starting == "earliest":
            # the earliest KEPT manifest is a self-contained
            # checkpoint; "bootstrap" marks that NOTHING was consumed
            # yet, so if its diff base expired (vacuum retain_last)
            # the whole snapshot legitimately streams as adds
            off = {"version": versions[0] - 1, "bootstrap": True}
        elif self._starting == "latest":
            off = {"version": versions[-1]}
        else:
            off = {"version": int(self._starting) - 1}
        self._cursor = off["version"]
        return off

    def _file_bytes(self, manifest: dict, f: str) -> int:
        """A data file's size: the manifest stat when recorded
        (steady state — no filesystem call), os.path.getsize as the
        fallback for files committed before the bytes stat existed."""
        import os

        e = (manifest.get("file_stats") or {}).get(f) or {}
        if "bytes" in e:
            return int(e["bytes"])
        try:
            return os.path.getsize(os.path.join(self._table, f))
        except OSError:
            return 0

    def latestOffset(self) -> dict:
        st = _manifest_chain(self._table)
        head = int(st.current_version(self._table) or 0)
        if (
            not (self._max_files or self._max_bytes)
            or self._cursor is None
            or head <= self._cursor
        ):
            return {"version": head}
        # advance whole versions until a budget is spent; always make
        # progress (at least one version) so a single commit larger
        # than the budget still streams
        budget = self._max_files
        budget_b = self._max_bytes
        spent = 0
        spent_b = 0
        end = self._cursor
        prev = None
        for v in st._list_versions(self._table):
            if v > head:
                break
            if v <= self._cursor:
                if v == self._cursor:
                    prev = st._read_manifest(self._table, v)
                continue
            cur = st._read_manifest(self._table, v)
            # the files a batch will read, each with the side whose
            # stats size it: a change feed reads its plan (deletes and
            # DV deltas too, none for OPTIMIZE), an append feed the
            # added files
            if self._cdf:
                sides = {
                    rel: side for rel, side, *_ in st._change_plan(prev, cur)
                }
            else:
                before = set(prev["files"]) if prev is not None else set()
                sides = {f: cur for f in cur["files"] if f not in before}
            n = len(sides)
            b = sum(self._file_bytes(side, f) for f, side in sides.items())
            if end > self._cursor and (
                (budget and spent + n > budget)
                or (budget_b and spent_b + b > budget_b)
            ):
                break
            spent += n
            spent_b += b
            end = v
            prev = cur
        return {"version": end}

    # -- planning (driver) ----------------------------------------------
    def partitions(self, start: dict, end: dict):
        st = _manifest_chain(self._table)
        lo, hi = int(start["version"]), int(end["version"])
        # (re-)seed the admission cursor — after a checkpoint restart
        # this is the first place the engine reveals the offsets
        self._cursor = max(hi, self._cursor or hi)
        versions = st._list_versions(self._table)
        out: list[_FilePartition] = []
        prev = last = None
        for v in versions:
            if v > hi:
                break
            if v <= lo:
                if v == lo:
                    prev = st._read_manifest(self._table, v)
                continue
            cur = st._read_manifest(self._table, v)
            snapshot_mode = False
            if prev is None and cur.get("parent") is not None:
                try:
                    prev = st._read_manifest(self._table, cur["parent"])
                except OSError:
                    # the diff base expired (vacuum retain_last). A
                    # BOOTSTRAP offset consumed nothing, and the
                    # earliest kept manifest is a self-contained
                    # checkpoint — its whole LIVE snapshot streams as
                    # adds (whatever operation wrote it, DVs applied).
                    # Any other offset has consumed rows whose diff
                    # base is gone: fail loudly (Delta's
                    # offset-out-of-retention error), never re-stream.
                    if start.get("bootstrap") and v == versions[0]:
                        snapshot_mode = True
                    else:
                        raise ValueError(
                            f"offset v{lo} of {self._table} expired: "
                            f"v{cur['parent']} was vacuumed (earliest "
                            f"kept is v{versions[0]}); restart the "
                            "stream with a fresh checkpoint"
                        ) from None
            if snapshot_mode:
                out.extend(self._plan_snapshot(st, cur, v))
            else:
                out.extend(self._plan_commit(st, prev, cur, v))
            prev = last = cur
        if out:
            # physical->logical renames resolve under the batch END
            # version's column mapping, for EVERY file in the range:
            # files always carry the physical name the mapping tracks,
            # so a file written BEFORE a rename still surfaces under
            # the current logical name (and the resolution is
            # deterministic per offset range — replays see the same
            # manifests). A rename/drop of a DECLARED column inside
            # the range is a schema change the fixed-schema stream
            # cannot represent: fail like Delta and ask for a restart.
            mapping = last.get("column_mapping") or {}
            end_names = {
                f["name"] for f in json.loads(last["schema"])["fields"]
            }
            if last.get("identity"):
                # derived, not in the manifest schema — still present
                end_names.add(last["identity"]["col"])
            gone = (
                set(self._schema_names)
                - {COMMIT_COL, CHANGE_COL}
                - end_names
            )
            if gone:
                raise ValueError(
                    f"column(s) {sorted(gone)} of {self._table} were "
                    "renamed or dropped inside this micro-batch; the "
                    "stream's schema is fixed at start — restart the "
                    "stream to pick up the new schema"
                )
            renames = {phys: logical for logical, phys in mapping.items()}
            # identity resolves from the END manifest too: a file
            # written BEFORE enable_identity has no ids in ITS commit,
            # but the end manifest's stats carry base_row_id for every
            # live file — the stream must surface the same surrogate
            # keys the batch read derives
            ident = last.get("identity")
            end_stats = last.get("file_stats") or {}
            for part in out:
                part.renames = renames
                if ident:
                    # resolution order: the ADDING commit's allocation
                    # (present for every post-tracking add, so the file
                    # may be compacted away later in the same range),
                    # else the end manifest's stats (covers files
                    # written BEFORE enable_identity, which got their
                    # ids at enablement — but only while still live at
                    # the range end; a pre-tracking file removed
                    # in-range has no allocation anywhere and fails
                    # loudly below)
                    e = part.add_alloc or end_stats.get(part.rel) or {}
                    base = e.get("base_row_id")
                    if base is None and not e.get("materialized_row_ids"):
                        raise ValueError(
                            f"file {part.rel} of {self._table} has no "
                            "row-id allocation at v"
                            f"{last['version']}; cannot derive identity "
                            f"column {ident['col']!r} for the stream"
                        )
                    part.identity = (
                        ident["col"],
                        int(ident["start"]),
                        int(ident["step"]),
                        None if base is None else int(base),
                        st.ROW_ID_COL,  # physical materialized-id column
                    )
        return out

    def _plan_commit(self, st, prev, cur, version: int):
        plan = st._change_plan(prev, cur)
        if not self._cdf and any(
            select or change != "insert" for _, _, _, select, change in plan
        ):
            if self._skip_changes:
                return []  # Delta's skipChangeCommits: drop wholesale
            raise ValueError(
                f"commit v{version} of {self._table} "
                f"({cur['operation']}) rewrites or deletes existing "
                "rows; a streaming source is an append feed — use "
                "skipChangeCommits=true to ignore such commits, "
                "readChangeFeed=true to stream them as change rows, "
                "or consume the batch change feed (snaptable.changes)"
            )
        pcols = st._spec_names(cur["partition_cols"])
        return [
            self._mk_part(
                st, side, pcols, rel, version,
                dv_positions=ps, dv_select=select, change=change,
            )
            for rel, side, ps, select, change in plan
        ]

    def _plan_snapshot(self, st, cur, version: int):
        """Bootstrap after vacuumed history: the earliest kept
        manifest is a self-contained checkpoint, so its entire LIVE
        row set streams as adds — whatever operation wrote it
        (optimize, DV delete, ...), with deletion vectors applied
        per file on the executor (the positions ride the partition)."""
        dvs = cur.get("deletion_vectors") or {}
        pcols = st._spec_names(cur["partition_cols"])
        return [
            self._mk_part(
                st, cur, pcols, f, version, dv_positions=dvs.get(f)
            )
            for f in cur["files"]
        ]

    def _mk_part(
        self,
        st,
        manifest,
        pcols,
        f,
        version,
        dv_positions=None,
        dv_select=False,
        change="insert",
    ):
        """``manifest`` is the side the file reads under (the plan
        entry's side): the commit for inserts/kept files, the PARENT
        for removed files (its stats hold the file's row-id
        allocation)."""
        pv = st._partition_values(f, pcols)
        # that side's row-id allocation, when it has one — the most
        # durable identity source (see partitions()'s post-pass)
        e = (manifest.get("file_stats") or {}).get(f) or {}
        add_alloc = {
            k: e[k]
            for k in ("base_row_id", "materialized_row_ids")
            if k in e
        } or None
        return _FilePartition(
            path=os.path.join(self._table, f),
            rel=f,
            version=version,
            renames={},  # filled in partitions() from the END mapping
            part_values=[
                (c, _decode_hive(pv[c]))
                for c in pcols
                if c in pv and c in self._schema_names
            ],
            schema_ddl=self._schema_json,
            # a plain list: the partition pickles to workers, which
            # must not import the engine (a lazy ref decodes here)
            dv_positions=list(dv_positions) if dv_positions else None,
            dv_select=dv_select,
            change=change,
            add_alloc=add_alloc,
        )

    # -- execution (workers) ---------------------------------------------
    def read(self, partition: _FilePartition):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructType

        target = to_arrow_schema(
            StructType.fromJson(json.loads(partition.schema_ddl))
        )
        tbl = pq.read_table(partition.path)
        if partition.renames:
            tbl = tbl.rename_columns(
                [partition.renames.get(c, c) for c in tbl.column_names]
            )
        n = tbl.num_rows
        if partition.identity is not None:
            # BEFORE any DV filter: with base allocation the id is
            # base + ORIGINAL parquet row index
            col, start, step, base, rid_col = partition.identity
            if base is None:  # materialized stable ids in the file
                rid = tbl.column(rid_col).to_numpy(zero_copy_only=False)
                tbl = tbl.drop_columns([rid_col])
            else:
                import numpy as np

                rid = base + np.arange(n, dtype="int64")
            tbl = tbl.append_column(
                col, pa.array(start + step * rid, pa.int64())
            )
        if partition.dv_positions:
            import numpy as np

            # exclude the masked positions — or, with dv_select, keep
            # ONLY them (a commit's merge-on-read deletes)
            keep = np.full(n, not partition.dv_select, dtype=bool)
            keep[np.asarray(partition.dv_positions, dtype="int64")] = (
                partition.dv_select
            )
            tbl = tbl.filter(pa.array(keep))
            n = tbl.num_rows
        for col, sval in partition.part_values:
            tbl = tbl.append_column(col, pa.array([sval] * n, pa.string()))
        if CHANGE_COL in target.names:  # readChangeFeed mode
            tbl = tbl.append_column(
                CHANGE_COL, pa.array([partition.change] * n, pa.string())
            )
        tbl = tbl.append_column(
            COMMIT_COL, pa.array([partition.version] * n, pa.int64())
        )
        cols = []
        for field in target:
            if field.name in tbl.column_names:
                cols.append(tbl.column(field.name).cast(field.type))
            else:  # schema widened after this file was written: null-fill
                cols.append(pa.nulls(n, field.type))
        for batch in pa.table(cols, schema=target).to_batches():
            yield batch

    def commit(self, end: dict) -> None:
        pass  # offsets are durable in the stream checkpoint

    def stop(self) -> None:
        pass


class SnapshotStreamDataSource(DataSource):
    """``spark.readStream.format("snapshot_stream").load(table)``."""

    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def schema(self):
        from pyspark.sql.types import LongType, StructType

        table = _opt_path(self.options)
        st = _manifest_chain(table)
        _, man = st._manifest_at(table)
        base = StructType.fromJson(json.loads(man["schema"]))
        ident = man.get("identity")
        if ident:
            # part of the table's logical contract: every batch read
            # surfaces the derived surrogate key, so the stream must too
            base = base.add(ident["col"], LongType())
        opts = {k.lower(): v for k, v in self.options.items()}
        if _opt_bool(opts, "readchangefeed"):
            from pyspark.sql.types import StringType

            base = base.add(CHANGE_COL, StringType())
        return base.add(COMMIT_COL, LongType())

    def streamReader(self, schema) -> SnapshotStreamReader:
        return SnapshotStreamReader(schema, dict(self.options))


def register_snapshot_stream(spark) -> None:
    """Register the source for this session. The module (and the
    engine modules its planning path touches) pickle BY VALUE so
    python workers never need the repo on their import path."""
    import cloudpickle

    import ev_charging_sessions_orchestrated_lakehouse_pipeline_spark as pkg

    from ..sources import snaptable
    from . import cdf_source

    for m in (cdf_source, snaptable, pkg):
        cloudpickle.register_pickle_by_value(m)
    spark.dataSource.register(SnapshotStreamDataSource)


def read_snapshot_stream(
    spark,
    table: str,
    starting_version: int | str = "earliest",
    skip_change_commits: bool = False,
    max_files_per_trigger: int = 0,
    max_bytes_per_trigger: int = 0,
    read_change_feed: bool = False,
    starting_timestamp: float | None = None,
):
    """Streaming DataFrame over the table's commit log (see module
    docstring for semantics). ``max_files_per_trigger`` bounds each
    micro-batch's file count (whole versions at a time; 0 =
    unbounded) — starting a stream against a 100 TB backlog without
    it plans the entire history as one batch.
    ``max_bytes_per_trigger`` caps cumulative data-file BYTES per
    batch (manifest stats, no filesystem stat) and composes with the
    file cap — Delta's pairing: file sizes vary by orders of
    magnitude at scale, so a count cap alone admits uneven batches. ``read_change_feed``
    streams row-level changes (``_change_type`` insert|delete, planned
    like the batch :func:`..sources.snaptable.changes`) instead of
    the append-only feed — the streaming leg of incremental view
    maintenance."""
    r = spark.readStream.format(SOURCE_NAME)
    if starting_timestamp is not None:
        if starting_version != "earliest":
            raise ValueError(
                "starting_version and starting_timestamp are mutually "
                "exclusive"
            )
        r = r.option("startingTimestamp", str(starting_timestamp))
    else:
        r = r.option("startingVersion", str(starting_version))
    return (
        r.option("skipChangeCommits", str(skip_change_commits).lower())
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .option("maxBytesPerTrigger", str(max_bytes_per_trigger))
        .option("readChangeFeed", str(read_change_feed).lower())
        .load(table)
    )


def _sink_epoch(table: str, app_id: str, batch, epoch_id: int) -> None:
    """One epoch of :func:`write_snapshot_stream`: one
    :func:`..sources.snaptable.append` commit tagged ``txn = (app_id,
    epoch_id)``, skipped when the table already committed the epoch
    (:func:`.ingest._commit_epoch`). An empty epoch publishes nothing
    (epoch ids may gap in the txn index)."""
    from ..sources import snaptable as st
    from .ingest import _commit_epoch

    txn = (app_id, int(epoch_id))

    def commit() -> None:
        if not batch.isEmpty():
            st.append(batch, table, txn=txn)

    _commit_epoch(table, txn, commit)


def write_snapshot_stream(
    spark,
    df,
    table: str,
    checkpoint: str,
    partition_cols: list[str] | None = None,
    app_id: str | None = None,
    available_now: bool = True,
):
    """Start the exactly-once snapshot sink for a streaming frame — the
    Delta streaming-sink protocol as a ``foreachBatch``: every epoch
    is one txn-tagged :func:`..sources.snaptable.append`
    (:func:`_sink_epoch`), so the sink takes append's admission gate
    (identity refusal, generated columns, CHECK constraints), its
    writer (hidden partitioning, Spark's hive escaping, footer stats)
    and its conflict rebase, each checked against the head the epoch
    lands on: DDL committed between epochs is honoured, or the epoch
    refuses (a renamed, dropped or retyped column).

    Creates the table (empty, with ``partition_cols``) if it does not
    exist yet; a stream carrying a column the table lacks, or one it
    retypes, is refused here, before any epoch runs. The txn identity
    defaults to a digest of the checkpoint location (one logical
    writer per checkpoint, like Delta: a fixed default shared by every
    caller would make one query's epochs look like another's replays,
    and a fresh checkpoint means a fresh identity and reprocessing);
    pass ``app_id`` to name it explicitly. Returns the
    StreamingQuery."""
    import functools
    import hashlib

    from ..sources import snaptable as st

    if st.current_version(table) is None:
        st.create_table(
            local_df(spark, [], df.schema), table, partition_cols or []
        )
    st._evolve_schema(st._manifest_at(table)[1]["schema"], df, merge_schema=False)
    app_id = app_id or (
        "snapshot_stream_writer_"
        + hashlib.sha256(os.path.abspath(checkpoint).encode()).hexdigest()[:16]
    )
    w = df.writeStream.foreachBatch(
        functools.partial(_sink_epoch, table, app_id)
    ).option("checkpointLocation", checkpoint)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()
