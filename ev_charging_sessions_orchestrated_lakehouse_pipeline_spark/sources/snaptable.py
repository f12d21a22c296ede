"""Snapshot table format: ACID-ish versioned tables over plain
Parquet via atomic manifest commits — the in-engine equivalent of the
reference's Iceberg v2 gold table (``jobs/ev_sessions_gold_etl.py:
69-75,147-150``: snapshots, time travel, ``overwritePartitions``),
built because neither Iceberg nor delta-spark is importable in this
image (README "Delta Lake status").

Log-structured design (the same shape as the Delta/Iceberg logs):

```
<table>/
  _snapshots/v00000001.json   one manifest per committed version
  data/<hive partition dirs>/part-*.parquet
```

- **Data files are immutable and written first** (Spark append into
  the shared ``data/`` tree — part-file names embed task UUIDs, so
  concurrent or crashed writes can never collide). A writer that dies
  here leaves orphan files no manifest references: readers are
  unaffected, :func:`vacuum` reclaims them.
- **The manifest IS the commit.** Logically it lists every data file
  (relative path) visible in that version plus the operation, parent
  version, schema, and partition columns. On disk, only every
  ``CHECKPOINT_INTERVAL``-th commit stores that full list (a
  CHECKPOINT); the commits between store LOG SEGMENTS — the file-set
  diff (``add_files``/``remove_files``) plus new-or-changed stats
  entries — so steady-state commit metadata is O(files touched), not
  O(table files): the Delta checkpoint + log-segment / Iceberg
  manifest-reuse property. :func:`_read_manifest` materializes either
  form into the same full dict. It is published with
  write-temp → ``os.link`` → unlink, which is atomic on POSIX and
  FAILS with ``FileExistsError`` if the version was concurrently
  committed — optimistic concurrency. A losing commit first attempts
  AUTOMATIC RECONCILIATION (:func:`_try_rebase`, the Delta/Iceberg
  retry-with-revalidation protocol): blind appends and logically
  disjoint rewrites rebase onto the new head and publish with no
  caller involvement; only TRUE conflicts surface as
  :class:`ConcurrentCommit` (then the caller re-reads and retries,
  e.g. via :func:`commit_with_retry`).
- **Readers never list directories for state**: they read the highest
  committed manifest (or an explicit ``version=`` for time travel)
  and scan exactly the files it names, with ``basePath`` set so the
  Hive partition columns resolve identically for files from different
  commits. Snapshot isolation falls out: a reader holding version N's
  file list is immune to later commits, and VACUUM retains every file
  any kept manifest references.
- **One resolver**: :func:`_manifest_at` is the single place a version
  (head, or an explicit one) is resolved to its manifest, and the
  single source of the "does not exist" errors.
- **One commit contract**: :func:`_commit` alone decides what a new
  manifest carries forward from its parent; callers pass only what
  their operation changes.
- **One write path**: every data-adding commit admits its new rows
  through :func:`_admit` (identity refusal, generated columns, CHECK
  constraints) and writes its files, with their footer stats, through
  :func:`_write_data` under the column mapping that commit lands with;
  :func:`_fresh_aliases` is the one rule that gives a new column a
  physical alias.
- **One change-feed planner**: :func:`_change_plan` alone says which
  rows a commit inserted or deleted; the batch :func:`changes`, the
  streaming change feed and its admission budget all read through
  it, and an unchanged deletion vector is compared by reference,
  never decoded.
- **Time-range skipping**: each file's footer min/max stats cover
  DATE and TIMESTAMP columns too, kept in the manifest as epoch days
  and epoch microseconds (:func:`_temporal_bounds`), so
  :func:`_prune_files` skips files outside a ``created`` range with no
  partition filter. The session writes INT64 TIMESTAMP(MICROS), so
  every new file has them; INT96 files, from Spark's default or an
  older commit, carry none and are never skipped on time.

At 100 TB the manifests stay tiny (file paths + counts, not data) and
the read plan is exactly the same partition-pruned Parquet scan as a
static table — Catalyst sees a normal file source; the format adds no
per-row overhead anywhere. On a real object store the ``os.link``
publish becomes a conditional PUT, which is precisely how Delta
commits on S3 — the semantics here mirror that contract.
"""

from __future__ import annotations

import functools
import json
import os
import re
import shutil
import time
import uuid
from ..functions.localframe import local_df

from pyspark.sql import DataFrame, SparkSession

SNAPSHOT_DIR = "_snapshots"
DATA_DIR = "data"


class ConcurrentCommit(RuntimeError):
    """Another writer published this version first; re-read and retry."""


class ConstraintViolation(ValueError):
    """An incoming batch broke a table CHECK constraint; nothing was
    published (the batch's data files are invisible orphans)."""


def _snap_dir(table: str) -> str:
    return os.path.join(table, SNAPSHOT_DIR)


def _data_dir(table: str) -> str:
    return os.path.join(table, DATA_DIR)


def _manifest_path(table: str, version: int) -> str:
    return os.path.join(_snap_dir(table), f"v{version:08d}.json")


def _list_versions(table: str) -> list[int]:
    d = _snap_dir(table)
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        if f.startswith("v") and f.endswith(".json"):
            try:
                out.append(int(f[1:-5]))
            except ValueError:
                continue
    return sorted(out)


#: reader feature flags this engine implements (the Delta/Iceberg
#: protocol-versioning model, expressed as named table features): a
#: manifest listing a feature OUTSIDE this set was written by a newer
#: writer whose semantics this reader does not know — refusing loudly
#: beats silently misreading (the exact failure Delta's
#: readerFeatures gate exists to prevent).
SUPPORTED_READER_FEATURES = frozenset(
    {
        "deletion-vectors",
        "column-mapping",
        "generated-columns",
        "hidden-partitioning",
        "type-widening",
        "row-tracking",
        "identity-columns",
    }
)

#: writer feature flags this engine implements (Delta ships reader AND
#: writer feature lists): a feature constrains WRITERS when committing
#: requires upholding an invariant a plain reader never touches —
#: CHECK constraints must be validated, generated/identity columns
#: computed, row ids allocated above the high-water mark, DV/mapping/
#: widening manifests kept coherent. An engine missing a writer flag
#: may still READ the table (reader gating is separate) but must
#: refuse to COMMIT: a writer that can read a row-tracked table yet
#: doesn't understand id allocation would commit id-corrupting
#: manifests.
SUPPORTED_WRITER_FEATURES = frozenset(
    {
        "check-constraints",
        "deletion-vectors",
        "column-mapping",
        "generated-columns",
        "hidden-partitioning",
        "type-widening",
        "row-tracking",
        "identity-columns",
    }
)

#: physical column carrying MATERIALIZED row ids in files rewritten by
#: OPTIMIZE on a row-tracked table (Delta's materialized row-ID
#: column): never part of the table schema, invisible to normal reads
ROW_ID_COL = "_rt_row_id"


#: every CHECKPOINT_INTERVAL-th commit in a chain is a self-contained
#: checkpoint (full file list + stats); the commits between are LOG
#: SEGMENTS that store only the file-set diff vs their parent — the
#: Delta log/checkpoint + Iceberg manifest-reuse property. Without
#: this, every commit on a 100 TB / million-file table rewrites
#: O(n_files) metadata; with it, steady-state commit metadata is
#: O(files touched) and a read materializes at most one checkpoint
#: plus CHECKPOINT_INTERVAL-1 segments.
CHECKPOINT_INTERVAL = 10

#: stored-form-only keys a segment uses; stripped on materialization
_SEGMENT_KEYS = ("segment", "base", "chain_depth", "add_files", "remove_files", "stats_removed")

#: deletion vectors larger than this externalize to immutable sidecar
#: files (Delta's DV-file design): the manifest then carries a tiny
#: {"$dv": name, "n": count} ref instead of the position list, an
#: UNCHANGED vector's ref is reused verbatim by every later commit,
#: and vacuum reclaims sidecars no kept manifest references. Keeps
#: heavy-delete tables from bloating every manifest (and every log
#: segment) with O(deleted rows) JSON. Sidecars are written in the
#: compact ``.dvb`` run-length binary form (Delta uses RoaringBitmap
#: for the same reason — see :func:`_encode_dv_binary`); ``.json``
#: int-list sidecars from older commits remain readable.
DV_INLINE_MAX = 64

#: default age (seconds) below which vacuum will NOT reclaim an
#: unreferenced data file or DV sidecar — the safety margin for
#: writers that stage files before publishing the manifest (Delta
#: VACUUM's retention window in miniature). Override per call with
#: ``vacuum(..., grace_seconds=0)`` when no writer can be in flight.
VACUUM_GRACE_SECONDS = 600.0


#: binary DV sidecar magic (version 1): run-length + varint encoding
DV_BINARY_MAGIC = b"DVB1"


def _put_varint(buf: bytearray, n: int) -> None:
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def _get_varint(data: bytes, pos: int) -> tuple[int, int]:
    shift = n = 0
    while True:
        b = data[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not (b & 0x80):
            return n, pos
        shift += 7


def _encode_dv_binary(positions) -> bytes:
    """Compact binary deletion vector: sorted positions as
    (gap, run_length-1) varint pairs — the run-length + delta shape
    RoaringBitmap exploits, in a dependency-free form. A DENSE delete
    (contiguous row positions, the common bulk-delete pattern) costs
    a few bytes per RUN regardless of row count, vs O(deleted rows)
    of JSON text; scattered singles cost 2-3 bytes each vs ~9. Layout:
    magic 'DVB1', varint count, then pairs. Positions are deduped
    defensively: a duplicate would make the gap varint negative and
    the encoder spin forever — this is the durable sidecar format, so
    it must not trust its caller."""
    ps = sorted(set(positions))
    if ps and ps[0] < 0:
        raise ValueError(f"negative row position {ps[0]} in deletion vector")
    out = bytearray(DV_BINARY_MAGIC)
    _put_varint(out, len(ps))
    prev_end = 0
    i = 0
    while i < len(ps):
        j = i
        while j + 1 < len(ps) and ps[j + 1] == ps[j] + 1:
            j += 1
        _put_varint(out, ps[i] - prev_end)
        _put_varint(out, j - i)
        prev_end = ps[j] + 1
        i = j + 1
    return bytes(out)


def _decode_dv_binary(data: bytes) -> list[int]:
    if data[: len(DV_BINARY_MAGIC)] != DV_BINARY_MAGIC:
        raise ValueError("not a DVB1 deletion-vector sidecar")
    pos = len(DV_BINARY_MAGIC)
    count, pos = _get_varint(data, pos)
    out: list[int] = []
    cur = 0
    while len(out) < count:
        gap, pos = _get_varint(data, pos)
        run, pos = _get_varint(data, pos)
        start = cur + gap
        out.extend(range(start, start + run + 1))
        cur = start + run + 1
    return out


@functools.lru_cache(maxsize=32)
def _load_dv_sidecar(path: str, size: int, mtime_ns: int) -> tuple[int, ...]:
    """Decode one DV sidecar, memoized. Sidecar files are immutable
    by construction (uuid-named, written once before the manifest
    publish, only ever deleted by vacuum), so the key can never serve
    stale positions — and the pure-Python varint decode of a large
    vector (~60k positions) runs once per process instead of once per
    manifest materialization (~45x per lifecycle query, measured).
    ``mtime_ns`` guards the one hole a (path, size) key leaves: a
    table directory deleted and re-created/copied in place with a
    same-named same-size sidecar of DIFFERENT content (the
    protocol/forged-table tests do copy table dirs)."""
    with open(path, "rb") as fh:
        data = fh.read()
    if path.endswith(".dvb"):
        return tuple(_decode_dv_binary(data))
    return tuple(json.loads(data))


def _dv_sidecar_count(path: str) -> int:
    """Position count of a ``.dvb`` sidecar from its header alone —
    magic + one varint, no decode of the (possibly huge) body."""
    with open(path, "rb") as fh:
        head = fh.read(len(DV_BINARY_MAGIC) + 10)  # varint <= 10 bytes
    if head[: len(DV_BINARY_MAGIC)] != DV_BINARY_MAGIC:
        raise ValueError("not a DVB1 deletion-vector sidecar")
    count, _pos = _get_varint(head, len(DV_BINARY_MAGIC))
    return count


#: A sidecar whose position count exceeds this stays a LAZY ref after
#: manifest resolution: the read path (_apply_dvs) decodes it in
#: EXECUTORS and anti-joins without a broadcast, so the driver never
#: holds O(deleted rows) Python ints for tables whose DVs grew to
#: scale (guide §5 — the driver should do almost no data work). Reads
#: below the threshold keep the measured-fast LocalRelation broadcast
#: path. Driver-side consumers that genuinely need the positions
#: (commit carry-forward, CDF set diffs) decode lazily on first use —
#: exactly what they paid before, via the same memoized loader.
DV_DRIVER_DECODE_MAX = 1_000_000


class _LazyDVPositions:
    """Sequence view over a large ``.dvb`` sidecar that defers the
    decode until positions are actually iterated/indexed. ``len()``
    (and truthiness) come from the header count, so manifest-level
    bookkeeping (``if ps``, ``len(ps)``) never triggers a decode."""

    __slots__ = ("path", "size", "mtime_ns", "count")

    def __init__(self, path: str, size: int, mtime_ns: int, count: int):
        self.path = path
        self.size = size
        self.mtime_ns = mtime_ns
        self.count = count

    def _positions(self) -> tuple[int, ...]:
        return _load_dv_sidecar(self.path, self.size, self.mtime_ns)

    def __len__(self) -> int:
        return self.count

    def __iter__(self):
        return iter(self._positions())

    def __getitem__(self, i):
        return self._positions()[i]

    def __eq__(self, other):
        if isinstance(other, _LazyDVPositions):
            if (self.path, self.size, self.mtime_ns) == (
                other.path,
                other.size,
                other.mtime_ns,
            ):
                return True
            return self._positions() == other._positions()
        if isinstance(other, (list, tuple)):
            return list(self._positions()) == list(other)
        return NotImplemented

    def __repr__(self) -> str:
        return f"_LazyDVPositions({self.path!r}, n={self.count})"


def _resolve_dvs(table: str, dvs: dict) -> dict:
    """Materialize sidecar refs into position lists (reader form).
    Binary ``.dvb`` sidecars (current writer) and the JSON int-list
    form older commits wrote both resolve — tables never need a
    rewrite to stay readable. Sidecars above DV_DRIVER_DECODE_MAX
    positions resolve to a lazy ref (see :class:`_LazyDVPositions`)
    instead of a driver-side list."""
    out = {}
    for f, val in dvs.items():
        if isinstance(val, dict):
            path = os.path.join(_snap_dir(table), val["$dv"])
            st = os.stat(path)
            if path.endswith(".dvb"):
                count = _dv_sidecar_count(path)
                if count > DV_DRIVER_DECODE_MAX:
                    out[f] = _LazyDVPositions(
                        path, st.st_size, st.st_mtime_ns, count
                    )
                    continue
            out[f] = list(
                _load_dv_sidecar(path, st.st_size, st.st_mtime_ns)
            )
        else:
            out[f] = val
    return out


def _externalize_dvs(
    table: str, version: int, dvs: dict, parent_raw: dict, parent_resolved: dict
) -> dict:
    """Commit-time DV storage form: reuse the parent's entry (inline
    or ref) when the vector is unchanged, inline small vectors, write
    a sidecar for large ones. Sidecars land BEFORE the manifest
    publish — a lost race leaves an orphan vacuum reclaims."""
    out = {}
    for f, ps in dvs.items():
        raw = parent_raw.get(f)
        if raw is not None and parent_resolved.get(f) == ps:
            out[f] = raw
            continue
        if len(ps) <= DV_INLINE_MAX:
            out[f] = ps
        else:
            name = f"dv-v{version:08d}-{uuid.uuid4().hex[:12]}.dvb"
            os.makedirs(_snap_dir(table), exist_ok=True)
            with open(os.path.join(_snap_dir(table), name), "wb") as fh:
                fh.write(_encode_dv_binary(ps))
            out[f] = {"$dv": name, "n": len(ps)}
    return out


def _raw_manifest(table: str, version: int) -> dict:
    """The manifest exactly as stored (checkpoint or segment), no
    reconstruction and no feature gate — internal plumbing only."""
    with open(_manifest_path(table, version)) as fh:
        return json.load(fh)


def _read_manifest(table: str, version: int) -> dict:
    """Materialize version ``version``: checkpoints return as-is;
    segments reconstruct files/file_stats by applying the diff chain
    on top of the nearest ancestor checkpoint (recursion depth is
    bounded by CHECKPOINT_INTERVAL). Reader-feature gating runs on
    the stored form — features are sticky-carried, so every stored
    manifest names its full requirement set."""
    m = _raw_manifest(table, version)
    unknown = set(m.get("reader_features") or []) - SUPPORTED_READER_FEATURES
    if unknown:
        raise ValueError(
            f"{table} v{version} requires reader feature(s) this engine "
            f"does not implement: {sorted(unknown)} — written by a newer "
            f"writer; upgrade before reading"
        )
    if not m.get("segment"):
        if any(
            isinstance(v, dict)
            for v in (m.get("deletion_vectors") or {}).values()
        ):
            m["deletion_vectors"] = _resolve_dvs(table, m["deletion_vectors"])
        return m
    base = _read_manifest(table, m["base"])
    removed = set(m["remove_files"])
    kept = [f for f in base["files"] if f not in removed]
    stats = {
        f: base["file_stats"][f] for f in kept if f in base["file_stats"]
    }
    for f in m.get("stats_removed", ()):
        stats.pop(f, None)
    stats.update(m["file_stats"])
    out = {k: v for k, v in m.items() if k not in _SEGMENT_KEYS}
    out["files"] = kept + m["add_files"]
    out["file_stats"] = stats
    if any(
        isinstance(v, dict)
        for v in (out.get("deletion_vectors") or {}).values()
    ):
        out["deletion_vectors"] = _resolve_dvs(table, out["deletion_vectors"])
    return out


def _manifest_at(table: str, version: int | None = None) -> tuple[int, dict]:
    """Resolve ``version`` (default: the head) and materialize its
    manifest — the one place every read, DML, DDL and ref operation
    answers "which version?". Raises ``ValueError`` when the table has
    no committed version, or when an explicit ``version`` was never
    committed (or retention expired it). An explicit version costs one
    existence check; the directory is listed only for the head or for
    the error message."""
    if version is None or not os.path.exists(_manifest_path(table, version)):
        versions = _list_versions(table)
        if not versions:
            raise ValueError(f"{table} does not exist")
        if version is not None:
            raise ValueError(
                f"version {version} of {table} does not exist (head={versions[-1]})"
            )
        version = versions[-1]
    return version, _read_manifest(table, version)


# per-commit staging directories under data/ (see _write_data): files
# move from here into their final partition dirs before the manifest
# publish, so a staged file is never referenced by any manifest
_STAGING_PREFIX = "_staging-"


def _list_data_files(table: str) -> set[str]:
    """All parquet files under data/, as table-relative paths."""
    root = _data_dir(table)
    found = set()
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                found.add(os.path.relpath(os.path.join(dirpath, f), table))
    return found


def _partition_values(rel_path: str, partition_cols: list[str]) -> dict:
    """Hive partition values encoded in a file's directory path."""
    vals = {}
    for seg in rel_path.split(os.sep):
        if "=" in seg:
            k, _, v = seg.partition("=")
            if k in partition_cols:
                vals[k] = v
    return vals


def _path_values(rel_path: str) -> dict:
    """ALL hive key=value pairs in a file's path, whatever partition
    spec wrote it — the per-file source of truth that makes partition
    evolution work: each file prunes and reads under the spec it was
    written with, not the table's current one."""
    vals = {}
    for seg in rel_path.split(os.sep):
        if "=" in seg:
            k, _, v = seg.partition("=")
            vals[k] = v
    return vals


# ---------------------------------------------------------------------------
# Hidden partitioning (Iceberg's signature): partition_cols entries
# may be TRANSFORMS of source columns — "days(ts)" or
# "bucket(N,col)" — instead of plain names. The derived hive column
# is materialized only in the directory layout (never stored in data
# files, never surfaced to readers), and filters on the SOURCE
# column prune directories through the transform: a ts range maps to
# a day-string range, an equality on a bucketed key maps to exactly
# one bucket. Like the bloom index, bucket() uses the hash60 md5
# family so the write-side expression and the Python probe are the
# same function; bucketed columns should be integer/string (float
# and bool string forms differ between JVM and Python).
# ---------------------------------------------------------------------------
_TRANSFORM_RE = None


def _parse_transform(entry: str):
    """(kind, source_col, param, derived_name) for a partition_cols
    entry; kind='identity' for a plain column name."""
    import re

    global _TRANSFORM_RE
    if _TRANSFORM_RE is None:
        _TRANSFORM_RE = re.compile(
            r"^(?:(days)\((\w+)\)|(bucket)\((\d+)\s*,\s*(\w+)\))$"
        )
    m = _TRANSFORM_RE.match(entry.strip())
    if m is None:
        return ("identity", entry, None, entry)
    if m.group(1) == "days":
        col = m.group(2)
        return ("days", col, None, f"{col}_day")
    n, col = int(m.group(4)), m.group(5)
    return ("bucket", col, n, f"{col}_bucket")


def _spec_names(partition_cols: list[str]) -> list[str]:
    """Hive directory column names for a partition spec (derived
    names for transform entries, the column itself otherwise)."""
    return [_parse_transform(e)[3] for e in partition_cols]


def _validate_spec(partition_cols: list[str], field_names: set[str]) -> None:
    """Reject a partition spec whose TRANSFORM entries reference a
    missing source column or derive a hive name that collides with a
    real schema column — a collision would silently partition by the
    user's column instead of the derived value."""
    for entry in partition_cols:
        kind, col, _param, name = _parse_transform(entry)
        if kind == "identity":
            continue
        if col not in field_names:
            raise ValueError(f"transform source column missing: {entry}")
        if name in field_names:
            raise ValueError(
                f"derived partition column {name!r} (from {entry!r}) "
                f"collides with an existing schema column"
            )


def _layout_frame(df: DataFrame, partition_cols: list[str]):
    """(df with derived layout columns materialized, hive names) —
    what :func:`_write_data` partitions by. Identity entries pass
    through; transform entries add their derived column."""
    from pyspark.sql import functions as F

    from ..functions.hashing import hash60

    names = []
    for entry in partition_cols:
        kind, col, param, name = _parse_transform(entry)
        if name in df.columns:
            pass  # already materialized (idempotent re-derivation)
        elif kind == "days":
            df = df.withColumn(name, F.date_format(F.col(col), "yyyy-MM-dd"))
        elif kind == "bucket":
            df = df.withColumn(
                name, (hash60(F.col(col).cast("string")) % param).cast("int")
            )
        names.append(name)
    return df, names


def _bucket_of(value, n: int) -> int:
    """Python twin of the bucket() write expression."""
    import hashlib

    h = int(hashlib.md5(str(value).encode()).hexdigest()[:15], 16)
    return h % n


def _day_of(value) -> str:
    """Canonical day string of a filter literal (datetime/date/str)."""
    import datetime

    if isinstance(value, (datetime.datetime, datetime.date)):
        return value.strftime("%Y-%m-%d")
    return str(value)[:10]


def _transform_prunes(entry: str, pvals: dict, op: str, val) -> bool:
    """False when the transform PROVES no row in this directory can
    satisfy (source_col op val); True (keep) otherwise."""
    kind, col, param, name = _parse_transform(entry)
    if kind == "identity" or name not in pvals:
        return True
    d = pvals[name]
    if kind == "bucket":
        if op in ("=", "=="):
            return int(d) == _bucket_of(val, param)
        return True  # buckets carry no order: only equality prunes
    day = _day_of(val)
    if op in ("=", "=="):
        return d == day
    if op in (">", ">="):
        return d >= day
    if op in ("<", "<="):
        return d <= day
    return True


def _file_spec(rel_path: str) -> tuple[str, ...]:
    """A file's partition-spec signature: the sorted set of hive keys
    in its path (empty tuple = unpartitioned layout)."""
    return tuple(sorted(_path_values(rel_path)))


# Injection seam for interleaving tests: when set, called with
# (table, version, manifest) immediately BEFORE each manifest publish.
# It may block (barrier two writers so both compute against the same
# parent) or raise (simulate a crash at the publish point); it cannot
# alter the commit. This exists so concurrency tests and the
# `snapshot_concurrent_writers` registry query never have to swap
# engine internals like `_publish` itself.
pre_publish_hook = None


def _publish(table: str, version: int, manifest: dict) -> None:
    """Atomic, collision-detecting manifest publish (write-temp +
    hard-link). A lost race raises :class:`ConcurrentCommit` and
    leaves no partial state."""
    hook = pre_publish_hook
    if hook is not None:
        hook(table, version, manifest)
    os.makedirs(_snap_dir(table), exist_ok=True)
    final = _manifest_path(table, version)
    tmp = final + f".{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, final)
    except FileExistsError:
        raise ConcurrentCommit(
            f"version {version} of {table} was committed concurrently"
        ) from None
    finally:
        os.unlink(tmp)


# Commit-reconciliation policy by operation (Delta/Iceberg
# retry-with-revalidation): how a LOSING commit may relate to files
# the interleaved winners added.
#   lenient    — winner additions never conflict (blind appends;
#                OPTIMIZE, whose rewrite preserves exactly the rows of
#                the files it removes, so a concurrent append's file
#                simply carries through the rebase)
#   partition  — winner additions conflict only inside the partitions
#                this commit rewrites (overwrite_partitions / pruned
#                MERGE: a concurrent append into a rewritten partition
#                would be silently clobbered or missed — Delta's
#                ConcurrentAppendException)
#   strict     — any winner addition conflicts (predicate-scoped ops:
#                full overwrite, DELETE/UPDATE/REPLACE WHERE — the
#                loser's predicate was evaluated against the parent
#                snapshot and file paths can't prove the new rows fall
#                outside it)
# Operations absent from the map never auto-rebase (DDL, refs,
# rollback/restore, feature enablement — true metadata intents).
#: operations an appendOnly table refuses (they remove or rewrite
#: rows); everything else — create/append/OPTIMIZE/DDL/refs — stays
#: allowed, matching Delta's delta.appendOnly contract
_ROW_REMOVING_OPS = frozenset(
    {
        "delete",
        "update",
        "delete_dv",
        "update_dv",
        "overwrite",
        "overwrite_partitions",
        "replace_where",
        "truncate",
        "replace",
    }
)

_REBASE_POLICY = {
    "append": "lenient",
    "optimize": "lenient",
    "overwrite_partitions": "partition",
    "overwrite": "strict",
    "replace_where": "strict",
    "delete": "strict",
    "update": "strict",
    "delete_dv": "strict",
    "update_dv": "strict",
    "index": "strict",
}


def _claims_snapshot(manifest_or_extra: dict | None) -> bool:
    """Is this a table-wide OPTIMIZE commit (see :func:`_try_rebase`)?"""
    return (manifest_or_extra or {}).get("optimize_scope") == "table"


def _try_rebase(
    table: str,
    parent: int,
    par: dict,
    operation: str,
    files: list[str],
    file_stats: dict | None,
    deletion_vectors: dict | None,
    constraints: dict | None,
    extra: dict | None,
    txn: tuple[str, int] | None = None,
) -> tuple[int, list[str], dict, dict]:
    """Re-read the head after a lost :func:`_publish` race and decide
    whether the losing commit is LOGICALLY DISJOINT from everything
    that won in between — if so, return rebased commit inputs
    (new parent, file list, stats, deletion vectors) so :func:`_commit`
    can retry without the caller recomputing anything; otherwise raise
    :class:`ConcurrentCommit` naming the true conflict. The aggregated
    parent→head diff is sufficient evidence: files are immutable and
    uniquely named, so set arithmetic over (added, removed, DV deltas)
    captures every winner's effect."""

    def conflict(msg: str) -> None:
        raise ConcurrentCommit(
            f"true conflict on {table} ({operation}): {msg}"
        )

    policy = _REBASE_POLICY.get(operation)
    if policy is None:
        conflict("operation does not auto-rebase; re-read and retry")
    head = current_version(table)
    assert head is not None and head > parent
    if head - parent > 64:
        conflict("fell too far behind the head; re-read and retry")
    H = _read_manifest(table, head)
    # idempotent-writer guard (Delta's txn appId/version check): if a
    # WINNER already carries this writer's app_id at an epoch >= ours,
    # the commit we're about to rebase is a replay that already landed
    # — rebasing it would double-apply the batch
    if txn is not None:
        for v in range(parent + 1, head + 1):
            # raw read: txn lives in the stored segment, no need to
            # materialize each winner's full file list
            t = _raw_manifest(table, v).get("txn")
            if t and t["app_id"] == txn[0] and int(t["epoch"]) >= int(txn[1]):
                conflict(
                    f"txn ({txn[0]}, {txn[1]}) already committed at v{v}; "
                    "replay must be skipped, not rebased"
                )
    # metadata guards — any concurrent change to the table's logical
    # definition is a conflict (Delta's MetadataChangedException):
    # the loser's plan was built against the parent's definition
    if H["partition_cols"] != par["partition_cols"]:
        conflict("partition spec evolved concurrently")
    if H["schema"] != par["schema"]:
        conflict("schema changed concurrently")
    if (H.get("constraints") or {}) != (par.get("constraints") or {}):
        conflict("constraints changed concurrently")
    for k in ("column_mapping", "retired_columns", "generated", "identity"):
        if H.get(k) != par.get(k):
            conflict(f"{k} changed concurrently")
    if bool(H.get("row_tracking")) != bool(par.get("row_tracking")):
        conflict("row tracking enabled concurrently")
    if constraints is not None and (constraints or {}) != (
        par.get("constraints") or {}
    ):
        conflict("constraint DDL does not auto-rebase")
    par_files = set(par["files"])
    h_files = set(H["files"])
    l_files = set(files)
    added = [f for f in files if f not in par_files]
    removed = par_files - l_files
    # a table-wide OPTIMIZE claims the whole snapshot it compacted,
    # carried files included, so a race with it resolves as if it had
    # rewritten every file: its own scope when it is the loser, and
    # every parent file counts as rewritten when a winner is one
    scope = par_files if _claims_snapshot(extra) else removed
    if any(
        _claims_snapshot(_raw_manifest(table, v)) for v in range(parent + 1, head + 1)
    ):
        h_files -= par_files
    if set(added) & h_files:
        conflict("commit re-references files a winner owns")
    if not scope <= h_files:
        conflict(
            "files this commit rewrites were removed or rewritten "
            "concurrently"
        )
    w_add = [f for f in H["files"] if f not in par_files]
    if policy == "strict" and w_add:
        conflict("rows were added concurrently under this commit's scope")
    if policy == "partition" and w_add:
        touched = {
            frozenset(_path_values(f).items())
            for f in list(removed) + added
        }
        for f in w_add:
            if frozenset(_path_values(f).items()) in touched:
                conflict(f"concurrent append into a rewritten partition ({f})")
    # vectors are sorted lists or lazy sidecar refs (see _commit), so
    # `!=` compares them as they are and an unchanged ref never decodes
    par_dv, h_dv, l_dv = (
        {f: ps for f, ps in (dvs or {}).items() if ps}
        for dvs in (
            par.get("deletion_vectors"), H.get("deletion_vectors"), deletion_vectors
        )
    )
    for f in scope:
        if h_dv.get(f) != par_dv.get(f):
            conflict(
                f"concurrent deletion vector on a file this commit rewrites ({f})"
            )
    # row-id allocation: a loser that PRE-ASSIGNED stable ids (explicit
    # next_row_id or materialized id columns in its new files) cannot
    # rebase past winners that also allocated — the ranges collide.
    # Losers WITHOUT explicit allocation (plain appends) re-allocate
    # off the new head's high-water mark in the retried commit.
    if H.get("row_tracking"):
        lost_alloc = int(H.get("next_row_id") or 0) != int(
            par.get("next_row_id") or 0
        )
        explicit = (extra or {}).get("next_row_id") is not None or any(
            ((file_stats or {}).get(f) or {}).get("materialized_row_ids")
            for f in added
        )
        if explicit and lost_alloc:
            conflict("row ids were allocated concurrently")
    kept = [f for f in H["files"] if f not in removed]
    kept_set = set(kept)
    par_stats = par.get("file_stats") or {}
    h_stats = H.get("file_stats") or {}
    new_stats: dict = {}
    for f in kept:
        lf = (file_stats or {}).get(f)
        if f in par_files and lf is not None and lf != par_stats.get(f):
            # ops that rewrite kept files' METADATA in place
            # (enable_row_tracking-style) carry intents file paths
            # can't reconcile
            conflict(f"commit mutates metadata of a kept file ({f})")
        if f in h_stats:
            new_stats[f] = h_stats[f]
    for f in added:
        e = dict((file_stats or {}).get(f) or {})
        if not e.get("materialized_row_ids"):
            e.pop("base_row_id", None)  # re-allocate off the new mark
        new_stats[f] = e
    # three-way DV merge per kept file: loser's delta applies iff the
    # winners left that file's vector alone (and vice versa)
    new_dv: dict = {}
    for f, ps in l_dv.items():
        if f in par_files and f in l_files and ps != par_dv.get(f):
            if f not in h_files:
                conflict(
                    f"concurrent rewrite of a file this commit adds deletes to ({f})"
                )
    for f in kept:
        l, p, h = l_dv.get(f), par_dv.get(f), h_dv.get(f)
        if f not in par_files:
            if h:
                new_dv[f] = h
            continue
        if l == p:
            if h:
                new_dv[f] = h
        elif h == p:
            if l:
                new_dv[f] = l
        else:
            conflict(f"concurrent deletion vectors on {f}")
    for f in added:
        if l_dv.get(f):
            new_dv[f] = l_dv[f]
    new_files = kept + sorted(f for f in added if f not in kept_set)
    return head, new_files, new_stats, new_dv


def _write_data(
    df: DataFrame,
    table: str,
    partition_cols: list[str],
    mapping: dict,
) -> tuple[list[str], dict]:
    """Write a commit's data files into the shared data/ tree and
    return the relative paths of exactly the files this write
    produced, with their footer stats (:func:`_collect_stats`). The
    write STAGES into a per-commit temp directory and renames each
    file into place (same filesystem — metadata-only moves):
    attribution is exact by construction, so two writers writing into
    the same table CONCURRENTLY can never claim each other's files (a
    before/after listing diff would — the reconciliation path in
    :func:`_try_rebase` depends on this). Crashed writes leave an
    orphaned staging dir; :func:`vacuum` sweeps those past the grace
    window.

    Under column mapping, files ALWAYS carry physical names — the
    incoming frame is logical, so mapped columns rename before the
    write (the one write chokepoint every commit path goes through,
    so appends, rewrites, OPTIMIZE, and MERGE all stay consistent
    with files written before a rename). ``mapping`` is the column
    mapping of the manifest the commit lands with: the parent's, a
    reconciled one, or ``{}`` for create and replace. A frame that
    carries :data:`ROW_ID_COL` (stable ids preserved through a
    rewrite) marks every file it writes ``materialized_row_ids``."""
    cols = df.columns
    renames = {
        logical: phys
        for logical, phys in mapping.items()
        if logical != phys and logical in cols
    }
    if renames:
        # one atomic select, NOT withColumnsRenamed: chained renames
        # break when one rename's TARGET is another's SOURCE (e.g.
        # total_price->o_totalprice alongside
        # o_totalprice->o_totalprice__r3 — the intermediate frame
        # holds two o_totalprice columns and the second rename hits
        # both). Aliasing every column against the ORIGINAL frame in
        # a single projection is order-independent.
        df = df.select(*[df[c].alias(renames.get(c, c)) for c in cols])
    data = _data_dir(table)
    os.makedirs(data, exist_ok=True)
    stage = os.path.join(data, f"{_STAGING_PREFIX}{uuid.uuid4().hex}")
    if partition_cols:
        laid, hive_names = _layout_frame(df, partition_cols)
        writer = laid.write.mode("append").option("compression", "zstd")
        writer = writer.partitionBy(*hive_names)
    else:
        writer = df.write.mode("append").option("compression", "zstd")
    writer.parquet(stage)
    produced: list[str] = []
    for dirpath, _dirs, files in os.walk(stage):
        rel_dir = os.path.relpath(dirpath, stage)
        for f in files:
            if not f.endswith(".parquet"):
                continue
            dst_dir = data if rel_dir == "." else os.path.join(data, rel_dir)
            os.makedirs(dst_dir, exist_ok=True)
            dst = os.path.join(dst_dir, f)
            os.rename(os.path.join(dirpath, f), dst)
            produced.append(os.path.relpath(dst, table))
    shutil.rmtree(stage, ignore_errors=True)
    produced.sort()
    stats = _collect_stats(table, produced)
    if ROW_ID_COL in cols:
        for e in stats.values():
            e["materialized_row_ids"] = True
    return produced, stats


#: the INT64 TIMESTAMP units Spark writes (outputTimestampType
#: TIMESTAMP_MICROS or TIMESTAMP_MILLIS), as multiples of a microsecond
_MICROS_PER_UNIT = {"milliseconds": 1000, "microseconds": 1}


def _temporal_bounds(stats) -> tuple[int, int] | None:
    """A DATE or INT64 TIMESTAMP column chunk's footer min/max in the
    JSON-stable integer form the manifest keeps: epoch days for a
    DATE, epoch microseconds for a TIMESTAMP in micros or millis.
    None for every other column, INT96 timestamps included (Parquet
    defines no order for INT96, so writers emit no min/max for it)."""
    kind = stats.logical_type.type
    if kind == "DATE" and stats.physical_type == "INT32":
        return stats.min_raw, stats.max_raw
    if kind != "TIMESTAMP" or stats.physical_type != "INT64":
        return None
    unit = json.loads(stats.logical_type.to_json()).get("timeUnit")
    scale = _MICROS_PER_UNIT.get(unit)
    if scale is None:
        return None
    return stats.min_raw * scale, stats.max_raw * scale


def _collect_stats(table: str, rel_paths: list[str]) -> dict:
    """Per-file row counts and column min/max from the Parquet
    footers (one metadata read per file, no data scan) — the
    data-skipping index a Delta log keeps in addStats. Only
    JSON-stable scalars are kept: bool/int/float/str bounds as they
    are, and DATE / INT64 TIMESTAMP bounds as integers — epoch days
    and epoch microseconds (:func:`_temporal_bounds`), which
    :func:`_prune_files` compares against a literal converted the way
    ``F.lit`` converts it. Columns with missing or exotic stats
    (INT96 timestamps among them) simply don't prune."""
    import pyarrow.parquet as pq

    out = {}
    for rel in rel_paths:
        md = pq.ParquetFile(os.path.join(table, rel)).metadata
        mins: dict = {}
        maxs: dict = {}
        nulls: dict = {}
        no_nullcount: set = set()
        for rg in range(md.num_row_groups):
            grp = md.row_group(rg)
            for ci in range(grp.num_columns):
                col = grp.column(ci)
                stats = col.statistics
                if stats is None:
                    continue
                name = col.path_in_schema
                # null counts aggregate independently of min/max: a
                # column is only recorded if EVERY row group reports
                # (a single missing count makes the total unknowable)
                if stats.null_count is None:
                    no_nullcount.add(name)
                    nulls.pop(name, None)
                elif name not in no_nullcount:
                    nulls[name] = nulls.get(name, 0) + stats.null_count
                if not stats.has_min_max:
                    continue
                bounds = _temporal_bounds(stats)
                if bounds is not None:
                    lo, hi = bounds
                else:
                    try:
                        lo, hi = stats.min, stats.max
                    except Exception:
                        # pyarrow can't extract min/max for some
                        # physical types (e.g. wide decimals) — such
                        # columns simply don't prune, same as missing
                        # stats
                        continue
                    if not isinstance(
                        lo, (bool, int, float, str)
                    ) or not isinstance(hi, (bool, int, float, str)):
                        continue
                mins[name] = lo if name not in mins else min(mins[name], lo)
                maxs[name] = hi if name not in maxs else max(maxs[name], hi)
        out[rel] = {
            "rows": md.num_rows,
            # physical file size (Delta's add.size): byte-based stream
            # admission (maxBytesPerTrigger) and compaction sizing read
            # it from the manifest instead of stat-ing 100 TB of files
            "bytes": os.path.getsize(os.path.join(table, rel)),
            "min": mins,
            "max": maxs,
            "nulls": nulls,
        }
    return out


def _commit(
    table: str,
    operation: str,
    files: list[str] | None = None,
    partition_cols: list[str] | None = None,
    schema_json: str | None = None,
    parent: int | None = None,
    txn: tuple[str, int] | None = None,
    file_stats: dict | None = None,
    constraints: dict[str, str] | None = None,
    deletion_vectors: dict | None = None,
    column_mapping: dict | None = None,
    retired_columns: list[str] | None = None,
    generated: dict | None = None,
    extra: dict | None = None,
    _rebase_attempts: int = 3,
    _drop_features: frozenset | set | None = None,
) -> int:
    """Publish version ``parent + 1`` of ``table``: the one place that
    decides what a new manifest carries forward from its parent.

    - **Inherit.** A field left as ``None`` (``files``,
      ``partition_cols``, ``schema_json``, ``file_stats``,
      ``constraints``, ``deletion_vectors``, ``column_mapping``,
      ``retired_columns``, ``generated``) keeps the parent's value.
      Properties, identity, row tracking and features are sticky too.
    - **Restrict to files.** The committed deletion vectors and the
      inherited file stats keep only entries for files in the committed
      list; passed ``file_stats`` entries overlay the inherited ones, so
      a caller passes only the stats of files it added or changed.
    - **Explicit wins.** A passed value replaces the parent's
      (``replace_table``'s resets, ``rollback``'s target state).
    - **Parentless** (``parent=None``): every omitted field is empty.

    An unchanged lazily-resolved deletion vector passes through without
    a driver decode; its stored sidecar ref is reused verbatim."""
    version = (parent or 0) + 1
    par = _read_manifest(table, parent) if parent is not None else None
    par_raw = _raw_manifest(table, parent) if parent is not None else {}
    base = par or {}

    def inherit(value, key: str, empty=None):
        return (base.get(key) or empty) if value is None else value

    files = inherit(files, "files", [])
    partition_cols = inherit(partition_cols, "partition_cols", [])
    schema_json = inherit(schema_json, "schema")
    constraints = inherit(constraints, "constraints", {})
    column_mapping = inherit(column_mapping, "column_mapping")
    retired_columns = inherit(retired_columns, "retired_columns")
    generated = inherit(generated, "generated")
    live = set(files)
    file_stats = {
        **{f: s for f, s in (base.get("file_stats") or {}).items() if f in live},
        **(file_stats or {}),
    }
    # sorted once here, so a rebase compares them as stored; an
    # unchanged lazy ref stays unsorted: its sidecar is already sorted
    # and deduped, and sorting would decode it on the driver
    deletion_vectors = {
        f: ps if isinstance(ps, _LazyDVPositions) else sorted(ps)
        for f, ps in inherit(deletion_vectors, "deletion_vectors", {}).items()
        if ps and f in live
    }
    properties = base.get("properties")
    # writer-feature gate (Delta's writerFeatures): committing onto a
    # table whose invariants this engine doesn't implement corrupts
    # them (ids, constraints, generated values). Reads stay allowed —
    # only _read_manifest's reader gate restricts those.
    unknown_w = set(base.get("writer_features") or []) - SUPPORTED_WRITER_FEATURES
    if unknown_w:
        raise ValueError(
            f"{table} v{parent} requires writer feature(s) this engine "
            f"does not implement: {sorted(unknown_w)} — reading is "
            "allowed, committing is not; upgrade before writing"
        )
    # per-table txn high-water index (Delta's setTransactions in the
    # checkpoint): carried on every manifest so txn_epoch is an O(1)
    # head lookup instead of an O(history) scan. A pre-index parent
    # (old table, or a commit published by an older writer) seeds the
    # index with ONE scan of its chain; every later commit just
    # carries + updates the map (size = #writer identities, tiny).
    txn_index: dict | None = (
        dict(base["txn_index"]) if base.get("txn_index") is not None else None
    )
    if txn_index is None and parent is not None:
        txn_index = {}
        for v in _list_versions(table):
            if v > parent:
                break
            t = _raw_manifest(table, v).get("txn")
            if t:
                txn_index[t["app_id"]] = int(t["epoch"])
    # per-app_id epoch monotonicity is a documented CONTRACT (replay
    # detection in txn_epoch/_try_rebase depends on newest-commit-wins):
    # a writer presenting an epoch <= its last committed one fails
    # loudly instead of silently rewinding the cursor
    if txn is not None:
        prior = (txn_index or {}).get(txn[0])
        if prior is not None and int(txn[1]) <= prior:
            raise ValueError(
                f"non-monotone txn epoch for app_id {txn[0]!r}: "
                f"{int(txn[1])} <= committed {prior} (epochs must "
                "strictly increase per writer; a replayed epoch should "
                "be skipped via txn_epoch, not re-committed)"
            )
    # appendOnly table property (Delta's delta.appendOnly): rows may
    # never be deleted or updated — any row-removing operation is
    # refused at the single commit gate. Metadata ops, appends, and
    # OPTIMIZE (row-preserving by contract) stay allowed.
    if (
        properties
        and str(properties.get("appendOnly", "")).lower() == "true"
        and (
            operation in _ROW_REMOVING_OPS
            # RESTORE/rollback re-publishes an older file set, which
            # removes every row appended since — Delta's
            # delta.appendOnly refuses RESTORE for the same reason
            # (it commits row-removing RemoveFiles)
            or operation.startswith("rollback_to_v")
            or operation.startswith("restore_to_")
        )
    ):
        raise ValueError(
            f"{table} is appendOnly (table property): operation "
            f"{operation!r} would remove or rewrite rows; unset the "
            "property first"
        )
    manifest = {
        "version": version,
        "parent": parent,
        "operation": operation,
        # in-commit timestamp, forced MONOTONIC past the parent's
        # (Delta's inCommitTimestamps rule): TIMESTAMP AS OF resolves
        # by committed_at order, so a backwards wall-clock step (NTP
        # correction, clock skew between writers) must never make a
        # LATER version look older than its parent
        "committed_at": (
            max(time.time(), par["committed_at"] + 1e-6)
            if par is not None
            else time.time()
        ),
        "partition_cols": partition_cols,
        "schema": schema_json,
        "files": files,
        "file_stats": file_stats,
        "constraints": constraints,
        "deletion_vectors": deletion_vectors,
    }
    if column_mapping:
        manifest["column_mapping"] = column_mapping
    if retired_columns:
        manifest["retired_columns"] = sorted(retired_columns)
    if generated:
        manifest["generated"] = generated
    if txn is not None:
        manifest["txn"] = {"app_id": txn[0], "epoch": int(txn[1])}
        if txn_index is None:
            txn_index = {}
        txn_index[txn[0]] = int(txn[1])
    # an EMPTY map is stored too: it marks "indexed, no txns", so
    # later commits and txn_epoch never rescan a txn-free history
    if txn_index is not None:
        manifest["txn_index"] = txn_index
    if extra:
        manifest.update(extra)
    # protocol versioning (Delta readerFeatures model): a feature is
    # REQUIRED once content needs it, and sticky — carried from the
    # parent even if this commit's content no longer exercises it
    # (e.g. the last DV was materialized away), matching Delta's
    # "features are never silently dropped" stance.
    # row tracking is sticky like reader features: once enabled, every
    # descendant commit carries the flag and the id high-water mark
    if base.get("row_tracking") and "row_tracking" not in manifest:
        manifest["row_tracking"] = True
    # identity specs are sticky the same way (they ride on row ids)
    if base.get("identity") and "identity" not in manifest:
        manifest["identity"] = base["identity"]
    features = set(manifest.get("reader_features") or [])
    features |= set(base.get("reader_features") or [])
    if properties and "properties" not in manifest:
        manifest["properties"] = properties
    # content-driven requirements, tracked SEPARATELY from the sticky
    # parent union so DROP FEATURE can tell "still needed by this
    # commit's content" from "merely inherited"
    content_feats = set()
    if manifest.get("row_tracking"):
        content_feats.add("row-tracking")
    if manifest.get("identity"):
        content_feats.add("identity-columns")
    if manifest["deletion_vectors"]:
        content_feats.add("deletion-vectors")
    if manifest.get("column_mapping") or manifest.get("retired_columns"):
        content_feats.add("column-mapping")
    if manifest.get("generated"):
        content_feats.add("generated-columns")
    if any("(" in c for c in partition_cols):
        content_feats.add("hidden-partitioning")
    features |= content_feats
    # DROP FEATURE (protocol downgrade): the drop commit subtracts the
    # flag AFTER the sticky union but never a flag this commit's OWN
    # content still requires (drop_feature validates up front and
    # raises a clean error; this is the belt-and-braces backstop)
    if _drop_features:
        still = content_feats & set(_drop_features)
        if still:
            raise ValueError(
                f"cannot drop feature(s) {sorted(still)}: the commit's "
                "content still requires them"
            )
        features -= set(_drop_features)
    if features:
        manifest["reader_features"] = sorted(features)
    # writer features accrue sticky like reader features; everything
    # in the reader set also obligates writers, plus CHECK constraints
    # (pure writer obligation — readers never evaluate them)
    wfeatures = set(manifest.get("writer_features") or [])
    wfeatures |= set(base.get("writer_features") or [])
    wfeatures |= features
    if manifest["constraints"]:
        wfeatures.add("check-constraints")
    if _drop_features:
        # reader-backed flags were validated above; the pure writer
        # flag (check-constraints) validates here via its own
        # content-driven re-add
        if "check-constraints" in _drop_features and manifest["constraints"]:
            raise ValueError(
                "cannot drop feature(s) ['check-constraints']: the "
                "commit's content still requires them"
            )
        wfeatures -= set(_drop_features)
    if wfeatures:
        manifest["writer_features"] = sorted(wfeatures)
    # operation metrics (Delta's operationMetrics): file-set diff vs
    # the parent plus row counts from the footer-stats index — pure
    # driver-side set arithmetic, no data read
    parent_files = set(base.get("files", []))
    added = [f for f in files if f not in parent_files]
    removed = sorted(parent_files - live)
    stats = manifest["file_stats"]
    manifest["metrics"] = {
        "num_added_files": len(added),
        "num_removed_files": len(removed),
        "num_output_rows": sum(
            stats[f]["rows"] for f in added if f in stats and "rows" in stats[f]
        ),
        # byte deltas from the stats index (Delta's numAddedBytes /
        # numRemovedBytes) — pure manifest arithmetic
        "num_added_bytes": sum(
            stats[f]["bytes"] for f in added if f in stats and "bytes" in stats[f]
        ),
        "num_removed_bytes": sum(
            base.get("file_stats", {}).get(f, {}).get("bytes", 0)
            for f in removed
        ),
    }
    # row-id allocation (Delta row tracking): every NEW data file gets
    # a fresh contiguous id range [base, base + rows) off the table's
    # high-water mark, in sorted-path order (deterministic). Files a
    # rewrite materialized ids into keep their entries; a file whose
    # incoming stats LOST its id (rollback publishes the target's
    # pre-tracking stats verbatim) reconciles from the parent first —
    # rows must never change ids because history was restored.
    if manifest.get("row_tracking"):
        nxt = manifest.get("next_row_id")
        if nxt is None:
            nxt = int(base.get("next_row_id") or 0)
        nxt = int(nxt)
        par_stats = base.get("file_stats", {})

        def _lacks_id(e: dict) -> bool:
            return "base_row_id" not in e and not e.get("materialized_row_ids")

        for f in files:
            e = stats.get(f) or {}
            if not _lacks_id(e):
                continue
            pe = par_stats.get(f) or {}
            if not _lacks_id(pe):
                e = dict(e)
                for k in ("base_row_id", "materialized_row_ids"):
                    if k in pe:
                        e[k] = pe[k]
                stats[f] = e
        for f in sorted(files):
            e = dict(stats.get(f) or {})
            if _lacks_id(e):
                if "rows" not in e:
                    e["rows"] = _file_rows(table, f)
                e["base_row_id"] = nxt
                nxt += int(e["rows"])
                stats[f] = e
        manifest["next_row_id"] = nxt
    if manifest["deletion_vectors"]:
        manifest["deletion_vectors"] = _externalize_dvs(
            table,
            version,
            manifest["deletion_vectors"],
            par_raw.get("deletion_vectors") or {},
            base.get("deletion_vectors") or {},
        )
    try:
        _publish(
            table, version, _store_form(parent, par, par_raw, manifest, added, removed)
        )
    except ConcurrentCommit:
        # automatic commit reconciliation (Delta/Iceberg
        # retry-with-revalidation): when the interleaved winners are
        # logically disjoint from this commit — blind appends always;
        # rewrites when the touched files/partitions/vectors don't
        # intersect — rebase onto the new head and retry, so disjoint
        # concurrent writers need NO caller retry logic. True
        # conflicts re-raise with the reason. Data files this attempt
        # wrote are already on disk and carry into the rebased commit
        # unchanged (they're immutable and uniquely named); only the
        # manifest is recomputed.
        if parent is None or _rebase_attempts <= 0:
            raise
        rb_parent, rb_files, rb_stats, rb_dvs = _try_rebase(
            table,
            parent,
            par,
            operation,
            files,
            file_stats,
            deletion_vectors,
            constraints,
            extra,
            txn=txn,
        )
        # audit trail: a rebased commit names the parent it was
        # ORIGINALLY computed against, so history() shows which
        # versions went through reconciliation (Delta's
        # readVersion-vs-commitVersion gap)
        rb_extra = dict(extra or {})
        rb_extra.setdefault("rebased_from", parent)
        return _commit(
            table,
            operation,
            rb_files,
            partition_cols,
            schema_json,
            rb_parent,
            txn=txn,
            file_stats=rb_stats,
            constraints=constraints,
            deletion_vectors=rb_dvs,
            column_mapping=column_mapping,
            retired_columns=retired_columns,
            generated=generated,
            extra=rb_extra,
            _rebase_attempts=_rebase_attempts - 1,
        )
    return version


def _file_rows(table: str, rel_or_abs: str) -> int:
    """Row count from the parquet footer (metadata read, no data)."""
    import pyarrow.parquet as pq

    return int(
        pq.ParquetFile(os.path.join(table, rel_or_abs)).metadata.num_rows
    )


def _store_form(
    parent: int | None,
    par: dict | None,
    par_raw: dict,
    manifest: dict,
    added: list[str],
    removed: list[str],
) -> dict:
    """Pick the on-disk form for a commit: a self-contained CHECKPOINT
    (parentless commits, every CHECKPOINT_INTERVAL-th link in a chain,
    or whenever the diff would be as large as the full list anyway —
    e.g. overwrite_table), else a LOG SEGMENT storing only the
    file-set diff and the stats entries that are new or changed vs the
    parent. Materialization (:func:`_read_manifest`) is exact: segment
    stats overlay wholly-replaced entries, ``stats_removed`` covers a
    kept file whose entry was dropped outright. The reconstructed
    ``files`` order is kept-in-parent-order + adds — data files are
    immutable and uniquely named, so readers treat the list as a set
    and the order difference vs the committer's list (which may be
    globally sorted) is semantically inert."""
    if par is None:
        return manifest
    depth = int(par_raw.get("chain_depth", 0)) + 1
    if depth >= CHECKPOINT_INTERVAL:
        return manifest
    if len(added) + len(removed) >= len(manifest["files"]):
        return manifest  # diff as big as the list: checkpoint and reset
    par_stats = par.get("file_stats", {})
    stats = manifest["file_stats"]
    removed_set = set(removed)
    seg_stats = {
        f: s
        for f, s in stats.items()
        if f not in par_stats or par_stats[f] != s
    }
    stats_removed = sorted(
        f for f in par_stats if f not in removed_set and f not in stats
    )
    seg = {
        k: v
        for k, v in manifest.items()
        if k not in ("files", "file_stats")
    }
    seg.update(
        {
            "segment": True,
            "base": parent,
            "chain_depth": depth,
            "add_files": added,
            "remove_files": sorted(removed),
            "file_stats": seg_stats,
        }
    )
    if stats_removed:
        seg["stats_removed"] = stats_removed
    return seg


def _validate_constraints(df: DataFrame, constraints: dict[str, str]) -> None:
    """Enforce table CHECK constraints on an incoming batch in ONE
    aggregation pass (the quality-module treatment). SQL CHECK
    semantics: a row violates only when the expression is FALSE —
    NULL/unknown passes, exactly as Delta constraints behave."""
    if not constraints:
        return
    from pyspark.sql import functions as F

    aggs = [
        F.sum((F.expr(expr) == False).cast("long")).alias(name)  # noqa: E712
        for name, expr in constraints.items()
    ]
    row = df.agg(*aggs).collect()[0]
    bad = {n: int(row[n]) for n in constraints if row[n]}
    if bad:
        detail = ", ".join(
            f"{n!r} ({constraints[n]}): {c} rows" for n, c in bad.items()
        )
        raise ConstraintViolation(f"batch violates CHECK constraints: {detail}")


def _apply_generated(df: DataFrame, generated: dict[str, str]) -> DataFrame:
    """Delta-style GENERATED ALWAYS AS semantics on a data-adding
    batch: a generated column the batch OMITS is computed from its
    expression; one the batch PROVIDES is validated against the
    expression in one aggregation pass (null-safe equality, like
    Delta's check) — a writer can hand-supply values only if they
    match the definition exactly."""
    if not generated:
        return df
    from pyspark.sql import functions as F

    provided = {c: e for c, e in generated.items() if c in df.columns}
    for col, expr in generated.items():
        if col not in df.columns:
            df = df.withColumn(col, F.expr(expr))
    if provided:
        aggs = [
            F.sum((~F.col(c).eqNullSafe(F.expr(e))).cast("long")).alias(c)
            for c, e in provided.items()
        ]
        row = df.agg(*aggs).collect()[0]
        bad = {c: int(row[c]) for c in provided if row[c]}
        if bad:
            detail = ", ".join(
                f"{c!r} (GENERATED AS {provided[c]}): {n} rows"
                for c, n in bad.items()
            )
            raise ConstraintViolation(
                f"batch contradicts generated columns: {detail}"
            )
    return df


def _admit(manifest: dict, df: DataFrame) -> DataFrame:
    """The one admission gate for NEW rows, checked against the state
    the commit lands in (``manifest``): a GENERATED ALWAYS identity
    column is refused (the commit allocates its values), generated
    columns are computed or validated (:func:`_apply_generated`) and
    CHECK constraints are enforced (:func:`_validate_constraints`).
    Rows a rewrite carries over (DML, OPTIMIZE) do not pass it."""
    ident = (manifest.get("identity") or {}).get("col")
    if ident and ident in df.columns:
        raise ValueError(
            f"column {ident!r} is GENERATED ALWAYS AS IDENTITY; "
            "writers must not supply it"
        )
    df = _apply_generated(df, manifest.get("generated") or {})
    _validate_constraints(df, manifest.get("constraints") or {})
    return df


def txn_epoch(
    table: str, app_id: str, at_version: int | None = None
) -> int | None:
    """Highest epoch this writer (``app_id``) has durably committed —
    the Delta-style idempotent-writer handshake. A streaming epoch
    whose id is <= this value already landed in some version; the
    replaying writer must skip it instead of double-applying (see
    :func:`..streaming.ingest.gold_stream_snapshot`). Scans committed
    manifests only, so an epoch whose data files were written but
    whose publish never happened correctly reports as NOT committed.

    Cost: newest-first over STORED manifests (``txn`` lives in the
    raw segment — no checkpoint-chain materialization), returning at
    the writer's most recent commit. A streaming writer's last epoch
    sits at/near the head, so the per-epoch check a foreachBatch sink
    makes is O(1) manifest reads, not O(history) — the difference
    between a stream's total metadata I/O staying linear vs going
    quadratic in epochs. Correct because epochs are MONOTONE per
    app_id (Delta's txn appId/version contract: "version must be
    monotonically increasing" — foreachBatch epoch ids are), which
    the replay guard in :func:`_try_rebase` already relies on — and
    which :func:`_commit` now ENFORCES on the conflict-free path: a
    writer presenting an epoch <= its last committed one is rejected
    instead of silently rewinding the cursor.

    ``at_version``: answer as of that snapshot instead of the head —
    a reader that pins its base version can read the matching cursor
    atomically even while newer commits land (the
    :func:`refresh_count_sum_view` race fix).

    Cost: O(1) on current tables — every commit since round 12
    carries a ``txn_index`` map (app_id -> latest epoch), Delta's
    setTransactions-in-checkpoint design, seeded by a one-time
    history scan at the first indexed commit — so the answer is a
    head-manifest lookup. Pre-index tables (no commit carries the
    map yet) fall back to the newest-first manifest scan."""
    versions = _list_versions(table)
    if at_version is not None:
        versions = [v for v in versions if v <= at_version]
    if not versions:
        return None
    idx = _raw_manifest(table, versions[-1]).get("txn_index")
    if idx is not None:
        e = idx.get(app_id)
        return None if e is None else int(e)
    for v in reversed(versions):
        t = _raw_manifest(table, v).get("txn")
        if t and t["app_id"] == app_id:
            return t["epoch"]
    return None


def current_version(table: str) -> int | None:
    versions = _list_versions(table)
    return versions[-1] if versions else None


def create_table(
    df: DataFrame,
    table: str,
    partition_cols: list[str] | None = None,
    txn: tuple[str, int] | None = None,
    constraints: dict[str, str] | None = None,
    generated: dict[str, str] | None = None,
) -> int:
    """Create version 1 of a new snapshot table from ``df``.
    ``constraints``: {name: boolean SQL expr} CHECK constraints
    enforced on this and every future commit.
    ``generated``: {col: SQL expr} Delta-style GENERATED ALWAYS AS
    columns — computed when a batch omits them, validated when it
    provides them, on this and every future data-adding commit."""
    partition_cols = partition_cols or []
    if current_version(table) is not None:
        raise ValueError(f"{table} already exists; use overwrite_table")
    df = _admit({"generated": generated, "constraints": constraints}, df)
    _validate_spec(partition_cols, set(df.columns))
    files, stats = _write_data(df, table, partition_cols, {})
    return _commit(
        table,
        "create",
        files,
        partition_cols,
        df.schema.json(),
        parent=None,
        txn=txn,
        file_stats=stats,
        constraints=constraints,
        generated=generated,
    )


def _erase_nullability(dt):
    """A copy of ``dt`` with every nullability mark (field nullable,
    array containsNull, map valueContainsNull) forced True, so type
    comparison sees only the storage type (see
    :func:`_evolve_schema`)."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, ArrayType):
        return ArrayType(_erase_nullability(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            _erase_nullability(dt.keyType),
            _erase_nullability(dt.valueType),
            True,
        )
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _erase_nullability(f.dataType), True)
                for f in dt.fields
            ]
        )
    return dt


def _evolve_schema(prev_schema_json: str, df: DataFrame, merge_schema: bool) -> str:
    """The manifest owns the schema (schema-on-read, like the Delta
    log). New columns in ``df`` evolve the table schema when
    ``merge_schema`` is set (old files null-fill them on read);
    same-name type changes are always rejected — silent widening is
    how lakehouse tables rot. Types compare modulo NULLABILITY
    (containsNull / valueContainsNull / struct-field nullable):
    Spark's nullability marks are advisory analysis facts, not
    storage types — ``F.array(lit('a'))`` infers containsNull=false
    against a table declared array<string> containsNull=true, and
    rejecting that would refuse a perfectly writable batch."""
    from pyspark.sql.types import StructType

    old = StructType.fromJson(json.loads(prev_schema_json))
    old_by_name = {f.name: f for f in old.fields}
    extra = []
    for f in df.schema.fields:
        if f.name not in old_by_name:
            extra.append(f)
        elif _erase_nullability(f.dataType) != _erase_nullability(
            old_by_name[f.name].dataType
        ):
            raise ValueError(
                f"type conflict on column {f.name!r}: table has "
                f"{old_by_name[f.name].dataType.simpleString()}, batch has "
                f"{f.dataType.simpleString()}"
            )
    if not extra:
        return prev_schema_json
    if not merge_schema:
        raise ValueError(
            f"batch adds columns {[f.name for f in extra]}; pass "
            "merge_schema=True to evolve the table schema"
        )
    return StructType(old.fields + extra).json()


def _fresh_aliases(prev: dict, mapping: dict, names, version: int) -> dict:
    """The one physical-alias rule (the resurrection guard): each new
    logical column in ``names`` whose name is still claimed physically
    — a mapped physical name in ``mapping`` or a retired one — gets a
    fresh ``<name>__r<version>`` alias. Otherwise files written before
    a rename or drop would surface their unrelated stale values under
    the new column instead of nulls. Returns ``mapping`` plus those
    aliases."""
    claimed = set(mapping.values()) | set(prev.get("retired_columns") or [])
    return {
        **mapping,
        **{n: f"{n}__r{version}" for n in names if n in claimed},
    }


def append(
    df: DataFrame,
    table: str,
    txn: tuple[str, int] | None = None,
    merge_schema: bool = False,
    _operation: str = "append",
    _extra: dict | None = None,
) -> int:
    """Append-only commit: previous snapshot's files plus the new
    ones. ``merge_schema=True`` lets the batch add columns (schema
    evolution — the in-engine twin of the reference crawler's
    UPDATE_IN_DATABASE policy, infra/glue-crawlers.tf:47-50, and of
    Delta's mergeSchema): the manifest schema gains the new fields
    and earlier files read as null for them; a new column whose name
    is still claimed physically takes a fresh alias
    (:func:`_fresh_aliases`)."""
    head, prev = _manifest_at(table)
    df = _admit(prev, df)
    schema_json = _evolve_schema(prev["schema"], df, merge_schema)
    old = {f["name"] for f in json.loads(prev["schema"])["fields"]}
    added = [
        f["name"]
        for f in json.loads(schema_json)["fields"]
        if f["name"] not in old
    ]
    mapping = _fresh_aliases(
        prev, prev.get("column_mapping") or {}, added, head + 1
    )
    new, stats = _write_data(df, table, prev["partition_cols"], mapping)
    return _commit(
        table,
        _operation,
        sorted(prev["files"] + new),
        schema_json=schema_json,
        parent=head,
        txn=txn,
        file_stats=stats,
        column_mapping=mapping,
        extra=_extra,
    )


def truncate_table(table: str, txn: tuple[str, int] | None = None) -> int:
    """``TRUNCATE TABLE`` as a METADATA-ONLY commit: the new head
    references zero files — no data file is touched or rewritten at
    any table size (Delta's TRUNCATE commits RemoveFiles the same
    way). Schema, partition spec, constraints, and properties all
    survive; history is preserved, so time travel to a pre-truncate
    version still reads every row, and VACUUM later reclaims the
    bytes once retention allows. Refused on appendOnly tables (it is
    the ultimate row-removing operation)."""
    head, _ = _manifest_at(table)
    return _commit(table, "truncate", [], parent=head, txn=txn)


def replace_table(
    df: DataFrame,
    table: str,
    partition_cols: list[str] | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """``CREATE OR REPLACE TABLE`` semantics: the table is re-declared
    from scratch — new schema, new data, optionally a NEW partition
    spec — in one atomic commit, with HISTORY PRESERVED (unlike DROP
    + CREATE, time travel to pre-replace versions still works —
    Delta's REPLACE contract). Declarative state the old table shape
    carried (CHECK constraints, column mapping, retired physical
    names, generated columns, the identity SPEC) is RESET: REPLACE
    declares a new table, and the new file set cannot collide with
    physical names only old files used. The identity reset pins
    ``identity: None`` in the manifest so _commit's sticky carry
    cannot resurrect the parent's spec (the protocol FEATURE flag
    stays sticky, as with every feature — DROP FEATURE removes it);
    without the reset a replace would either accept writer-supplied
    values for an always-generated column or declare identity on a
    column absent from the new schema. The new files are written
    under that empty mapping too, so a column renamed before the
    replace reads its values back, not nulls. Table properties carry
    over (Delta keeps them too), so an appendOnly declaration still
    refuses the replace."""
    head = current_version(table)
    if head is None:
        return create_table(df, table, partition_cols, txn=txn)
    prev = _read_manifest(table, head)
    pcols = (
        prev["partition_cols"] if partition_cols is None else partition_cols
    )
    _validate_spec(pcols, set(df.columns))
    files, stats = _write_data(df, table, pcols, {})
    return _commit(
        table,
        "replace",
        files,
        pcols,
        df.schema.json(),
        head,
        txn=txn,
        file_stats=stats,
        constraints={},
        column_mapping={},
        retired_columns=[],
        generated={},
        extra={"identity": None},
    )


def overwrite_table(
    df: DataFrame,
    table: str,
    next_row_id: int | None = None,
    parent_version: int | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """Full-table replace: the new snapshot references only the new
    files; history (and time travel to it) is preserved.

    The parent's column mapping is RECONCILED against the new schema
    rather than carried verbatim (_commit's auto-carry): entries whose
    logical column left the schema are dropped, surviving renames keep
    their physical alias, and a new schema column colliding with a
    still-claimed physical name (a surviving mapped physical or a
    retired one — e.g. the frame reintroduces column ``a`` after
    RENAME a->b) gets a fresh physical alias (:func:`_fresh_aliases`).
    Carrying the mapping blind would commit a head whose read-side
    rename (physical->logical) targets a column absent from the
    committed schema — an unreadable table.

    ``parent_version``: same contract as
    :func:`overwrite_partitions` — the snapshot the rewrite was
    computed against, so a commit landing inside the caller's
    compute window collides and revalidates instead of being
    silently built over."""
    head = (
        current_version(table) if parent_version is None else int(parent_version)
    )
    if head is None:
        return create_table(df, table, txn=txn)
    prev = _read_manifest(table, head)
    df = _admit(prev, df)
    # a frame carrying ROW_ID_COL (preserved row tracking through a
    # rewrite, e.g. merge_into) lands it in the data files but NEVER
    # in the committed schema
    new_names = set(df.columns) - {ROW_ID_COL}
    kept = {
        logical: physical
        for logical, physical in (prev.get("column_mapping") or {}).items()
        if logical in new_names
    }
    mapping = _fresh_aliases(
        prev, kept, sorted(new_names - set(kept)), head + 1
    )
    new, stats = _write_data(df, table, prev["partition_cols"], mapping)
    return _commit(
        table,
        "overwrite",
        new,
        schema_json=df.drop(ROW_ID_COL).schema.json(),
        parent=head,
        txn=txn,
        file_stats=stats,
        column_mapping=mapping,
        extra=(
            {"next_row_id": int(next_row_id)}
            if next_row_id is not None
            else None
        ),
    )


def overwrite_partitions(
    df: DataFrame,
    table: str,
    txn: tuple[str, int] | None = None,
    schema_json: str | None = None,
    next_row_id: int | None = None,
    parent_version: int | None = None,
) -> int:
    """Dynamic partition overwrite — the reference's
    ``writeTo(...).overwritePartitions()`` (gold_etl.py:156): only
    partitions present in ``df`` are replaced; files of untouched
    partitions carry over from the parent snapshot. Replaying the
    same batch converges to the same visible state (the rerun
    idempotency the reference relies on), with each replay a new
    auditable version.

    ``parent_version``: the snapshot this overwrite was COMPUTED
    against, when the caller read the table earlier (``merge_into``'s
    whole merge-compute window). Committing against that parent —
    not a freshly re-read head — makes any commit that landed in
    between collide at publish and revalidate through
    :func:`_try_rebase`, instead of being silently built over (a
    lost update inside the rewritten partitions)."""
    head, prev = _manifest_at(
        table, None if parent_version is None else int(parent_version)
    )
    pcols = prev["partition_cols"]
    if not pcols:
        raise ValueError(f"{table} is unpartitioned; use overwrite_table")
    # partition-evolution safety: a file written under an OLDER spec
    # doesn't encode the current partition columns in its path, so
    # "which partitions does it hold" is unknowable from metadata —
    # silently keeping it could leave rows that the overwrite should
    # have replaced. Require migration first (optimize() rewrites the
    # live snapshot under the current spec); Iceberg's overwrite-by-
    # partition makes the same demand of its old-spec manifests.
    spec = tuple(sorted(_spec_names(pcols)))
    legacy = [f for f in prev["files"] if _file_spec(f) != spec]
    if legacy:
        raise ValueError(
            f"{table} has {len(legacy)} file(s) from an older partition "
            f"spec (e.g. {legacy[0]}); run optimize() to migrate them to "
            f"{pcols} before dynamic partition overwrite"
        )
    df = _admit(prev, df)
    new, new_stats = _write_data(
        df, table, pcols, prev.get("column_mapping") or {}
    )
    hive = _spec_names(pcols)
    touched = {tuple(sorted(_partition_values(f, hive).items())) for f in new}
    kept = [
        f
        for f in prev["files"]
        if tuple(sorted(_partition_values(f, hive).items())) not in touched
    ]
    return _commit(
        table,
        "overwrite_partitions",
        sorted(kept + new),
        # schema_json: widened schema from a schema-evolving MERGE —
        # carried files of untouched partitions null-fill the new
        # columns at read, exactly like append(merge_schema=True)
        schema_json=schema_json,
        parent=head,
        txn=txn,
        file_stats=new_stats,
        extra=(
            {"next_row_id": int(next_row_id)}
            if next_row_id is not None
            else None
        ),
    )


def replace_where(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    filters: list[tuple],
    txn: tuple[str, int] | None = None,
) -> int:
    """Delta-style ``replaceWhere``: atomically replace EXACTLY the
    rows matching ``filters`` with the rows of ``df`` — the
    arbitrary-predicate generalization of dynamic partition overwrite
    (the reference's gold-job idempotency primitive,
    jobs/ev_sessions_gold_etl.py:156, extended beyond partition
    boundaries the way Delta's ``option("replaceWhere", ...)`` is).

    Contract (the Delta semantics):

    - every INCOMING row must satisfy the predicate — otherwise the
      write would smuggle rows outside the declared replacement
      region past downstream idempotency assumptions; violations
      fail the whole commit atomically;
    - existing rows matching the predicate disappear, rows NOT
      matching are untouched;
    - delete + insert publish as ONE commit (one snapshot, one CDF
      changeset) — a reader never observes the deleted-but-not-yet-
      inserted state.

    ``filters`` is a conjunct list or DNF branches, as for
    :func:`delete_where`, and the replace runs through the same body
    (:func:`_rewrite_rows`): footer-stats skipping picks only the
    files that MAY hold matching rows, everything else carries over
    by reference, survivors keep their stable row ids and the
    incoming rows land in files of their own with fresh ids.
    """
    return _rewrite_rows(
        spark, table, filters, "replace_where", insert=df, txn=txn
    )


def evolve_partitioning(table: str, new_cols: list[str]) -> int:
    """Iceberg-hallmark partition evolution as a METADATA-ONLY
    commit: future writes lay files out under ``new_cols``; existing
    files stay exactly where they are and keep pruning/reading under
    the spec encoded in their own paths (:func:`_path_values` /
    :func:`_read_union` make readers spec-agnostic per file). No
    data rewrite happens — at 100 TB that's the entire point: a
    repartitioning decision must not cost a table rewrite. Dynamic
    partition overwrite on a mixed-spec table is refused until
    :func:`optimize` migrates the old files (see the guard there);
    every other operation (scan, time travel, append, DML, CDF,
    vacuum) works across mixed layouts."""
    head, prev = _manifest_at(table)
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(prev["schema"]))
    names = {f.name for f in schema.fields}
    missing = [c for c in new_cols if _parse_transform(c)[1] not in names]
    if missing:
        raise ValueError(f"partition columns not in schema: {missing}")
    _validate_spec(list(new_cols), names)
    if list(new_cols) == list(prev["partition_cols"]):
        return head  # no-op
    # a bucket directory name does not record its bucket count: files
    # already under <col>_bucket= dirs would prune (and count as laid
    # out for OPTIMIZE) under the new count while holding the old one's
    live_dirs = {k for f in prev["files"] for k in _path_values(f)}
    for entry in new_cols:
        kind, _col, _n, name = _parse_transform(entry)
        if (
            kind == "bucket"
            and name in live_dirs
            and entry not in prev["partition_cols"]
        ):
            raise ValueError(
                f"{entry!r} would re-bucket {name}= directories that live "
                "files already use; evolve to a spec without it and "
                "optimize() first"
            )
    return _commit(
        table, "evolve_partitioning", partition_cols=list(new_cols), parent=head
    )


def _references_column(expr: str, col: str) -> bool:
    """Does a SQL expression text reference ``col`` as an identifier?
    String literals are stripped first so a constraint like
    ``status != 'priority'`` does not block DDL on an unrelated
    column named ``priority`` (ADVICE r7); backtick-quoted
    identifiers remain, since those ARE references."""
    import re

    stripped = re.sub(r"'(?:[^']|'')*'|\"(?:[^\"]|\"\")*\"", "''", expr)
    return bool(re.search(rf"\b{re.escape(col)}\b", stripped))


def _guard_column_ddl(prev: dict, col: str, verb: str) -> None:
    """Shared refusals for rename/drop: partition-spec sources,
    CHECK-constraint references, and generated-column definitions
    block column DDL (Delta's stance — the constraint/expression
    would silently break otherwise)."""
    for e in prev["partition_cols"]:
        if _parse_transform(e)[1] == col:
            raise ValueError(
                f"cannot {verb} partition column {col!r} (spec {e!r}); "
                "evolve partitioning first"
            )
    for name, expr in prev.get("constraints", {}).items():
        if _references_column(expr, col):
            raise ValueError(
                f"cannot {verb} column {col!r}: referenced by CHECK "
                f"constraint {name!r} ({expr})"
            )
    for gcol, expr in (prev.get("generated") or {}).items():
        if gcol == col or _references_column(expr, col):
            raise ValueError(
                f"cannot {verb} column {col!r}: part of generated column "
                f"{gcol!r} (GENERATED AS {expr})"
            )
    # a DROPPED clustering key would make every later default OPTIMIZE
    # (and the maintenance sweep) fail on a nonexistent column; RENAME
    # rewrites the property instead (see rename_column), and widening
    # keeps the name so clustering stays valid
    if verb == "drop":
        declared = (prev.get("properties") or {}).get("clusterBy", "")
        if col in [c for c in declared.split(",") if c]:
            raise ValueError(
                f"cannot drop column {col!r}: it is a declared "
                f"clustering key (clusterBy={declared}); CLUSTER BY "
                "NONE or re-declare without it first"
            )


def table_properties(table: str) -> dict:
    """The head's table-property map (empty when none set)."""
    return dict(_manifest_at(table)[1].get("properties") or {})


def set_table_properties(table: str, props: dict) -> int:
    """ALTER TABLE SET TBLPROPERTIES: merge ``props`` into the table's
    property map in a metadata-only commit. Properties carry forward
    on every commit automatically. Behavioral properties the engine
    enforces:

    * ``appendOnly`` = "true" — row-removing operations (DELETE/
      UPDATE/overwrites/REPLACE WHERE/MERGE rewrites) are refused at
      the commit gate (Delta's ``delta.appendOnly``); appends,
      OPTIMIZE, and DDL stay allowed.
    * ``vacuum.graceSeconds`` — per-table default for
      :func:`vacuum`'s grace window (Delta's
      ``deletedFileRetentionDuration`` in miniature).
    * ``clusterBy`` — comma-joined clustering keys every
      :func:`optimize` applies by default (set via
      :func:`set_clustering`, Delta's liquid-clustering surface).

    Everything else is opaque user metadata carried verbatim."""
    head, prev = _manifest_at(table)
    merged = dict(prev.get("properties") or {})
    merged.update({str(k): str(v) for k, v in props.items()})
    return _commit(
        table, "set_properties", parent=head, extra={"properties": merged}
    )


def unset_table_properties(
    table: str, keys: list[str], if_exists: bool = True
) -> int:
    """ALTER TABLE UNSET TBLPROPERTIES: remove ``keys`` metadata-only.
    Missing keys raise unless ``if_exists`` (the SQL default)."""
    head, prev = _manifest_at(table)
    props = dict(prev.get("properties") or {})
    missing = [k for k in keys if k not in props]
    if missing and not if_exists:
        raise ValueError(f"no such table properties on {table}: {missing}")
    for k in keys:
        props.pop(k, None)
    return _commit(
        table, "unset_properties", parent=head, extra={"properties": props}
    )


#: arrow type rendering per Spark atomic type, for the type-widening
#: live-file check (only the widenable families matter)
_ARROW_OF_SPARK = {
    "byte": "int8",
    "short": "int16",
    "integer": "int32",
    "long": "int64",
    "float": "float",
    "double": "double",
}


def _physical_types(man: dict) -> dict:
    """{physical column: pyarrow type rendering} of the manifest
    schema's widenable columns — the footer types a rewrite under the
    current schema produces."""
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(man["schema"]))
    mapping = man.get("column_mapping") or {}
    want = {}
    for f in schema.fields:
        # typeName(): "long"/"integer"/..., NOT simpleString()'s SQL
        # rendering ("bigint"); decimals keep (p,s) via simpleString
        tn = f.dataType.typeName()
        if tn == "decimal":
            # pyarrow renders "decimal128(10, 2)" WITH a space;
            # Spark's simpleString is "decimal(10,2)" without
            want[mapping.get(f.name, f.name)] = (
                f.dataType.simpleString()
                .replace("decimal", "decimal128")
                .replace(",", ", ")
            )
        elif tn in _ARROW_OF_SPARK:
            want[mapping.get(f.name, f.name)] = _ARROW_OF_SPARK[tn]
    return want


def _is_narrower(footer_schema, want: dict) -> bool:
    """True when a file footer stores one of ``want``'s columns at
    another (narrower) type; an absent column null-fills and needs no
    promotion."""
    return any(
        phys in footer_schema.names and str(footer_schema.field(phys).type) != t
        for phys, t in want.items()
    )


def _live_files_need_widening(table: str, man: dict) -> list[str]:
    """Files whose PHYSICAL parquet type is narrower than the manifest
    schema — the content that obligates the ``type-widening`` feature.
    Footer metadata reads only (no data); bounded by the live file
    count, acceptable for a rare admin operation."""
    import pyarrow.parquet as pq

    want = _physical_types(man)
    if not want:
        return []
    return [
        rel
        for rel in man["files"]
        if _is_narrower(pq.read_schema(os.path.join(table, rel)), want)
    ]


def drop_feature(table: str, feature: str) -> int:
    """ALTER TABLE ... DROP FEATURE (Delta's protocol DOWNGRADE): the
    only path by which the sticky reader/writer feature sets shrink.
    Refused while any LIVE manifest element at head still needs the
    flag — the caller must first purge the content (rewrite DVs away
    via OPTIMIZE, drop constraints, evolve partitioning back, ...);
    the error names the blocking content. On success, a metadata-only
    commit publishes head feature lists without the flag, so older
    engines that lack the feature can read/write from here on.

    History is NOT rewritten: time travel to pre-drop versions still
    gates on their own manifests (feature gating here is per-manifest,
    which is exactly why no Delta-style history-truncation wait is
    needed — an old reader asking for an old version SHOULD be
    refused).

    Per-feature live-content checks:

    * ``deletion-vectors`` — any live DV (purge: OPTIMIZE rewrites
      merge-on-read files)
    * ``check-constraints`` — any constraint (DROP CONSTRAINT first)
    * ``column-mapping`` — any logical->physical rename or retired
      column (irreversible without a table rewrite, like Delta)
    * ``generated-columns`` / ``identity-columns`` — any declared spec
    * ``row-tracking`` — the flag itself (ids ride every commit)
    * ``hidden-partitioning`` — any transform in the CURRENT spec
      (evolve_partitioning back to plain columns first)
    * ``type-widening`` — any live file whose physical type is
      narrower than the schema (OPTIMIZE rewrites them wide)
    """
    known = SUPPORTED_READER_FEATURES | SUPPORTED_WRITER_FEATURES
    if feature not in known:
        raise ValueError(
            f"unknown feature {feature!r}; this engine knows {sorted(known)}"
        )
    head, prev = _manifest_at(table)
    present = set(prev.get("reader_features") or []) | set(
        prev.get("writer_features") or []
    )
    if feature not in present:
        return head  # idempotent: nothing to drop
    blockers: list[str] = []
    if feature == "deletion-vectors" and prev.get("deletion_vectors"):
        blockers = [
            f"{len(prev['deletion_vectors'])} live deletion vector(s); "
            "run optimize() to materialize the deletes first"
        ]
    elif feature == "check-constraints" and prev.get("constraints"):
        blockers = [
            f"constraints {sorted(prev['constraints'])}; drop them first"
        ]
    elif feature == "column-mapping":
        mapping = prev.get("column_mapping") or {}
        renamed = {k: v for k, v in mapping.items() if k != v}
        if renamed or prev.get("retired_columns"):
            blockers = [
                "live column mapping "
                f"(renamed: {sorted(renamed)}, retired: "
                f"{prev.get('retired_columns') or []}); a physical "
                "rewrite under logical names would be required"
            ]
    elif feature == "generated-columns" and prev.get("generated"):
        blockers = [f"generated columns {sorted(prev['generated'])}"]
    elif feature == "identity-columns" and prev.get("identity"):
        blockers = [f"identity spec on {prev['identity'].get('col')!r}"]
    elif feature == "row-tracking" and prev.get("identity"):
        # dropping row tracking DISABLES tracking (the metadata turns
        # inert — Delta likewise allows the downgrade), but identity
        # columns are VALUES DERIVED FROM row ids: they must go first
        blockers = [
            f"identity column {prev['identity'].get('col')!r} rides on "
            "row ids; drop identity-columns first"
        ]
    elif feature == "hidden-partitioning":
        if any("(" in c for c in prev["partition_cols"]):
            blockers = [
                f"current partition spec {prev['partition_cols']} uses "
                "transforms; evolve_partitioning to plain columns first"
            ]
        else:
            # partition EVOLUTION may have left live files under a
            # historical spec's transform directories (<col>_day=,
            # <col>_bucket=) — reading those still needs the feature;
            # OPTIMIZE migrates them into the current layout
            legacy = [
                f
                for f in prev["files"]
                if any(
                    re.match(r"\w+_(day|bucket)=", seg)
                    for seg in f.split("/")[:-1]
                )
            ]
            if legacy:
                blockers = [
                    f"{len(legacy)} live file(s) still sit under a "
                    "historical transform spec's directories (e.g. "
                    f"{legacy[0]}); optimize() migrates them first"
                ]
    elif feature == "type-widening":
        offenders = _live_files_need_widening(table, prev)
        if offenders:
            blockers = [
                f"{len(offenders)} live file(s) carry narrower physical "
                "types than the schema (e.g. "
                f"{offenders[0]}); optimize() rewrites them wide"
            ]
    if blockers:
        raise ValueError(
            f"cannot drop feature {feature!r} from {table}: {blockers[0]}"
        )
    drop = {feature}
    # a reader feature obligates writers too, so dropping it clears
    # both lists; row_tracking's manifest flag must not re-stick
    extra = {}
    if feature == "row-tracking":
        extra["row_tracking"] = False
    return _commit(
        table,
        f"drop_feature_{feature}",
        parent=head,
        extra=extra or None,
        _drop_features=drop,
    )


def copied_files(table: str) -> set[str]:
    """Source paths every COPY INTO commit in retained history has
    loaded — the idempotence ledger :func:`copy_into` checks. O(raw
    manifest reads over history); vacuum-expired history forgets its
    entries (the same retention caveat Delta's COPY INTO documents)."""
    out: set[str] = set()
    for v in _list_versions(table):
        out.update(_raw_manifest(table, v).get("copy_sources") or [])
    return out


def copy_into(
    spark: SparkSession,
    table: str,
    source: str,
    file_format: str = "parquet",
    pattern: str | None = None,
    options: dict | None = None,
    force: bool = False,
    merge_schema: bool = False,
) -> dict:
    """COPY INTO (Databricks/Delta's idempotent file-ingest statement):
    load files from ``source`` into the snapshot table, SKIPPING every
    file a previous COPY INTO already loaded — re-running the same
    command after a partial failure or on a growing landing directory
    ingests exactly the new files, no dedup query needed. The loaded
    ledger is the ``copy_sources`` list each copy commit records in
    its manifest (:func:`copied_files`); one COPY = one atomic commit,
    so a crash mid-copy loads nothing and retries cleanly.

    ``pattern``: glob over file names (COPY INTO's PATTERN clause).
    ``options``: reader options (e.g. ``{"header": "true"}`` for CSV;
    pass a DDL ``schema`` option for schema'd CSV reads).
    ``force=True`` reloads files already in the ledger (COPY_OPTIONS
    ('force'='true')). Returns {loaded_files, skipped_files, version}
    (version None when nothing new).

    Concurrency: ``copy_into`` deliberately has NO auto-rebase policy
    — a racing commit (another COPY, an append, anything) makes the
    loser's publish raise, and the retry here RE-READS THE LEDGER
    before reloading, so two copies racing over the same landing
    directory can never double-load a file (the hazard a lenient
    rebase would create: both compute against the same parent's
    ledger and both land).

    Scale: the ledger check is driver-side set arithmetic over
    manifest metadata; the read is one normal distributed scan of
    ONLY the new files."""
    import fnmatch
    import glob as _glob

    _manifest_at(table)  # raises if the table does not exist
    src = source.rstrip("/")
    names = sorted(
        p
        for p in _glob.glob(os.path.join(src, "**"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith(("_", "."))
    )
    if pattern:
        names = [
            p for p in names if fnmatch.fnmatch(os.path.relpath(p, src), pattern)
        ]
    last_err: Exception | None = None
    for _attempt in range(5):
        already = set() if force else copied_files(table)
        new = [p for p in names if p not in already]
        if not new:
            return {
                "loaded_files": 0,
                "skipped_files": len(names),
                "version": None,
            }
        reader = spark.read.format(file_format)
        for k, v in (options or {}).items():
            reader = reader.option(k, v)
        if "schema" in (options or {}):
            reader = spark.read.format(file_format).schema(options["schema"])
            for k, v in options.items():
                if k != "schema":
                    reader = reader.option(k, v)
        df = reader.load(new)
        try:
            v = append(
                df,
                table,
                merge_schema=merge_schema,
                _operation="copy_into",
                _extra={"copy_sources": new},
            )
        except ConcurrentCommit as e:
            last_err = e  # loser: re-read the ledger and retry
            continue
        return {
            "loaded_files": len(new),
            "skipped_files": len(names) - len(new),
            "version": v,
        }
    raise last_err


def set_clustering(table: str, cols: list[str] | None) -> int:
    """ALTER TABLE ... CLUSTER BY (Delta liquid clustering's
    declaration surface): record the table's clustering keys as the
    ``clusterBy`` property so every later :func:`optimize` (and
    :func:`auto_compact` pass over it) re-applies the layout without
    the caller re-stating keys — the layout policy travels WITH the
    table, exactly like partitioning. Metadata-only; no data moves
    until the next OPTIMIZE. ``cols=None`` / empty = CLUSTER BY NONE
    (unsets). Refused for partition columns (constant within a
    partition directory — clustering them is a no-op that would
    silently waste the sort) and unknown columns."""
    _, prev = _manifest_at(table)
    if not cols:
        return unset_table_properties(table, ["clusterBy"], if_exists=True)
    schema = json.loads(prev["schema"])
    names = {f["name"] for f in schema["fields"]}
    unknown = [c for c in cols if c not in names]
    if unknown:
        raise ValueError(f"unknown clustering columns {unknown}; table has {sorted(names)}")
    pnames = set(_spec_names(prev["partition_cols"]))
    overlap = [c for c in cols if c in pnames]
    if overlap:
        raise ValueError(
            f"clustering columns {overlap} are partition columns — "
            "constant within each partition directory, clustering "
            "them is a no-op"
        )
    return set_table_properties(table, {"clusterBy": ",".join(cols)})


def add_constraint(
    spark: SparkSession, table: str, name: str, expr: str
) -> int:
    """ALTER TABLE ADD CONSTRAINT (Delta's CHECK-constraint DDL):
    validates EXISTING rows first — one aggregation pass over the
    current snapshot, SQL CHECK semantics (NULL passes) — then
    records the constraint in a metadata-only commit. Every future
    data-adding commit enforces it. Adding a name that already exists
    raises, like Delta."""
    head, prev = _manifest_at(table)
    cons = dict(prev.get("constraints") or {})
    if name in cons:
        raise ValueError(
            f"constraint {name!r} already exists on {table} "
            f"({cons[name]}); drop it first"
        )
    _validate_constraints(read_snapshot(spark, table, version=head), {name: expr})
    cons[name] = expr
    return _commit(table, "add_constraint", parent=head, constraints=cons)


def drop_constraint(table: str, name: str, if_exists: bool = False) -> int:
    """ALTER TABLE DROP CONSTRAINT: metadata-only removal. A missing
    name raises unless ``if_exists`` (Delta's IF EXISTS), in which
    case the head is returned unchanged."""
    head, prev = _manifest_at(table)
    cons = dict(prev.get("constraints") or {})
    if name not in cons:
        if if_exists:
            return head
        raise ValueError(f"no constraint {name!r} on {table}")
    del cons[name]
    return _commit(table, "drop_constraint", parent=head, constraints=cons)


def rename_column(table: str, old: str, new: str) -> int:
    """Delta-column-mapping-style RENAME COLUMN as a METADATA-ONLY
    commit: no data file is touched at any table size. The manifest's
    column mapping records {new_logical: physical}, where the
    physical name is whatever the data files were written under;
    readers plan against the physical schema and rename back
    (:func:`_read_union`), writers translate logical -> physical at
    the single write chokepoint (:func:`_write_data`), and stats /
    bloom / DV machinery is untouched because it was always keyed by
    physical names. Time travel to a pre-rename version shows the old
    name — the mapping lives in each version's manifest.

    Refused for partition columns and columns referenced by CHECK
    constraints (rename would silently break them — Delta refuses
    likewise)."""
    head, prev = _manifest_at(table)
    from pyspark.sql.types import StructField, StructType

    schema = StructType.fromJson(json.loads(prev["schema"]))
    names = [f.name for f in schema.fields]
    if old not in names:
        raise ValueError(f"column {old!r} not in schema {names}")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    _guard_column_ddl(prev, old, "rename")
    mapping = dict(prev.get("column_mapping") or {})
    mapping[new] = mapping.pop(old, old)
    if mapping[new] == new:
        mapping.pop(new)  # renamed back to its physical name
    new_schema = StructType(
        [
            StructField(new, f.dataType, f.nullable) if f.name == old else f
            for f in schema.fields
        ]
    )
    # a renamed clustering key follows the rename IN THE SAME COMMIT —
    # a stale clusterBy would fail every later default OPTIMIZE
    extra = None
    props = dict(prev.get("properties") or {})
    declared = [c for c in props.get("clusterBy", "").split(",") if c]
    if old in declared:
        props["clusterBy"] = ",".join(
            new if c == old else c for c in declared
        )
        extra = {"properties": props}
    return _commit(
        table,
        "rename_column",
        schema_json=new_schema.json(),
        parent=head,
        column_mapping=mapping,
        extra=extra,
    )


def _parse_simple_type(s: str):
    """Parse a widening-eligible type name WITHOUT a SparkSession
    (the type-DDL parser needs a live SparkContext, which would force
    the CLI's metadata-only actions to boot a JVM): atomic numerics
    plus decimal(p,s)."""
    import re

    from pyspark.sql.types import (
        ByteType,
        DecimalType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
    )

    atomic = {
        "byte": ByteType(),
        "tinyint": ByteType(),
        "short": ShortType(),
        "smallint": ShortType(),
        "int": IntegerType(),
        "integer": IntegerType(),
        "long": LongType(),
        "bigint": LongType(),
        "float": FloatType(),
        "real": FloatType(),
        "double": DoubleType(),
    }
    key = s.strip().lower()
    if key in atomic:
        return atomic[key]
    m = re.fullmatch(r"decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", key)
    if m:
        return DecimalType(int(m.group(1)), int(m.group(2)))
    raise ValueError(f"unsupported widen target type: {s!r}")


#: legal metadata-only widenings: target Spark reads the narrow
#: parquet physical type under the wider declared schema natively
#: (verified: INT32->bigint, FLOAT->double, DECIMAL precision growth)
_WIDENINGS: dict[str, set[str]] = {
    "byte": {"short", "integer", "long"},
    "short": {"integer", "long"},
    "integer": {"long"},
    "float": {"double"},
}


def widen_column(table: str, col: str, new_type: str) -> int:
    """Delta-style TYPE WIDENING as a METADATA-ONLY commit: the
    manifest schema declares the wider type and every reader plans
    old files through Spark's native parquet type promotion — no data
    file is rewritten at any table size (the whole point: an
    int-overflow migration on a 100 TB table must not cost a table
    rewrite). Allowed: byte/short/int up-chain to long, float ->
    double, and decimal precision growth at the SAME scale. Time
    travel to a pre-widen version still reads the narrow schema (the
    schema lives in each version's manifest); appends after the
    widen write the wide type and mixed files union seamlessly.

    Refused for narrowings/cross-family changes, partition columns,
    and columns referenced by CHECK constraints or generated columns
    (the expression's type would silently shift — Delta refuses
    likewise). The column's per-file BLOOM index entries are dropped
    (bloom bitmaps hash the value's string rendering, which widening
    can change for floats — a file without a bloom is never pruned,
    so dropping is the always-safe direction); footer min/max stats
    stay, their JSON scalars compare unchanged under the wider type.
    """
    head, prev = _manifest_at(table)
    from pyspark.sql.types import DecimalType, StructField, StructType

    schema = StructType.fromJson(json.loads(prev["schema"]))
    names = [f.name for f in schema.fields]
    if col not in names:
        raise ValueError(f"column {col!r} not in schema {names}")
    field = next(f for f in schema.fields if f.name == col)
    target = _parse_simple_type(new_type)
    old_t, new_t = field.dataType, target
    ok = False
    if isinstance(old_t, DecimalType) and isinstance(new_t, DecimalType):
        ok = new_t.scale == old_t.scale and new_t.precision > old_t.precision
    else:
        ok = new_t.typeName() in _WIDENINGS.get(old_t.typeName(), set())
    if not ok:
        raise ValueError(
            f"cannot widen {col!r}: {old_t.simpleString()} -> "
            f"{new_t.simpleString()} is not a supported widening"
        )
    _guard_column_ddl(prev, col, "widen")
    new_schema = StructType(
        [
            StructField(col, target, f.nullable) if f.name == col else f
            for f in schema.fields
        ]
    )
    phys = (prev.get("column_mapping") or {}).get(col, col)
    file_stats = {}
    for f, entry in (prev.get("file_stats") or {}).items():
        e = dict(entry)
        blooms = {k: v for k, v in (e.get("bloom") or {}).items() if k != phys}
        if blooms:
            e["bloom"] = blooms
        else:
            e.pop("bloom", None)
        file_stats[f] = e
    return _commit(
        table,
        "widen_column",
        schema_json=new_schema.json(),
        parent=head,
        file_stats=file_stats,
        extra={
            "reader_features": ["type-widening"],
            "writer_features": ["type-widening"],
        },
    )


def drop_column(table: str, col: str) -> int:
    """METADATA-ONLY DROP COLUMN: the field leaves the schema, its
    physical name is recorded as retired, and no data file changes —
    old versions still time-travel to the full schema. A later
    ``append(..., merge_schema=True)`` that re-adds the same logical
    name gets a FRESH physical alias (:func:`_fresh_aliases`, the
    resurrection guard), so dropped data can never silently resurface
    under a new column."""
    head, prev = _manifest_at(table)
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(prev["schema"]))
    names = [f.name for f in schema.fields]
    if col not in names:
        raise ValueError(f"column {col!r} not in schema {names}")
    if len(names) == 1:
        raise ValueError("cannot drop the only column")
    _guard_column_ddl(prev, col, "drop")
    mapping = dict(prev.get("column_mapping") or {})
    physical = mapping.pop(col, col)
    retired = sorted(set(prev.get("retired_columns") or []) | {physical})
    new_schema = StructType([f for f in schema.fields if f.name != col])
    return _commit(
        table,
        "drop_column",
        schema_json=new_schema.json(),
        parent=head,
        column_mapping=mapping,
        retired_columns=retired,
    )


def add_columns(
    table: str,
    columns,
    spark: SparkSession | None = None,
) -> int:
    """Delta-style ``ALTER TABLE ADD COLUMNS`` as a METADATA-ONLY
    commit: the new fields join the schema, no data file is touched
    at any table size, and every existing file null-fills them on
    read (schema-on-read in :func:`_read_union` — the scan plans the
    declared schema over files that predate it). New columns are
    forced NULLABLE: every already-committed row reads NULL, so a
    NOT NULL mark would be false the instant it was declared (Delta
    refuses the same way unless the table is empty — we normalize
    rather than refuse, matching INSERT's coercion posture).

    ``columns`` is a DDL fragment (``"a int, b array<string>"``) or a
    list of ``(name, type_str)`` pairs. Complex types need ``spark``
    (the full DDL type parser lives JVM-side); atomic types parse
    driver-only so the CLI's metadata actions stay JVM-free.

    Resurrection guard (:func:`_fresh_aliases`, the one physical-alias
    rule): a new logical name colliding with a still-claimed or
    retired PHYSICAL name takes a fresh physical alias in the column
    mapping — otherwise ``RENAME a->b`` followed by ``ADD COLUMNS (a
    int)`` would read b's old data back out under the new column."""
    head, prev = _manifest_at(table)
    from pyspark.sql.types import StructField, StructType

    if isinstance(columns, str):
        if spark is None:
            raise ValueError(
                "add_columns with a DDL string needs a SparkSession "
                "(pass (name, type) pairs for JVM-free atomic adds)"
            )
        added = list(local_df(spark, [], columns).schema.fields)
    else:
        added = []
        for name, type_str in columns:
            if spark is not None:
                dt = local_df(spark, 
                    [], f"`{name}` {type_str}"
                ).schema.fields[0].dataType
            else:
                dt = _parse_added_type(type_str)
            added.append(StructField(name, dt, True))
    if not added:
        raise ValueError("ADD COLUMNS requires at least one column")
    schema = StructType.fromJson(json.loads(prev["schema"]))
    names = [f.name for f in schema.fields]
    new_names = [f.name for f in added]
    if len(set(new_names)) != len(new_names):
        raise ValueError(f"duplicate column in ADD COLUMNS: {new_names}")
    clash = set(new_names) & set(names)
    if clash:
        raise ValueError(
            f"column(s) {sorted(clash)} already exist in {table}"
        )
    mapping = _fresh_aliases(
        prev, prev.get("column_mapping") or {}, new_names, head + 1
    )
    new_schema = StructType(
        list(schema.fields)
        + [StructField(f.name, f.dataType, True) for f in added]
    )
    return _commit(
        table,
        "add_columns",
        schema_json=new_schema.json(),
        parent=head,
        column_mapping=mapping,
    )


def _parse_added_type(s: str):
    """Driver-only (no JVM) type parser for :func:`add_columns`'s
    pair form: the widening-eligible numerics plus the remaining
    atomic Spark types. Complex types route through the session's
    DDL parser instead."""
    from pyspark.sql.types import (
        BinaryType,
        BooleanType,
        DateType,
        StringType,
        TimestampType,
    )

    key = s.strip().lower()
    atomic = {
        "string": StringType(),
        "varchar": StringType(),
        "boolean": BooleanType(),
        "bool": BooleanType(),
        "date": DateType(),
        "timestamp": TimestampType(),
        "binary": BinaryType(),
    }
    if key in atomic:
        return atomic[key]
    return _parse_simple_type(s)


def version_as_of(table: str, ts: float) -> int:
    """TIMESTAMP AS OF resolution: the newest version whose commit
    time is <= ``ts`` (a Unix timestamp or datetime). Raises if the
    timestamp predates the first retained commit — after a vacuum
    retention expiry that is the honest answer, matching Delta's
    "timestamp before earliest version" error rather than silently
    serving a younger snapshot."""
    import datetime

    if isinstance(ts, datetime.datetime):
        ts = ts.timestamp()
    versions = _list_versions(table)
    if not versions:
        raise ValueError(f"{table} does not exist")
    eligible = [
        v for v in versions if _read_manifest(table, v)["committed_at"] <= ts
    ]
    if not eligible:
        raise ValueError(
            f"no version of {table} committed at or before {ts} "
            f"(earliest retained: v{versions[0]})"
        )
    return max(eligible)


def read_snapshot(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    as_of: float | None = None,
    tag: str | None = None,
    with_row_ids: bool = False,
) -> DataFrame:
    """Read a committed snapshot (latest; ``version=`` for VERSION AS
    OF; ``as_of=`` a Unix timestamp/datetime for TIMESTAMP AS OF
    time travel; ``tag=`` a named ref from :func:`create_tag`).
    Plans exactly the manifest's file list — snapshot isolation
    against concurrent commits, normal Catalyst partition pruning /
    filter pushdown on top.

    ``with_row_ids=True`` (requires :func:`enable_row_tracking`)
    appends the stable ``_row_id`` column — Delta row tracking: id =
    the file's allocated base + the parquet row index, overridden by
    the materialized id column in files OPTIMIZE rewrote."""
    if sum(x is not None for x in (version, as_of, tag)) > 1:
        raise ValueError("pass at most one of version=, as_of=, tag=")
    if tag is not None:
        version = read_tag(table, tag)
    if as_of is not None:
        version = version_as_of(table, as_of)
    v, manifest = _manifest_at(table, version)
    ident = manifest.get("identity")
    ids = bool(with_row_ids or ident)
    if ids and not manifest.get("row_tracking"):
        raise ValueError(
            f"{table} v{v} has no row tracking; call "
            "enable_row_tracking(table) first"
        )
    out = _read_files(spark, table, manifest, manifest["files"], row_ids=ids)
    if not ids:
        return out
    if ident:
        from pyspark.sql import functions as F

        out = out.withColumn(
            ident["col"],
            (
                F.lit(int(ident["start"])).cast("bigint")
                + F.lit(int(ident["step"])).cast("bigint")
                * F.col(ROW_ID_COL)
            ),
        )
    if with_row_ids:
        return out.withColumnRenamed(ROW_ID_COL, "_row_id")
    return out.drop(ROW_ID_COL)


def _register_df_view(df, name: str, global_view: bool) -> str:
    """Shared tail of the register_*_view surfaces: identifier
    validation + temp/global-temp registration, returning the name
    to use in SQL."""
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        raise ValueError(
            f"invalid view name {name!r}: must be a bare SQL identifier "
            "(temp views are session-scoped and unqualified)"
        )
    if global_view:
        df.createOrReplaceGlobalTempView(name)
        return f"global_temp.{name}"
    df.createOrReplaceTempView(name)
    return name


def register_snapshot_view(
    spark: SparkSession,
    table: str,
    name: str,
    version: int | None = None,
    as_of: float | None = None,
    tag: str | None = None,
    with_row_ids: bool = False,
    global_view: bool = False,
) -> str:
    """Register a snapshot table in the session catalog so
    ``spark.sql`` reaches it — the SQL-on-ACID-table surface the
    reference serves through Athena-on-Iceberg
    (jobs/ev_sessions_gold_etl.py:159-160, README.md:41). Returns the
    name to use in SQL (``global_temp.<name>`` for a global view).

    The view is created over :func:`read_snapshot`, so time travel
    composes: ``version=`` / ``as_of=`` / ``tag=`` pin an historical
    snapshot; the default pins the CURRENT head. Either way the view
    plans the manifest's exact file list — snapshot isolation: commits
    landing after registration are NOT visible through the view
    (re-register to advance, exactly like re-running the query in
    Delta). DVs, column mapping, and row tracking all apply because
    the read path is shared.

    Scale: registration is a metadata operation (one manifest read,
    no data); queries over the view get normal Catalyst pruning and
    filter pushdown into the parquet scan of the manifest's files."""
    df = read_snapshot(
        spark,
        table,
        version=version,
        as_of=as_of,
        tag=tag,
        with_row_ids=with_row_ids,
    )
    return _register_df_view(df, name, global_view)


def register_changes_view(
    spark: SparkSession,
    table: str,
    name: str,
    from_version: int,
    to_version: int | None = None,
    global_view: bool = False,
) -> str:
    """Register the table's change feed as a session SQL view — the
    Delta ``table_changes('t', from, to)`` SQL surface, composing
    with :func:`register_snapshot_view`: an analyst can join the
    feed against the snapshot views in one ``spark.sql`` statement
    (e.g. audit which rows a window of commits touched). The view
    pins the [from_version, to_version] window at registration;
    re-register to advance. Columns are the batch :func:`changes`
    vocabulary (row payload + ``_change_type`` + ``_commit_version``).
    """
    return _register_df_view(
        changes(spark, table, from_version, to_version), name, global_view
    )


def enable_row_tracking(table: str) -> int:
    """Turn on Delta-style ROW TRACKING as a metadata-only commit:
    every current file gets a contiguous stable-id range (in sorted
    file-path order; ranges sized by footer row counts — no data
    read), the manifest records the high-water mark, and the
    ``row-tracking`` reader feature gates older readers out. From
    here on every data-adding commit allocates fresh ranges for the
    rows it inserts, DV deletes retire ids without touching survivors,
    and every rewrite preserves ids by materializing them into the
    rewritten files (:data:`ROW_ID_COL`): OPTIMIZE, DELETE, UPDATE and
    replace_where in both modes (:func:`_rewrite_rows`), and
    :func:`merge_into`, whose matched rows inherit their target's id —
    Delta's preserved-row-tracking writes. Idempotent."""
    head, prev = _manifest_at(table)
    if prev.get("row_tracking"):
        return head
    stats = {f: dict(e) for f, e in prev.get("file_stats", {}).items()}
    return _commit(
        table,
        "enable_row_tracking",
        parent=head,
        file_stats=stats,
        extra=_start_row_tracking(table, prev["files"], stats),
    )


def _start_row_tracking(table: str, files: list[str], stats: dict) -> dict:
    """The first id allocation of a table (:func:`enable_row_tracking`,
    or :func:`enable_identity` on an untracked table): each file gets
    a contiguous ``base_row_id`` range in ``stats``, in sorted-path
    order, sized by its footer row count (no data read). Returns the
    manifest fields that turn tracking on at the high-water mark."""
    nxt = 0
    for f in sorted(files):
        e = stats.setdefault(f, {})
        if "rows" not in e:
            e["rows"] = _file_rows(table, f)
        e["base_row_id"] = nxt
        nxt += int(e["rows"])
    return {"row_tracking": True, "next_row_id": nxt}


def enable_identity(
    table: str, col: str, start: int = 1, step: int = 1
) -> int:
    """GENERATED ALWAYS AS IDENTITY (Delta identity columns): adds a
    surrogate-key column ``col`` whose value is
    ``start + step * row_id``, riding on the row-tracking id
    machinery — allocation is METADATA-ONLY (contiguous per-file
    ranges off the table high-water mark, no data rewritten and no
    global sort at any table size), values are unique by
    construction, and they inherit row tracking's stability
    guarantees verbatim: every rewrite (OPTIMIZE, DELETE, UPDATE,
    replace_where, MERGE) preserves them, deletes retire them,
    rollback reconciles them. Unlike
    Delta (which materializes identity values into data files), the
    column derives at read time from the committed id ranges — the
    observable contract (uniqueness, stability, monotone allocation
    per commit) is the same, with zero write amplification.

    Writers must NOT supply the column (the ALWAYS semantics);
    :func:`append`/overwrite reject a frame carrying it. Readers are
    gated by the ``identity-columns`` feature. Enabling is one
    commit; idempotent for an identical spec, refused for a
    conflicting one (same stance as re-pointing a tag)."""
    head, prev = _manifest_at(table)
    spec = {"col": col, "start": int(start), "step": int(step)}
    if prev.get("identity"):
        if prev["identity"] == spec:
            return head
        raise ValueError(
            f"{table} already has identity spec {prev['identity']}; "
            "refusing to change it"
        )
    if step == 0:
        raise ValueError("identity step must be non-zero")
    from pyspark.sql.types import StructType

    names = {
        f.name
        for f in StructType.fromJson(json.loads(prev["schema"])).fields
    }
    if col in names:
        raise ValueError(
            f"column {col!r} already exists in {table}; identity columns "
            "must introduce a new column"
        )
    stats = {f: dict(e) for f, e in prev.get("file_stats", {}).items()}
    extra: dict = {"identity": spec}
    if not prev.get("row_tracking"):
        extra.update(_start_row_tracking(table, prev["files"], stats))
    return _commit(
        table, "enable_identity", parent=head, file_stats=stats, extra=extra
    )


def _attach_row_ids(
    spark: SparkSession, table: str, manifest: dict, df: DataFrame, files
) -> DataFrame:
    """The one stable-row-id rule (Delta row tracking / Iceberg v3 row
    lineage): on a position-keyed frame (``___f``/``___ri``) of
    ``files``, ``ROW_ID_COL`` becomes coalesce(the materialized id,
    the file's ``base_row_id`` + parquet row index). The base map is
    one slim row per FILE joined broadcast on ``_metadata.file_path``
    — file-count cardinality, the same metadata-scale join every Delta
    reader carries; row payloads never shuffle. A file without a base
    (a commit predating :func:`enable_row_tracking`) yields null."""
    from pyspark.sql import functions as F

    stats = manifest.get("file_stats", {})
    base_df = local_df(
        spark,
        [(_abs_uri(table, f), stats.get(f, {}).get("base_row_id")) for f in files],
        "___bf string, ___base long",
    )
    return (
        df.join(F.broadcast(base_df), df["___f"] == base_df["___bf"], "left")
        .withColumn(
            ROW_ID_COL,
            F.coalesce(F.col(ROW_ID_COL), F.col("___base") + F.col("___ri")),
        )
        .drop("___bf", "___base")
    )


def _read_files(
    spark: SparkSession,
    table: str,
    manifest: dict,
    files: list[str],
    keep_pos: bool = False,
    row_ids: bool = False,
) -> DataFrame:
    """Read a file subset of one snapshot under its schema, deletion
    vectors and column mapping. ``row_ids=True`` materializes each
    row's stable id into :data:`ROW_ID_COL` (:func:`_attach_row_ids`),
    so a rewrite that writes the frame back keeps every id;
    ``keep_pos`` keeps the ``___f``/``___ri`` position columns.
    Without either it is a plain :func:`_read_union`."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType.fromJson(json.loads(manifest["schema"]))
    if row_ids:
        schema = StructType(
            list(schema.fields) + [StructField(ROW_ID_COL, LongType(), True)]
        )
    df = _read_union(
        spark,
        table,
        files,
        schema,
        dvs=manifest.get("deletion_vectors"),
        keep_pos=keep_pos or row_ids,
        mapping=manifest.get("column_mapping"),
    )
    if not row_ids or not files:
        return df
    df = _attach_row_ids(spark, table, manifest, df, files)
    return df if keep_pos else df.drop("___f", "___ri")


def _abs_uri(table: str, rel_or_abs: str) -> str:
    """The _metadata.file_path form of a manifest file entry.

    Must be ABSOLUTE regardless of how the caller spelled ``table``:
    Spark's ``_metadata.file_path`` is always an absolute file: URI,
    so a relative table path here would make every DV anti-join and
    bloom file mapping silently match nothing.

    And it must be URI-ENCODED exactly as Spark encodes it (Java
    URI path rules, verified empirically against
    ``_metadata.file_path``): disallowed ASCII become uppercase %XX
    (``g=x%3Ay`` surfaces as ``g=x%253Ay``, ``g=a b`` as
    ``g=a%20b``), non-ASCII LETTERS stay RAW (``g=Genève``,
    ``g=東京`` — java.net.URI's "other" category is permitted), but
    non-ASCII SPACE and control chars UTF-8-%-encode (U+00A0 ->
    ``%C2%A0``). Matching the raw disk path (or blanket
    percent-encoding) would silently miss files under such
    directories, nulling row-id derivation and (worse) letting
    DV-deleted rows resurface (regression-tested with ':', ' ',
    NULL, 'Genève' and U+00A0 partition values)."""
    path = os.path.abspath(os.path.join(table, rel_or_abs))
    return "file:" + _java_uri_quote(path)


_URI_SAFE = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
    "-_.~!$&'()*+,;=:@/"
)


def _java_uri_quote(path: str) -> str:
    """java.net.URI path quoting (what Hadoop Path.toUri / Spark's
    _metadata.file_path applies): ASCII outside the permitted set and
    Unicode space (Zs/Zl/Zp) / ISO-control chars %-encode their UTF-8
    bytes uppercase; every other non-ASCII char passes through raw."""
    import unicodedata
    from urllib.parse import quote

    out = []
    for ch in path:
        o = ord(ch)
        if o < 0x80:
            out.append(ch if ch in _URI_SAFE else f"%{o:02X}")
        elif o <= 0x9F or unicodedata.category(ch) in ("Zs", "Zl", "Zp"):
            out.append(quote(ch))
        else:
            out.append(ch)
    return "".join(out)


def _decode_dv_refs_arrow(batches):
    """mapInArrow body for the executor-side DV decode: each input row
    is (file uri, sidecar path); each output row is (file uri, deleted
    position). Runs the same varint decode as the driver loader but
    WITHOUT the lru_cache — a reused executor worker must not pin
    O(positions) tuples across tasks — and yields bounded record
    batches so one huge vector never materializes as a single Arrow
    allocation."""
    import pyarrow as pa

    CHUNK = 1 << 18
    for batch in batches:
        uris = batch.column(0).to_pylist()
        paths = batch.column(1).to_pylist()
        for uri, path in zip(uris, paths):
            with open(path, "rb") as fh:
                ps = _decode_dv_binary(fh.read())
            for i in range(0, len(ps), CHUNK):
                part = ps[i : i + CHUNK]
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([uri] * len(part), type=pa.string()),
                        pa.array(part, type=pa.int64()),
                    ],
                    names=["___dvf", "___dvp"],
                )


def _apply_dvs(spark, df, table: str, dvs: dict):
    """Merge-on-read: anti-join the per-file deleted row positions
    (deletion vectors) out of a position-keyed frame (must carry the
    ``___f``/``___ri`` columns). No data column is compared, and the
    DV frame broadcasts — it holds one row per DELETED row of the
    files being read, which is small by construction: large deletes
    take the rewrite path. ``_metadata.row_index`` is the row's
    position within the FILE — verified across many-row-group files
    (tests/test_snaptable.py), since a row-group-scoped index would
    silently corrupt every multi-row-group DV at scale.

    Vectors that resolved lazily (> DV_DRIVER_DECODE_MAX positions)
    never touch the driver at all: their sidecars decode in EXECUTORS
    (one file per task via mapInArrow over the ref list) and
    anti-join WITHOUT a broadcast — at that cardinality a shuffled
    join is the memory-safe shape (guide §5). The ``shuffle_hash``
    hint forces it: the decoded side's size estimate comes from the
    few-row ref list, so auto-broadcast would otherwise pick it and
    collect every position through the driver."""
    from pyspark.sql import functions as F

    # _abs_uri (Java-rule URI quoting, pure Python) is per-FILE work:
    # hoisted out of the per-position comprehension it used to sit in,
    # where a 60k-position DV set paid 60k quote calls (~5 s profiled)
    # instead of one per file
    uris = {f: _abs_uri(table, f) for f in dvs}
    lazy = {
        f: ps for f, ps in dvs.items() if isinstance(ps, _LazyDVPositions)
    }
    rows = [
        (uris[f], int(p))
        for f, ps in dvs.items()
        if f not in lazy
        for p in ps
    ]
    if rows:
        dv_df = local_df(spark, rows, "___dvf string, ___dvp long")
        df = df.join(
            F.broadcast(dv_df),
            (df["___f"] == dv_df["___dvf"]) & (df["___ri"] == dv_df["___dvp"]),
            "left_anti",
        )
    if lazy:
        refs = local_df(
            spark,
            [(uris[f], ps.path) for f, ps in sorted(lazy.items())],
            "___dvf string, ___dvpath string",
        ).repartition(len(lazy))  # one sidecar decode per task
        big = refs.mapInArrow(
            _decode_dv_refs_arrow, "___dvf string, ___dvp long"
        ).hint("shuffle_hash")
        df = df.join(
            big,
            (df["___f"] == big["___dvf"]) & (df["___ri"] == big["___dvp"]),
            "left_anti",
        )
    return df


def _read_union(
    spark: SparkSession,
    table: str,
    files: list[str],
    schema,
    dvs: dict | None = None,
    keep_pos: bool = False,
    mapping: dict | None = None,
):
    """Plan a file list as ONE DataFrame, tolerating MIXED partition
    layouts (partition evolution leaves old-spec files in place):
    files group by their path-derived spec, each group reads with
    normal partition discovery under the shared basePath, and the
    groups union by name. Schema-on-read from the manifest: files
    predating a schema evolution null-fill the newer columns, and
    each group's partition columns resolve from ITS directory values
    at the manifest-declared types (a column is either in a file's
    data or in its path — never both, never neither).

    ``mapping`` is the manifest's column mapping {logical: physical}
    (Delta column-mapping equivalent): data files always carry
    PHYSICAL names, so the scan plans against the physical schema and
    renames back to the manifest's logical names — which is what
    makes :func:`rename_column` a metadata-only commit."""
    if not files:
        return local_df(spark, [], schema)
    mapping = mapping or {}
    if mapping:
        from pyspark.sql.types import StructField, StructType

        phys_schema = StructType(
            [
                StructField(mapping.get(f.name, f.name), f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
    else:
        phys_schema = schema
    # group by (spec, data root): a shallow CLONE's manifest lists the
    # source table's files as absolute paths, whose partition values
    # must resolve against the SOURCE's data dir, not the clone's
    groups: dict[tuple, list[str]] = {}
    for f in files:
        groups.setdefault((_file_spec(f), _data_root_of(table, f)), []).append(f)
    dfs = [
        spark.read.schema(phys_schema)
        .option("basePath", root)
        .parquet(*[os.path.join(table, f) for f in fs])
        for (_spec, root), fs in groups.items()
    ]
    if mapping:
        back = {phys: logical for logical, phys in mapping.items()}
        # atomic single projection, not withColumnsRenamed: with a
        # rename chain like {o_totalprice: total_price,
        # o_totalprice__r3: o_totalprice} (a physical name reused as
        # another column's logical name), sequential renaming
        # transiently duplicates a name and then renames both copies;
        # aliasing all columns against the original frame at once is
        # order-independent.
        dfs = [
            d.select(*[d[c].alias(back.get(c, c)) for c in d.columns])
            for d in dfs
        ]
    from pyspark.sql import functions as F

    file_set = set(files)
    live_dvs = {f: ps for f, ps in (dvs or {}).items() if f in file_set}
    names = [f.name for f in schema.fields]
    if live_dvs or keep_pos:
        # position-keyed read: the parquet row index + file path ride
        # along (resolvable only on the source relation, so attached
        # here), feed the DV anti-join, and survive when the caller
        # asked for positions (keep_pos)
        dfs = [
            d.withColumn("___f", F.col("_metadata.file_path")).withColumn(
                "___ri", F.col("_metadata.row_index")
            )
            for d in dfs
        ]
        if live_dvs:
            dfs = [_apply_dvs(spark, d, table, live_dvs) for d in dfs]
        if keep_pos:
            names = names + ["___f", "___ri"]
    # hidden-partitioning layouts surface their derived hive columns
    # through partition discovery — project back to the manifest
    # schema so readers only ever see the table's declared columns
    dfs = [d.select(*names) for d in dfs]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def _data_root_of(table: str, rel_or_abs: str) -> str:
    """The data/ directory a manifest file entry lives under — the
    clone-aware basePath for partition discovery."""
    if not os.path.isabs(rel_or_abs):
        return _data_dir(table)
    marker = f"{os.sep}{DATA_DIR}{os.sep}"
    idx = rel_or_abs.rfind(marker)
    if idx < 0:
        return os.path.dirname(rel_or_abs)
    return rel_or_abs[: idx + len(marker) - 1]


_OPS = {
    "=": lambda lo, hi, v: not (v < lo or v > hi),
    "==": lambda lo, hi, v: not (v < lo or v > hi),
    ">": lambda lo, hi, v: hi > v,
    ">=": lambda lo, hi, v: hi >= v,
    "<": lambda lo, hi, v: lo < v,
    "<=": lambda lo, hi, v: lo <= v,
    # IN-list: alive iff ANY value could be in [lo, hi]
    "in": lambda lo, hi, vs: any(not (v < lo or v > hi) for v in vs),
    # not-equal prunes only the degenerate constant file lo == hi == v
    # (every row equals v, so none can differ) — Delta's notEq rule
    "!=": lambda lo, hi, v: not (lo == v and hi == v),
}


#: a TIMESTAMP_NTZ wall clock and the instant Spark casts it to (to
#: compare it with a TIMESTAMP literal) differ by the session zone's
#: offset, which lies between UTC-12 and UTC+14 — so the instant lies
#: in [wall - 14 h, wall + 12 h] whatever the session time zone
_NTZ_BELOW_US = 14 * 3600 * 10**6
_NTZ_ABOVE_US = 12 * 3600 * 10**6


@functools.lru_cache(maxsize=64)
def _temporal_columns(schema_json: str) -> dict[str, str]:
    """{column: type} of a manifest schema's DATE / TIMESTAMP /
    TIMESTAMP_NTZ columns — the ones whose footer bounds are integers
    (:func:`_temporal_bounds`). Cached by the schema string, so the
    branches of one scan and the scans of one table version parse it
    once."""
    return {
        f["name"]: f["type"]
        for f in json.loads(schema_json)["fields"]
        if f["type"] in ("date", "timestamp", "timestamp_ntz")
    }


def _temporal_literal(kind: str, op: str, val, ntz_preferred):
    """A filter literal on a ``kind`` column in the integer domain of
    its footer bounds, converted by pyspark's own ``toInternal`` — the
    conversion ``F.lit`` applies when :func:`_filters_to_column`
    re-applies the filter — or None when the conjunct must not prune:
    a string, a date against a timestamp or a datetime against a date
    (Spark compares those after a cast), a naive datetime in a session
    that types it TIMESTAMP_NTZ (``ntz_preferred()``), or a datetime
    before the Gregorian switch (``F.lit`` rebases those from the
    Julian calendar). A TIMESTAMP_NTZ column takes the literal as the
    instant ``F.lit`` makes of it; :func:`_prune_files` widens that
    column's bounds by the zone offsets instead."""
    import datetime

    from pyspark.sql.types import DateType, TimestampType

    if op == "in":
        vs = [_temporal_literal(kind, "=", v, ntz_preferred) for v in val]
        return None if any(v is None for v in vs) else vs
    if kind == "date":
        return DateType().toInternal(val) if type(val) is datetime.date else None
    if not isinstance(val, datetime.datetime) or val.year <= 1582:
        return None
    if kind == "timestamp" and val.tzinfo is None and ntz_preferred():
        return None
    return TimestampType().toInternal(val)


def _prune_files(table: str, manifest: dict, filters: list[tuple]) -> list[str]:
    """Files that MAY contain matching rows: a file is skipped only
    when its footer min/max (or its partition-path value, for
    equality on partition columns) PROVES no row satisfies a
    conjunct. Missing stats never prune — skipping is an
    optimization, correctness comes from re-applying the filter.
    DATE and TIMESTAMP bounds are integers; a conjunct on such a
    column compares them against its literal as
    :func:`_temporal_literal` converts it, or does not prune."""
    stats = manifest.get("file_stats", {})
    # footer stats and bloom bitmaps key by PHYSICAL column names
    # (they come from the files); filters arrive logical
    cmap = manifest.get("column_mapping") or {}
    # the columns whose footer bounds are integers; only a min/max
    # conjunct can read them
    temporal = (
        _temporal_columns(manifest["schema"])
        if any(op in _OPS for _, op, _ in filters)
        else {}
    )
    # the session's literal typing is one py4j round trip, asked at
    # most once per call and only for a naive datetime on a TIMESTAMP
    from pyspark.sql.utils import is_timestamp_ntz_preferred

    ntz_preferred = functools.cache(is_timestamp_ntz_preferred)
    converted = {
        i: _temporal_literal(temporal[col], op, val, ntz_preferred)
        for i, (col, op, val) in enumerate(filters)
        if col in temporal and op in _OPS
    }
    kept = []
    for f in manifest["files"]:
        fstat = stats.get(f, {})
        mins, maxs = fstat.get("min", {}), fstat.get("max", {})
        # every spec the file was written under prunes it — after a
        # partition evolution, old-layout files keep pruning on their
        # own path columns
        pvals = _path_values(f)
        alive = True
        for i, (col, op, val) in enumerate(filters):
            phys = cmap.get(col, col)
            if op in ("isnull", "notnull"):
                # Delta's nullCount skipping: a file with zero nulls
                # can't satisfy IS NULL; one that is ALL nulls can't
                # satisfy IS NOT NULL. Unknown counts never prune.
                nc = fstat.get("nulls", {}).get(phys)
                if nc is not None and (
                    (op == "isnull" and nc == 0)
                    or (op == "notnull" and nc == fstat.get("rows"))
                ):
                    alive = False
                    break
                continue
            if op not in _OPS:
                raise ValueError(f"unsupported pruning op {op!r}")
            vals = list(val) if op == "in" else [val]
            if col in pvals and op in ("=", "==", "in"):
                if pvals[col] not in {str(v) for v in vals}:
                    alive = False
                    break
                continue
            if col in pvals and op == "!=":
                # a partition directory holding exactly v cannot
                # satisfy col != v
                if pvals[col] == str(val):
                    alive = False
                    break
                continue
            # hidden partitioning: a filter on a transform's SOURCE
            # column prunes through the derived directory value
            # (an IN-list keeps the file iff ANY value survives)
            transformed = [
                e
                for e in manifest["partition_cols"]
                if op != "!="  # transform buckets can't prove inequality
                and _parse_transform(e)[0] != "identity"
                and _parse_transform(e)[1] == col
            ]
            t_op = "=" if op == "in" else op
            if any(
                not any(_transform_prunes(e, pvals, t_op, v) for v in vals)
                for e in transformed
            ):
                alive = False
                break
            if op in ("=", "==", "in"):
                bl = fstat.get("bloom", {}).get(phys)
                if bl is not None:
                    positions = set(bl["pos"])
                    admitted = any(
                        all(
                            p in positions
                            for p in _bloom_positions_py(
                                v, bl["bits"], bl["hashes"]
                            )
                        )
                        for v in vals
                    )
                    if not admitted:
                        alive = False
                        break
            lo, hi = mins.get(phys), maxs.get(phys)
            if lo is None or hi is None:
                continue  # no stats: cannot prune this conjunct
            if col in temporal:
                val = converted[i]
                if val is None:
                    continue
                if temporal[col] == "timestamp_ntz":
                    lo, hi = lo - _NTZ_BELOW_US, hi + _NTZ_ABOVE_US
            try:
                if not _OPS[op](lo, hi, val):
                    alive = False
                    break
            except TypeError:
                continue  # incomparable literal: don't prune
        if alive:
            kept.append(f)
    return kept


def metadata_count(
    table: str,
    filters: list[tuple] | None = None,
    version: int | None = None,
) -> int:
    """EXACT row count answered entirely from the manifest — no Spark
    job, no data I/O (Spark's ``optimizer.metadataOnly`` / Delta's
    count-from-addStats fast path): per-file row counts from the
    committed stats, minus each file's deletion-vector positions. At
    100 TB this answers ``SELECT COUNT(*)`` in manifest-read time
    instead of a cluster-wide scan.

    ``filters`` may ONLY be equality conjuncts on PARTITION columns —
    the one filter shape a file either wholly satisfies or wholly
    fails (decided by its directory path), which is what keeps the
    metadata answer EXACT. Anything else raises: a min/max-pruned
    file may still hold non-matching rows, so a stats-only count
    would be an upper bound, not a count — use :func:`scan` +
    ``count()`` for those."""
    _, manifest = _manifest_at(table, version)
    hive = _spec_names(manifest["partition_cols"])
    for col, op, _val in filters or []:
        if op not in ("=", "==") or col not in hive:
            raise ValueError(
                f"metadata_count filters must be partition equalities "
                f"(partitions: {hive}); got {col} {op!r} — use scan() "
                "for data predicates"
            )
    # a LIST, not a dict: duplicate equalities on one column are an
    # AND-conjunction — a contradictory pair must yield 0, not
    # last-one-wins
    want = [(c, str(v2)) for c, _o, v2 in (filters or [])]
    stats = manifest.get("file_stats", {})
    dvs = manifest.get("deletion_vectors", {})
    total = 0
    for f in manifest["files"]:
        pv = _partition_values(f, hive)
        if any(pv.get(c) != v2 for c, v2 in want):
            continue
        e = stats.get(f) or {}
        rows = e.get("rows")
        if rows is None:
            # stats predate row counting: one parquet FOOTER read
            # (metadata, not data)
            rows = _file_rows(table, f)
        total += int(rows) - len(dvs.get(f) or [])
    return total


def scan(
    spark: SparkSession,
    table: str,
    filters: list[tuple] | None = None,
    version: int | None = None,
) -> DataFrame:
    """Data-skipping read: prune the manifest's file list with the
    footer min/max stats (and partition-path equality) BEFORE Spark
    ever sees it, then re-apply the same predicates as real filters —
    so results are exact whether or not a file had stats. This is the
    Delta addStats / Iceberg manifest-metrics mechanism: at 100 TB a
    selective predicate over a clustered column (write sorted, or run
    :func:`optimize` with ``cluster_by``) turns a full-table scan
    into a handful of files without any partition-layout help.
    ``filters``: [(col, op, literal)] with op in <,<=,>,>=,=,==,
    combined conjunctively."""
    return _scan_branches(spark, table, [list(filters or [])], version)


def _scan_branches(
    spark: SparkSession,
    table: str,
    branches: list[list[tuple]],
    version: int | None,
) -> DataFrame:
    """Shared body of :func:`scan` and :func:`scan_any`: resolve the
    version, keep the files at least one branch's stats admit, read
    them, and re-apply the exact OR-of-ANDs predicate. A single empty
    branch reads every file unfiltered."""
    from pyspark.sql.types import StructType

    _, manifest = _manifest_at(table, version)
    schema = StructType.fromJson(json.loads(manifest["schema"]))
    df = _read_union(
        spark,
        table,
        _prune_files_any(table, manifest, branches),
        schema,
        dvs=manifest.get("deletion_vectors"),
        mapping=manifest.get("column_mapping"),
    )
    return df.filter(_filters_to_column(branches)) if any(branches) else df


def table_layout(table: str, version: int | None = None) -> list[dict]:
    """Metadata-only small-files report — the diagnosis that decides
    WHERE to point :func:`optimize`: per partition-directory tuple,
    the file count, total rows, and the smallest/largest file's row
    count, read entirely from the manifest (zero data I/O at any
    table size). A partition with many small files is a compaction
    target; one huge file wants a split. Sorted by file count
    descending so the worst offender leads."""
    _, manifest = _manifest_at(table, version)
    stats = manifest.get("file_stats", {})
    hive = _spec_names(manifest["partition_cols"])
    groups: dict[tuple, list[int]] = {}
    for f in manifest["files"]:
        pv = _partition_values(f, hive)
        key = tuple(sorted(pv.items()))
        rows = stats.get(f, {}).get("rows")
        groups.setdefault(key, []).append(-1 if rows is None else int(rows))
    out = []
    for key, counts in groups.items():
        known = [c for c in counts if c >= 0]
        out.append(
            {
                "partition": dict(key),
                "n_files": len(counts),
                "rows": sum(known) if len(known) == len(counts) else None,
                "min_file_rows": min(known) if known else None,
                "max_file_rows": max(known) if known else None,
            }
        )
    out.sort(key=lambda r: (-r["n_files"], sorted(r["partition"].items())))
    return out


def scan_any(
    spark: SparkSession,
    table: str,
    branches: list[list[tuple]],
    version: int | None = None,
) -> DataFrame:
    """Disjunctive data-skipping read — the OR-of-ANDs (DNF) twin of
    :func:`scan` for TPC-H-Q19-shaped predicates: ``branches`` is a
    list of conjunctive filter lists, the overall predicate their OR.
    A file is read iff AT LEAST ONE branch's stats check keeps it
    (per-branch :func:`_prune_files`, then the union), and the exact
    OR-of-ANDs predicate re-applies as a real filter — so skipping
    stays a pure optimization. At 100 TB this is the difference
    between a disjunctive point-lookup opening a handful of files and
    a full scan: pushing only the conjunctive common factor (what a
    single conjunct API forces) keeps every file a weak branch would
    have pruned."""
    if not branches or any(not b for b in branches):
        raise ValueError("scan_any needs >=1 branch, each a non-empty conjunct list")
    return _scan_branches(spark, table, [list(b) for b in branches], version)


def commit_with_retry(fn, retries: int = 5):
    """Optimistic-concurrency loop: run ``fn()`` (any closure ending
    in a snapshot commit); on :class:`ConcurrentCommit`, re-invoke so
    it re-reads the new head and recomputes its file set against it —
    the standard Delta/Iceberg retry protocol. Data files written by
    a losing attempt stay orphaned (invisible; vacuum reclaims), so
    retrying never corrupts state. Returns ``fn``'s result."""
    last: ConcurrentCommit | None = None
    for _ in range(retries):
        try:
            return fn()
        except ConcurrentCommit as exc:
            last = exc
    raise last  # type: ignore[misc]


def register_snapshot(
    spark: SparkSession, table: str, view_name: str, version: int | None = None
) -> None:
    """SQL-on-snapshot: expose a (possibly time-traveled) snapshot as
    a temp view for ``spark.sql`` — the engine's Athena-equivalent
    query surface (reference S11/S12) over versioned tables. The view
    pins the manifest's file list at registration time, so later
    commits don't shift results under a running query session."""
    read_snapshot(spark, table, version).createOrReplaceTempView(view_name)


def _as_branches(filters: list) -> list[list[tuple]]:
    """Normalize a DML filter spec to DNF branches. A flat conjunct
    list ``[(col, op, val), ...]`` is one branch; a list of LISTS is
    OR-of-ANDs directly (the :func:`scan_any` form) — each inner list
    a conjunction, the overall predicate their disjunction. DNF is
    the widest shape file-level stats can still prune: a file is a
    candidate iff AT LEAST ONE branch's stats check keeps it, so
    disjunctive DELETE/UPDATE (TPC-H-Q19-shaped predicates) skip
    files per branch instead of degrading to a full scan."""
    if filters and all(isinstance(b, list) for b in filters):
        if any(not b for b in filters):
            raise ValueError(
                "DNF filter branches must each be a non-empty conjunct "
                "list (an empty branch would match everything)"
            )
        return [list(b) for b in filters]
    return [list(filters)] if filters else []


def _prune_files_any(
    table: str, manifest: dict, branches: list[list[tuple]]
) -> list[str]:
    """Union of per-branch data skipping, preserving manifest file
    order (the :func:`scan_any` candidate rule, shared with DML)."""
    seen: set[str] = set()
    for branch in branches:
        seen.update(_prune_files(table, manifest, branch))
    return [f for f in manifest["files"] if f in seen]


def _filters_to_column(filters: list):
    """Filter tuples -> one boolean Column. Accepts a conjunct list
    or DNF branches (see :func:`_as_branches`); empty = match all."""
    from pyspark.sql import functions as F

    branches = _as_branches(filters)
    if not branches:
        return F.lit(True)
    if len(branches) > 1:
        cond = F.lit(False)
        for b in branches:
            cond = cond | _filters_to_column(b)
        return cond
    cond = F.lit(True)
    for col, op, val in branches[0]:
        c = F.col(col)
        if op == "isnull":
            cond = cond & c.isNull()
            continue
        if op == "notnull":
            cond = cond & c.isNotNull()
            continue
        if op == "in":
            cond = cond & c.isin(list(val))
            continue
        cond = cond & {
            "=": c == val, "==": c == val, ">": c > val,
            ">=": c >= val, "<": c < val, "<=": c <= val,
            "!=": c != val,
        }[op]
    return cond


def _rewrite_rows(
    spark: SparkSession,
    table: str,
    filters: list,
    operation: str,
    set_exprs: dict[str, str] | None = None,
    use_dv: bool = False,
    insert: DataFrame | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """The one row-level DML body behind DELETE, UPDATE and
    replace_where. Data skipping picks the files that MAY hold rows
    matching ``filters`` (:func:`_prune_files_any`), only those are
    read, and every other file carries over by reference — the Delta
    DELETE/UPDATE file-rewrite model: with clustered data (see
    :func:`optimize`) a selective predicate touches a handful of files
    out of thousands. Matching rows are deleted, or, with
    ``set_exprs``, replaced by their UPDATE image.

    Rewrite mode writes the candidate files back without (or with the
    updated) matching rows. ``use_dv=True`` touches no data file: the
    matching rows' positions join the deletion vectors and updated
    rows append as new files. ``insert`` (replace_where's incoming
    rows; each must match ``filters``) lands as files of its own.

    Stable row ids: under row tracking the candidate read carries
    every row's id in :data:`ROW_ID_COL` (:func:`_read_files`), so
    kept and updated rows keep their ids (and identity values) and
    only ``insert`` rows allocate fresh ones in :func:`_commit`."""
    from pyspark.sql import functions as F

    head, prev = _manifest_at(table)
    branches = _as_branches(filters)
    if not branches:
        raise ValueError(f"refusing an unfiltered {operation}; pass filters")
    cond = _filters_to_column(branches)
    gen = prev.get("generated") or {}
    if set_exprs is not None:
        names = {f["name"] for f in json.loads(prev["schema"])["fields"]}
        unknown = sorted(set(set_exprs) - names)
        if not set_exprs or unknown:
            raise ValueError(
                f"{operation}: SET must name columns of {table}; "
                f"got {sorted(set_exprs)}, unknown {unknown}"
            )
    if insert is not None:
        insert = _admit(prev, insert)
        if insert.filter(~cond).limit(1).count():
            raise ValueError(
                f"{operation}: incoming rows violate the predicate "
                f"{filters}; every written row must match the replaced region"
            )
    candidates = _prune_files_any(table, prev, branches)
    if not candidates and insert is None:
        return head  # stats prove nothing matches: metadata no-op
    track = bool(prev.get("row_tracking"))
    files, dvs, rows = prev["files"], None, None
    if candidates:
        # ids only where rows are written back (a DV DELETE writes none)
        cand = _read_files(
            spark,
            table,
            prev,
            candidates,
            keep_pos=use_dv,
            row_ids=track and (set_exprs is not None or not use_dv),
        )
        if use_dv:
            matched = cand.filter(cond)
            hits = matched.select(
                F.col("___f").alias("f"), F.col("___ri").alias("p")
            ).collect()  # bounded: one row per matching row (selective path)
            if not hits:
                return head
            dvs = _dvs_with_hits(table, prev, hits)
            cand = matched.drop("___f", "___ri")
        else:
            cand_set = set(candidates)
            files = [f for f in files if f not in cand_set]
        if set_exprs is not None:
            # one select so every SET expression sees the OLD row (SQL
            # UPDATE semantics), cast to the DECLARED column type (a
            # literal like 1000.0 parses as DECIMAL and would otherwise
            # change the written physical type mid-table)
            types = {f.name: f.dataType for f in cand.schema.fields}
            rows = cand.select(
                *[
                    F.when(cond, F.expr(set_exprs[c]).cast(types[c]))
                    .otherwise(F.col(c))
                    .alias(c)
                    if c in set_exprs
                    else F.col(c)
                    for c in cand.columns
                ]
            )
            # generated columns not explicitly SET recompute from their
            # definitions (their sources may have changed); explicitly
            # SET ones validate against the definition
            recompute = [c for c in gen if c not in set_exprs]
            rows = _apply_generated(rows.drop(*recompute), gen).select(
                *cand.columns
            )
        elif not use_dv:
            rows = cand.filter(~cond)
    if set_exprs is not None:
        # only UPDATE makes new row images; surviving and inserted rows
        # were admitted when written (replace_where's by _admit above)
        _validate_constraints(rows, prev.get("constraints", {}))
    new: list[str] = []
    stats: dict = {}
    for frame in (rows, insert):
        if frame is not None:
            written, written_stats = _write_data(
                frame,
                table,
                prev["partition_cols"],
                prev.get("column_mapping") or {},
            )
            new += written
            stats.update(written_stats)
    return _commit(
        table,
        operation,
        sorted(files + new),
        parent=head,
        txn=txn,
        file_stats=stats,
        deletion_vectors=dvs,
    )


def delete_where(
    spark: SparkSession,
    table: str,
    filters: list[tuple],
    use_dv: bool = False,
) -> int:
    """Row-level DELETE. Default (``use_dv=False``): rewrite only the
    files whose footer stats say they MAY hold matching rows,
    dropping those rows; all other files carry over untouched.
    ``filters`` is a conjunct list ``[(col, op, val), ...]`` or DNF
    branches ``[[...], [...]]`` (OR-of-ANDs, see :func:`_as_branches`)
    — skipping prunes per branch either way.

    ``use_dv=True`` takes the MERGE-ON-READ path instead (Delta
    deletion vectors / Iceberg v3 position deletes): no data file is
    touched — the commit records the deleted ROW POSITIONS per file
    and every reader anti-joins them out via the parquet row index.
    At 100 TB this is the difference between rewriting a 1 GB file
    to delete ten rows and writing a few bytes of metadata. A vector
    of up to :data:`DV_INLINE_MAX` positions is stored inline in the
    manifest, a larger one as a binary sidecar file; the mode is
    meant for SELECTIVE deletes (the positions collect on the driver,
    one row per deleted row); bulk deletes should rewrite — and
    :func:`optimize` materializes accumulated DVs back into clean
    files, clearing them. Either way surviving rows keep their stable
    row ids (see :func:`_rewrite_rows`)."""
    return _rewrite_rows(
        spark,
        table,
        filters,
        "delete_dv" if use_dv else "delete",
        use_dv=use_dv,
    )


def _dvs_with_hits(table: str, prev: dict, hits) -> dict:
    """``prev``'s deletion vectors plus ``hits`` (rows of file URI
    ``f`` and row position ``p``). Only the vectors of files hit are
    rebuilt, so every other (possibly lazy) vector passes through to
    the commit undecoded."""
    abs_to_entry = {_abs_uri(table, f): f for f in prev["files"]}
    grown: dict[str, set] = {}
    for r in hits:
        grown.setdefault(abs_to_entry[r.f], set()).add(int(r.p))
    dvs = dict(prev.get("deletion_vectors") or {})
    for f, ps in grown.items():
        dvs[f] = sorted(ps.union(dvs.get(f, ())))
    return dvs


def update_where(
    spark: SparkSession,
    table: str,
    filters: list[tuple],
    set_exprs: dict[str, str],
    use_dv: bool = False,
) -> int:
    """Row-level UPDATE: ``set_exprs`` maps column -> SQL expression
    applied to matching rows (non-matching rows in rewritten files
    pass through unchanged). CHECK constraints re-validate the
    rewritten files before anything publishes. ``filters`` accepts a
    conjunct list or DNF branches, like :func:`delete_where`. An empty
    ``set_exprs``, or a key that names no column of the table, raises
    ``ValueError`` before anything is read.

    ``use_dv=True`` is the deletion-vector UPDATE (how Delta runs
    UPDATE when DVs are enabled): the OLD matching rows are marked
    deleted by position (inline or sidecar vectors, as in
    :func:`delete_where`) — their files untouched — and the updated
    rows append as new files. Selective updates stop paying the
    rewrite-the-whole-file tax; OPTIMIZE later materializes. Both
    modes keep every row's stable id (see :func:`_rewrite_rows`)."""
    return _rewrite_rows(
        spark,
        table,
        filters,
        "update_dv" if use_dv else "update",
        set_exprs=set_exprs,
        use_dv=use_dv,
    )


def analyze_table(
    spark: SparkSession, table: str, columns: list[str] | None = None
) -> int:
    """ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS: one pass over
    the live snapshot computing table-level row count plus per-column
    exact NDV and null count, published as a METADATA-ONLY commit
    (``table_stats`` in the manifest, versioned like everything else —
    a reader at VERSION AS OF sees the stats that version carried, or
    none). These are the cardinalities a cost-based planner needs for
    join ordering and broadcast decisions at 100 TB — per-FILE
    min/max/nulls already live in ``file_stats`` for data skipping;
    this is the table-level summary a planner reads without touching
    any footer. The scan is ONE aggregate job (count + one
    count_distinct + one null-count per column, all map-side partial),
    not a per-column pass. ``columns`` defaults to every non-partition
    top-level atomic column."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import AtomicType

    head, prev = _manifest_at(table)
    df = read_snapshot(spark, table)
    if columns is None:
        pnames = set(_spec_names(prev["partition_cols"]))
        columns = [
            f.name
            for f in df.schema.fields
            if f.name not in pnames and isinstance(f.dataType, AtomicType)
        ]
    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise ValueError(f"unknown columns {missing}; table has {df.columns}")
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in columns:
        aggs.append(F.count_distinct(F.col(c)).alias(f"__ndv_{c}"))
        aggs.append(
            F.count(F.when(F.col(c).isNull(), F.lit(1))).alias(f"__nulls_{c}")
        )
    row = df.agg(*aggs).collect()[0]  # bounded: one row of scalars
    stats = {
        "rows": int(row["__rows"]),
        "computed_at_version": head,
        "columns": {
            c: {
                "ndv": int(row[f"__ndv_{c}"]),
                "nulls": int(row[f"__nulls_{c}"]),
            }
            for c in columns
        },
    }
    return _commit(table, "analyze", parent=head, extra={"table_stats": stats})


def analyzed_stats(table: str, version: int | None = None) -> dict | None:
    """The ANALYZE result a version carries (latest by default), or
    None if that version predates any :func:`analyze_table`. Carrying
    forward is deliberately NOT implied — a data-changing commit
    after an ANALYZE drops the entry so a planner can never read
    stale cardinalities as current. Complementary to
    :func:`table_stats`, which folds exact COUNT/MIN/MAX from the
    per-file footer index without any scan; NDV and null counts need
    the one-pass scan ANALYZE runs."""
    return _manifest_at(table, version)[1].get("table_stats")


def history(table: str) -> list[dict]:
    """Commit log, oldest first: version, parent, operation, file and
    partition counts, per-commit operation metrics (added/removed
    files, output rows — Delta's operationMetrics), commit time — the
    DESCRIBE HISTORY surface."""
    out = []
    for v in _list_versions(table):
        m = _read_manifest(table, v)
        entry = {
            "version": m["version"],
            "parent": m["parent"],
            "operation": m["operation"],
            "committed_at": m["committed_at"],
            "n_files": len(m["files"]),
            "n_partitions": len(
                {
                    tuple(sorted(_partition_values(f, m["partition_cols"]).items()))
                    for f in m["files"]
                }
            ),
        }
        if m.get("metrics"):
            entry["metrics"] = m["metrics"]
        if m.get("reader_features"):
            entry["reader_features"] = m["reader_features"]
        if m.get("writer_features"):
            entry["writer_features"] = m["writer_features"]
        if m.get("rebased_from") is not None:
            # commit reconciliation audit: the parent this commit was
            # ORIGINALLY computed against before auto-rebase
            entry["rebased_from"] = m["rebased_from"]
        out.append(entry)
    return out


def _change_plan(prev: dict | None, cur: dict) -> list[tuple]:
    """The one rule for what commit ``cur`` changed, row by row, since
    ``prev`` (None before a table's first commit): the reads behind
    both :func:`changes` and the streaming change feed
    (``streaming/cdf_source.py``). Each entry is ``(rel, side,
    positions, select, change)``: file ``rel`` read under manifest
    ``side``, whole minus that side's vector ``positions``, or with
    ``select`` only ``positions``, and labelled ``change``.

    - OPTIMIZE gives nothing: compaction and Z-ORDER are
      content-identical by contract (optimize() verifies the row
      count), like Delta's no-data compaction commits.
    - An added file is an ``insert`` under ``cur``'s vectors. A removed
      file is a ``delete`` under ``prev``'s: rows already masked there
      were never visible, so they are not deletes now.
    - A kept file counts only if its vector entry differs (``!=``; an
      unchanged lazy sidecar ref compares by identity and is never
      decoded). Its grown positions are merge-on-read ``delete``s, its
      shrunk ones (a rollback past a MoR delete) re-``insert``s —
      dropping either side breaks the net effect
      ``state(cur) == state(prev) - deletes + inserts``."""
    if cur["operation"] == "optimize":
        return []
    prev = prev or {"files": []}
    before, after = set(prev["files"]), set(cur["files"])
    was_dv = prev.get("deletion_vectors") or {}
    now_dv = cur.get("deletion_vectors") or {}
    plan = [(f, cur, now_dv.get(f), False, "insert") for f in sorted(after - before)]
    plan += [(f, prev, was_dv.get(f), False, "delete") for f in sorted(before - after)]
    deltas: dict[str, list] = {"delete": [], "insert": []}
    for f in sorted(after & before):
        was, now = was_dv.get(f) or None, now_dv.get(f) or None
        if was != now:
            was, now = set(was or ()), set(now or ())
            for change, ps in (("delete", now - was), ("insert", was - now)):
                if ps:
                    deltas[change].append((f, cur, sorted(ps), True, change))
    return plan + deltas["delete"] + deltas["insert"]


def changes(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
    with_row_ids: bool = False,
) -> DataFrame:
    """Change data feed (Delta CDF equivalent): every row-level change
    committed AFTER ``from_version`` up to and including
    ``to_version`` (default: head), tagged with ``_change_type``
    ('insert' | 'delete') and ``_commit_version``.

    File-diff CDF, no row tracking: each commit's changes come from
    :func:`_change_plan`, the one planner the streaming change feed
    uses too — rows in files the commit ADDED are inserts, rows in
    files it REMOVED are deletes, deletion-vector deltas on kept files
    are position-selected deletes or re-inserts, and OPTIMIZE commits
    emit nothing. UPDATE therefore surfaces as delete+insert (Delta
    without ``update_pre/postimage``), and a row that merely moved
    files (e.g. a ``delete_where`` rewriting the survivors of a touched
    file) appears as a self-cancelling delete+insert pair — the NET
    multiset effect is always exact:
    ``state(to) == state(from) - deletes + inserts`` (property-tested
    across every DML op in tests/test_snaptable.py).

    ``with_row_ids=True`` (requires :func:`enable_row_tracking`) adds
    the stable ``_row_id`` to every change row and upgrades the
    labels to Delta's full CDF vocabulary: within a commit, a row id
    that appears as BOTH delete and insert is an update —
    relabeled ``update_preimage`` / ``update_postimage`` and pairable
    by (_commit_version, _row_id) with no value diffing. This is the
    payoff of preserved row tracking: every rewrite materializes the
    OLD ids into the rows it writes, so the pairing is exact even
    though the row changed files. Commits predating
    :func:`enable_row_tracking` have no ids to pair — their change
    rows surface with a null ``_row_id`` and keep the plain
    insert/delete labels (never relabeled as update halves). A file
    REWRITE (DELETE, UPDATE, replace_where or MERGE without deletion
    vectors) surfaces every carried row as a value-identical update
    pair — honest "rewritten in place" semantics; consumers diffing
    values see exactly the real changes.

    Scale: reads ONLY the files each commit touched — the whole point
    of consuming a 100 TB table incrementally instead of diffing two
    full snapshots. Manifest diffs are driver-side set ops on file
    path lists (tiny), an unchanged deletion vector is never decoded,
    and no data file is opened twice.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    _, prev = _manifest_at(table, from_version)
    to, to_manifest = _manifest_at(table, to_version)
    if with_row_ids and not to_manifest.get("row_tracking"):
        raise ValueError(
            f"{table} v{to} has no row tracking; call "
            "enable_row_tracking(table) first"
        )

    parts: list[DataFrame] = []
    for v in _list_versions(table):
        if v <= from_version:
            continue
        if v > to:
            break
        cur = _read_manifest(table, v)
        # one read per (side, select, change) group, in plan order
        reads: dict[tuple, tuple[dict, dict]] = {}
        for rel, side, ps, select, change in _change_plan(prev, cur):
            reads.setdefault((id(side), select, change), (side, {}))[1][rel] = ps
        for (_, select, change), (side, delta) in reads.items():
            if not select:
                body = _read_files(
                    spark, table, side, list(delta), row_ids=with_row_ids
                )
            else:
                # read WITHOUT deletion vectors and keep exactly the
                # selected positions (_abs_uri hoisted per file, see
                # _apply_dvs)
                keyed = _read_files(
                    spark,
                    table,
                    {**side, "deletion_vectors": None},
                    list(delta),
                    keep_pos=True,
                    row_ids=with_row_ids,
                )
                uris = {f: _abs_uri(table, f) for f in delta}
                pos_df = local_df(
                    spark,
                    [(uris[f], int(p)) for f, ps in delta.items() for p in ps],
                    "___dvf string, ___dvp long",
                )
                body = keyed.join(
                    F.broadcast(pos_df),
                    (keyed["___f"] == pos_df["___dvf"])
                    & (keyed["___ri"] == pos_df["___dvp"]),
                    "left_semi",
                ).drop("___f", "___ri")
            parts.append(
                body.withColumn("_change_type", F.lit(change)).withColumn(
                    "_commit_version", F.lit(v).cast("bigint")
                )
            )
        prev = cur
    if not parts:
        schema = StructType.fromJson(json.loads(prev["schema"]))
        empty = local_df(spark, [], schema)
        if with_row_ids:
            empty = empty.withColumn("_row_id", F.lit(0).cast("bigint"))
        return empty.withColumn("_change_type", F.lit("")).withColumn(
            "_commit_version", F.lit(0).cast("bigint")
        ).limit(0)
    out = parts[0]
    for p in parts[1:]:
        # allowMissingColumns: files predating a schema evolution
        # null-fill the newer columns, same as read_snapshot
        out = out.unionByName(p, allowMissingColumns=True)
    if with_row_ids:
        # Delta's full CDF vocabulary: a row id deleted AND inserted
        # in the SAME commit is an update — pair pre/postimage by id.
        # The window keys on (_commit_version, _row_id): maximal
        # parallelism, no payload beyond the change rows themselves.
        # Rows from commits PREDATING enable_row_tracking carry a
        # null _row_id; the window would lump them into one group and
        # mass-relabel any mixed add/remove commit as unpairable
        # update halves, so null-id rows are excluded from the
        # relabel and keep their plain insert/delete labels.
        from pyspark.sql import Window as _W

        out = out.withColumnRenamed(ROW_ID_COL, "_row_id")
        wrid = _W.partitionBy("_commit_version", "_row_id")
        is_upd = F.col("_row_id").isNotNull() & (
            (
                F.max(
                    (F.col("_change_type") == "insert").cast("int")
                ).over(wrid)
                + F.max(
                    (F.col("_change_type") == "delete").cast("int")
                ).over(wrid)
            )
            == 2
        )
        out = out.withColumn(
            "_change_type",
            F.when(
                is_upd & (F.col("_change_type") == "delete"),
                F.lit("update_preimage"),
            )
            .when(
                is_upd & (F.col("_change_type") == "insert"),
                F.lit("update_postimage"),
            )
            .otherwise(F.col("_change_type")),
        )
    return out


def table_stats(table: str, version: int | None = None) -> dict:
    """Metadata-only COUNT(*)/MIN/MAX — the Delta/Iceberg
    "answer from the log" optimization: the manifest already holds
    per-file row counts and column min/max (collected from Parquet
    footers at commit time), so these aggregates fold driver-side
    without opening a single data file. On a 100 TB table that turns
    a full scan into a millisecond manifest read — the difference is
    property-tested by answering AFTER the data directory is deleted.

    Returns ``{"rows": int, "min": {col: v}, "max": {col: v}}``.
    min/max cover only numeric/boolean columns for which EVERY live
    file carries footer stats: Parquet writers may TRUNCATE string
    statistics (they bound, not equal, the true min/max), so string
    columns are deliberately excluded from exact answers — same
    reason Delta's metadata-only path is limited. A column missing
    stats in any file is simply absent from the result; ``rows`` is
    always exact — including under deletion vectors, whose deleted
    positions are subtracted per file. Files carrying a non-empty DV
    are treated as having NO min/max stats (the footer bounds may
    describe deleted rows), so any column they cover is omitted from
    the result rather than answered stale."""
    from pyspark.sql.types import StructType

    _, manifest = _manifest_at(table, version)
    fs = manifest.get("file_stats", {})
    files = manifest["files"]
    missing = [f for f in files if f not in fs]
    if missing:
        raise ValueError(
            f"{len(missing)} files lack committed stats (pre-stats table?); "
            "metadata-only answers would be wrong"
        )
    dvs = manifest.get("deletion_vectors", {})
    rows = sum(fs[f]["rows"] - len(dvs.get(f, [])) for f in files)
    schema = StructType.fromJson(json.loads(manifest["schema"]))
    numeric = {
        f.name
        for f in schema.fields
        if f.dataType.typeName()
        in ("byte", "short", "integer", "long", "float", "double", "boolean")
    }
    mins: dict = {}
    maxs: dict = {}
    # Footer bounds of a DV-carrying file may belong to deleted rows;
    # treat such files as stats-less so no column folds a stale bound.
    dv_files = {f for f in files if dvs.get(f)}
    cmap = manifest.get("column_mapping") or {}
    for col in numeric:
        phys = cmap.get(col, col)
        per_file_min = [
            None if f in dv_files else fs[f]["min"].get(phys) for f in files
        ]
        per_file_max = [
            None if f in dv_files else fs[f]["max"].get(phys) for f in files
        ]
        if files and all(v is not None for v in per_file_min):
            mins[col] = min(per_file_min)
        if files and all(v is not None for v in per_file_max):
            maxs[col] = max(per_file_max)
    return {
        "rows": rows,
        "min": mins,
        "max": maxs,
        # physical footprint from the per-file bytes stat (files
        # committed before the stat existed fall back to a local stat)
        "total_bytes": _live_file_bytes(table, manifest, files),
        "n_files": len(files),
    }


# ---------------------------------------------------------------------------
# Per-file bloom-filter index (the Delta "bloom filter index" /
# Parquet bloom feature re-expressed at the manifest level): footer
# min/max prunes RANGES, but an equality lookup on a high-cardinality
# un-clustered key (user id, order id, digest) overlaps every file's
# [min,max] — at 100 TB that's a full-table scan for one row. A
# ~0.5 KB bloom bitmap per (file, column) in the manifest turns the
# point lookup into "open the 1-2 files whose bloom admits the key".
#
# Positions use the hash60 md5 family (functions/hashing.py) so the
# DISTRIBUTED build (JVM-side md5 over each file's values, one
# shuffle of (file, position) pairs bounded by files x bits) and the
# DRIVER-side probe (hashlib.md5 in _bloom_positions_py) are the same
# function by construction. Values are canonicalized via CAST AS
# STRING — supported for integer and string columns (float/bool
# string forms differ between JVM and Python; such columns simply
# shouldn't be indexed).
#
# The bitmap lives INSIDE the file's ``file_stats`` entry, so every
# existing commit path carries it automatically with the file
# (_commit inherits the parent's stats), and rewrites (optimize,
# merge, update) naturally DROP it for rewritten files — a file without a bloom is never
# pruned by one, so correctness is unconditional and re-indexing is
# an explicit maintenance step, exactly like Delta's.
# ---------------------------------------------------------------------------
BLOOM_BITS = 4096
BLOOM_HASHES = 5


def _bloom_positions_py(value, bits: int, hashes: int) -> list[int]:
    """Driver-side twin of the build's hash60-family positions."""
    import hashlib

    s = str(value)
    return [
        int(hashlib.md5(f"s{i}|{s}".encode()).hexdigest()[:15], 16) % bits
        for i in range(hashes)
    ]


def add_bloom_index(
    spark: SparkSession,
    table: str,
    col: str,
    bits: int = BLOOM_BITS,
    hashes: int = BLOOM_HASHES,
) -> int:
    """Build a per-file bloom index for ``col`` over the head
    snapshot's live files and commit it as a new metadata-only
    version (operation "index" — the data files are untouched and
    shared with the parent, like Delta's OPTIMIZE-style commits)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from ..functions.hashing import hash60

    head, manifest = _manifest_at(table)
    files = manifest["files"]
    stats = {f: dict(s) for f, s in manifest.get("file_stats", {}).items()}
    cmap = manifest.get("column_mapping") or {}
    phys_col = cmap.get(col, col)
    if files:
        schema = StructType.fromJson(json.loads(manifest["schema"]))
        data_root = _data_dir(table)
        df = (
            _read_union(spark, table, files, schema, mapping=cmap or None)
            .select(
                F.input_file_name().alias("_f"),
                F.col(col).cast("string").alias("_v"),
            )
            .where(F.col("_v").isNotNull())
        )
        pos = F.array(
            *[(hash60("_v", seed=i) % bits).cast("int") for i in range(hashes)]
        )
        grouped = (
            df.select("_f", F.explode(pos).alias("p"))
            .distinct()
            .groupBy("_f")
            .agg(F.collect_set("p").alias("ps"))
            .collect()  # bounded: n_files x <= bits ints
        )
        by_rel: dict[str, list[int]] = {}
        abs_to_entry = {
            os.path.abspath(os.path.join(table, f)): f for f in files
        }
        for r in grouped:
            # input_file_name is a file: URI; map it back to the
            # manifest entry (table-relative, or absolute for files a
            # shallow clone borrows from its source)
            from urllib.parse import unquote, urlparse

            path = unquote(urlparse(r._f).path) if ":" in r._f else r._f
            entry = abs_to_entry.get(os.path.abspath(path))
            if entry is not None:
                by_rel[entry] = sorted(r.ps)
        for f in files:
            entry = stats.setdefault(f, {"rows": 0, "min": {}, "max": {}})
            blooms = dict(entry.get("bloom", {}))
            # a live file absent from the grouped output has no
            # non-null values: an empty bitmap correctly rejects
            # every equality probe against it. Keyed by the PHYSICAL
            # name (like footer stats) so a later rename can't
            # orphan the index — probes map logical -> physical.
            blooms[phys_col] = {
                "bits": bits,
                "hashes": hashes,
                "pos": by_rel.get(f, []),
            }
            entry["bloom"] = blooms
            stats[f] = entry
    # No blind retry: the index was built against ``head``'s file
    # list, so a concurrent commit must surface as ConcurrentCommit
    # (caller re-runs against the new head) rather than silently
    # committing a stale file list over it.
    return _commit(table, "index", parent=head, file_stats=stats)


def maintain_count_sum(
    spark: SparkSession,
    table: str,
    base_agg: DataFrame,
    keys: list[str],
    sum_col: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Incremental materialized-view maintenance for per-key
    COUNT + SUM aggregates: roll ``base_agg`` (materialized at
    ``from_version``; columns ``keys + [n, s]`` with ``s`` DECIMAL)
    forward to ``to_version`` using only the change feed — never
    rescanning the base table.

    COUNT and decimal SUM are invertible, so the update is
    ``n' = n + Σ(±1)``, ``s' = s + Σ(±value)`` with sign +1 for
    inserts and -1 for deletes; groups whose count reaches zero are
    dropped. Decimal addition is exact, so the maintained aggregate
    is BIT-IDENTICAL to a full recompute at ``to_version`` — that
    equivalence is what the ``snapshot_incremental_agg`` oracle
    hash-checks, and it is why ``s`` must stay DECIMAL (a double
    running sum would drift from the recompute by accumulation
    order).

    Scale: the delta aggregation shuffles only the CHANGED rows on
    the group keys (map-side combined); ``base_agg`` joins by key. At
    100 TB with a 0.1% daily churn this is a ~1000x cheaper refresh
    than recompute, which is the entire point of a change feed.
    """
    from pyspark.sql import functions as F

    feed = changes(spark, table, from_version, to_version)
    is_insert = F.col("_change_type") == "insert"
    val = F.col(sum_col).cast("decimal(25,10)")
    # signed value via negation, NOT decimal multiply: a (25,10)x(25,10)
    # product exceeds Spark's precision cap and would round — negation
    # is exact, keeping the delta invertible to the bit
    delta = feed.groupBy(*keys).agg(
        F.sum(F.when(is_insert, F.lit(1)).otherwise(F.lit(-1)))
        .cast("bigint")
        .alias("_dn"),
        F.sum(F.when(is_insert, val).otherwise(-val)).alias("_ds"),
    )
    merged = base_agg.join(delta, on=keys, how="full_outer")
    zero_dec = F.lit(0).cast("decimal(25,10)")
    return (
        merged.select(
            *keys,
            (F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("_dn"), F.lit(0)))
            .cast("bigint")
            .alias("n"),
            (
                F.coalesce(F.col("s"), zero_dec) + F.coalesce(F.col("_ds"), zero_dec)
            ).alias("s"),
        )
        .filter(F.col("n") > 0)
    )


def maintain_minmax(
    spark: SparkSession,
    table: str,
    base_agg: DataFrame,
    keys: list[str],
    col: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Incremental maintenance for per-key COUNT + MIN + MAX — the
    NON-self-maintainable half of IVM theory that
    :func:`maintain_count_sum` (invertible aggregates) cannot cover:
    an insert can only improve an extreme (``least``/``greatest``
    fold, pure delta), but deleting the current extreme invalidates
    it, and no algebra recovers the runner-up from the aggregate
    alone. The classical answer (Gupta & Mumick's bounded rescan) is
    what this implements: fold inserts into candidates, detect the
    groups whose DELETED values touch their candidate extreme, and
    re-aggregate ONLY those groups from the target snapshot.

    ``base_agg``: columns ``keys + [n, mn, mx]`` materialized at
    ``from_version``. Returns the same shape rolled to
    ``to_version`` (default head), equal to a full recompute —
    bit-exact, since MIN/MAX select values rather than do arithmetic.

    Scale: the delta aggregation shuffles only changed rows; the
    rescan reads only the affected GROUPS' rows (a semi-join the
    optimizer sizes — changed-group keys are bounded by the churn,
    not the table), so a 0.1% churn that never deletes an extreme
    costs the same as count/sum maintenance, and one that does pays
    per affected group, never a table rescan."""
    from pyspark.sql import functions as F

    v_to = to_version if to_version is not None else current_version(table)
    feed = changes(spark, table, from_version, v_to)
    is_insert = F.col("_change_type") == "insert"
    c = F.col(col)
    delta = feed.groupBy(*keys).agg(
        F.sum(F.when(is_insert, F.lit(1)).otherwise(F.lit(-1)))
        .cast("bigint")
        .alias("_dn"),
        F.min(F.when(is_insert, c)).alias("_imn"),
        F.max(F.when(is_insert, c)).alias("_imx"),
        F.min(F.when(~is_insert, c)).alias("_dmn"),
        F.max(F.when(~is_insert, c)).alias("_dmx"),
    )
    merged = base_agg.join(delta, on=keys, how="full_outer")
    n_new = (
        F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("_dn"), F.lit(0))
    ).cast("bigint")
    # least/greatest skip nulls, so a key missing on either side folds
    # to the present side's extreme
    cand_mn = F.least(F.col("mn"), F.col("_imn"))
    cand_mx = F.greatest(F.col("mx"), F.col("_imx"))
    # a deleted value AT the candidate extreme may have been its last
    # witness (duplicates are unknowable from the aggregate) -> rescan
    # that group; strictly-interior deletes can never move an extreme
    needs_rescan = F.coalesce(
        (F.col("_dmn") <= cand_mn) | (F.col("_dmx") >= cand_mx), F.lit(False)
    )
    rolled = (
        merged.select(
            *keys,
            n_new.alias("n"),
            cand_mn.alias("mn"),
            cand_mx.alias("mx"),
            needs_rescan.alias("_rescan"),
        )
        .filter(F.col("n") > 0)
        # the rolled delta feeds BOTH the rescan-key probe and the
        # final output; without pinning, the change-feed scan + delta
        # aggregation would run twice. Sized by the AGGREGATE's
        # cardinality (the view being maintained), never the source.
        .localCheckpoint(eager=False)
    )
    rescan_keys = rolled.filter(F.col("_rescan")).select(*keys)
    rescan_agg = (
        read_snapshot(spark, table, version=v_to)
        .join(rescan_keys, on=keys, how="left_semi")
        .groupBy(*keys)
        .agg(
            F.min(c).alias("_rmn"),
            F.max(c).alias("_rmx"),
        )
    )
    out = (
        rolled.join(rescan_agg, on=keys, how="left")
        .select(
            *keys,
            F.col("n"),
            F.when(F.col("_rescan"), F.col("_rmn"))
            .otherwise(F.col("mn"))
            .alias("mn"),
            F.when(F.col("_rescan"), F.col("_rmx"))
            .otherwise(F.col("mx"))
            .alias("mx"),
        )
    )
    return out


def _refresh_view(
    spark: SparkSession,
    source_table: str,
    sink_table: str,
    app_id: str,
    pin_schema,
    full,
    delta,
) -> dict:
    """The exactly-once refresh protocol every ``refresh_*_view``
    runs; a view supplies only its aggregate: ``pin_schema(df)`` fixes
    the sink schema, ``full(head)`` recomputes the view from the
    source snapshot ``head``, and ``delta(base, cursor, head)`` rolls
    ``base`` (the sink, materialized at source version ``cursor``)
    forward to ``head`` over the change feed.

    The cursor is not a sidecar file that can diverge from the data —
    it rides the SINK's commit as ``txn = (app_id, source_version)``,
    so the rolled-forward aggregate and the new cursor become visible
    in ONE atomic commit (the Delta idempotent-writer protocol bent
    to view maintenance). Kill a refresh anywhere and re-run: either
    the commit never published (cursor unchanged — the delta
    re-applies to the OLD aggregate, converging to the same state) or
    it published (``txn_epoch`` reports the new cursor — the replay
    no-ops). Exactly-once by construction, no caller bookkeeping.

    Falls back to a FULL rebuild when the recorded cursor's source
    version no longer exists (history expired by ``vacuum(keep_last=
    ...)`` between refreshes) — correctness never depends on
    retention. Returns ``{"mode": "full"|"delta"|"noop",
    "from_version", "to_version", "sink_version"}``."""
    head, _ = _manifest_at(source_table)
    # Pin the SINK read atomically: cursor, delta base, and commit
    # parent all come from the same sink snapshot. Reading the cursor
    # and base at whatever the head happens to be, then committing
    # without a parent pin, left a window where a concurrent
    # same-app_id refresher publishing in between was silently built
    # over (no publish collision -> the rebase txn guard never ran)
    # and its delta double-applied.
    sink_head = current_version(sink_table)
    cursor = txn_epoch(sink_table, app_id, at_version=sink_head)
    if cursor is not None and cursor >= head:
        return {
            "mode": "noop",
            "from_version": cursor,
            "to_version": head,
            "sink_version": current_version(sink_table),
        }
    if cursor is not None and cursor in _list_versions(source_table):
        # the BASE is pinned too: a sink written before its view's
        # current pin (count/sum's pre-r12 decimal(38,10) ``s``) would
        # otherwise trip the very allowPrecisionLoss rounding the pin
        # exists to avoid, once, on the first post-upgrade refresh
        base = pin_schema(read_snapshot(spark, sink_table, version=sink_head))
        rolled, frm = delta(base, cursor, head), cursor
    else:
        # first refresh, or retention expired the cursor's snapshot:
        # no diff base left
        rolled, frm = full(head), None
    if cursor is None:
        v = create_table(pin_schema(rolled), sink_table, [], txn=(app_id, head))
    else:
        # parent_version=sink_head: a racing same-app_id refresher
        # that published after our cursor read now COLLIDES, and
        # _try_rebase's txn replay guard rejects the double-apply
        # instead of rebasing.
        v = overwrite_table(
            pin_schema(rolled),
            sink_table,
            parent_version=sink_head,
            txn=(app_id, head),
        )
    return {
        "mode": "full" if frm is None else "delta",
        "from_version": frm,
        "to_version": head,
        "sink_version": v,
    }


def refresh_count_sum_view(
    spark: SparkSession,
    source_table: str,
    sink_table: str,
    keys: list[str],
    sum_col: str,
    app_id: str = "ivm",
) -> dict:
    """Cursor-driven MATERIALIZED-VIEW refresh: maintain the per-key
    COUNT + SUM aggregate of ``source_table`` as its own snapshot
    table, folding in only the source commits since the last refresh
    (:func:`maintain_count_sum` over the change feed) under the
    exactly-once cursor protocol of :func:`_refresh_view`. Returns its
    mode dict.

    Scale: the steady-state refresh reads only the files the source
    commits since the cursor touched (the whole point of CDF at
    100 TB — a 0.1% churn folds in at ~1/1000 the recompute cost),
    and the sink rewrite is sized by the AGGREGATE's cardinality, not
    the source's.
    """
    from pyspark.sql import functions as F

    def pin_schema(df):
        # stable sink schema across refreshes: Spark's decimal sum /
        # addition rules would otherwise widen `s` one digit per delta
        # refresh (35,10 -> 36,10 -> ...) — a schema-evolving commit
        # every round for no information. Precision 37, not 38: the
        # delta refresh adds a (35,10) sum to it, and (37,10)+(35,10)
        # needs precision max(27,25)+10+1 = 38 — exactly at Spark's
        # cap, so the addition stays exact. At (38,10) the same sum
        # needed 39 and triggered allowPrecisionLoss down to (38,9),
        # rounding the 10th fractional digit every refresh and
        # breaking the bit-identical-to-recompute invariant.
        return df.select(
            *keys,
            F.col("n").cast("bigint").alias("n"),
            F.col("s").cast("decimal(37,10)").alias("s"),
        )

    def full(head):
        return (
            read_snapshot(spark, source_table, version=head)
            .groupBy(*keys)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col(sum_col).cast("decimal(25,10)")).alias("s"),
            )
        )

    def delta(base, cursor, head):
        return maintain_count_sum(
            spark, source_table, base, keys, sum_col, cursor, head
        )

    return _refresh_view(
        spark, source_table, sink_table, app_id, pin_schema, full, delta
    )


def refresh_minmax_view(
    spark: SparkSession,
    source_table: str,
    sink_table: str,
    keys: list[str],
    col: str,
    app_id: str = "ivm_minmax",
) -> dict:
    """Cursor-driven refresh for the per-key COUNT/MIN/MAX view:
    :func:`maintain_minmax` run under :func:`_refresh_view`'s
    exactly-once cursor protocol. Returns its mode dict.

    Scale: the steady-state refresh pays the change-feed delta plus
    the bounded per-group rescan for deleted extremes
    (maintain_minmax's contract) — never a source rescan."""
    from pyspark.sql import functions as F

    def pin_schema(df):
        # mn/mx are selections of source values (no arithmetic), so
        # only n needs a type pin for a stable sink schema
        return df.select(
            *keys,
            F.col("n").cast("bigint").alias("n"),
            F.col("mn").alias("mn"),
            F.col("mx").alias("mx"),
        )

    def full(head):
        c = F.col(col)
        return (
            read_snapshot(spark, source_table, version=head)
            .groupBy(*keys)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min(c).alias("mn"),
                F.max(c).alias("mx"),
            )
        )

    def delta(base, cursor, head):
        return maintain_minmax(spark, source_table, base, keys, col, cursor, head)

    return _refresh_view(
        spark, source_table, sink_table, app_id, pin_schema, full, delta
    )


#: HLL sketch geometry for the incremental distinct-count view family
#: (matches operators/sketches.py's oracled HLL: 2^8 registers, 60-bit
#: portable md5 hashes, rank = leading-zero count of the 52-bit suffix)
HLL_VIEW_P = 8
HLL_VIEW_M = 1 << HLL_VIEW_P


def hll_regs(df: DataFrame, keys: list[str], col: str) -> DataFrame:
    """Sparse per-group HyperLogLog registers ``keys + [idx, r]`` of
    ``col`` (cast to string, portable md5 hash60 — the exact register
    algebra the oracled ``hll_sketch`` query pins; absent idx means
    register 0). ONE map-side-combinable groupBy over at most
    |groups| * 2^P register keys — at 100 TB the shuffle carries tiny
    partials, independent of row count.

    NULLs are EXCLUDED before hashing (COUNT(DISTINCT col) semantics
    — and hash60(NULL) is NULL, which would otherwise smuggle an
    (idx=NULL, r=NULL) register row past every equi-join in
    :func:`maintain_hll` and skew :func:`hll_estimate`'s
    absent-register count)."""
    from pyspark.sql import functions as F

    from ..functions.hashing import hash60

    h = df.filter(F.col(col).isNotNull()).select(
        *keys, hash60(F.col(col).cast("string")).alias("_h")
    )
    ranks = h.select(
        *keys,
        (F.col("_h") % HLL_VIEW_M).alias("idx"),
        F.when(F.shiftright("_h", HLL_VIEW_P) == 0, F.lit(53))
        .otherwise(
            F.lit(53) - F.length(F.conv(F.shiftright("_h", HLL_VIEW_P), 10, 2))
        )
        .alias("rank"),
    )
    return ranks.groupBy(*keys, "idx").agg(F.max("rank").alias("r"))


def hll_estimate(regs: DataFrame, keys: list[str]) -> DataFrame:
    """Distinct-count estimate per group from sparse registers: the
    raw Flajolet estimator with the harmonic denominator computed as
    an EXACT int64 (absent registers contribute 2^53), so the double
    arithmetic is order-independent and bit-identical across engines
    (the sketches.py argument). Returns ``keys + [hll_est]``."""
    from pyspark.sql import functions as F

    s = regs.groupBy(*keys).agg(
        (
            F.sum(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - r AS INT))")
            )
            + (F.lit(HLL_VIEW_M).cast("bigint") - F.count(F.lit(1)))
            * F.lit(1 << 53).cast("bigint")
        ).alias("_s")
    )
    alpha_num = "CAST('4.2399330249068963e+20' AS DOUBLE)"
    return s.select(
        *keys,
        (F.expr(alpha_num) / F.col("_s").cast("double")).alias("hll_est"),
    )


def maintain_hll(
    spark: SparkSession,
    table: str,
    base_regs: DataFrame,
    keys: list[str],
    col: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Incremental maintenance for per-group HLL registers — the
    MERGEABLE-SKETCH member of the IVM family
    (:func:`maintain_count_sum` covers invertible aggregates,
    :func:`maintain_minmax` selections; HLL registers are per-idx
    MAXes, so they fold losslessly under INSERTS — the
    ``hll_union`` lossless-merge property — and hit the same
    non-invertible wall as MIN/MAX under deletes).

    ``base_regs``: sparse registers ``keys + [idx, r]`` materialized
    at ``from_version``. Returns the same shape rolled to
    ``to_version``, BIT-EQUAL to :func:`hll_regs` recomputed on the
    target snapshot (registers are integer selections; no float).

    Gupta-Mumick bounded rescan, the minmax shape: inserts fold into
    candidate registers by per-idx max; a DELETED value whose rank
    REACHES its candidate register may have been the register's last
    witness (duplicates unknowable from the sketch), so its whole
    GROUP re-sketches from the target snapshot — strictly-interior
    deletes (rank below the register) can never move a max and cost
    nothing. Groups whose rows all vanish drop (the final delete
    always attains the register, forcing the rescan that returns
    empty).

    Scale: the delta shuffles only changed rows' (group, idx, rank)
    partials; the rescan reads only affected GROUPS (left-semi the
    optimizer sizes); neither ever rescans the table."""
    from pyspark.sql import functions as F

    v_to = to_version if to_version is not None else current_version(table)
    feed = changes(spark, table, from_version, v_to)
    pts = hll_regs(
        feed.withColumn("_ct", F.col("_change_type")).select(
            *keys, col, "_ct"
        ),
        [*keys, "_ct"],
        col,
    )
    ins = (
        pts.filter(F.col("_ct") == "insert")
        .groupBy(*keys, "idx")
        .agg(F.max("r").alias("_ir"))
    )
    dels = (
        pts.filter(F.col("_ct") == "delete")
        .groupBy(*keys, "idx")
        .agg(F.max("r").alias("_dr"))
    )
    folded = (
        base_regs.join(ins, [*keys, "idx"], "full_outer")
        .select(
            *keys,
            "idx",
            F.greatest(F.col("r"), F.col("_ir")).alias("r"),
        )
        # reused by the suspicious-group probe AND the final union;
        # sized by the sketch (|groups| * m), never the source
        .localCheckpoint(eager=False)
    )
    suspicious = (
        dels.join(folded, [*keys, "idx"], "left")
        .filter(
            F.col("r").isNull() | (F.col("_dr") >= F.col("r"))
        )
        .select(*keys)
        .distinct()
    )
    kept = folded.join(suspicious, keys, "left_anti")
    rescan = hll_regs(
        read_snapshot(spark, table, version=v_to).join(
            suspicious, keys, "left_semi"
        ),
        keys,
        col,
    )
    return kept.unionByName(rescan)


def refresh_hll_view(
    spark: SparkSession,
    source_table: str,
    sink_table: str,
    keys: list[str],
    col: str,
    app_id: str = "ivm_hll",
) -> dict:
    """Cursor-driven refresh for the per-group HLL-register view:
    :func:`maintain_hll` run under :func:`_refresh_view`'s
    exactly-once cursor protocol. Returns its mode dict. The sink
    stores SPARSE registers (``keys + idx + r``) — any engine can
    derive the distinct-count estimate with :func:`hll_estimate`, and
    two sinks over disjoint sources union losslessly by per-idx max."""
    from pyspark.sql import functions as F

    def pin_schema(df):
        return df.select(
            *keys,
            F.col("idx").cast("bigint").alias("idx"),
            F.col("r").cast("int").alias("r"),
        )

    def full(head):
        return hll_regs(
            read_snapshot(spark, source_table, version=head), keys, col
        )

    def delta(base, cursor, head):
        return maintain_hll(spark, source_table, base, keys, col, cursor, head)

    return _refresh_view(
        spark, source_table, sink_table, app_id, pin_schema, full, delta
    )


def restore_to_timestamp(table: str, ts) -> int:
    """RESTORE TABLE ... TO TIMESTAMP AS OF: :func:`rollback` to the
    newest version whose commit time is <= ``ts`` (Unix timestamp or
    datetime — the :func:`version_as_of` resolution, including its
    refusal to silently serve a younger snapshot when ``ts`` predates
    retained history)."""
    return rollback(table, version_as_of(table, ts))


def rollback(table: str, version: int) -> int:
    """RESTORE TABLE ... TO VERSION: publish a new head whose file
    list duplicates ``version``'s. Nothing is rewritten or deleted —
    the bad head stays in history (auditable) and time travel to it
    still works until vacuumed."""
    _, target = _manifest_at(table, version)
    return _commit(
        table,
        f"rollback_to_v{version}",
        target["files"],
        target["partition_cols"],
        target["schema"],
        current_version(table),
        file_stats=target.get("file_stats", {}),
        constraints=target.get("constraints", {}),
        deletion_vectors=target.get("deletion_vectors", {}),
        # restore the TARGET's column DDL state too — inheriting the
        # (possibly renamed/dropped) parent's mapping over the
        # target's schema would corrupt every read (caught by the
        # model-equivalence property test)
        column_mapping=target.get("column_mapping") or {},
        retired_columns=target.get("retired_columns") or [],
        generated=target.get("generated") or {},
    )


ZORDER_BITS = 8  # 256 buckets per column in the interleaved key


def _zorder_key(df: DataFrame, cols: list[str], bits: int = ZORDER_BITS):
    """Bit-interleaved Z-order key over ``cols``: each column maps to
    a [0, 2^bits) bucket via width_bucket on its GLOBAL min/max (one
    tiny agg, broadcast as literals), then the bucket bits interleave
    round-robin so every column contributes equally to key locality.
    Uniform buckets, not quantiles — heavy skew concentrates buckets
    and weakens (never breaks) pruning; stats-based skipping stays
    correct regardless."""
    from pyspark.sql import functions as F

    stats = df.agg(
        *[F.min(c).cast("double").alias(f"mn_{i}") for i, c in enumerate(cols)],
        *[F.max(c).cast("double").alias(f"mx_{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    n = 1 << bits
    buckets = []
    for i, c in enumerate(cols):
        mn, mx = stats[f"mn_{i}"], stats[f"mx_{i}"]
        if mn is None or mx is None or mn == mx:
            buckets.append(F.lit(0))
            continue
        # width_bucket yields 1..n inside the range; clamp to 0..n-1
        buckets.append(
            F.least(
                F.lit(n - 1),
                F.greatest(
                    F.lit(0),
                    F.width_bucket(
                        F.col(c).cast("double"), F.lit(mn), F.lit(mx), F.lit(n)
                    )
                    - 1,
                ),
            ).cast("long")
        )
    key = F.lit(0).cast("long")
    for j in range(bits):
        for i, b in enumerate(buckets):
            bit = F.shiftright(b, j).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, j * len(cols) + i))
    return key


def _live_file_bytes(table: str, manifest: dict, files) -> int:
    """Total physical bytes of ``files`` from manifest stats (the
    per-file ``bytes`` stat every commit records), falling back to a
    filesystem stat only for files committed before the stat existed.
    At 100 TB this is the difference between sizing a compaction from
    metadata and stat-ing a million objects."""
    stats = manifest.get("file_stats") or {}
    total = 0
    for f in files:
        e = stats.get(f) or {}
        if "bytes" in e:
            total += int(e["bytes"])
        else:
            try:
                total += os.path.getsize(os.path.join(table, f))
            except OSError:
                pass
    return total


def optimize(
    spark: SparkSession,
    table: str,
    files_per_partition: int = 1,
    cluster_by: list[str] | None = None,
    zorder: bool = False,
    partitions: dict | None = None,
    target_file_bytes: int | None = None,
) -> int:
    """OPTIMIZE [ZORDER BY] as a metadata commit — the snapshot-native
    replacement for the rename-swap dance in
    ``writers.compact_dataset`` (whose docstring already names this
    design as the real lakehouse mechanism). Rewrites files into
    ``files_per_partition`` files per partition (``cluster_by`` sorts
    within files so Parquet min/max stats turn selective), verifies
    the rewrite's row count against the files it replaces BEFORE
    publishing, then commits a version that references the compacted
    files in their place. Readers never see an intermediate state,
    time travel to pre-compaction versions keeps working, and a crash
    at any point leaves only unreferenced files for :func:`vacuum`.

    INCREMENTAL BY DEFAULT (Delta's bin-packing rule): a plain call —
    ``files_per_partition=1`` with no ``cluster_by``, ``zorder``,
    ``partitions``, ``target_file_bytes`` or ``clusterBy`` table
    property — rewrites only the partitions that are not already
    compact (an unpartitioned table is one partition). A partition
    is compact, and carries by reference with its paths, stats and
    deletion-vector entries unchanged, when it holds exactly one live
    file that has no deletion vector, lives in the table's own data
    tree (not a shallow clone's source), sits under the current
    partition spec, stores exactly the current physical columns at
    their current types (no narrower type, no retired column) and,
    under row tracking, already materializes its row ids. Every other
    call rewrites its whole scope: the table, or the ``partitions``
    files. Every call publishes exactly one ``optimize`` version,
    even one that rewrites nothing; only an OPTIMIZE WHERE that
    matches no file returns the head unchanged. A table-wide call
    races with concurrent writers exactly as a full rewrite did: its
    commit claims the carried files too (:func:`_try_rebase`).

    ``partitions`` is OPTIMIZE WHERE: only files whose directory
    values match it (identity partition columns of the CURRENT spec;
    old-spec files never match) rewrite — at 100 TB you compact
    yesterday's hot partitions, never the whole table.

    ``zorder=True`` clusters by the bit-interleaved
    :func:`_zorder_key` over ``cluster_by`` instead of the linear
    sort: files then cover compact hyper-rectangles of the combined
    space, so footer-stats pruning (:func:`scan`) bites on EVERY
    clustered column, not just the sort prefix — the real ZORDER BY
    semantics. Files split by key range (repartitionByRange on the
    key) so distinct files cover distinct key ranges.

    ``target_file_bytes`` sizes the rewrite by BYTES instead of a
    fixed file count (Delta's OPTIMIZE targetFileSize): the output
    file count becomes ceil(scope_bytes / target), with bytes read
    from the manifest's per-file stats — no filesystem stat. On a
    partitioned table it applies per partition, so pass
    ``partitions=`` (one scope) or use :func:`auto_compact`'s
    byte-aware sweep; a table-wide single count would over-split
    small partitions and under-split big ones.

    LIQUID-STYLE DEFAULT CLUSTERING: when ``cluster_by`` is omitted
    and the table carries a ``clusterBy`` table property (set via
    :func:`set_clustering` / ``ALTER TABLE ... CLUSTER BY``), OPTIMIZE
    clusters by those keys automatically (Z-ORDER for 2+, linear for
    one) — Delta's liquid-clustering surface: the layout policy lives
    on the TABLE, and every maintenance pass re-applies it without the
    caller re-stating keys."""
    head, prev = _manifest_at(table)
    if cluster_by is None:
        declared = (prev.get("properties") or {}).get("clusterBy")
        if declared:
            cluster_by = [c for c in declared.split(",") if c]
            zorder = len(cluster_by) > 1
    pcols = prev["partition_cols"]
    if target_file_bytes is not None and target_file_bytes <= 0:
        raise ValueError("target_file_bytes must be positive")
    if target_file_bytes and pcols and not partitions and not zorder:
        raise ValueError(
            "target_file_bytes on a partitioned table is a per-partition "
            "size: pass partitions= for one scope, or use "
            "auto_compact(target_file_bytes=...) for the sweep"
        )
    if partitions:
        if zorder:
            raise ValueError("partition-scoped optimize does not support zorder")
        if not pcols:
            raise ValueError(f"{table} is unpartitioned; omit partitions")
        hive = _spec_names(pcols)
        unknown = set(partitions) - set(hive)
        if unknown:
            raise ValueError(
                f"unknown partition columns {sorted(unknown)}; spec has {hive}"
            )
        want = {k: str(v) for k, v in partitions.items()}
        cand = [
            f
            for f in prev["files"]
            if all(_partition_values(f, hive).get(k) == v for k, v in want.items())
        ]
        if not cand:
            return head  # nothing matches: metadata no-op
    elif files_per_partition == 1 and not (cluster_by or zorder or target_file_bytes):
        cand = _uncompacted_files(table, prev)
    else:
        cand = prev["files"]
    if target_file_bytes:
        import math

        files_per_partition = max(
            1, math.ceil(_live_file_bytes(table, prev, cand) / target_file_bytes)
        )
    return _optimize_files(
        spark,
        table,
        prev,
        head,
        cand,
        files_per_partition,
        cluster_by,
        zorder,
        extra=None if partitions else {"optimize_scope": "table"},
    )


def _uncompacted_files(table: str, man: dict) -> list[str]:
    """The default OPTIMIZE's rewrite set: every live file except the
    sole file of each partition that is already what a rewrite would
    produce (the compactness rule in :func:`optimize`'s docstring).
    Files group by ALL their path values, so an old-spec file never
    shares a group with current-spec ones. Manifest arithmetic plus
    one footer read per single-file partition; no data read."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    hive = _spec_names(man["partition_cols"])
    spec = tuple(sorted(hive))
    track = bool(man.get("row_tracking"))
    mapping = man.get("column_mapping") or {}
    schema = StructType.fromJson(json.loads(man["schema"]))
    # identity partition columns live in the path, never in the data
    physical = {
        mapping.get(f.name, f.name) for f in schema.fields if f.name not in hive
    } | ({ROW_ID_COL} if track else set())
    want = _physical_types(man)
    dvs = man.get("deletion_vectors") or {}
    stats = man.get("file_stats") or {}
    groups: dict[tuple, list[str]] = {}
    for f in man["files"]:
        groups.setdefault(tuple(sorted(_path_values(f).items())), []).append(f)
    out: list[str] = []
    for files in groups.values():
        f = files[0]
        if (
            len(files) == 1
            and f not in dvs
            and not os.path.isabs(f)
            and _file_spec(f) == spec
            and (not track or (stats.get(f) or {}).get("materialized_row_ids"))
        ):
            footer = pq.read_schema(os.path.join(table, f))
            if set(footer.names) == physical and not _is_narrower(footer, want):
                continue
        out.extend(files)
    return out


def _optimize_files(
    spark: SparkSession,
    table: str,
    prev: dict,
    head: int,
    cand: list[str],
    files_per_partition: int,
    cluster_by: list[str] | None,
    zorder: bool,
    extra: dict | None,
) -> int:
    """OPTIMIZE's one rewrite body: read ``cand`` (deletion vectors
    materialize; under row tracking the stable ids materialize into
    the ROW_ID_COL column) → lay out → write with stats → row-count
    guard → commit. Every live file outside ``cand`` carries by
    reference with its stats and deletion vector; an empty ``cand``
    writes nothing and still commits one version. ``extra`` carries
    the table-wide marker :func:`_try_rebase` reads."""
    if not cand:
        return _commit(table, "optimize", parent=head, extra=extra)
    pcols = prev["partition_cols"]
    track = bool(prev.get("row_tracking"))
    # the identity column derives from the ids at read time and is
    # never written (enable_identity's metadata-only contract)
    df = _read_files(spark, table, prev, cand, row_ids=track)
    n_before = df.count()
    if zorder:
        if not cluster_by or len(cluster_by) < 2:
            raise ValueError("zorder=True needs >= 2 cluster_by columns")
        keyed = df.withColumn("__zkey", _zorder_key(df, cluster_by))
        # range-partition on (hive partition cols..., zkey): distinct
        # output files cover distinct zkey ranges, and rows of one
        # hive partition stay range-contiguous so the dir layout
        # survives. files_per_partition counts TOTAL range splits
        # in zorder mode.
        range_cols = [*_spec_names(pcols), "__zkey"] if pcols else ["__zkey"]
        if pcols:
            keyed, _names = _layout_frame(keyed, pcols)
        out = (
            keyed.repartitionByRange(files_per_partition, *range_cols)
            .sortWithinPartitions(*range_cols)
            .drop("__zkey")
        )
    elif pcols:
        laid, hive_names = _layout_frame(df, pcols)
        out = laid.repartition(files_per_partition, *hive_names)
        if cluster_by:
            out = out.sortWithinPartitions(*cluster_by)
    elif cluster_by:
        # linear clustering: range-split on the cluster columns so
        # distinct files cover distinct prefix ranges (file-level
        # pruning on the prefix, not just row-group stats)
        out = df.repartitionByRange(
            files_per_partition, *cluster_by
        ).sortWithinPartitions(*cluster_by)
    else:
        out = df.coalesce(files_per_partition)
    new, new_stats = _write_data(
        out, table, pcols, prev.get("column_mapping") or {}
    )
    new_paths = [os.path.join(table, f) for f in new]
    n_after = (
        spark.read.option("basePath", _data_dir(table)).parquet(*new_paths).count()
        if new_paths
        else 0
    )
    if n_after != n_before:
        for f in new:  # abort: reclaim immediately, nothing was published
            os.unlink(os.path.join(table, f))
        raise RuntimeError(
            f"optimize row-count mismatch on {table}: {n_after} != {n_before}"
        )
    rewritten = set(cand)
    return _commit(
        table,
        "optimize",
        sorted([f for f in prev["files"] if f not in rewritten] + new),
        parent=head,
        file_stats=new_stats,
        extra=extra,
    )


def merge_into(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    keys: list[str],
    delete_col: str | None = None,
    broadcast_source: bool = False,
    evolve_schema: bool = False,
    not_matched_by_source_delete: bool | str | None = None,
    not_matched_by_source: list[tuple] | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """MERGE INTO the snapshot table (upsert + optional delete,
    semantics of ``operators.merge.merge_upsert``), committed as a new
    version.

    ``evolve_schema=True`` is Delta's MERGE WITH SCHEMA EVOLUTION:
    source columns absent from the target widen the committed schema,
    with surviving target rows reading null for them (the merge
    output rewrites under the widened schema; carried files of
    untouched partitions null-fill at read, same as append's
    mergeSchema). Source frames MISSING target columns stay an error
    either way — the whole-row-update contract needs full rows.

    Scale path: when the table is partitioned and the source carries
    the partition columns, only the partitions PRESENT IN THE SOURCE
    are read, merged, and rewritten — the target's partition filter
    prunes the scan to those files and every untouched partition's
    files carry over by reference (the Delta file-rewrite
    optimization). This requires merge keys to be partition-stable: a
    key whose partition value changed in the source would leave its
    old row behind in the unread partition (the same caveat real
    table formats document). Unpartitioned tables (or sources without
    the partition columns) fall back to a full-table merge commit.

    ``not_matched_by_source_delete`` is Delta's WHEN NOT MATCHED BY
    SOURCE THEN DELETE (True = delete every unmatched target row; a
    SQL string = delete those satisfying it, null condition
    survives). ``not_matched_by_source`` is the ordered full-grammar
    form (``[(cond, "delete"|"update", set_exprs), ...]`` — adds WHEN
    NOT MATCHED BY SOURCE THEN UPDATE SET; supersedes the bool/str
    param when given; see
    operators/merge.apply_not_matched_by_source_clauses). Either
    clause examines every unmatched target row by definition, so it
    disables partition pruning for the commit — a full-sync mirror
    is inherently a whole-table statement."""
    from ..operators.merge import merge_upsert

    head, man = _manifest_at(table)
    pcols = man["partition_cols"]
    track = bool(man.get("row_tracking"))
    if track:
        # PRESERVED row tracking through the merge rewrite (Delta's
        # preserved-row-tracking writes): read the target's stable ids
        # and materialize them into the rewritten files — surviving
        # rows keep their ids, matched rows INHERIT their target id
        # (so with_row_ids CDF pairs the merge's updates), and only
        # genuine inserts allocate above the high-water mark
        target = read_snapshot(
            spark, table, version=head, with_row_ids=True
        ).withColumnRenamed("_row_id", ROW_ID_COL)
    else:
        target = read_snapshot(spark, table, version=head)
    ident = (man.get("identity") or {}).get("col")
    if ident:
        if ident in source.columns:
            raise ValueError(
                f"column {ident!r} is GENERATED ALWAYS AS IDENTITY; "
                "merge sources must not supply it"
            )
        # the read-side derivation added it to the target frame; the
        # rewrite must not carry it (it re-derives from the preserved
        # row ids, so surviving AND matched rows keep their surrogate)
        target = target.drop(ident)
    evolved_cols: list[str] = []
    if evolve_schema:
        from pyspark.sql import functions as F

        for fld in source.schema.fields:
            if fld.name not in target.columns and fld.name != delete_col:
                target = target.withColumn(
                    fld.name, F.lit(None).cast(fld.dataType)
                )
                evolved_cols.append(fld.name)
    pruned = (
        pcols
        and all(c in source.columns for c in pcols)
        # falsy (None/False) = clause off; True or a condition string
        # (or an ordered clause list) = the global clause, which must
        # see every partition
        and not not_matched_by_source_delete
        and not not_matched_by_source
    )
    mapping = man.get("column_mapping") or {}
    if _fresh_aliases(man, mapping, evolved_cols, head + 1) != mapping:
        # a new logical name colliding with a still-claimed physical
        # name needs the fresh alias that only the full overwrite
        # path commits — take it (correct, just unpruned) in that
        # rare case
        pruned = False
    if pruned:
        touched = [
            tuple(r) for r in source.select(*pcols).distinct().collect()
        ]  # bounded: one row per partition in the batch
        if not touched:
            return head  # empty source: nothing to merge, nothing to commit
        cond = None
        for combo in touched:
            eq = None
            for c, v in zip(pcols, combo):
                e = target[c] == v
                eq = e if eq is None else (eq & e)
            cond = eq if cond is None else (cond | eq)
        target = target.filter(cond)
    next_mark: int | None = None
    if track:
        from pyspark.sql import functions as F

        from ..operators.merge import (
            apply_not_matched_by_source,
            apply_not_matched_by_source_clauses,
        )

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
        incoming = (
            source.filter(~F.col(delete_col)).drop(delete_col)
            if delete_col is not None
            else source
        )
        # matched rows inherit the target id via one keyed equi-join.
        # Non-unique matches would corrupt the id invariant, so both
        # sides are guarded: duplicate TARGET keys collapse to one id
        # (min per key, a map-side-combinable aggregate — matching
        # merge_upsert, which replaces every duplicate with the single
        # source row), and duplicate SOURCE rows matching one target
        # key raise, Delta's "multiple source rows matched" error (two
        # rows can't share one stable id). The joined batch is PINNED
        # ONCE (localCheckpoint — bounded: it's the merge batch, the
        # small side of a CDC merge) so the dup probe, the insert
        # count, and the written rows are guaranteed the same set even
        # for a nondeterministic source (sample, unordered limit —
        # counting one evaluation and writing another could commit a
        # next_row_id that lets later commits reuse ids), and the
        # target scan behind the join runs once, not three times.
        tids = (
            target.select(*keys, ROW_ID_COL)
            .groupBy(*keys)
            .agg(F.min(ROW_ID_COL).alias(ROW_ID_COL))
        )
        incoming = incoming.join(tids, keys, "left").localCheckpoint(
            eager=True
        )
        matched = incoming.filter(F.col(ROW_ID_COL).isNotNull())
        dup = (
            matched.groupBy(ROW_ID_COL)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                "merge_into on a row-tracked table: multiple source "
                f"rows matched the same target key on {keys}; "
                "deduplicate the source first (Delta raises here too)"
            )
        inserts = incoming.filter(F.col(ROW_ID_COL).isNull()).drop(
            ROW_ID_COL
        )
        # dense fresh ids above the mark, numbered where the rows
        # are (no single-task global window): one count per partition
        # of the pinned insert set (bounded: one row per partition), a
        # driver prefix sum, then mark + offset[partition] + position
        # in partition. Pinned above, so the counted and the written
        # rows are the same rows in the same places.
        counts = dict(
            inserts.groupBy(F.spark_partition_id()).count().collect()
        )
        offsets = []
        next_mark = int(man.get("next_row_id") or 0)
        for pid in range(max(counts, default=0) + 1):
            offsets.append(next_mark)
            next_mark += counts.get(pid, 0)
        # monotonically_increasing_id = partition << 33 | position
        mid = F.monotonically_increasing_id()
        fresh = inserts.withColumn(
            ROW_ID_COL,
            F.element_at(
                F.array(*[F.lit(o).cast("long") for o in offsets]),
                (F.shiftright(mid, 33) + 1).cast("int"),
            )
            + mid.bitwiseAND((1 << 33) - 1),
        )
        merged = kept.unionByName(matched).unionByName(fresh)
    else:
        merged = merge_upsert(
            target,
            source,
            keys,
            delete_col,
            broadcast_source,
            not_matched_by_source_delete=not_matched_by_source_delete,
            not_matched_by_source=not_matched_by_source,
        )
    if pruned:
        return overwrite_partitions(
            merged,
            table,
            txn=txn,
            # evolution on the pruned path: commit the WIDENED schema
            # so carried untouched-partition files null-fill —
            # committing prev["schema"] here would silently drop the
            # new columns from every read (regression-tested). The
            # widening goes through _evolve_schema (same gate as
            # append's mergeSchema): a source that implicitly changed
            # an EXISTING column's type must raise, not commit a type
            # the carried files' physical schema contradicts.
            schema_json=(
                _evolve_schema(
                    man["schema"],
                    merged.drop(ROW_ID_COL) if track else merged,
                    merge_schema=True,
                )
                if evolved_cols
                else None
            ),
            next_row_id=next_mark,
            # commit against the head the WHOLE merge was computed on
            # (target read, dup probe, insert count, id allocation):
            # a commit landing anywhere inside that window must
            # collide and revalidate via _try_rebase — re-reading the
            # head here would silently build over it (lost update in
            # the rewritten partitions; stale next_row_id overriding
            # a winner's higher mark and re-issuing its row ids)
            parent_version=head,
        )
    return overwrite_table(
        merged,
        table,
        next_row_id=next_mark,
        parent_version=head,
        txn=txn,
    )


def clone_table(src_table: str, dst_table: str) -> int:
    """Delta-style SHALLOW CLONE: a new table whose first manifest
    references the SOURCE's current data files by absolute path —
    zero data copied, O(metadata) cost at any table size. The clone
    then evolves independently: its own appends/DML/OPTIMIZE write
    files into ITS data/ tree, and since :func:`vacuum` only ever
    deletes files found under the table's OWN data directory,
    vacuuming the clone can never reclaim source files (and vice
    versa — though vacuuming the SOURCE can break a clone that still
    references expired source files, exactly Delta's documented
    shallow-clone hazard). Readers handle the mixed ownership via
    per-group basePath resolution (:func:`_data_root_of`)."""
    _, prev = _manifest_at(src_table)
    if current_version(dst_table) is not None:
        raise ValueError(f"{dst_table} already exists")
    remap = {
        f: f if os.path.isabs(f) else os.path.normpath(os.path.join(src_table, f))
        for f in prev["files"]
    }
    os.makedirs(_data_dir(dst_table), exist_ok=True)
    return _commit_copy(dst_table, "clone", None, prev, remap)


def _commit_copy(
    table: str,
    operation: str,
    parent: int | None,
    src: dict,
    remap: dict[str, str],
    extra: dict | None = None,
) -> int:
    """Publish another manifest's state (``src``, a clone source, fork
    point or branch head) as ``table``'s next version, with every file
    entry renamed through ``remap``. Stats and deletion vectors follow
    their files; constraints, column mapping, retired columns and
    generated columns come from ``src``. Its feature sets are carried
    explicitly, because some features cannot be re-derived from content
    (a widened table's files are NARROW parquet under the wide schema),
    and row tracking stays live: the flag and ``src``'s id high-water
    mark travel with the files, so later commits allocate ids above
    every id ``src`` handed out."""
    carried = {k: src[k] for k in ("reader_features", "writer_features") if src.get(k)}
    if src.get("row_tracking"):
        carried.update(row_tracking=True, next_row_id=int(src.get("next_row_id") or 0))
    return _commit(
        table,
        operation,
        sorted(remap[f] for f in src["files"]),
        src["partition_cols"],
        src["schema"],
        parent=parent,
        file_stats={remap[f]: s for f, s in src.get("file_stats", {}).items() if f in remap},
        constraints=src.get("constraints") or {},
        deletion_vectors={
            remap[f]: d for f, d in src.get("deletion_vectors", {}).items() if f in remap
        },
        column_mapping=src.get("column_mapping") or {},
        retired_columns=src.get("retired_columns") or [],
        generated=src.get("generated") or {},
        extra={**(extra or {}), **carried} or None,
    )


def _rewrite_as_checkpoint(table: str, version: int) -> None:
    """Replace a stored segment manifest with its materialized
    self-contained form (atomic os.replace) — vacuum's escape hatch
    when a segment's chain is about to be expired out from under it.
    Content-identical to what every reader already saw."""
    full = _read_manifest(table, version)
    # keep DV sidecar refs in stored form — materializing them inline
    # here would re-bloat the checkpoint with O(deleted rows) JSON
    raw_dvs = _raw_manifest(table, version).get("deletion_vectors")
    if raw_dvs is not None:
        full["deletion_vectors"] = raw_dvs
    final = _manifest_path(table, version)
    tmp = final + f".{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, final)


def vacuum(
    table: str,
    retain_last: int = 0,
    dry_run: bool = False,
    grace_seconds: float | None = None,
    retain_hours: float | None = None,
) -> dict:
    """Reclaim space: delete data files referenced by NO retained
    manifest (covers orphans from crashed writes) and, when
    ``retain_last`` > 0, expire all but the last N manifests first
    (bounding time travel, like Delta's retention window). Never
    touches a file any kept manifest references. Returns counts.

    ``grace_seconds`` (default :data:`VACUUM_GRACE_SECONDS`) is the
    age threshold below which unreferenced files are NOT reclaimed —
    the miniature of Delta VACUUM's retention window for tombstoned
    files. Writers stage data files and DV sidecars on disk BEFORE
    the manifest publish (:func:`_externalize_dvs`, the txn writers),
    so with no threshold a concurrent vacuum could reclaim an
    in-flight commit's files between staging and publish, leaving the
    just-published manifest referencing nothing. Age is judged by
    file mtime; manifest EXPIRY is unaffected (expiring history is
    retention policy, not a race). Pass ``grace_seconds=0`` to force
    immediate reclamation when no writer can be in flight (tests,
    single-process maintenance windows — Delta's
    ``retentionDurationCheck.enabled=false`` equivalent).

    Retention contract (matches Delta's semantics, pinned in
    tests/test_snaptable.py):

    * time travel to an EXPIRED version fails fast in planning —
      ``read_snapshot(..., version=old)`` raises ValueError naming
      the version and current head (the manifest is gone);
    * a reader HOLDING a DataFrame planned at an old version before
      the vacuum fails at EXECUTION with Spark's missing-file error
      once the files are deleted — never a silent partial result.
      That guarantee requires ``spark.sql.files.ignoreMissingFiles``
      to stay ``false`` (the default; the session factory never
      flips it — flipping it would convert this race into silently
      wrong answers, exactly what Delta's VACUUM docs warn about).

    ``retain_hours`` (Delta's ``VACUUM ... RETAIN n HOURS``):
    AGE-based history expiry — every non-tagged version except the
    head whose commit time predates the window expires, composing
    with ``retain_last`` (a version expires if either policy retires
    it). Commit timestamps are forced monotonic, so the aged set is
    always a prefix of history and the segment-chain rewrite below
    stays correct.

    ``dry_run=True`` (Delta's VACUUM DRY RUN): report what WOULD be
    expired/deleted — including the victim file list — touching
    nothing, so retention changes can be audited before they burn
    time-travel history.

    TAGGED versions (:func:`create_tag`) are exempt from retention
    expiry — their manifests and the files those reference survive
    any ``retain_last``, the Iceberg ref-retention rule; drop the tag
    to let the version age out."""
    if grace_seconds is None:
        # per-table default (SET TBLPROPERTIES vacuum.graceSeconds),
        # falling back to the engine-wide constant
        head_v = current_version(table)
        prop = (
            (_read_manifest(table, head_v).get("properties") or {}).get(
                "vacuum.graceSeconds"
            )
            if head_v is not None
            else None
        )
        grace = VACUUM_GRACE_SECONDS if prop is None else float(prop)
    else:
        grace = float(grace_seconds)
    cutoff = time.time() - grace

    def _old_enough(path: str) -> bool:
        try:
            return os.path.getmtime(path) <= cutoff
        except FileNotFoundError:
            return False

    versions = _list_versions(table)
    if not versions:
        return {
            "expired_versions": 0,
            "deleted_files": 0,
            "reclaimed_bytes": 0,
            "deleted_dv_sidecars": 0,
            "skipped_young_files": 0,
        }
    tagged = set(_tagged_versions(table).values())
    expired = 0
    expirable: list[int] = []
    # retain_hours (Delta's VACUUM ... RETAIN n HOURS): AGE-based
    # history expiry — versions whose commit time predates the window
    # expire (head always survives), composing with the count-based
    # retain_last (a version expires if EITHER policy retires it)
    if retain_hours is not None and len(versions) > 1:
        age_cut = time.time() - float(retain_hours) * 3600.0
        aged = [
            v
            for v in versions[:-1]  # the head never ages out
            if v not in tagged
            and _raw_manifest(table, v)["committed_at"] < age_cut
        ]
        keep_n = retain_last if retain_last > 0 else len(versions)
        count_based = (
            [v for v in versions[:-keep_n] if v not in tagged]
            if len(versions) > keep_n
            else []
        )
        expirable = sorted(set(aged) | set(count_based))
    elif retain_last > 0 and len(versions) > retain_last:
        expirable = [v for v in versions[:-retain_last] if v not in tagged]
    if expirable:
        kept = sorted(set(versions) - set(expirable))
        if not dry_run:
            # a kept SEGMENT whose diff chain passes through an
            # expiring manifest must be materialized into a
            # self-contained checkpoint BEFORE its bases vanish —
            # ascending order guarantees each rewrite sees its chain
            # intact (a later kept segment then chains to the rewrite)
            keep_set = set(kept)
            for v in kept:
                if (
                    _raw_manifest(table, v).get("segment")
                    and _raw_manifest(table, v)["base"] not in keep_set
                ):
                    _rewrite_as_checkpoint(table, v)
            for v in expirable:
                os.unlink(_manifest_path(table, v))
                expired += 1
        versions = kept
    referenced: set[str] = set()
    for v in versions:
        referenced.update(_read_manifest(table, v)["files"])
    unreferenced = _list_data_files(table) - referenced
    victims = sorted(
        f for f in unreferenced if _old_enough(os.path.join(table, f))
    )
    # unreferenced files deferred by the grace window — reported so
    # automation can tell "nothing to reclaim" from "deferred" (a
    # crashed-write sweep returning deleted_files=0 is ambiguous
    # otherwise)
    skipped_young = len(unreferenced) - len(victims)

    def _sz(f: str) -> int:
        try:
            return os.path.getsize(os.path.join(table, f))
        except OSError:
            return 0

    victim_bytes = sum(_sz(f) for f in victims)
    # DV sidecars referenced by NO kept manifest are orphans too
    # (superseded vectors, crashed commits, expired history); computed
    # BEFORE the dry_run branch so reclaimable_bytes reports them —
    # a merge-on-read-heavy table frees mostly sidecars, and a dry run
    # that omits them under-reports exactly where it matters
    dv_refs = set()
    for v in versions:
        for val in (
            _raw_manifest(table, v).get("deletion_vectors") or {}
        ).values():
            if isinstance(val, dict):
                dv_refs.add(val["$dv"])
    dv_victims = []
    if os.path.isdir(_snap_dir(table)):
        for fn in sorted(os.listdir(_snap_dir(table))):
            if (
                fn.startswith("dv-")
                and fn.endswith((".json", ".dvb"))
                and fn not in dv_refs
                and _old_enough(os.path.join(_snap_dir(table), fn))
            ):
                dv_victims.append(fn)
    dv_bytes = 0
    for fn in dv_victims:
        try:
            dv_bytes += os.path.getsize(os.path.join(_snap_dir(table), fn))
        except OSError:
            pass
    if dry_run:
        return {
            "dry_run": True,
            "expired_versions": len(expirable),
            "deleted_files": len(victims),
            "reclaimable_bytes": victim_bytes + dv_bytes,
            "reclaimable_dv_sidecars": len(dv_victims),
            "skipped_young_files": skipped_young,
            "files": victims,
        }
    deleted = 0
    for f in victims:
        os.unlink(os.path.join(table, f))
        deleted += 1
    victim_bytes += dv_bytes
    dv_deleted = 0
    for fn in dv_victims:
        os.unlink(os.path.join(_snap_dir(table), fn))
        dv_deleted += 1
    # prune now-empty partition dirs so listings stay clean. Attempt
    # the rmdir instead of trusting the walk's `dirs` list: bottom-up,
    # a parent's list still names children rmdir'd moments earlier, so
    # a nested chain (a crashed PARTITIONED staging dir:
    # _staging-X/g=A/) would otherwise take one vacuum pass per level.
    for dirpath, _dirs, files in os.walk(_data_dir(table), topdown=False):
        if files or dirpath == _data_dir(table):
            continue
        try:
            os.rmdir(dirpath)
        except OSError:
            pass  # still holds entries (e.g. files kept by the grace window)
    return {
        "expired_versions": expired,
        "deleted_files": deleted,
        "reclaimed_bytes": victim_bytes,
        "deleted_dv_sidecars": dv_deleted,
        "skipped_young_files": skipped_young,
    }


# ---------------------------------------------------------------------------
# Named references: TAGS (immutable version pointers) and BRANCHES
# (independent writable lineages), the Iceberg ref model
# (core/src/main/java/org/apache/iceberg/SnapshotRef.java semantics)
# rebuilt on this format's manifest chain — the substrate for the
# Write-Audit-Publish pattern: stage a batch on an audit branch, run
# the quality gates there, FAST-FORWARD main only when they pass.
# ---------------------------------------------------------------------------
BRANCH_DIR = "_branches"
TAG_DIR = "tags"

_REF_NAME_OK = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_-"


class BranchDiverged(RuntimeError):
    """Main advanced past the branch's fork point; fast-forward is no
    longer a pure publish (the Iceberg fast-forward rule). Re-create
    the branch from the new head and replay, or merge by hand."""


def _check_ref_name(name: str) -> None:
    if not name or any(c not in _REF_NAME_OK for c in name):
        raise ValueError(f"invalid ref name {name!r} (use [A-Za-z0-9_-]+)")


def _tag_path(table: str, name: str) -> str:
    return os.path.join(_snap_dir(table), TAG_DIR, f"{name}.json")


def branch_path(table: str, name: str) -> str:
    """Filesystem root of a branch — itself a full snapshot table
    (every read/write/DML entry point of this module works on it)."""
    return os.path.join(table, BRANCH_DIR, name)


def create_tag(table: str, name: str, version: int | None = None) -> int:
    """Tag a committed version with an immutable name (Iceberg
    ``CREATE TAG``). Tags protect their manifest from retention
    expiry (:func:`vacuum` keeps tagged versions), and
    :func:`read_snapshot` accepts ``tag=``. Re-tagging an existing
    name fails — drop it first (matching Iceberg's refusal to
    silently repoint a tag)."""
    _check_ref_name(name)
    v, _ = _manifest_at(table, version)
    final = _tag_path(table, name)
    os.makedirs(os.path.dirname(final), exist_ok=True)
    tmp = final + f".{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as fh:
        json.dump({"version": v, "created_at": time.time()}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, final)
    except FileExistsError:
        raise ValueError(f"tag {name!r} already exists on {table}") from None
    finally:
        os.unlink(tmp)
    return v


def read_tag(table: str, name: str) -> int:
    """The version a tag points at."""
    try:
        with open(_tag_path(table, name)) as fh:
            return int(json.load(fh)["version"])
    except FileNotFoundError:
        raise ValueError(f"tag {name!r} does not exist on {table}") from None


def drop_tag(table: str, name: str) -> None:
    try:
        os.unlink(_tag_path(table, name))
    except FileNotFoundError:
        raise ValueError(f"tag {name!r} does not exist on {table}") from None


def _tagged_versions(table: str) -> dict[str, int]:
    d = os.path.join(_snap_dir(table), TAG_DIR)
    if not os.path.isdir(d):
        return {}
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".json"):
            with open(os.path.join(d, f)) as fh:
                out[f[:-5]] = int(json.load(fh)["version"])
    return out


def create_branch(table: str, name: str, version: int | None = None) -> str:
    """Create a writable branch forked at ``version`` (default head)
    and return its path. The branch is a SHALLOW fork (the
    clone_table mechanics): its first manifest references the parent
    table's data files by absolute path — zero data copied — and
    records the fork version for the fast-forward conflict check.
    Writes to the branch land in the branch's OWN data tree; the
    parent never sees them until :func:`fast_forward`."""
    _check_ref_name(name)
    v, prev = _manifest_at(table, version)
    bp = branch_path(table, name)
    if current_version(bp) is not None:
        raise ValueError(f"branch {name!r} already exists on {table}")
    remap = {
        f: f if os.path.isabs(f) else os.path.normpath(os.path.join(table, f))
        for f in prev["files"]
    }
    os.makedirs(_data_dir(bp), exist_ok=True)
    _commit_copy(bp, "branch", None, prev, remap, {"branch_of": {"fork_version": v}})
    return bp


def drop_branch(table: str, name: str) -> None:
    import shutil

    bp = branch_path(table, name)
    if current_version(bp) is None:
        raise ValueError(f"branch {name!r} does not exist on {table}")
    shutil.rmtree(bp)


def list_refs(table: str) -> dict:
    """{"tags": {name: version}, "branches": {name: {"head": v,
    "fork_version": v}}} — the SHOW REFS surface."""
    branches = {}
    bd = os.path.join(table, BRANCH_DIR)
    if os.path.isdir(bd):
        for name in sorted(os.listdir(bd)):
            bp = os.path.join(bd, name)
            head = current_version(bp)
            if head is None:
                continue
            fork = _read_manifest(bp, 1).get("branch_of", {}).get("fork_version")
            branches[name] = {"head": head, "fork_version": fork}
    return {"tags": _tagged_versions(table), "branches": branches}


def fast_forward(table: str, name: str) -> int:
    """Publish a branch's current state as the parent table's next
    version — the WAP publish step. Allowed only while the parent's
    head IS the branch's fork version (the Iceberg fast-forward
    rule); otherwise :class:`BranchDiverged`.

    File mechanics: entries already living in the parent's data pool
    carry over by (relative) reference; branch-owned files are
    HARD-LINKED into the parent's data tree BEFORE the manifest
    publish, so there is no window where the new head references
    missing paths, and a lost publish race unlinks the fresh links
    and leaves the branch fully intact. On success the branch is
    consumed (dropped) — its lineage referenced the now-moved files.
    """
    bp = branch_path(table, name)
    try:
        bhead, bman = _manifest_at(bp)
    except ValueError as exc:
        raise ValueError(f"branch {name!r} does not exist on {table}") from exc
    fork = _read_manifest(bp, 1).get("branch_of", {}).get("fork_version")
    head = current_version(table)
    if head != fork:
        raise BranchDiverged(
            f"{table} advanced to v{head} past branch {name!r}'s fork "
            f"v{fork}; fast-forward would drop those commits"
        )
    main_data = os.path.abspath(_data_dir(table))
    branch_data = os.path.abspath(_data_dir(bp))
    remap: dict[str, str] = {}
    linked: list[str] = []
    try:
        for f in bman["files"]:
            af = (
                os.path.normpath(f)
                if os.path.isabs(f)
                else os.path.normpath(os.path.join(bp, f))
            )
            if af.startswith(main_data + os.sep):
                out = os.path.relpath(af, os.path.abspath(table))
            elif af.startswith(branch_data + os.sep):
                sub = os.path.relpath(af, branch_data)
                dst = os.path.join(main_data, sub)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.link(af, dst)
                linked.append(dst)
                out = os.path.relpath(dst, os.path.abspath(table))
            else:
                # foreign absolute reference (e.g. the branch was
                # forked from a clone): carry it verbatim
                out = af
            remap[f] = out
        # the branch head's features and id high-water mark win: the
        # fork parent's next_row_id predates every id the branch
        # allocated, and fast-forward is only legal while the parent
        # is frozen at the fork
        version = _commit_copy(
            table,
            "fast_forward",
            head,
            bman,
            remap,
            {"fast_forward_of": {"branch": name, "branch_head": bhead}},
        )
    except BaseException:
        for dst in linked:
            try:
                os.unlink(dst)
            except FileNotFoundError:
                pass
        raise
    drop_branch(table, name)
    return version


def plan_compaction(
    table: str, max_files_per_partition: int = 4
) -> dict[tuple, int]:
    """Small-file report: {partition values tuple: live file count}
    for every partition over the threshold — pure manifest
    arithmetic, no data read. The policy half of auto OPTIMIZE: at
    100 TB you compact the partitions streaming ingest fragmented,
    never the whole table."""
    _, m = _manifest_at(table)
    hive = _spec_names(m["partition_cols"])
    counts: dict[tuple, int] = {}
    for f in m["files"]:
        key = tuple(sorted(_partition_values(f, hive).items()))
        counts[key] = counts.get(key, 0) + 1
    return {
        k: n for k, n in counts.items() if n > max_files_per_partition
    }


def plan_compaction_bytes(
    table: str, target_file_bytes: int
) -> dict[tuple, int]:
    """Byte-aware small-file report (the policy half of Delta's
    auto-compaction with targetFileSize): for each partition, the
    ideal file count is ceil(live_bytes / target); a partition is
    flagged when it holds MORE files than that (its files are smaller
    than target on average). Returns {partition values tuple: ideal
    count}. Pure manifest arithmetic — bytes come from the per-file
    ``bytes`` stat, so planning a 100 TB sweep reads zero data and
    stats zero files."""
    import math

    if target_file_bytes <= 0:
        raise ValueError("target_file_bytes must be positive")
    _, m = _manifest_at(table)
    hive = _spec_names(m["partition_cols"])
    groups: dict[tuple, list[str]] = {}
    for f in m["files"]:
        key = tuple(sorted(_partition_values(f, hive).items()))
        groups.setdefault(key, []).append(f)
    out: dict[tuple, int] = {}
    for key, files in groups.items():
        ideal = max(
            1, math.ceil(_live_file_bytes(table, m, files) / target_file_bytes)
        )
        if len(files) > ideal:
            out[key] = ideal
    return out


def auto_compact(
    spark: SparkSession,
    table: str,
    max_files_per_partition: int = 4,
    files_per_partition: int = 1,
    target_file_bytes: int | None = None,
) -> list[int]:
    """Run partition-scoped OPTIMIZE on exactly the partitions
    :func:`plan_compaction` flags, one commit per partition (each
    atomic, each skippable by concurrent readers). Returns the
    committed versions; empty when nothing is fragmented.

    ``target_file_bytes`` switches both the POLICY and the SIZING to
    bytes (:func:`plan_compaction_bytes`): partitions whose files
    average under the target compact to ceil(bytes/target) files —
    Delta's targetFileSize pairing, which a count threshold alone
    can't express when file sizes vary by orders of magnitude."""
    import math

    versions: list[int] = []
    if target_file_bytes:
        plan = plan_compaction_bytes(table, target_file_bytes)
    else:
        plan = plan_compaction(table, max_files_per_partition)
    for key in sorted(plan):
        if not key:
            # the empty key is the unpartitioned table itself, OR
            # old-spec files a partition evolution left behind (no
            # hive dirs under the current spec). Either way one
            # table-wide optimize is the answer and supersedes every
            # other planned scope, so stop after it: with one file
            # per partition it is the incremental default, which
            # rewrites every partition that is not already one clean
            # file (old-spec files never are, so they migrate into
            # the current layout); a larger count rewrites the whole
            # table. On a
            # partitioned table the byte target sizes the whole
            # rewrite (per-partition scoping can't address dir-less
            # files).
            if target_file_bytes:
                _, m = _manifest_at(table)
                n = max(
                    1,
                    math.ceil(
                        _live_file_bytes(table, m, m["files"])
                        / target_file_bytes
                    ),
                )
                versions.append(
                    optimize(spark, table, files_per_partition=n)
                )
            else:
                versions.append(
                    optimize(
                        spark,
                        table,
                        files_per_partition=files_per_partition,
                    )
                )
            break
        versions.append(
            optimize(
                spark,
                table,
                files_per_partition=files_per_partition,
                partitions=dict(key),
                target_file_bytes=target_file_bytes,
            )
        )
    return versions
