"""``snapshot_dml``: a seeded mix of writes and reads on one gold-shaped
snapshot table.

Setup pre-loads ``DAYS`` date partitions. Writes are ``append``,
``merge_into`` (late-correction upserts of one day), ``delete_where`` with
and without deletion vectors and ``update_where``; reads are a
partition-pruned aggregate, a ``sessionId`` point lookup, a time-travel
``read_snapshot(version=...)`` and ``changes()`` over the last versions.
Operations follow the fixed order of ``CYCLE``, half writes and half reads;
``optimize`` runs mid-cycle and ``vacuum`` at its end, and both count as
writes.

A DuckDB copy of the table replays every write (untimed), so each read and
the final head snapshot are checked against it.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from workload import Workload

DAYS = 30
ROWS_PER_DAY = 2_000
BATCH_ROWS = 1_000
#: manifests kept by vacuum; time travel stays inside this window
RETAIN = 8
FIRST_DAY = dt.date(2015, 1, 1)
FACILITIES = ["Manufacturing", "Office", "Research and Development", "Other"]
PLATFORMS = ["android", "ios", "web"]
COLUMNS = ["sessionId", "stationId", "facilityType", "platform", "kwhTotal", "dollars", "event_date"]

CYCLE = [
    "append", "read_point", "merge", "read_partition_agg", "delete_dv", "read_time_travel",
    "update_rewrite", "read_changes", "optimize", "delete_rewrite", "read_point", "update_dv",
    "read_partition_agg", "vacuum",
]


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


class SnapshotDml(Workload):
    cycle = CYCLE
    cycle_s = 9.0

    def setup(self) -> None:
        from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import snaptable

        self.st = snaptable
        self.rng = random.Random(f"snapshot_dml/{self.seed}")
        self.np_rng = np.random.default_rng(self.rng.randrange(2**32))
        self.table = self.path("lake", "fact")
        os.makedirs(self.path("input"))
        self.next_id = 10_000_000
        self.n_files = 0
        self.db = duckdb.connect()
        preload = self._rows(DAYS * ROWS_PER_DAY, [FIRST_DAY + dt.timedelta(days=i) for i in range(DAYS)])
        path = self._write_input(preload)
        self.db.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{path}')")
        self.st.create_table(self.spark.read.parquet(path), self.table, ["event_date"])
        #: model fingerprint per committed version
        self.fp = {self.st.current_version(self.table): self._model_fp()}
        self.oldest = 1
        self.last_read = None
        self.prime()

    # -- inputs ---------------------------------------------------------

    def _rows(self, n: int, days: list[dt.date], ids=None) -> pa.Table:
        r = self.np_rng
        if ids is None:
            ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
            self.next_id += n
        return pa.table(
            {
                "sessionId": pa.array(ids, pa.int64()),
                "stationId": pa.array(r.integers(1, 106, n), pa.int64()),
                "facilityType": pa.array([FACILITIES[i] for i in r.integers(0, 4, n)]),
                "platform": pa.array([PLATFORMS[i] for i in r.choice(3, n, p=[0.34, 0.65, 0.01])]),
                "kwhTotal": pa.array(r.integers(50, 2369, n) / 100.0, pa.float64()),
                "dollars": pa.array(r.integers(0, 751, n) / 100.0, pa.float64()),
                "event_date": pa.array([days[i] for i in r.integers(0, len(days), n)], pa.date32()),
            }
        )

    def _write_input(self, table: pa.Table) -> str:
        self.n_files += 1
        path = self.path("input", f"in-{self.n_files:05d}.parquet")
        pq.write_table(table, path)
        return path

    def _day(self) -> dt.date:
        return FIRST_DAY + dt.timedelta(days=self.rng.randrange(DAYS))

    def _head(self) -> int:
        return self.st.current_version(self.table)

    # -- model ----------------------------------------------------------

    def _model_fp(self) -> tuple:
        return self.db.execute(
            "SELECT COUNT(*), COALESCE(SUM(kwhTotal), 0), COALESCE(SUM(dollars), 0), "
            "COALESCE(SUM(sessionId), 0) FROM t"
        ).fetchone()

    @staticmethod
    def _fp_matches(got, want) -> bool:
        return got[0] == want[0] and int(got[3]) == int(want[3]) and _close(got[1], want[1]) and _close(got[2], want[2])

    def _fp_expr(self):
        from pyspark.sql import functions as F

        return [F.count(F.lit(1)), F.coalesce(F.sum("kwhTotal"), F.lit(0.0)),
                F.coalesce(F.sum("dollars"), F.lit(0.0)), F.coalesce(F.sum("sessionId"), F.lit(0))]

    # -- operations -----------------------------------------------------

    def make(self, label: str):
        """(kind, timed fn, untimed check(result) -> bool) for one op."""
        from pyspark.sql import functions as F

        spark, st, table = self.spark, self.st, self.table
        day = self._day()
        if label == "append":
            path = self._write_input(self._rows(BATCH_ROWS, [day]))
            model = f"INSERT INTO t SELECT * FROM read_parquet('{path}')"
            return "write", lambda: st.append(spark.read.parquet(path), table), self._apply(model)
        if label == "merge":
            keys = [r[0] for r in self.db.execute(
                f"SELECT sessionId FROM t WHERE event_date = DATE '{day}' ORDER BY sessionId").fetchall()]
            old = self.rng.sample(keys, min(len(keys), BATCH_ROWS // 2))
            src = self._rows(len(old), [day], ids=np.array(old, dtype=np.int64))
            path = self._write_input(pa.concat_tables([src, self._rows(BATCH_ROWS - len(old), [day])]))
            model = (f"DELETE FROM t WHERE sessionId IN (SELECT sessionId FROM read_parquet('{path}'));"
                     f"INSERT INTO t SELECT * FROM read_parquet('{path}')")
            return ("write", lambda: st.merge_into(spark, table, spark.read.parquet(path), ["sessionId"]),
                    self._apply(model))
        if label in ("delete_dv", "delete_rewrite"):
            station = self.rng.randrange(1, 106)
            filters = [("event_date", "=", day), ("stationId", "=", station)]
            model = f"DELETE FROM t WHERE event_date = DATE '{day}' AND stationId = {station}"
            dv = label == "delete_dv"
            return "write", lambda: st.delete_where(spark, table, filters, use_dv=dv), self._apply(model)
        if label in ("update_dv", "update_rewrite"):
            station, dv = self.rng.randrange(1, 106), label == "update_dv"
            filters = [("event_date", "=", day), ("stationId", "=", station)]
            model = f"UPDATE t SET dollars = dollars + 1.25 WHERE event_date = DATE '{day}' AND stationId = {station}"
            return ("write", lambda: st.update_where(spark, table, filters, {"dollars": "dollars + 1.25"}, use_dv=dv),
                    self._apply(model))
        if label == "optimize":
            return "write", lambda: st.optimize(spark, table), self._apply(None)
        if label == "vacuum":
            def check(_result):
                head = self._head()
                self.oldest = max(self.oldest, head - RETAIN + 1)
                self.fp.setdefault(head, self._model_fp())
                return True

            return "write", lambda: st.vacuum(table, retain_last=RETAIN, grace_seconds=0.0), check
        if label == "read_partition_agg":
            def run():
                df = st.read_snapshot(spark, table).where(F.col("event_date") == F.lit(day))
                self.last_read = df
                return df.groupBy("facilityType").agg(F.count(F.lit(1)).alias("n"), F.sum("kwhTotal").alias("kwh")).collect()

            def check(rows):
                want = {f: (n, k) for f, n, k in self.db.execute(
                    f"SELECT facilityType, COUNT(*), SUM(kwhTotal) FROM t WHERE event_date = DATE '{day}' "
                    "GROUP BY facilityType").fetchall()}
                got = {r["facilityType"]: (r["n"], r["kwh"]) for r in rows}
                return got.keys() == want.keys() and all(
                    got[k][0] == want[k][0] and _close(got[k][1], want[k][1]) for k in want)

            return "read", run, check
        if label == "read_point":
            key = self.db.execute(
                f"SELECT sessionId FROM t WHERE event_date = DATE '{day}' ORDER BY sessionId "
                f"LIMIT 1 OFFSET {self.rng.randrange(100)}").fetchone()[0]

            def run():
                df = st.read_snapshot(spark, table).where(F.col("sessionId") == F.lit(key))
                self.last_read = df
                return df.select(*COLUMNS).collect()

            def check(rows):
                want = self.db.execute(f"SELECT {', '.join(COLUMNS)} FROM t WHERE sessionId = {key}").fetchall()
                return sorted(tuple(r) for r in rows) == sorted(want)

            return "read", run, check
        if label == "read_time_travel":
            head = self._head()
            version = self.rng.randrange(self.oldest, head) if head > self.oldest else head

            def run():
                df = st.read_snapshot(spark, table, version=version)
                self.last_read = df
                return df.agg(*self._fp_expr()).collect()[0]

            return "read", run, lambda row: self._fp_matches(tuple(row), self.fp[version])
        if label == "read_changes":
            head = self._head()
            start = max(self.oldest, head - 3)

            def run():
                df = st.changes(spark, table, start)
                self.last_read = None
                return df.groupBy("_change_type").count().collect()

            def check(rows):
                n = {r["_change_type"]: r["count"] for r in rows}
                return n.get("insert", 0) - n.get("delete", 0) == self.fp[head][0] - self.fp[start][0]

            return "read", run, check
        raise ValueError(label)

    def _apply(self, model_sql: str | None):
        """Check of a write: replay it on the model, then record the new
        version's fingerprint."""

        def check(_result) -> bool:
            if model_sql:
                self.db.execute(model_sql)
            self.fp[self._head()] = self._model_fp()
            return True

        return check

    def final_checks(self) -> list[str]:
        cols = ", ".join(COLUMNS)
        got = sorted(tuple(r) for r in self.st.read_snapshot(self.spark, self.table).select(*COLUMNS).collect())
        want = sorted(self.db.execute(f"SELECT {cols} FROM t").fetchall())
        if got != want:
            return [f"head snapshot differs from the model: {len(got)} vs {len(want)} rows"]
        return []

    def live_rows(self) -> int:
        return self.db.execute("SELECT COUNT(*) FROM t").fetchone()[0]

    def lake_dirs(self) -> list[str]:
        return [self.table]
