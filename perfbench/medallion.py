"""``medallion_daily``: the paper's pipeline once per daily batch.

Each write is one seeded bronze CSV batch carried through ``run_silver``
(CSV parse, clean, DQ verification, row-rule annotation, good/quarantine
split, partitioned zstd Parquet) and ``run_gold`` into the snapshot-format
fact table. Every ``RERUN_EVERY``-th batch replays an earlier day, which
must leave gold unchanged (idempotent partition overwrite). After each
batch the README's four key metrics run as SQL over the registered gold
view; those are the reads.
"""

from __future__ import annotations

import os
import random
from collections import Counter

import evgen
from workload import Workload

ROWS_PER_BATCH = 4_000
RERUN_EVERY = 4
#: untimed passes before timing: the JVM is still warming up after one
PRIME_CYCLES = 2
VIEW = "lake_fact_ev_session"

KEY_METRICS = {
    "avg_duration_per_station": f"""
        SELECT stationId, COUNT(*) AS n, AVG(session_duration_minutes) AS avg_minutes
        FROM {VIEW} GROUP BY stationId""",
    "peak_hours": f"""
        SELECT HOUR(created) AS hour, COUNT(*) AS n
        FROM {VIEW} GROUP BY HOUR(created) ORDER BY n DESC, hour""",
    "utilization": f"""
        SELECT stationId, COUNT(*) AS n,
               SUM(chargeTimeHrs) / (24.0 * COUNT(DISTINCT event_date)) AS utilization
        FROM {VIEW} GROUP BY stationId""",
    "platform_share": f"""
        SELECT platform, COUNT(*) AS n, COUNT(*) / SUM(COUNT(*)) OVER () AS share
        FROM {VIEW} GROUP BY platform""",
}


class MedallionDaily(Workload):
    n_final_checks = 2
    cycle = ["batch", *(f"read.{name}" for name in KEY_METRICS)]
    cycle_s = 5.0

    def setup(self) -> None:
        # modules, not functions: a traced run patches the module attributes
        from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.operators import gold, silver

        self.silver_op, self.gold_op = silver, gold
        self.rng = random.Random(f"medallion/{self.seed}")
        self.silver, self.quarantine, self.table = (self.path(p) for p in ("silver", "quarantine", "gold"))
        os.makedirs(self.path("bronze"))
        self.batches: list[evgen.Batch] = []
        self.next_day = 0
        self.timed_rows = 0
        for _ in range(PRIME_CYCLES):
            self.prime()
        self.timed_rows = 0

    def _new_batch(self) -> evgen.Batch:
        n = len(self.batches)
        if n % RERUN_EVERY == RERUN_EVERY - 1:
            day = self.rng.randrange(self.next_day)
        else:
            day, self.next_day = self.next_day, self.next_day + 1
        batch = evgen.make_batch(self.seed, day, ROWS_PER_BATCH)
        path = self.path("bronze", f"batch-{n:04d}.csv")
        with open(path, "w", encoding="utf-8") as f:
            f.write(batch.csv_text)
        batch.csv_text = path  # keep the path, drop the text
        return batch

    def make(self, label: str):
        if label != "batch":
            sql = KEY_METRICS[label.split(".", 1)[1]]

            def check(rows) -> bool:
                ok = sum(r["n"] for r in rows) == self.live_rows()
                if label == "read.platform_share":
                    ok = ok and abs(sum(r["share"] for r in rows) - 1.0) < 1e-9
                return ok

            def read():
                self.last_read = self.spark.sql(sql)
                return self.last_read.collect()

            return "read", read, check
        batch = self._new_batch()

        def write():
            result = self.silver_op.run_silver(self.spark, batch.csv_text, self.silver, self.quarantine)
            rows = self.gold_op.run_gold(
                self.spark, self.silver, self.table, event_date=str(batch.day), database="lake",
                table_format="snapshot",
            )
            return result, rows

        def check(result) -> bool:
            silver, gold_rows = result
            self.batches.append(batch)
            self.timed_rows += batch.rows
            return (silver.good_count, silver.bad_count, gold_rows) == (batch.good, batch.bad, batch.good)

        return "write", write, check

    def final_checks(self) -> list[str]:
        from pyspark.sql import functions as F

        bad = []
        want = {
            k: (a.rows, a.kwh_centi, a.dollars_cents, a.duration_minutes)
            for k, a in evgen.merge_gold(self.batches).items()
        }
        rows = self.spark.sql(
            f"""SELECT facilityType, COUNT(*) AS n, ROUND(SUM(kwhTotal) * 100) AS kwh,
                       ROUND(SUM(dollars) * 100) AS cents, ROUND(SUM(session_duration_minutes)) AS minutes
                FROM {VIEW} GROUP BY facilityType"""
        ).collect()
        got = {r["facilityType"]: (r["n"], int(r["kwh"]), int(r["cents"]), int(r["minutes"])) for r in rows}
        if got != want:
            bad.append(f"gold aggregates per facilityType: got {got}, want {want}")
        last = self.batches[-1]
        q = self.spark.read.parquet(self.quarantine)
        q = q.filter(F.col("event_date").isNull() | (F.col("event_date") == F.lit(str(last.day)).cast("date")))
        got_r = Counter(
            {r["reason"]: r["n"] for r in q.select(F.explode("quarantine_reason").alias("reason"))
             .groupBy("reason").count().withColumnRenamed("count", "n").collect()}
        )
        if got_r != last.reasons:
            bad.append(f"quarantine reasons of {last.day}: got {dict(got_r)}, want {dict(last.reasons)}")
        return bad

    def live_rows(self) -> int:
        return sum(a.rows for a in evgen.merge_gold(self.batches).values())

    def lake_dirs(self) -> list[str]:
        return [self.silver, self.quarantine, self.table]

    def extra_metrics(self, timed: float) -> dict:
        return {"rows_per_s": self.timed_rows / timed}
