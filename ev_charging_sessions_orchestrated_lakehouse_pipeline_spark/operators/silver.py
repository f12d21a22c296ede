"""Silver layer: bronze EV-sessions CSV -> cleaned, quality-annotated,
partitioned Parquet (reference job `jobs/ev_sessions_silver_etl_clean.py`,
re-expressed as composable operators).

Transform chain (all lazy, single codegen stage until the split):
drop noise columns -> typed casts (non-ANSI: "NA" -> null) ->
two-zero-year repair -> timestamp parse -> event_date -> categorical
decodes -> row-rule annotation. The dataset-level quality gate and the
good/bad split live in operators/quality.py.

Scale notes: the reference re-executes this whole lineage ~6 times
(counts/shows/two writes, no persist) and partitions output by
``event_date x stationId`` (25k dirs for 3.4k rows). Here the split
persists once, and the secondary partition column is opt-in.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.cleaning import decode_map, fix_year
from ..schemas import EV_SILVER_CASTS, EV_SILVER_DROP_COLS
from .quality import (
    Check,
    CheckLevel,
    CheckStatus,
    RowRule,
    VerificationResult,
    VerificationSuite,
    annotate_rows,
    split_good_bad,
)

FACILITY_TYPE_NAMES = {
    "1": "Manufacturing",
    "2": "Office",
    "3": "Research and Development",
    "4": "Other",
}

WEEKDAY_NAMES = {
    "Mon": "Monday",
    "Tue": "Tuesday",
    "Wed": "Wednesday",
    "Thu": "Thursday",
    "Fri": "Friday",
    "Sat": "Saturday",
    "Sun": "Sunday",
}

VALID_FACILITY_TYPES = list(FACILITY_TYPE_NAMES.values())


def clean_sessions(df: DataFrame, precise_timestamps: bool = False) -> DataFrame:
    """Bronze -> silver transform chain (reference :63-128).

    ``precise_timestamps=False`` reproduces the reference's
    minute-granularity quirk (fix_year drops seconds — SURVEY.md §2.3
    F2); True keeps full precision.
    """
    # ONE projection: every withColumn is an eager analysis over py4j
    exprs = {c: F.col(c) for c in df.columns if c not in EV_SILVER_DROP_COLS}
    for col, typ in EV_SILVER_CASTS.items():
        exprs[col] = F.col(col).cast(typ)
    for col in ("created", "ended"):
        exprs[col] = F.to_timestamp(fix_year(exprs[col], precise=precise_timestamps))
    exprs["event_date"] = F.to_date(exprs["created"])
    exprs["facilityType"] = decode_map(exprs["facilityType"], FACILITY_TYPE_NAMES)
    exprs["weekday"] = decode_map(exprs["weekday"], WEEKDAY_NAMES)
    return df.select(*[e.alias(c) for c, e in exprs.items()])


def silver_check() -> Check:
    """The reference's 10-constraint Deequ suite (:138-153), native."""
    check = Check(CheckLevel.ERROR, "silver_rules")
    for c in ("sessionId", "userId", "stationId", "locationId"):
        check.is_complete(c)
    for c in ("kwhTotal", "dollars", "chargeTimeHrs", "distance"):
        check.is_non_negative(c)
    check.is_contained_in("facilityType", VALID_FACILITY_TYPES)
    check.is_unique("sessionId")
    return check


def silver_row_rules() -> list[RowRule]:
    """The 11 quarantine rules (:170-184), as data. Null semantics
    mirror the reference exactly — e.g. a null facilityType yields a
    null ``isin`` test, so no flag (nulls pass containment)."""
    c = F.col
    return [
        RowRule("sessionId_null", c("sessionId").isNull()),
        RowRule("userId_null", c("userId").isNull()),
        RowRule("stationId_null", c("stationId").isNull()),
        RowRule("locationId_null", c("locationId").isNull()),
        RowRule("kwhTotal_non_positive", c("kwhTotal").isNull() | (c("kwhTotal") <= 0)),
        RowRule("dollars_negative", c("dollars").isNull() | (c("dollars") < 0)),
        RowRule(
            "distance_negative_or_zero", c("distance").isNull() | (c("distance") < 0)
        ),
        RowRule(
            "duration_invalid", c("chargeTimeHrs").isNull() | (c("chargeTimeHrs") <= 0)
        ),
        RowRule("facilityType_invalid", ~c("facilityType").isin(VALID_FACILITY_TYPES)),
        RowRule("timestamp_null", c("created").isNull() | c("ended").isNull()),
        RowRule(
            "end_before_start",
            c("created").isNotNull()
            & c("ended").isNotNull()
            & (c("ended") <= c("created")),
        ),
    ]


@dataclass
class SilverResult:
    verification: VerificationResult
    good_count: int
    bad_count: int


def run_silver(
    spark: SparkSession,
    input_path: str,
    silver_path: str,
    quarantine_path: str,
    secondary_partition: str | None = None,
    fail_mode: str = "quarantine",
    precise_timestamps: bool = False,
) -> SilverResult:
    """End-to-end silver job: read -> clean -> verify -> annotate ->
    split -> two partitioned zstd Parquet sinks (reference :57-229).

    ``fail_mode="fail_job"`` (any case) raises on a failed dataset-level
    check before the writes, and on any quarantined row after them.
    ``"quarantine"`` only routes bad rows to the quarantine sink; any
    other mode is a ``ValueError``.
    """
    from ..schemas import EV_BRONZE_SCHEMA
    from ..sources.readers import read_bronze_csv
    from ..sources.writers import write_partitioned_parquet

    mode = fail_mode.lower()
    if mode not in ("quarantine", "fail_job"):
        raise ValueError(f"unknown fail_mode {fail_mode!r}")
    bronze = read_bronze_csv(spark, input_path, schema=EV_BRONZE_SCHEMA)
    silver = clean_sessions(bronze, precise_timestamps=precise_timestamps)
    annotated = annotate_rows(silver, silver_row_rules())
    partition_cols = ["event_date"]
    if secondary_partition and secondary_partition in silver.columns:
        partition_cols.append(secondary_partition)

    # bronze is scanned ONCE: verification runs on the frame the split
    # persisted (its first job fills the cache both writes then read),
    # and the good/bad counts ride along with the writes
    with split_good_bad(annotated) as (good, bad):
        verification = (
            VerificationSuite().on_data(annotated).add_check(silver_check()).run()
        )
        if mode == "fail_job" and verification.status != CheckStatus.SUCCESS:
            raise RuntimeError(
                f"Data quality FAILED: {verification.status.value}: "
                f"{[r.constraint for r in verification.results if not r.passed]}"
            )
        good_obs, bad_obs = Observation(), Observation()
        n = F.count(F.lit(1)).alias("n")
        write_partitioned_parquet(good.observe(good_obs, n), silver_path, partition_cols)
        write_partitioned_parquet(bad.observe(bad_obs, n), quarantine_path, partition_cols)
        good_count, bad_count = good_obs.get["n"], bad_obs.get["n"]
    if bad_count > 0 and mode == "fail_job":
        raise RuntimeError(f"Quality gate failed: {bad_count} quarantined rows")
    return SilverResult(verification, good_count, bad_count)
