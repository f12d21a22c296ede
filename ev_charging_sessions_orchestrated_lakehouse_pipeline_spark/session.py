"""SparkSession factory.

Replicates the reference's session knobs (C1-C3,
jobs/ev_sessions_silver_etl_clean.py:41-43 and
jobs/ev_sessions_gold_etl.py:65-66) but scale-hardened:

- AQE on (runtime shuffle coalesce, skew-join split) instead of the
  reference's hardcoded ``spark.sql.shuffle.partitions = 8``.
- dynamic partition overwrite so partition re-runs are idempotent.
- UTC session timezone (deterministic timestamp semantics; also what
  the DuckDB oracle assumes).
- ANSI OFF: the reference relies on non-ANSI cast semantics
  ("NA" -> null on string->double, SURVEY.md §2.3 F12); Spark 4 flips
  the default to ANSI, so we pin it off for parity.
- Arrow enabled for the Pandas-UDF slow path.
- Parquet timestamps written as INT64 TIMESTAMP(MICROS) instead of
  Spark's default INT96: 8 bytes a value instead of 12, the encoding
  Iceberg specifies (the reference's gold table is Iceberg v2), and
  the one that carries footer min/max — so Spark's own Parquet filter
  pushdown and sources/snaptable.py's file skipping can prune on
  ``created``/``ended``. INT96 files already on disk read unchanged;
  a table may mix both encodings.

Tables are plain Parquet (or the snapshot format in
sources/snaptable.py) with Spark-native dynamic partition overwrite,
which preserves the reference's ``overwritePartitions()`` semantics
(jobs/ev_sessions_gold_etl.py:156). No Delta Lake extension is
configured.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    # -- scale/perf ---------------------------------------------------
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # a starting point; AQE coalesces down, and at cluster scale this
    # should be ~2-3x total cores (set via spark-submit, not code).
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.ignoreEmptyFiles": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # -- semantics ----------------------------------------------------
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    # idempotent partition-level rewrite (reference S5/S9)
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # INT64 timestamps with min/max footer stats (INT96 has neither)
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # quieter local runs
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "evlake",
    master: str | None = None,
    conf: dict[str, str] | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[N]`` with N from $SPARK_GRAFT_CPUS
    (falling back to all cores) — on a real cluster, leave it unset
    and let spark-submit provide the master.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    builder = SparkSession.builder.appName(app_name).master(master)
    merged = dict(DEFAULT_CONF)
    if conf:
        merged.update(conf)
    for k, v in merged.items():
        builder = builder.config(k, v)
    if driver_memory:
        builder = builder.config("spark.driver.memory", driver_memory)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop(spark: SparkSession) -> None:
    """Clean shutdown (reference C5: clearCache + stop)."""
    spark.catalog.clearCache()
    spark.stop()
