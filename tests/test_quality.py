"""Unit tests for the native DQ framework: Deequ null semantics per
constraint type, every row rule triggered by a crafted row, fix_year
edge cases (SURVEY.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.functions.cleaning import (
    fix_year,
)
from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.operators.quality import (
    Check,
    CheckLevel,
    CheckStatus,
    RowRule,
    VerificationSuite,
    annotate_rows,
    split_good_bad,
)


def _verify(df, check):
    return VerificationSuite().on_data(df).add_check(check).run()


def test_completeness_nulls_fail(spark):
    df = spark.createDataFrame([("a",), (None,), ("b",)], ["x"])
    vr = _verify(df, Check().is_complete("x"))
    assert vr.status == CheckStatus.ERROR
    assert abs(vr.results[0].metric_value - 2 / 3) < 1e-12


def test_non_negative_nulls_pass(spark):
    df = spark.createDataFrame([(1.0,), (None,), (0.0,)], "x double")
    vr = _verify(df, Check().is_non_negative("x"))
    assert vr.success
    df2 = spark.createDataFrame([(1.0,), (-0.5,)], "x double")
    assert not _verify(df2, Check().is_non_negative("x")).success


def test_containment_nulls_pass(spark):
    df = spark.createDataFrame([("a",), (None,), ("b",)], ["x"])
    assert _verify(df, Check().is_contained_in("x", ["a", "b"])).success
    df2 = spark.createDataFrame([("a",), ("zz",)], ["x"])
    vr = _verify(df2, Check().is_contained_in("x", ["a", "b"]))
    assert not vr.success and vr.results[0].metric_value == 0.5


def test_uniqueness_deequ_semantics(spark):
    # Deequ Uniqueness([a,a,b]) = 1/3 (values occurring exactly once / rows)
    df = spark.createDataFrame([("a",), ("a",), ("b",)], ["x"])
    vr = _verify(df, Check().is_unique("x"))
    assert not vr.success
    assert abs(vr.results[0].metric_value - 1 / 3) < 1e-12
    df2 = spark.createDataFrame([("a",), ("b",)], ["x"])
    assert _verify(df2, Check().is_unique("x")).success


def test_warning_level_does_not_fail(spark):
    df = spark.createDataFrame([(None,)], "x string")
    vr = _verify(df, Check(CheckLevel.WARNING).is_complete("x"))
    assert vr.status == CheckStatus.WARNING


def test_size_min_max_mean(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "x double")
    check = (
        Check()
        .has_size(lambda v: v == 3)
        .has_min("x", lambda v: v == 1.0)
        .has_max("x", lambda v: v == 3.0)
        .has_mean("x", lambda v: abs(v - 2.0) < 1e-12)
    )
    assert _verify(df, check).success


def test_single_pass_scan_metrics(spark):
    """All scan-level constraints collapse into ONE aggregate job."""
    df = spark.createDataFrame([(1.0, "a")], "x double, y string")
    check = Check().is_complete("y").is_non_negative("x").has_size(lambda v: v == 1)
    suite = VerificationSuite().on_data(df).add_check(check)
    assert suite.run().success  # 3 constraints, 1 agg (observed via plan count)


@pytest.mark.parametrize(
    "row,expected",
    [
        ((None, 1.0, 1.0), ["id_null"]),
        (("s1", -1.0, 1.0), ["neg_val"]),
        (("s1", 1.0, 0.0), ["zero_dur"]),
        ((None, -1.0, 0.0), ["id_null", "neg_val", "zero_dur"]),
        (("s1", 1.0, 1.0), []),
    ],
)
def test_row_rules_each_trigger(spark, row, expected):
    df = spark.createDataFrame([row], "id string, val double, dur double")
    rules = [
        RowRule("id_null", F.col("id").isNull()),
        RowRule("neg_val", F.col("val") < 0),
        RowRule("zero_dur", F.col("dur") <= 0),
    ]
    out = annotate_rows(df, rules).collect()[0]
    assert out.quarantine_reason == expected


def test_split_complementary(spark):
    df = spark.createDataFrame(
        [("a", 1.0), (None, 2.0), ("c", -3.0)], "id string, v double"
    )
    rules = [RowRule("bad_id", F.col("id").isNull()), RowRule("neg", F.col("v") < 0)]
    good, bad = split_good_bad(annotate_rows(df, rules), persist=False)
    assert good.count() == 1 and bad.count() == 2
    assert "quarantine_reason" not in good.columns


def test_split_context_releases_cache_on_error(spark):
    """``with split_good_bad(df) as (good, bad):`` persists for the
    block and unpersists on exit, also when the block raises."""
    df = spark.createDataFrame([("a", 1.0), (None, 2.0)], "id string, v double")
    annotated = annotate_rows(df, [RowRule("bad_id", F.col("id").isNull())])
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError):
        with split_good_bad(annotated) as (good, bad):
            assert good.count() == 1 and bad.count() == 1
            assert spark.sparkContext._jsc.getPersistentRDDs().size() == before + 1
            raise RuntimeError("sink failed")
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


@pytest.mark.parametrize(
    "raw,fixed",
    [
        ("0015-03-01 10:22:33", "2015-03-01 10:22"),  # repaired, seconds dropped
        ("2015-03-01 10:22:33", "2015-03-01 10:22:33"),  # normal year untouched
        ("0014-1", "2014-1"),  # short string: takes what's there
        (None, None),
    ],
)
def test_fix_year_edges(spark, raw, fixed):
    df = spark.createDataFrame([(raw,)], "ts string")
    out = df.select(fix_year("ts").alias("f")).collect()[0].f
    assert out == fixed


def test_attach_observes_metrics_with_no_extra_pass(spark, tmp_path):
    """attach() rides the caller's write action: metric values and
    verdict equal run()'s, no separate aggregation job over the data,
    and uniqueness (which cannot be observed) still verifies."""
    df = spark.createDataFrame(
        [(1, 5.0, "a"), (2, -3.0, "b"), (3, None, "a"), (3, 1.0, None)],
        "id bigint, val double, cat string",
    )
    check = (
        Check(level=CheckLevel.WARNING)
        .is_complete("cat")
        .is_non_negative("val")
        .has_size(lambda v: v == 4)
        .is_unique("id")
    )
    baseline = VerificationSuite().on_data(df).add_check(check).run()

    suite = VerificationSuite().add_check(check)
    observed, handle = suite.attach(df)
    # rows pass through unchanged; the ONLY action is the write
    observed.write.mode("overwrite").parquet(str(tmp_path / "out"))
    got = handle.result()

    assert got.status == baseline.status
    base_by_name = {r.constraint: r.metric_value for r in baseline.results}
    for r in got.results:
        assert r.metric_value == base_by_name[r.constraint], r.constraint
    # and the written data is the full frame (observe is transparent)
    assert spark.read.parquet(str(tmp_path / "out")).count() == 4


def test_attach_on_golden_silver_matches_run(spark, bronze_sample):
    """The reference pipeline's own check, observed during a count
    action over the cleaned golden CSV, reproduces run() exactly."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.operators.silver import (
        clean_sessions,
        silver_check,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources.readers import (
        read_bronze_csv,
    )

    bronze = read_bronze_csv(spark, bronze_sample.path)
    silver = clean_sessions(bronze)
    baseline = (
        VerificationSuite().on_data(silver).add_check(silver_check()).run()
    )
    suite = VerificationSuite().add_check(silver_check())
    observed, handle = suite.attach(silver)
    observed.count()
    got = handle.result()
    assert got.status == baseline.status
    assert {r.constraint: r.metric_value for r in got.results} == {
        r.constraint: r.metric_value for r in baseline.results
    }


def test_run_silver_releases_split_cache(spark, tmp_path, evgen_batch_csv):
    """run_silver unpersists the frame split_good_bad persisted for its
    two sinks: no cache entry outlives the call."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.operators.silver import (
        run_silver,
    )

    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    res = run_silver(
        spark,
        evgen_batch_csv,
        str(tmp_path / "silver"),
        str(tmp_path / "quarantine"),
    )
    assert res.good_count > 0 and res.bad_count > 0
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


@pytest.mark.parametrize("mode", ["fail_job", "FAIL_JOB"])
def test_run_silver_fail_job_gates_before_writes(
    spark, tmp_path, evgen_batch_csv, mode
):
    """fail_job in any case stops at the dataset-level gate: neither
    sink is written."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.operators.silver import (
        run_silver,
    )

    silver, quarantine = tmp_path / "silver", tmp_path / "quarantine"
    with pytest.raises(RuntimeError, match="Data quality FAILED"):
        run_silver(
            spark,
            evgen_batch_csv,
            str(silver),
            str(quarantine),
            fail_mode=mode,
        )
    assert not silver.exists() and not quarantine.exists()


def test_run_silver_counts_come_from_the_writes_and_quarantine_gates_after(
    spark, tmp_path, evgen
):
    """The good/bad counts observed on the two writes equal the rows
    written and the generator's split; with fail_job, a batch that
    passes every dataset-level check but quarantines rows raises only
    after both sinks are written."""
    import csv
    import io

    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.operators.silver import (
        run_silver,
    )

    batch = evgen.make_batch(seed=2, day_index=0, n_rows=120)
    res = run_silver(
        spark,
        _write(tmp_path / "all.csv", batch.csv_text),
        str(tmp_path / "s1"),
        str(tmp_path / "q1"),
    )
    assert (res.good_count, res.bad_count) == (batch.good, batch.bad)
    assert spark.read.parquet(str(tmp_path / "s1")).count() == batch.good
    assert spark.read.parquet(str(tmp_path / "q1")).count() == batch.bad

    # keep only rows every dataset-level constraint admits; the
    # zero-kWh, end-before-start and null-timestamp rows still quarantine
    ids = ("sessionId", "userId", "stationId", "locationId")
    measures = ("kwhTotal", "dollars", "chargeTimeHrs", "distance")
    rows = list(csv.DictReader(io.StringIO(batch.csv_text)))
    ok = [
        r
        for r in rows
        if all(r[c] not in ("", "NA") for c in ids)
        and all(r[c] in ("", "NA") or float(r[c]) >= 0 for c in measures)
        and r["facilityType"] in ("1", "2", "3", "4")
    ]
    out = io.StringIO()
    w = csv.DictWriter(out, fieldnames=list(rows[0]), lineterminator="\n")
    w.writeheader()
    w.writerows(ok)
    silver, quarantine = tmp_path / "s2", tmp_path / "q2"
    with pytest.raises(RuntimeError, match="Quality gate failed"):
        run_silver(
            spark,
            _write(tmp_path / "ok.csv", out.getvalue()),
            str(silver),
            str(quarantine),
            fail_mode="fail_job",
        )
    assert spark.read.parquet(str(silver)).count() > 0
    assert spark.read.parquet(str(quarantine)).count() > 0


def _write(path, text) -> str:
    path.write_text(text)
    return str(path)


def test_run_silver_rejects_unknown_fail_mode(spark, tmp_path, evgen_batch_csv):
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.operators.silver import (
        run_silver,
    )

    silver = tmp_path / "silver"
    with pytest.raises(ValueError, match="unknown fail_mode 'bogus'"):
        run_silver(
            spark,
            evgen_batch_csv,
            str(silver),
            str(tmp_path / "quarantine"),
            fail_mode="bogus",
        )
    assert not silver.exists()


@pytest.mark.parametrize("bronze", ["evgen_batch_csv", "bronze_sample"])
def test_clean_sessions_same_under_inferred_and_pinned_bronze_schema(
    spark, request, bronze
):
    """run_silver reads bronze under schemas.EV_BRONZE_SCHEMA, as the
    silver streams do, instead of inferring it in an extra pass: the
    cleaned frame has the same schema and rows either way."""
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.operators.silver import (
        clean_sessions,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.schemas import (
        EV_BRONZE_SCHEMA,
    )
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources.readers import (
        read_bronze_csv,
    )

    fixture = request.getfixturevalue(bronze)
    path = getattr(fixture, "path", fixture)
    inferred = clean_sessions(read_bronze_csv(spark, path, infer=True))
    pinned = clean_sessions(read_bronze_csv(spark, path, schema=EV_BRONZE_SCHEMA))
    assert pinned.schema == inferred.schema
    rows = [sorted(map(tuple, df.collect()), key=repr) for df in (inferred, pinned)]
    assert rows[0] == rows[1] and len(rows[0]) > 0
