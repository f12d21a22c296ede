"""local_df must be a drop-in for spark.createDataFrame on literal
rows: same schema, same values, but LocalRelation-backed (no
Python-RDD slices — the r14 lifecycle-commit optimization)."""

from __future__ import annotations

import datetime
import decimal

import pytest
from pyspark.sql import Row
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.functions.localframe import (
    local_df,
)


def _plan_name(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


def _assert_same(spark, data, schema):
    got = local_df(spark, data, schema)
    want = spark.createDataFrame(data, schema)
    assert got.schema == want.schema
    assert sorted(map(str, got.collect())) == sorted(map(str, want.collect()))
    return got


def test_ddl_string_schema_hits_arrow_path(spark):
    got = _assert_same(
        spark,
        [(1, "a", 1.5, True), (2, None, None, False)],
        "id int, name string, val double, flag boolean",
    )
    assert _plan_name(got) == "LocalRelation"


def test_struct_type_schema_nested_and_temporal(spark):
    schema = StructType(
        [
            StructField("ts", TimestampType()),
            StructField("d", DateType()),
            StructField("dec", DecimalType(12, 2)),
            StructField("arr", ArrayType(LongType())),
            StructField(
                "st", StructType([StructField("x", LongType())])
            ),
            StructField("s", StringType()),
        ]
    )
    rows = [
        (
            datetime.datetime(2024, 1, 1, 12, 0, 0),
            datetime.date(2024, 1, 2),
            decimal.Decimal("12.34"),
            [1, 2],
            (5,),
            "a",
        ),
        (None, None, None, None, None, None),
    ]
    got = _assert_same(spark, rows, schema)
    assert _plan_name(got) == "LocalRelation"


def test_names_list_safe_inference(spark):
    got = _assert_same(
        spark, [(1, "x", 0.5), (2, "y", 1.0)], ["a", "b", "c"]
    )
    assert _plan_name(got) == "LocalRelation"
    # classic inference REJECTS mixed int/float (CANNOT_MERGE_TYPE);
    # the helper must fall through to classic and raise the same way
    with pytest.raises(Exception, match="CANNOT_MERGE_TYPE"):
        local_df(spark, [(1,), (2.5,)], ["v"])


def test_names_list_datetime_falls_back_to_classic(spark):
    # naive datetime under name-list inference: Arrow would yield
    # TIMESTAMP_NTZ where classic yields session-zone TIMESTAMP, so
    # the helper must take the classic path (schemas still equal).
    data = [(datetime.datetime(2024, 1, 1, 3, 4, 5),)]
    got = local_df(spark, data, ["ts"])
    want = spark.createDataFrame(data, ["ts"])
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_tz_aware_timestamps_keep_their_instant(spark):
    # pyarrow's from_pylist against timestamp[us, tz=UTC] keeps the
    # WALL-CLOCK of an aware datetime (12:00+05:00 -> 12:00Z instead
    # of 07:00Z); classic converts via utctimetuple(). local_df must
    # normalize to the UTC instant so both paths agree.
    tz5 = datetime.timezone(datetime.timedelta(hours=5))
    schema = StructType(
        [StructField("k", LongType()), StructField("ts", TimestampType())]
    )
    rows = [
        (1, datetime.datetime(2024, 6, 1, 12, 0, 0, tzinfo=tz5)),
        (2, datetime.datetime(2024, 6, 1, 7, 30, 0)),  # naive, mixed in
        (3, None),
    ]
    got = _assert_same(spark, rows, schema)
    assert _plan_name(got) == "LocalRelation"
    vals = {r.k: r.ts for r in got.collect()}
    # session/OS tz is UTC on this box: the aware row must read back
    # as the 07:00 UTC instant, not the 12:00 wall clock.
    assert vals[1] == datetime.datetime(2024, 6, 1, 7, 0, 0)


def test_tz_aware_timestamp_nested_in_struct(spark):
    tz_m3 = datetime.timezone(datetime.timedelta(hours=-3))
    schema = StructType(
        [
            StructField(
                "st",
                StructType([StructField("ts", TimestampType())]),
            )
        ]
    )
    rows = [((datetime.datetime(2024, 6, 1, 9, 0, 0, tzinfo=tz_m3),),)]
    got = _assert_same(spark, rows, schema)
    assert got.collect()[0].st.ts == datetime.datetime(2024, 6, 1, 12, 0, 0)


def test_timestamp_in_array_falls_back_to_classic(spark):
    # arrays of timestamps are not normalized — must take the classic
    # path and still produce classic-identical values.
    schema = StructType([StructField("a", ArrayType(TimestampType()))])
    tz2 = datetime.timezone(datetime.timedelta(hours=2))
    rows = [([datetime.datetime(2024, 6, 1, 10, 0, 0, tzinfo=tz2)],)]
    got = _assert_same(spark, rows, schema)
    assert got.collect()[0].a[0] == datetime.datetime(2024, 6, 1, 8, 0, 0)


def test_tz_aware_timestamp_ntz_in_array_falls_back_to_classic(spark):
    # an aware datetime nested in an NTZ array is not normalized
    # either — classic keeps its wall clock, and so must local_df.
    schema = StructType([StructField("a", ArrayType(TimestampNTZType()))])
    tz2 = datetime.timezone(datetime.timedelta(hours=2))
    rows = [([datetime.datetime(2024, 6, 1, 10, 0, 0, tzinfo=tz2)],)]
    got = _assert_same(spark, rows, schema)
    assert got.collect()[0].a[0] == datetime.datetime(2024, 6, 1, 10, 0, 0)


def test_empty_frame_with_schema(spark):
    schema = StructType([StructField("k", IntegerType())])
    got = _assert_same(spark, [], schema)
    assert got.count() == 0


def test_row_objects_and_dicts(spark):
    schema = "k int, v string"
    _assert_same(spark, [Row(k=1, v="a"), Row(k=2, v="b")], schema)
    _assert_same(spark, [{"k": 1, "v": "a"}], schema)


def test_generator_input_survives_fallback(spark):
    # decimal under name-list inference -> classic fallback; the
    # generator must have been materialized exactly once.
    def gen():
        yield (decimal.Decimal("1.5"),)

    got = local_df(spark, gen(), ["v"])
    assert got.count() == 1


def test_bool_not_mistaken_for_int(spark):
    got = _assert_same(spark, [(True,), (False,)], ["flag"])
    assert dict(got.dtypes)["flag"] == "boolean"
