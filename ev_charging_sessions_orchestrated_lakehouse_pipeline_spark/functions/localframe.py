"""Driver-local literal DataFrames without the Python-RDD tax.

``spark.createDataFrame(rows, ...)`` in classic PySpark parallelizes
the rows into a *pickled Python RDD* sliced to defaultParallelism.
Every later action on such a frame — a commit write, a constraint
aggregate, a join build — re-evaluates that RDD through Python
worker processes, one JVM↔Python round-trip per slice
(guide §4: the boundary you cannot make fast, only remove).

Measured on this box (local[32], 5-row frame, min of 8):

======================================  ========  =============
path                                    write     agg+collect
======================================  ========  =============
classic createDataFrame (32 slices)      623 ms      453 ms
classic + coalesce(1)                   6580 ms     6414 ms (†)
pyarrow Table -> createDataFrame         131 ms      101 ms
======================================  ========  =============

(†) coalesce(1) is the classic trap: ONE task still evaluates all
32 pickled parent slices *serially*, each through its own Python
worker round-trip.

``spark.createDataFrame(pyarrow.Table)`` (Spark 4) instead converts
once, driver-side, into a **LocalRelation** — all later actions are
pure JVM, no Python workers ever. :func:`local_df` routes literal
rows through that path with the exact Catalyst schema (via
``to_arrow_schema``, so timestamps stay session-zone micros,
decimals keep precision/scale, nested types nest), and falls back
to classic ``createDataFrame`` whenever fidelity is not provable
(schema-less datetime/Decimal/map inference, exotic values).

Scale note: this path only ever touches rows that are ALREADY
driver-local literals (INSERT VALUES, status rows, bounded collected
scalars). Distributed data never flows through it, so there is no
100 TB anti-pattern here — the win is removing ~0.5 s of Python
worker round-trips from every lifecycle commit.
"""

from __future__ import annotations

import datetime
from typing import Any, Iterable

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import (
    ArrayType,
    MapType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

__all__ = ["local_df"]

#: value types whose classic-inference result (int->LongType,
#: float->DoubleType, str->StringType, bool->BooleanType,
#: bytes->BinaryType, date->DateType) matches what Spark derives
#: from the equivalent Arrow column — the safe schema-less set.
#: datetime.datetime is EXCLUDED (naive Arrow timestamps map to
#: TIMESTAMP_NTZ, classic maps to session-zone TIMESTAMP);
#: Decimal is EXCLUDED (classic infers decimal(38,18), Arrow infers
#: the literal's own precision); list/dict/Row are EXCLUDED
#: (dict -> MapType classically, struct under Arrow).
_SAFE_INFER = (bool, int, float, str, bytes)


def _contains_timestamp(dt) -> bool:
    """True if ``dt`` nests a TimestampType or TimestampNTZType
    anywhere below a container type we do not normalize
    (arrays/maps)."""
    if isinstance(dt, (TimestampType, TimestampNTZType)):
        return True
    if isinstance(dt, ArrayType):
        return _contains_timestamp(dt.elementType)
    if isinstance(dt, MapType):
        return _contains_timestamp(dt.keyType) or _contains_timestamp(dt.valueType)
    if isinstance(dt, StructType):
        return any(_contains_timestamp(f.dataType) for f in dt.fields)
    return False


def _rows_as_dicts(data: Iterable[Any], names: list[str], fields=None):
    """Positionally zip tuples/Rows (or pass dicts through) into the
    name-keyed form ``pyarrow.Table.from_pylist`` wants, recursing
    into struct-typed fields so nested tuples become nested dicts.

    Also normalizes TimestampType values to UTC instants: classic
    ``createDataFrame`` converts an aware datetime via
    ``utctimetuple()`` and a naive one via OS-local ``mktime``, while
    ``pyarrow.Table.from_pylist`` against ``timestamp[us, tz=UTC]``
    keeps the WALL-CLOCK fields (verified on pyarrow 16.1.0) — a
    12:00+05:00 literal would silently become 12:00Z instead of
    07:00Z. ``v.astimezone(timezone.utc)`` reproduces classic for
    both cases (astimezone on a naive datetime assumes OS-local time,
    exactly like mktime). Aware datetimes in TimestampNTZ fields and
    timestamps of either kind nested in arrays/maps raise so the
    caller's classic fallback handles them instead."""
    out = []
    for r in data:
        if isinstance(r, dict):
            d = dict(r)
        else:
            if not isinstance(r, (tuple, list)):
                raise TypeError(f"unsupported row shape {type(r)}")
            if len(r) != len(names):
                raise ValueError("row arity != schema arity")
            d = dict(zip(names, r))
        if fields is not None:
            for f in fields:
                v = d.get(f.name)
                if v is None:
                    continue
                if isinstance(f.dataType, StructType):
                    d[f.name] = _rows_as_dicts(
                        [v] if isinstance(v, dict) else [tuple(v)],
                        f.dataType.names,
                        f.dataType.fields,
                    )[0]
                elif isinstance(f.dataType, TimestampType):
                    if isinstance(v, datetime.datetime):
                        d[f.name] = v.astimezone(datetime.timezone.utc)
                elif isinstance(f.dataType, TimestampNTZType):
                    if (
                        isinstance(v, datetime.datetime)
                        and v.tzinfo is not None
                    ):
                        raise ValueError("aware datetime in NTZ field")
                elif _contains_timestamp(f.dataType):
                    raise ValueError("timestamp nested in array/map")
        out.append(d)
    return out


def _infer_arrow_schema(data: list[dict], names: list[str]):
    """Classic-compatible inference for the schema-less calling
    convention, restricted to _SAFE_INFER scalars. Returns None
    (-> classic fallback) when any column mixes kinds beyond the
    int-with-float promotion classic also performs, is all-null, or
    holds an excluded type."""
    import pyarrow as pa

    cols: dict[str, Any] = {}
    for n in names:
        kinds = set()
        for d in data:
            v = d.get(n)
            if v is None:
                continue
            if isinstance(v, bool):  # bool is an int subclass: test first
                kinds.add(bool)
            elif type(v) in (int, float, str, bytes):
                kinds.add(type(v))
            elif type(v) is datetime.date:
                kinds.add(datetime.date)
            else:
                return None
        if not kinds:
            return None  # all-null column: classic raises, stay classic
        if len(kinds) != 1:
            # classic inference REFUSES mixed kinds (CANNOT_MERGE_TYPE,
            # even int+float) — divergence here would make the helper
            # accept rows the classic path rejects
            return None
        if kinds == {bool}:
            cols[n] = pa.bool_()
        elif kinds == {int}:
            cols[n] = pa.int64()
        elif kinds == {float}:
            cols[n] = pa.float64()
        elif kinds == {str}:
            cols[n] = pa.string()
        elif kinds == {bytes}:
            cols[n] = pa.binary()
        elif kinds == {datetime.date}:
            cols[n] = pa.date32()
        else:
            return None
    return pa.schema([(n, cols[n]) for n in names])


def local_df(spark: SparkSession, data, schema=None) -> DataFrame:
    """Drop-in for ``spark.createDataFrame(data, schema)`` for
    DRIVER-LOCAL literal rows: builds a LocalRelation via pyarrow
    (no Python-RDD slices, no Python workers on later actions),
    falling back to classic ``createDataFrame`` whenever the
    Arrow path cannot provably reproduce classic semantics."""
    if not isinstance(data, (list, tuple)):
        data = list(data)  # materialize ONCE: the fallback must see it too
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        if isinstance(schema, str):
            # DDL string ("a string, b double") -> exact StructType
            from pyspark.sql.types import _parse_datatype_string

            schema = _parse_datatype_string(schema)
        if isinstance(schema, StructType):
            rows = _rows_as_dicts(list(data), schema.names, schema.fields)
            tbl = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
            return spark.createDataFrame(tbl)
        if schema is not None and all(isinstance(n, str) for n in schema):
            rows = _rows_as_dicts(list(data), list(schema))
            pa_schema = _infer_arrow_schema(rows, list(schema))
            if pa_schema is not None:
                tbl = pa.Table.from_pylist(rows, schema=pa_schema)
                return spark.createDataFrame(tbl)
    except Exception:
        pass  # fidelity not provable -> classic path below
    return spark.createDataFrame(data, schema)
