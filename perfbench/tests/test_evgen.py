"""The bronze generator's expectations, re-derived independently from its
CSV text with the silver job's rules written out in plain Python.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import evgen  # noqa: E402


def _num(s: str):
    try:
        return float(s)
    except ValueError:
        return None  # "NA" and empty cells read as null, like a non-ANSI cast


def _ts(s: str):
    """Silver's year repair at minute granularity: 0015-... -> 2015-..."""
    if not s:
        return None
    return dt.datetime.strptime("20" + s[2:16], "%Y-%m-%d %H:%M")


def _reasons(row: dict) -> list[str]:
    kwh, dollars, dist, hrs = (_num(row[c]) for c in ("kwhTotal", "dollars", "distance", "chargeTimeHrs"))
    created, ended = _ts(row["created"]), _ts(row["ended"])
    out = [f"{c}_null" for c in ("sessionId", "userId", "stationId", "locationId") if row[c] == ""]
    if kwh is None or kwh <= 0:
        out.append("kwhTotal_non_positive")
    if dollars is None or dollars < 0:
        out.append("dollars_negative")
    if dist is None or dist < 0:
        out.append("distance_negative_or_zero")
    if hrs is None or hrs <= 0:
        out.append("duration_invalid")
    if row["facilityType"] not in ("1", "2", "3", "4"):
        out.append("facilityType_invalid")
    if created is None or ended is None:
        out.append("timestamp_null")
    elif ended <= created:
        out.append("end_before_start")
    return out


def test_expectations_match_an_independent_derivation():
    batch = evgen.make_batch(seed=7, day_index=3, n_rows=3_000)
    rows = list(csv.DictReader(io.StringIO(batch.csv_text)))
    assert list(rows[0]) == evgen.COLUMNS
    assert len(rows) == batch.rows == 3_000 + evgen.EXTRA_PER_REASON * len(evgen.REASONS)

    reasons, good = Counter(), {}
    for row in rows:
        r = _reasons(row)
        if r:
            reasons.update(r)
            continue
        agg = good.setdefault(evgen.FACILITY[int(row["facilityType"])], [0, 0, 0, 0])
        created, ended = _ts(row["created"]), _ts(row["ended"])
        agg[0] += 1
        agg[1] += round(float(row["kwhTotal"]) * 100)
        agg[2] += round(float(row["dollars"]) * 100)
        agg[3] += int((ended - created).total_seconds() // 60)
    assert reasons == batch.reasons
    assert set(reasons) == set(evgen.REASONS)  # every one of the 11 rules fires
    assert batch.good == sum(a[0] for a in good.values())
    assert batch.bad == batch.rows - batch.good
    assert {k: (a.rows, a.kwh_centi, a.dollars_cents, a.duration_minutes) for k, a in batch.gold.items()} == {
        k: tuple(v) for k, v in good.items()
    }


def test_fixture_shape():
    batch = evgen.make_batch(seed=1, day_index=0, n_rows=5_000)
    rows = list(csv.DictReader(io.StringIO(batch.csv_text)))
    stamps = [row[c] for row in rows for c in ("created", "ended") if row[c]]
    assert stamps and all(s.startswith("00") for s in stamps)
    na = [row for row in rows if row["distance"] == "NA"]
    assert 0.28 < len(na) / len(rows) < 0.34
    zero_kwh = [row for row in rows if row["kwhTotal"] == "0.00"]
    assert zero_kwh and all(row["distance"] == "NA" for row in zero_kwh)
    days = {row["created"][:10] for row in rows if row["created"]}
    assert days == {"0014-11-18"}


def test_same_seed_same_batch_and_reruns_merge_once():
    a = evgen.make_batch(3, 5, 500)
    assert a.csv_text == evgen.make_batch(3, 5, 500).csv_text
    assert a.csv_text != evgen.make_batch(4, 5, 500).csv_text
    b = evgen.make_batch(3, 6, 500)
    merged = evgen.merge_gold([a, b, evgen.make_batch(3, 5, 500)])
    assert sum(x.rows for x in merged.values()) == a.good + b.good
