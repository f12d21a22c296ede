"""Seeded EV-sessions bronze generator (FIXTURES.md §A1 shape).

One call makes one daily batch: a 24-column CSV whose timestamps all
carry the dirty ``00``-year prefix, whose ``distance`` is the literal
``"NA"`` on ~31 % of rows (every zero-kWh row falls inside that set),
plus a few extra rows per quarantine rule so each of the silver job's
11 reasons fires. Alongside the text it returns what the pipeline must
produce from it: the good/quarantine split, the per-reason counts and
the gold aggregates per ``facilityType``.

Money and energy are whole cents / centi-kWh, durations whole minutes,
so the expected sums are exact integers.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import random
from collections import Counter
from dataclasses import dataclass, field

COLUMNS = [
    "sessionId", "kwhTotal", "dollars", "created", "ended", "startTime",
    "endTime", "chargeTimeHrs", "weekday", "platform", "distance", "userId",
    "stationId", "locationId", "managerVehicle", "facilityType", "Mon",
    "Tues", "Wed", "Thurs", "Fri", "Sat", "Sun", "reportedZip",
]

FACILITY = {1: "Manufacturing", 2: "Office", 3: "Research and Development", 4: "Other"}
WEEKDAYS = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]
DUMMIES = ["Mon", "Tues", "Wed", "Thurs", "Fri", "Sat", "Sun"]

REASONS = [
    "sessionId_null", "userId_null", "stationId_null", "locationId_null",
    "kwhTotal_non_positive", "dollars_negative", "distance_negative_or_zero",
    "duration_invalid", "facilityType_invalid", "timestamp_null",
    "end_before_start",
]

NA_SHARE = 0.31
ZERO_KWH_SHARE = 0.016
#: extra rows per quarantine rule in every batch
EXTRA_PER_REASON = 2
FIRST_DAY = dt.date(2014, 11, 18)
N_STATIONS = 105


@dataclass
class FacilityAgg:
    rows: int = 0
    kwh_centi: int = 0
    dollars_cents: int = 0
    duration_minutes: int = 0


@dataclass
class Batch:
    """One generated bronze batch and the pipeline's expected output."""

    day: dt.date
    csv_text: str
    rows: int
    good: int
    bad: int
    reasons: Counter = field(default_factory=Counter)
    gold: dict[str, FacilityAgg] = field(default_factory=dict)


def _dirty(ts: dt.datetime) -> str:
    """``2015-03-01 10:22:33`` -> ``0015-03-01 10:22:33``."""
    return "00" + ts.strftime("%Y-%m-%d %H:%M:%S")[2:]


def _money(units: int) -> str:
    return f"{units // 100}.{units % 100:02d}" if units >= 0 else f"-{_money(-units)}"


def day_of(index: int) -> dt.date:
    return FIRST_DAY + dt.timedelta(days=index)


def make_batch(seed: int, day_index: int, n_rows: int) -> Batch:
    """Batch ``day_index`` (days after 2014-11-18) of ``n_rows`` clean
    or NA rows plus ``EXTRA_PER_REASON`` rows per quarantine rule. The
    same (seed, day_index, n_rows) always yields the same batch, so a
    rerun of a day replays identical input."""
    rng = random.Random(f"evgen/{seed}/{day_index}")
    day = day_of(day_index)
    midnight = dt.datetime.combine(day, dt.time())
    id_base = 1_000_000 + day_index * 100_000
    weekday = WEEKDAYS[day.weekday()]
    out = io.StringIO()
    w = csv.writer(out, lineterminator="\n")
    w.writerow(COLUMNS)
    batch = Batch(day=day, csv_text="", rows=0, good=0, bad=0)
    extras = [r for r in REASONS for _ in range(EXTRA_PER_REASON)]
    rng.shuffle(extras)
    plan = [None] * n_rows + extras
    rng.shuffle(plan)
    for i, broken in enumerate(plan):
        # second-granular start, minute-granular after silver's year fix
        created = midnight + dt.timedelta(seconds=rng.randrange(0, 86_400))
        minutes = rng.randrange(5, 600)
        ended = created.replace(second=0) + dt.timedelta(minutes=minutes, seconds=rng.randrange(60))
        kwh = rng.randrange(50, 2369)
        dollars = rng.randrange(1, 751) if rng.random() < 0.11 else 0
        facility = rng.randint(1, 4)
        na_distance = broken is None and rng.random() < NA_SHARE
        if na_distance and rng.random() < ZERO_KWH_SHARE / NA_SHARE:
            kwh = 0
        distance = "NA" if na_distance else _money(rng.randrange(86, 4307))
        charge = f"{minutes / 60:.4f}"
        row = {
            "sessionId": id_base + i,
            "kwhTotal": _money(kwh),
            "dollars": _money(dollars),
            "created": _dirty(created),
            "ended": _dirty(ended),
            "startTime": created.hour,
            "endTime": ended.hour,
            "chargeTimeHrs": charge,
            "weekday": weekday,
            "platform": rng.choices(["android", "ios", "web"], [34, 65, 1])[0],
            "distance": distance,
            "userId": rng.randrange(1, 86),
            "stationId": rng.randrange(1, N_STATIONS + 1),
            "locationId": rng.randrange(1, 26),
            "managerVehicle": rng.randint(0, 1),
            "facilityType": facility,
            "reportedZip": rng.randint(0, 1),
        }
        for j, d in enumerate(DUMMIES):
            row[d] = int(j == day.weekday())
        reasons = []
        if broken in ("sessionId_null", "userId_null", "stationId_null", "locationId_null"):
            row[broken.split("_")[0]] = ""
        elif broken == "kwhTotal_non_positive":
            row["kwhTotal"] = _money(-kwh)
        elif broken == "dollars_negative":
            row["dollars"] = _money(-dollars - 25)
        elif broken == "distance_negative_or_zero":
            row["distance"] = _money(-rng.randrange(1, 500))
        elif broken == "duration_invalid":
            row["chargeTimeHrs"] = "0.0"
        elif broken == "facilityType_invalid":
            row["facilityType"] = 7
        elif broken == "timestamp_null":
            row["created"] = ""
        elif broken == "end_before_start":
            row["ended"] = _dirty(created - dt.timedelta(minutes=minutes))
        if broken:
            reasons.append(broken)
        if na_distance:
            reasons.append("distance_negative_or_zero")
            if kwh == 0:
                reasons.append("kwhTotal_non_positive")
        w.writerow([row[c] for c in COLUMNS])
        batch.rows += 1
        if reasons:
            batch.bad += 1
            batch.reasons.update(reasons)
            continue
        batch.good += 1
        agg = batch.gold.setdefault(FACILITY[facility], FacilityAgg())
        agg.rows += 1
        agg.kwh_centi += kwh
        agg.dollars_cents += dollars
        agg.duration_minutes += minutes
    batch.csv_text = out.getvalue()
    return batch


def merge_gold(batches: list[Batch]) -> dict[str, FacilityAgg]:
    """Gold aggregates of the union of distinct days (a rerun replaces
    its day, so only the last batch per day counts)."""
    per_day = {b.day: b for b in batches}
    total: dict[str, FacilityAgg] = {}
    for b in per_day.values():
        for name, a in b.gold.items():
            t = total.setdefault(name, FacilityAgg())
            t.rows += a.rows
            t.kwh_centi += a.kwh_centi
            t.dollars_cents += a.dollars_cents
            t.duration_minutes += a.duration_minutes
    return total
