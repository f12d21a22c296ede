"""Native data-quality framework (reference A3-A7, SURVEY.md §2.4/§7.2-3).

The reference drives Deequ (a Scala JAR via py4j) for dataset-level
constraints (jobs/ev_sessions_silver_etl_clean.py:132-164) and a
hand-rolled rule array for row-level quarantine (:170-191). This
module rebuilds both natively on DataFrame aggregates:

- **Check / VerificationSuite**: declarative constraints compiled to
  ONE pass over the data (Deequ runs its own Spark jobs; we fold all
  scan-level metrics into a single job — at 100 TB the difference
  between one scan and N scans is the whole game). Uniqueness
  constraints need a per-column groupBy (shuffled, but
  combiner-reduced — same as Deequ's grouping analyzers); the first
  one carries the scan-level metrics through ``df.observe``, so only
  a second uniqueness constraint adds a pass.
- **Deequ null semantics preserved** (the subtle part, SURVEY.md
  §7.3): nulls FAIL ``is_complete``, PASS ``is_non_negative`` and
  ``is_contained_in``; ``is_unique`` counts rows whose value occurs
  exactly once over ALL rows (Deequ Uniqueness metric).
- **RowRule / annotate / split**: row-level reason annotation with
  the reference's array-filter shape, plus the ``persist()`` the
  reference forgot (its good/bad split re-reads the source twice).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


class CheckLevel(Enum):
    ERROR = "Error"
    WARNING = "Warning"


class CheckStatus(Enum):
    SUCCESS = "Success"
    WARNING = "Warning"
    ERROR = "Error"


@dataclass(frozen=True)
class Constraint:
    """One metric + assertion. ``metric`` aggregates to a double in
    [0, 1] for fraction-style metrics (or any scalar for custom
    analyzers); ``assertion`` judges the resulting value."""

    name: str
    metric: Column
    assertion: Callable[[float], bool]
    group_column: str | None = None  # set -> grouping analyzer (extra pass)


@dataclass
class ConstraintResult:
    constraint: str
    metric_value: float | None
    passed: bool


@dataclass
class VerificationResult:
    status: CheckStatus
    results: list[ConstraintResult] = field(default_factory=list)

    @property
    def success(self) -> bool:
        return self.status == CheckStatus.SUCCESS

    def to_dict(self) -> dict[str, dict]:
        return {
            r.constraint: {"metric": r.metric_value, "passed": r.passed}
            for r in self.results
        }


def _fraction(cond: Column) -> Column:
    """Fraction of rows satisfying ``cond`` — avg over a 0/1 cast,
    map-side combinable, stays in codegen."""
    return F.avg(cond.cast("double"))


class Check:
    """Deequ-style fluent constraint builder.

    >>> check = (Check(CheckLevel.ERROR, "silver_rules")
    ...          .is_complete("sessionId")
    ...          .is_non_negative("kwhTotal")
    ...          .is_contained_in("facilityType", ["Office", "Other"])
    ...          .is_unique("sessionId"))
    """

    def __init__(self, level: CheckLevel = CheckLevel.ERROR, description: str = ""):
        self.level = level
        self.description = description
        self.constraints: list[Constraint] = []

    # -- completeness (nulls fail) -------------------------------------
    def is_complete(self, column: str) -> "Check":
        self.constraints.append(
            Constraint(
                f"completeness({column})",
                _fraction(F.col(column).isNotNull()),
                lambda v: v == 1.0,
            )
        )
        return self

    def has_completeness(
        self, column: str, assertion: Callable[[float], bool]
    ) -> "Check":
        self.constraints.append(
            Constraint(
                f"completeness({column})",
                _fraction(F.col(column).isNotNull()),
                assertion,
            )
        )
        return self

    # -- compliance (nulls pass: Deequ coalesces to the passing side) --
    def is_non_negative(self, column: str) -> "Check":
        self.constraints.append(
            Constraint(
                f"non_negative({column})",
                _fraction(F.coalesce(F.col(column), F.lit(0.0)) >= 0),
                lambda v: v == 1.0,
            )
        )
        return self

    def is_positive(self, column: str) -> "Check":
        self.constraints.append(
            Constraint(
                f"positive({column})",
                _fraction(F.coalesce(F.col(column), F.lit(1.0)) > 0),
                lambda v: v == 1.0,
            )
        )
        return self

    def is_contained_in(self, column: str, allowed: list[str]) -> "Check":
        cond = F.col(column).isNull() | F.col(column).isin(*allowed)
        self.constraints.append(
            Constraint(f"containment({column})", _fraction(cond), lambda v: v == 1.0)
        )
        return self

    def satisfies(
        self,
        predicate: Column,
        name: str,
        assertion: Callable[[float], bool] = lambda v: v == 1.0,
    ) -> "Check":
        """Custom compliance constraint over an arbitrary boolean Column."""
        self.constraints.append(
            Constraint(f"compliance({name})", _fraction(predicate), assertion)
        )
        return self

    # -- size / stats analyzers ----------------------------------------
    def has_size(self, assertion: Callable[[float], bool]) -> "Check":
        self.constraints.append(
            Constraint("size", F.count(F.lit(1)).cast("double"), assertion)
        )
        return self

    def has_min(self, column: str, assertion: Callable[[float], bool]) -> "Check":
        self.constraints.append(
            Constraint(f"min({column})", F.min(column).cast("double"), assertion)
        )
        return self

    def has_max(self, column: str, assertion: Callable[[float], bool]) -> "Check":
        self.constraints.append(
            Constraint(f"max({column})", F.max(column).cast("double"), assertion)
        )
        return self

    def has_mean(self, column: str, assertion: Callable[[float], bool]) -> "Check":
        self.constraints.append(
            Constraint(f"mean({column})", F.avg(column).cast("double"), assertion)
        )
        return self

    # -- uniqueness (grouping analyzer: one extra shuffled pass) --------
    def is_unique(self, column: str) -> "Check":
        self.constraints.append(
            Constraint(
                f"uniqueness({column})",
                F.lit(None),  # computed by the grouping pass
                lambda v: v == 1.0,
                group_column=column,
            )
        )
        return self


class VerificationSuite:
    """Runs checks with the fewest possible data passes: one groupBy
    job per uniqueness constraint, the first of which also carries every
    scan-level metric of every check; a suite with no uniqueness
    constraint folds them into one ``agg``."""

    def __init__(self):
        self._df: DataFrame | None = None
        self._checks: list[Check] = []

    def on_data(self, df: DataFrame) -> "VerificationSuite":
        self._df = df
        return self

    def add_check(self, check: Check) -> "VerificationSuite":
        self._checks.append(check)
        return self

    def _split_constraints(self):
        scan: list[tuple[Check, Constraint]] = []
        grouping: list[tuple[Check, Constraint]] = []
        for check in self._checks:
            for c in check.constraints:
                (grouping if c.group_column else scan).append((check, c))
        return scan, grouping

    def _grouping_values(self, df: DataFrame, grouping) -> dict[int, float | None]:
        # Deequ Uniqueness(c): (#values occurring exactly once) / (#rows).
        values: dict[int, float | None] = {}
        for _, c in grouping:
            col = c.group_column
            row = (
                df.groupBy(col)
                .agg(F.count(F.lit(1)).alias("cnt"))
                .agg(
                    F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).alias("uniq"),
                    F.sum("cnt").alias("total"),
                )
                .collect()[0]
            )
            total = row["total"] or 0
            values[id(c)] = (row["uniq"] / total) if total else 1.0
        return values

    def _assemble(self, values: dict[int, float | None]) -> VerificationResult:
        results: list[ConstraintResult] = []
        status = CheckStatus.SUCCESS
        for check in self._checks:
            for c in check.constraints:
                v = values.get(id(c))
                passed = v is not None and bool(c.assertion(v))
                results.append(ConstraintResult(c.name, v, passed))
                if not passed:
                    if check.level == CheckLevel.ERROR:
                        status = CheckStatus.ERROR
                    elif status == CheckStatus.SUCCESS:
                        status = CheckStatus.WARNING
        return VerificationResult(status, results)

    def run(self) -> VerificationResult:
        """Evaluate every check. The first uniqueness ``groupBy`` job
        runs on :meth:`attach`'s observed frame, so the scan-level
        metrics ride along with it — a suite scans its input once per
        uniqueness constraint and no more; a suite without one runs
        the single ``agg`` job."""
        assert self._df is not None, "call on_data first"
        scan, grouping = self._split_constraints()
        if not grouping:
            row = self._df.agg(*_scan_metrics(scan)).collect()[0] if scan else None
            return self._assemble(_scan_values(scan, row))
        observed, handle = self.attach(self._df)
        handle._ran = self._grouping_values(observed, grouping[:1])
        return handle.result()

    def attach(self, df: DataFrame) -> tuple[DataFrame, "ObservedVerification"]:
        """Zero-extra-pass verification via Spark's Observation API:
        the scan-level metrics of every check ride along with the
        CALLER'S next action on the returned frame (a write, a count,
        a streaming epoch) instead of running their own aggregation
        job — at 100 TB that deletes a full table scan from every
        verified pipeline run.

        Contract differences from :meth:`run` (both deliberate):
        - the verdict is POST-HOC: ``handle.result()`` blocks until
          the caller's action finishes, so a fail_job-style gate
          cannot stop the write it observed — use :meth:`run` when
          the gate must precede the sink, ``attach`` for warn/audit
          pipelines and streaming (Delta-expectations style);
        - uniqueness constraints still need their own groupBy job
          (observe() folds into ONE accumulator row per action; a
          distinct-count cannot) — they run inside ``result()``.

        The metric VALUES are identical to :meth:`run`'s: both
        evaluate the same Column expressions over the same rows
        (asserted in tests/test_quality.py)."""
        from pyspark.sql import Observation

        assert self._checks, "add_check first"
        scan, grouping = self._split_constraints()
        if not scan:
            return df, ObservedVerification(self, None, scan, grouping, df)
        observation = Observation()
        observed = df.observe(observation, *_scan_metrics(scan))
        return observed, ObservedVerification(self, observation, scan, grouping, df)


class ObservedVerification:
    """Deferred verification handle from :meth:`VerificationSuite.
    attach` — call :meth:`result` AFTER the caller's action ran."""

    def __init__(self, suite: VerificationSuite, observation, scan, grouping, df):
        self._suite = suite
        self._observation = observation
        self._scan = scan
        self._grouping = grouping
        self._df = df
        # uniqueness values VerificationSuite.run already computed:
        # its first groupBy job is the action the observation rides on
        self._ran: dict[int, float | None] = {}

    def result(self) -> VerificationResult:
        values = dict(self._ran)
        if self._scan:
            # blocks until the action completes
            values.update(_scan_values(self._scan, self._observation.get))
        pending = [g for g in self._grouping if id(g[1]) not in values]
        values.update(self._suite._grouping_values(self._df, pending))
        return self._suite._assemble(values)


def _scan_metrics(scan) -> list:
    """The ``m<i>`` metric columns of the scan-level constraints —
    the one list both the ``agg`` pass and ``observe`` evaluate."""
    return [c.metric.alias(f"m{i}") for i, (_, c) in enumerate(scan)]


def _scan_values(scan, row) -> dict[int, float | None]:
    """{id(constraint): value} from the ``m<i>`` metric row of a
    scan-level pass (an ``agg`` row or an observation's dict; None
    when there is no scan-level constraint)."""
    return {
        id(c): None if row[f"m{i}"] is None else float(row[f"m{i}"])
        for i, (_, c) in enumerate(scan)
    }


# ---------------------------------------------------------------------------
# Row-level rules -> quarantine_reason annotation + good/bad split
# (reference P5/F9-F11, jobs/ev_sessions_silver_etl_clean.py:170-205)
# ---------------------------------------------------------------------------
@dataclass(frozen=True)
class RowRule:
    """A named row-level predicate: rows matching ``condition`` get
    ``name`` appended to their quarantine reasons."""

    name: str
    condition: Column


def annotate_rows(df: DataFrame, rules: list[RowRule], reason_col: str = "quarantine_reason") -> DataFrame:
    """Evaluate all rules in one projection: build the nullable-slot
    array and compact it with a higher-order filter (no UDF, no
    shuffle; the whole thing is one codegen stage)."""
    slots = F.array(
        *[F.when(r.condition, F.lit(r.name)).otherwise(F.lit(None)) for r in rules]
    )
    return df.withColumn(reason_col, F.filter(slots, lambda x: x.isNotNull()))


class GoodBad(tuple):
    """The ``(good, bad)`` pair of :func:`split_good_bad`. Used as a
    context manager it unpersists the frame the split persisted when
    the block exits, so a caller's two sinks share one cache entry
    that never outlives them."""

    def __new__(cls, good: DataFrame, bad: DataFrame, cached: DataFrame | None):
        pair = super().__new__(cls, (good, bad))
        pair._cached = cached
        return pair

    def __enter__(self) -> "GoodBad":
        return self

    def __exit__(self, *exc) -> None:
        if self._cached is not None:
            self._cached.unpersist()


def split_good_bad(
    df: DataFrame,
    reason_col: str = "quarantine_reason",
    persist: bool = True,
) -> GoodBad:
    """Complementary-filter split. Unlike the reference (which
    recomputes the full source->transform lineage for every action on
    either side), the annotated frame is persisted so the two sinks
    and their counts share one materialization; run them inside
    ``with split_good_bad(df) as (good, bad):`` to release it."""
    if persist:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
    good = df.filter(F.size(reason_col) == 0).drop(reason_col)
    bad = df.filter(F.size(reason_col) > 0)
    return GoodBad(good, bad, df if persist else None)
