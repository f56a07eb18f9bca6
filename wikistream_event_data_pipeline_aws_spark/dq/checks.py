"""Single-pass DQ constraint compiler.

Each check contributes aggregate expressions; :class:`DQSuite` runs them
all in one ``df.agg(...)`` (one distributed job, map-side partial
aggregation, no per-check scans) and evaluates thresholds driver-side.

Semantics mirror the reference checks (citations into /root/reference):
- Completeness (hard/soft)        ``spark/jobs/dq/dq_checks.py:523-580,598-620`` (Q1/Q2)
- Containment                     ``dq_checks.py:600,623,769,797`` (Q3)
- Range / min-max                 ``dq_checks.py:626-627,1063-1065`` (Q4)
- Uniqueness                      ``dq_checks.py:327-334,635,800`` (Q5)
- Recomputation accuracy          ``dq_checks.py:825-872`` (Q7/Q8)
- Cross-row consistency           ``dq_checks.py:1166-1213`` (Q11)
- Gate aggregation / blocking     ``dq_checks.py:137-141`` (Q15)

Statuses: PASSED / WARNING (non-blocking, reference Q6 shape) /
FAILED (blocking) / ERROR.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Sequence

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PASSED = "PASSED"
WARNING = "WARNING"
FAILED = "FAILED"
ERROR = "ERROR"


@dataclass
class DQCheckResult:
    check_name: str
    column: str
    status: str
    metric: float | None
    threshold: float | None
    details: str = ""

    @property
    def blocking_failure(self) -> bool:
        return self.status in (FAILED, ERROR)


@dataclass
class DQGateResult:
    layer: str
    run_id: str
    results: list[DQCheckResult] = field(default_factory=list)

    @property
    def passed(self) -> bool:
        return not any(r.blocking_failure for r in self.results)

    def to_rows(self) -> list[dict[str, Any]]:
        return [
            {
                "run_id": self.run_id,
                "layer": self.layer,
                "check_name": r.check_name,
                "column": r.column,
                "status": r.status,
                "metric": r.metric,
                "threshold": r.threshold,
                "details": r.details,
            }
            for r in self.results
        ]


class BaseCheck:
    """A check contributes uniquely-aliased agg expressions and turns the
    collected row back into a :class:`DQCheckResult`."""

    name: str = "check"
    column: str = ""
    severity: str = FAILED  # status to assign on violation

    def agg_exprs(self, idx: int) -> list[Column]:
        raise NotImplementedError

    def evaluate(self, row: Row, idx: int) -> DQCheckResult:
        raise NotImplementedError

    def _status(self, ok: bool) -> str:
        return PASSED if ok else self.severity


@dataclass
class Completeness(BaseCheck):
    col: str
    min_rate: float = 1.0
    severity: str = FAILED

    def __post_init__(self) -> None:
        self.name = f"completeness({self.col})"
        self.column = self.col

    def agg_exprs(self, idx: int) -> list[Column]:
        return [
            F.avg(F.when(F.col(self.col).isNull(), 0.0).otherwise(1.0)).alias(
                f"m{idx}_rate"
            )
        ]

    def evaluate(self, row: Row, idx: int) -> DQCheckResult:
        rate = row[f"m{idx}_rate"]
        ok = rate is not None and rate >= self.min_rate
        return DQCheckResult(
            self.name, self.col, self._status(ok), rate, self.min_rate,
            f"non-null rate {rate} vs >= {self.min_rate}",
        )


@dataclass
class Containment(BaseCheck):
    col: str
    allowed: Sequence[str]
    min_rate: float = 1.0
    severity: str = FAILED

    def __post_init__(self) -> None:
        self.name = f"containment({self.col})"
        self.column = self.col

    def agg_exprs(self, idx: int) -> list[Column]:
        # compliance over ALL rows (Deequ/Glue-DQ semantics): NULL isin
        # yields NULL, which avg() would silently EXCLUDE — a 99%-NULL
        # column must not pass containment at min_rate=1.0. A NULL value
        # is not in the allowed set; completeness remains the separate
        # dimension that says WHY.
        in_set = F.coalesce(
            F.col(self.col).isin(list(self.allowed)), F.lit(False)
        )
        return [F.avg(in_set.cast("double")).alias(f"m{idx}_rate")]

    def evaluate(self, row: Row, idx: int) -> DQCheckResult:
        rate = row[f"m{idx}_rate"]
        ok = rate is not None and rate >= self.min_rate
        return DQCheckResult(
            self.name, self.col, self._status(ok), rate, self.min_rate,
            f"in-set rate {rate} vs >= {self.min_rate} (allowed={list(self.allowed)})",
        )


@dataclass
class Uniqueness(BaseCheck):
    """distinct/total over the key columns. NULL keys are DELIBERATELY
    excluded from countDistinct while total keeps them, so any NULL-keyed
    row lowers the rate: the reference semantics are "a null id is not
    unique" (see tests/test_dq_engine.py::test_null_ids_flip_completeness_only),
    not "nulls are exempt from the key contract"."""

    cols: Sequence[str]
    min_rate: float = 1.0
    severity: str = FAILED

    def __post_init__(self) -> None:
        self.name = f"uniqueness({','.join(self.cols)})"
        self.column = ",".join(self.cols)

    def agg_exprs(self, idx: int) -> list[Column]:
        return [
            F.countDistinct(*[F.col(c) for c in self.cols]).alias(f"m{idx}_distinct"),
            F.count(F.lit(1)).alias(f"m{idx}_total"),
        ]

    def evaluate(self, row: Row, idx: int) -> DQCheckResult:
        distinct, total = row[f"m{idx}_distinct"], row[f"m{idx}_total"]
        rate = (distinct / total) if total else None
        ok = rate is not None and rate >= self.min_rate
        return DQCheckResult(
            self.name, self.column, self._status(ok), rate, self.min_rate,
            f"{distinct}/{total} distinct",
        )


@dataclass
class RangeCheck(BaseCheck):
    col: str
    min_value: float | None = None
    max_value: float | None = None
    severity: str = FAILED

    def __post_init__(self) -> None:
        self.name = f"range({self.col})"
        self.column = self.col

    def agg_exprs(self, idx: int) -> list[Column]:
        return [
            F.min(self.col).alias(f"m{idx}_min"),
            F.max(self.col).alias(f"m{idx}_max"),
        ]

    def evaluate(self, row: Row, idx: int) -> DQCheckResult:
        lo, hi = row[f"m{idx}_min"], row[f"m{idx}_max"]
        ok = True
        if lo is None or hi is None:
            ok = False
        else:
            if self.min_value is not None and lo < self.min_value:
                ok = False
            if self.max_value is not None and hi > self.max_value:
                ok = False
        return DQCheckResult(
            self.name, self.col, self._status(ok), None, None,
            f"observed [{lo}, {hi}] vs [{self.min_value}, {self.max_value}]",
        )


@dataclass
class Recompute(BaseCheck):
    """Accuracy-by-recomputation: rate of rows where ``predicate`` holds
    (reference Q7 length_delta == new - old, Q8 is_anonymous derivation)."""

    check_id: str
    predicate: Column
    min_rate: float = 0.99
    severity: str = FAILED

    def __post_init__(self) -> None:
        self.name = f"recompute({self.check_id})"
        self.column = self.check_id

    def agg_exprs(self, idx: int) -> list[Column]:
        return [
            F.avg(self.predicate.cast("double")).alias(f"m{idx}_rate"),
        ]

    def evaluate(self, row: Row, idx: int) -> DQCheckResult:
        rate = row[f"m{idx}_rate"]
        ok = rate is not None and rate >= self.min_rate
        return DQCheckResult(
            self.name, self.column, self._status(ok), rate, self.min_rate,
            f"predicate-hold rate {rate} vs >= {self.min_rate}",
        )


@dataclass
class CrossRowCheck(BaseCheck):
    """Cross-column consistency: count of violating rows must be 0
    (reference Q11 total_events >= unique_users)."""

    check_id: str
    violation: Column
    max_violations: int = 0
    severity: str = FAILED

    def __post_init__(self) -> None:
        self.name = f"cross_row({self.check_id})"
        self.column = self.check_id

    def agg_exprs(self, idx: int) -> list[Column]:
        return [F.sum(self.violation.cast("long")).alias(f"m{idx}_viol")]

    def evaluate(self, row: Row, idx: int) -> DQCheckResult:
        viol = row[f"m{idx}_viol"] or 0
        ok = viol <= self.max_violations
        return DQCheckResult(
            self.name, self.column, self._status(ok), float(viol),
            float(self.max_violations), f"{viol} violating rows",
        )


class DQSuite:
    """Compile checks into one aggregation pass and evaluate (Q15)."""

    def __init__(self, layer: str, checks: Sequence[BaseCheck]):
        self.layer = layer
        self.checks = list(checks)

    def run(self, df: DataFrame, run_id: str) -> DQGateResult:
        exprs: list[Column] = []
        for i, c in enumerate(self.checks):
            exprs.extend(c.agg_exprs(i))
        gate = DQGateResult(layer=self.layer, run_id=run_id)
        if not exprs:
            return gate
        try:
            row = df.agg(*exprs).collect()[0]
        except Exception as exc:  # degraded rows -> ERROR results, gate blocks
            for c in self.checks:
                gate.results.append(
                    DQCheckResult(c.name, c.column, ERROR, None, None, str(exc)[:200])
                )
            return gate
        for i, c in enumerate(self.checks):
            try:
                gate.results.append(c.evaluate(row, i))
            except Exception as exc:
                gate.results.append(
                    DQCheckResult(c.name, c.column, ERROR, None, None, str(exc)[:200])
                )
        return gate


RESULTS_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("layer", T.StringType()),
        T.StructField("check_name", T.StringType()),
        T.StructField("column", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("metric", T.DoubleType()),
        T.StructField("threshold", T.DoubleType()),
        T.StructField("details", T.StringType()),
    ]
)


def literal_rows_df(
    spark: SparkSession, rows: Sequence[dict[str, Any]], schema: T.StructType
) -> DataFrame:
    """A few driver-built rows as a one-partition DataFrame built in the
    JVM: one literal struct per row, inlined over a one-row range.

    ``spark.createDataFrame`` on a Python list plans a Python RDD, so the
    first write of it starts the Python worker pool — seconds of start-up
    for a handful of audit rows, in a job nothing else in the medallion
    cycle needs. Literals also need no ``repartition(1)`` to land in one
    file: the range has one partition. The array cast applies the
    schema's names and (nullable) field types, so every file written
    from here has the same parquet schema, empty ``rows`` included."""
    structs = [
        F.struct(*[F.lit(r[f.name]).cast(f.dataType) for f in schema.fields])
        for r in rows
    ]
    return spark.range(0, 1, 1, 1).select(
        F.inline(F.array(*structs).cast(T.ArrayType(schema)))
    )


def results_df(spark: SparkSession, gate: DQGateResult) -> DataFrame:
    """Materialize gate results for audit persistence (reference S13/Q16,
    ``dq_utils.py:154-196``)."""
    return literal_rows_df(spark, gate.to_rows(), RESULTS_SCHEMA)
