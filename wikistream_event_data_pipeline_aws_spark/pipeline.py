"""Medallion pipeline runner — the engine's replacement for the
reference's self-looping Step Functions orchestrator
(/root/reference ``infrastructure/terraform/modules/orchestration/templates/
batch_pipeline.json.tftpl:2-427``): bronze -> bronze DQ gate -> silver ->
silver DQ gate (+ profiling/drift) -> gold -> gold DQ gate, fail-fast on
any blocking gate, with every gate's evidence appended to the DQ audit
tables (Q15/Q16) and the gold stage consulting the audit trail for
upstream status (Q12).

Differences from the reference, by design:
- jobs are in-process functions over DataFrames, not EMR steps — the
  exit-code dataflow contract becomes a :class:`PipelineReport`;
- storage is the parquet upsert backend (``operators/merge.py``); on a
  cluster the same steps target Iceberg/Delta MERGE with nothing else
  changing;
- the gold stage re-reads the risk_scores table it just merged before
  building the daily summary — preserving the reference's intra-job
  inter-table dependency (``gold_batch_job.py:327-329``).

Scale: each stage is one or two shuffles keyed on its merge keys; bronze
and silver tables are partitioned by ``event_date`` so each incremental
run prunes to its lookback window, exactly like the reference's
partition-predicate scans (S6).
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .catalog import DEFAULT_SF_DIR, load_table
from .dq.audit import AuditWriter
from .dq.checks import (
    WARNING,
    Completeness,
    Containment,
    CrossRowCheck,
    DQGateResult,
    DQSuite,
    RangeCheck,
    Recompute,
    Uniqueness,
    literal_rows_df,
)
from .dq.profiler import profile_columns
from .operators.merge import dedup_keep_one, upsert_parquet
from .plans.wiki import (
    _risk_projection,
    daily_summary_df,
    hourly_stats_df,
    user_daily_metrics_df,
    with_time_cols,
)

EVENT_TYPES = ("click", "view", "purchase", "signup", "error", "unknown")
SCHEMA_VERSION = "1.0"
PROFILE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("column", T.StringType()),
        T.StructField("null_rate", T.DoubleType()),
        T.StructField("approx_distinct", T.LongType()),
        T.StructField("mean", T.DoubleType()),
    ]
)


@dataclass
class StepReport:
    name: str
    status: str  # OK | BLOCKED | SKIPPED
    rows: int = 0
    seconds: float = 0.0
    gate: DQGateResult | None = None
    details: str = ""


@dataclass
class PipelineReport:
    run_id: str
    steps: list[StepReport] = field(default_factory=list)

    @property
    def passed(self) -> bool:
        return all(s.status == "OK" for s in self.steps)

    def step(self, name: str) -> StepReport:
        return next(s for s in self.steps if s.name == name)


# -- transforms ---------------------------------------------------------------


def bronze_transform(raw: DataFrame, run_id: str) -> DataFrame:
    """P3/P6/P7/P8 + metadata stamping (P15): malformed rows filtered,
    partition columns derived, lineage stamped deterministically (the
    run_id, not current_timestamp, so replays are bit-identical)."""
    e = raw.withColumn("event_type", F.coalesce("event_type", F.lit("unknown")))
    e = with_time_cols(e.filter(F.col("event_id").isNotNull() & F.col("ts").isNotNull()))
    return e.withColumn("schema_version", F.lit(SCHEMA_VERSION)).withColumn(
        "ingest_run_id", F.lit(run_id)
    )


def silver_transform(bronze: DataFrame) -> DataFrame:
    """P9-P14 analogues for the events domain: JSON prop extraction,
    derived flags, validity gate, deterministic keep-first dedup (D2 done
    right — row_number, not arbitrary dropDuplicates)."""
    s = (
        bronze.withColumn("prop_k", F.get_json_object("props", "$.k").cast("int"))
        .withColumn("is_high_value", F.col("value") > 100)
        .withColumn("is_anonymous", F.col("user_id").isNull())
        .withColumn(
            "is_valid",
            F.col("event_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_type").isin(*EVENT_TYPES),
        )
    )
    s = s.filter(F.col("is_valid"))
    return dedup_keep_one(s, ["event_id"], ["ts", "ingest_run_id"], keep="first")


# -- gates --------------------------------------------------------------------


def bronze_gate_suite() -> DQSuite:
    return DQSuite(
        "bronze",
        [
            Completeness("event_id"),
            Completeness("ts"),
            Completeness("event_type"),
            Completeness("user_id", min_rate=0.90, severity=WARNING),
            Uniqueness(["event_id"], min_rate=0.95),
            RangeCheck("event_hour", 0, 23),
            Containment("event_type", EVENT_TYPES),
        ],
    )


def silver_gate_suite() -> DQSuite:
    return DQSuite(
        "silver",
        [
            Completeness("event_id"),
            Uniqueness(["event_id"], min_rate=1.0),
            Recompute("is_high_value", F.col("is_high_value") == (F.col("value") > 100)),
            CrossRowCheck("valid_only", ~F.col("is_valid")),
            Containment("event_type", EVENT_TYPES),
        ],
    )


def gold_gate_suites() -> tuple[DQSuite, DQSuite]:
    hourly = DQSuite(
        "gold",
        [
            CrossRowCheck("events_ge_users", F.col("total_events") < F.col("unique_users")),
            RangeCheck("error_pct", 0, 100),
        ],
    )
    risk = DQSuite(
        "gold",
        [
            RangeCheck("risk_score", 0, 100),
            Containment("risk_level", ("LOW", "MEDIUM", "HIGH")),
        ],
    )
    return hourly, risk


# -- runner -------------------------------------------------------------------


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        metrics_sink=None,
        alert_sink=None,
    ):
        self.spark = spark
        self.warehouse = warehouse_dir
        self.audit = AuditWriter(warehouse_dir)
        self.metrics = metrics_sink
        self.alerts = alert_sink

    def _emit(self, name: str, value: float, **tags: str) -> None:
        # fire-and-forget: observability must never fail a data job
        if self.metrics is not None:
            try:
                self.metrics.emit(name, value, tags)
            except Exception:
                pass

    def _alert(self, subject: str, body: str) -> None:
        if self.alerts is not None:
            try:
                self.alerts.alert(subject, body)
            except Exception:
                pass

    def table_path(self, layer: str, name: str) -> str:
        return os.path.join(self.warehouse, layer, name)

    def read_table(self, layer: str, name: str) -> DataFrame:
        return self.spark.read.parquet(self.table_path(layer, name))

    # each step returns a StepReport; a gate BLOCKS by returning status
    # "BLOCKED", which run() turns into skipping the remaining steps

    @staticmethod
    def _new_run_id(tag: str = "") -> str:
        """Time-ordered run id: a zero-padded nanosecond prefix makes
        lexicographic order == start order, which the audit layer's
        "latest run" lookup (ORDER BY run_id DESC,
        dq/audit.latest_gate_blocked) depends on. A random uuid here
        made that lookup pick an arbitrary run: a past FAILED gate
        could permanently block (or mask) the current run."""
        suffix = tag or uuid.uuid4().hex[:8]
        return f"{time.time_ns():020d}-{suffix}"

    def run(
        self,
        source: DataFrame | None = None,
        sf_dir: str | None = None,
        run_id: str | None = None,
        run_date: str = "1970-01-01",
    ) -> PipelineReport:
        """One cycle: bronze -> gate -> silver -> gate -> gold -> gate.
        ``source`` overrides the events table (fixture injection)."""
        if source is None:
            source = load_table(self.spark, sf_dir or DEFAULT_SF_DIR, "events")
        run_id = run_id or self._new_run_id()
        report = PipelineReport(run_id=run_id)

        steps = [
            ("bronze", lambda: self._bronze(source, run_id)),
            ("bronze_dq", lambda: self._gate(bronze_gate_suite(), self.read_table("bronze", "events"), run_id, run_date)),
            ("silver", lambda: self._silver(run_id)),
            ("silver_dq", lambda: self._silver_gate(run_id, run_date)),
            ("gold", lambda: self._gold(run_id)),
            ("gold_dq", lambda: self._gold_gate(run_id, run_date)),
        ]
        blocked = False
        for name, fn in steps:
            if blocked:
                report.steps.append(StepReport(name, "SKIPPED"))
                continue
            t0 = time.perf_counter()
            step = fn()
            step.name = name
            step.seconds = round(time.perf_counter() - t0, 3)
            report.steps.append(step)
            self._emit(f"pipeline.{name}.seconds", step.seconds, run_id=run_id)
            self._emit(f"pipeline.{name}.rows", float(step.rows), run_id=run_id)
            if step.status != "OK":
                blocked = True
                detail = step.details
                if step.gate is not None:
                    detail = "; ".join(
                        f"{r.check_name}={r.status}"
                        for r in step.gate.results
                        if r.blocking_failure
                    )
                self._alert(f"pipeline {name} BLOCKED", f"run {run_id}: {detail}")
        return report

    def run_loop(
        self,
        cycles: int,
        source: DataFrame | None = None,
        sf_dir: str | None = None,
        run_date: str = "1970-01-01",
    ) -> list[PipelineReport]:
        """Self-looping mode (the Step Functions re-trigger, minus the
        wait state): each cycle gets a fresh run_id; merges make
        re-processing idempotent."""
        # fresh time-ordered ids per invocation: reusing bare cycle0000
        # ids across run_loop calls conflated rows from distinct runs in
        # the append-only audit tables (max(blocked) over merged rows
        # blocked gold forever after one historical failure)
        return [
            self.run(
                source=source,
                sf_dir=sf_dir,
                run_id=self._new_run_id(f"cycle{i:04d}"),
                run_date=run_date,
            )
            for i in range(cycles)
        ]

    # -- steps ---------------------------------------------------------------

    def _bronze(self, source: DataFrame, run_id: str) -> StepReport:
        bronze = bronze_transform(source, run_id)
        n = upsert_parquet(
            self.spark,
            self.table_path("bronze", "events"),
            bronze,
            keys=["event_id"],
            order_by=["ts", "ingest_run_id"],
            partition_by=["event_date"],
        )
        return StepReport("bronze", "OK", rows=n)

    def _gate(
        self, suite: DQSuite, df: DataFrame, run_id: str, run_date: str
    ) -> StepReport:
        gate = suite.run(df, run_id)
        self.audit.write_gate(self.spark, gate, run_date)
        status = "OK" if gate.passed else "BLOCKED"
        return StepReport(suite.layer + "_dq", status, gate=gate)

    def _silver(self, run_id: str) -> StepReport:
        silver = silver_transform(self.read_table("bronze", "events"))
        n = upsert_parquet(
            self.spark,
            self.table_path("silver", "events"),
            silver,
            keys=["event_id"],
            order_by=["ts", "ingest_run_id"],
            partition_by=["event_date"],
        )
        return StepReport("silver", "OK", rows=n)

    def _silver_gate(self, run_id: str, run_date: str) -> StepReport:
        silver = self.read_table("silver", "events")
        step = self._gate(silver_gate_suite(), silver, run_id, run_date)
        # Q13/Q14: profile + drift vs stored baseline, persisted like the
        # reference's profile_metrics table
        profiles = profile_columns(silver, ["value", "user_id", "prop_k"])
        prof_rows = [
            {
                "run_id": run_id,
                "column": p.column,
                "null_rate": p.null_rate,
                "approx_distinct": p.approx_distinct,
                "mean": p.mean,
            }
            for p in profiles
        ]
        prof_path = os.path.join(self.warehouse, "dq_audit", "profile_metrics")
        literal_rows_df(self.spark, prof_rows, PROFILE_SCHEMA).write.mode(
            "append"
        ).parquet(prof_path)
        drift_notes = []
        baseline = (
            self.spark.read.parquet(prof_path)
            .filter(F.col("run_id") != run_id)
            .groupBy("column")
            .agg(F.avg("null_rate").alias("base_null_rate"))
            .collect()
        )
        base = {r["column"]: r["base_null_rate"] for r in baseline}
        for p in profiles:
            if p.column in base and abs(p.null_rate - base[p.column]) > 0.20:
                drift_notes.append(f"{p.column}: null_rate drift {p.null_rate} vs {base[p.column]}")
        step.details = "; ".join(drift_notes)
        return step

    def _gold(self, run_id: str) -> StepReport:
        # Q12: consult the audit trail before building gold
        for upstream in ("bronze", "silver"):
            if self.audit.latest_gate_blocked(self.spark, upstream):
                return StepReport("gold", "BLOCKED", details=f"upstream {upstream} gate failed")
        silver = self.read_table("silver", "events")
        hs = hourly_stats_df(silver)
        n1 = upsert_parquet(
            self.spark, self.table_path("gold", "hourly_stats"), hs,
            keys=["event_date", "event_hour"], partition_by=["event_date"],
        )
        risk = _risk_projection(user_daily_metrics_df(silver))
        n2 = upsert_parquet(
            self.spark, self.table_path("gold", "risk_scores"), risk,
            keys=["event_date", "user_id"], partition_by=["event_date"],
        )
        # intra-job dependency: summary reads the just-merged risk table
        risk_read = self.read_table("gold", "risk_scores")
        ds = daily_summary_df(silver, risk_read)
        n3 = upsert_parquet(
            self.spark, self.table_path("gold", "daily_summary"), ds,
            keys=["event_date"],
        )
        return StepReport("gold", "OK", rows=n1 + n2 + n3)

    def _gold_gate(self, run_id: str, run_date: str) -> StepReport:
        hourly_suite, risk_suite = gold_gate_suites()
        g1 = hourly_suite.run(self.read_table("gold", "hourly_stats"), run_id)
        g2 = risk_suite.run(self.read_table("gold", "risk_scores"), run_id)
        gate = DQGateResult(layer="gold", run_id=run_id, results=g1.results + g2.results)
        self.audit.write_gate(self.spark, gate, run_date)
        return StepReport("gold_dq", "OK" if gate.passed else "BLOCKED", gate=gate)
