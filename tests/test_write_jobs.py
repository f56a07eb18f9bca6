"""Spark-job budget of the medallion cycle's writes.

A cold ``upsert_parquet`` never reads its target, so it writes the source
in one job: no eager checkpoint, no separate ``count()``. A DQ gate's
audit append is one job of one task: its rows are built in the JVM as a
single partition, with no ``repartition(1)`` shuffle. Jobs are counted
per job group through ``sc.statusTracker()``.
"""

from __future__ import annotations

import uuid

from wikistream_event_data_pipeline_aws_spark.dq.audit import AuditWriter
from wikistream_event_data_pipeline_aws_spark.dq.checks import (
    FAILED,
    PASSED,
    DQCheckResult,
    DQGateResult,
)
from wikistream_event_data_pipeline_aws_spark.operators.merge import upsert_parquet


def _run_counted(spark, fn):
    """(result, jobs, tasks) of ``fn()``, its Spark jobs and tasks counted
    under a job group of its own."""
    sc = spark.sparkContext
    group = f"write-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status store through the asynchronous
    # listener bus; drain it so every job of the group is visible
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    tasks = sum(
        tracker.getStageInfo(stage).numTasks
        for job in job_ids
        for stage in tracker.getJobInfo(job).stageIds
    )
    return result, len(job_ids), tasks


def test_cold_unpartitioned_upsert_is_one_job(spark, tmp_path):
    source = spark.range(0, 500, 1, 4).withColumnRenamed("id", "k")
    path = str(tmp_path / "cold")
    n, jobs, _ = _run_counted(spark, lambda: upsert_parquet(spark, path, source, ["k"]))
    assert jobs == 1  # no checkpoint job, no count job: the write alone
    assert n == 500 == spark.read.parquet(path).count()


def test_audit_gate_write_is_one_job_one_task(spark, tmp_path):
    gate = DQGateResult(
        layer="bronze",
        run_id="run_1",
        results=[
            DQCheckResult("completeness(a)", "a", PASSED, 1.0, 1.0, "ok"),
            DQCheckResult("range(b)", "b", FAILED, None, None, "observed [0, 9]"),
            DQCheckResult("uniqueness(c)", "c", PASSED, 1.0, 0.95, "3/3 distinct"),
        ],
    )
    w = AuditWriter(str(tmp_path))
    _, jobs, tasks = _run_counted(spark, lambda: w.write_gate(spark, gate, "2024-01-01"))
    assert (jobs, tasks) == (1, 1)
    assert w.read_results(spark).count() == 3
