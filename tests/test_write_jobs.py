"""Spark-job budget of the medallion cycle's and the bronze stream's writes.

A cold ``upsert_parquet`` never reads its target, so it writes the source
in one job: no eager checkpoint, no separate ``count()``. A DQ gate's
audit append is one job of one task: its rows are built in the JVM as a
single partition, with no ``repartition(1)`` shuffle. A warm
``insert_only_parquet`` materializes its source once, reads the target's
keys with a pinned schema and checkpoints the anti-join: 4 jobs, 3 for a
full replay, so a streaming drain into it costs 2 jobs for its first
trigger and 4 for each later one. Jobs are counted per job group through
``sc.statusTracker()``. Every streaming sink reads each micro-batch once:
its ``numInputRows`` equal the rows its source files hold.
"""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from wikistream_event_data_pipeline_aws_spark.dq.audit import AuditWriter
from wikistream_event_data_pipeline_aws_spark.dq.checks import (
    FAILED,
    PASSED,
    DQCheckResult,
    DQGateResult,
)
from wikistream_event_data_pipeline_aws_spark.operators.merge import (
    insert_only_parquet,
    upsert_parquet,
)
from wikistream_event_data_pipeline_aws_spark.operators.snapshots import read_snapshot
from wikistream_event_data_pipeline_aws_spark.streaming.ingest import (
    file_stream,
    hll_batch_registers,
    start_ann_signature_sink,
    start_hll_sink,
    start_histogram_sink,
    start_merge_sink,
    start_postings_sink,
    start_scd2_sink,
    start_snapshot_sink,
    start_validated_merge_sink,
)


def _group_jobs(spark, group):
    """The ids of the Spark jobs run under job group ``group``."""
    sc = spark.sparkContext
    # job events reach the status store through the asynchronous
    # listener bus; drain it so every job of the group is visible
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sc.statusTracker().getJobIdsForGroup(group)


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
    job_ids = _group_jobs(spark, group)
    tracker = sc.statusTracker()
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


def _events(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, pt string")


def _files(path):
    """(relpath, size, mtime_ns) of every file under ``path``."""
    out = set()
    for root, _, names in os.walk(path):
        for name in names:
            st = os.stat(os.path.join(root, name))
            out.add((os.path.relpath(os.path.join(root, name), path), st.st_size, st.st_mtime_ns))
    return out


def test_warm_partitioned_insert_is_four_jobs(spark, tmp_path):
    path = str(tmp_path / "t")
    first = [(1, "a", "d1"), (None, "n", "d1"), (2, "b", "d2")]
    insert_only_parquet(spark, path, _events(spark, first), ["k"], partition_by=["pt"])
    # the NULL key and k=2 exist already: the null-safe anti-join drops both
    batch = _events(spark, [(None, "n", "d1"), (2, "b", "d2"), (3, "c", "d2"), (4, "d", "d3")])
    n, jobs, _ = _run_counted(
        spark, lambda: insert_only_parquet(spark, path, batch, ["k"], partition_by=["pt"])
    )
    assert jobs <= 4  # materialize, anti-join checkpoint with its broadcast, append
    assert n == 2
    rows = spark.read.parquet(path).select("k", "v", "pt").collect()
    assert sorted(map(tuple, rows), key=str) == sorted(
        first + [(3, "c", "d2"), (4, "d", "d3")], key=str
    )


@pytest.mark.parametrize("partition_by", [["pt"], None], ids=["partitioned", "unpartitioned"])
def test_full_replay_is_three_jobs_and_writes_nothing(spark, tmp_path, partition_by):
    path = str(tmp_path / "t")
    batch = _events(spark, [(1, "a", "d1"), (None, "n", "d1"), (2, "b", "d2")])
    assert insert_only_parquet(spark, path, batch, ["k"], partition_by=partition_by) == 3
    before = _files(path)
    n, jobs, _ = _run_counted(
        spark, lambda: insert_only_parquet(spark, path, batch, ["k"], partition_by=partition_by)
    )
    assert (n, _files(path)) == (0, before)
    assert jobs <= 3  # materialize, anti-join checkpoint with its broadcast


def _landing(spark, tmp_path):
    """Three one-file micro-batches, 14 rows: every file after the first
    re-delivers one key of the file before."""
    landing = str(tmp_path / "landing")
    for i in range(3):
        rows = [(10 * i + j, f"v{i}", f"d{j % 2}") for j in range(4)]
        if i:
            rows.append((10 * (i - 1), f"v{i - 1}", "d0"))
        _events(spark, rows).coalesce(1).write.mode("append").parquet(landing)
    return file_stream(spark, landing, "k long, v string, pt string", max_files_per_trigger=1)


def test_merge_sink_drain_job_budget(spark, tmp_path):
    table = str(tmp_path / "bronze")
    q = start_merge_sink(
        _landing(spark, tmp_path), table, ["k"], str(tmp_path / "ckpt"),
        trigger={"availableNow": True}, partition_by=["pt"],
    )
    q.awaitTermination()
    # the streaming engine runs every job of the query under its run id
    assert len(_group_jobs(spark, str(q.runId))) <= 10  # 2 cold + 4 + 4
    # each micro-batch is read once: a second action on batch_df would
    # read its files again and count their rows again
    assert sum(p["numInputRows"] for p in q.recentProgress) == 14
    keys = [r.k for r in spark.read.parquet(table).collect()]
    assert sorted(keys) == sorted(10 * i + j for i in range(3) for j in range(4))


_NOW = {"availableNow": True}


def _scd2(spark, stream, out, ckpt):
    spark.createDataFrame(
        [(0, "old", "2024-01-01", "9999-12-31", True)],
        "k long, v string, valid_from string, valid_to string, is_current boolean",
    ).write.parquet(out)
    eff = F.when(F.col("pt") == "d0", "2024-01-02").otherwise("2024-01-03")
    return start_scd2_sink(
        stream.select("k", "v", eff.alias("eff")), out, ["k"], ["v"], ckpt,
        eff_date_col="eff", trigger=_NOW,
    )


def _ann(spark, stream, out, ckpt):
    vecs = stream.withColumn("embedding", F.array(F.col("k").cast("double"), F.lit(1.0)))
    return start_ann_signature_sink(vecs, out, ckpt, dim=2, id_col="k", trigger=_NOW)


def _registers(df):
    return sorted(map(tuple, df.select("bucket", "M").collect()))


def _keys(df):
    return sorted({r.k for r in df.collect()})


# sink -> (start(spark, stream, out, ckpt), landed(spark, out), expected(batch),
# jobs), where ``batch`` is the landing directory read as one static DataFrame
# and ``jobs`` the drain's budget (the ``streaming/ingest.py`` docstring's
# per-trigger counts over a first and two later triggers)
_SINKS = {
    "validated": (
        lambda spark, stream, out, ckpt: start_validated_merge_sink(
            stream, out, out + "_dlq", ["k"], ckpt, valid=F.col("k") % 2 == 0,
            trigger=_NOW, partition_by=["pt"],
        ),
        lambda spark, out: [_keys(spark.read.parquet(p)) for p in (out, out + "_dlq")],
        lambda batch: [_keys(batch.filter(F.col("k") % 2 == parity)) for parity in (0, 1)],
        23,
    ),
    "snapshot": (
        lambda spark, stream, out, ckpt: start_snapshot_sink(stream, out, ckpt, trigger=_NOW),
        lambda spark, out: read_snapshot(spark, out).count(),
        lambda batch: batch.count(),
        6,
    ),
    "postings": (
        lambda spark, stream, out, ckpt: start_postings_sink(
            stream, out, ckpt, id_col="k", text_col="v", trigger=_NOW
        ),
        lambda spark, out: _keys(spark.read.parquet(out).withColumnRenamed("doc_id", "k")),
        _keys,
        13,
    ),
    "histogram": (
        lambda spark, stream, out, ckpt: start_histogram_sink(
            stream, out, "k", 0.0, 32.0, ckpt, n_bins=4, trigger=_NOW
        ),
        lambda spark, out: spark.read.parquet(out).agg(F.sum("cnt")).first()[0],
        lambda batch: batch.count(),
        13,
    ),
    "ann_signature": (
        _ann,
        lambda spark, out: spark.read.parquet(out).count(),
        lambda batch: 3 * batch.select("k").distinct().count(),  # one row per table
        10,
    ),
    "hll": (
        lambda spark, stream, out, ckpt: start_hll_sink(stream, out, "k", "t", ckpt, m=16, trigger=_NOW),
        lambda spark, out: _registers(spark.read.parquet(out)),
        lambda batch: _registers(hll_batch_registers(batch, "k", "t", 16)),
        10,
    ),
    "scd2": (
        _scd2,
        lambda spark, out: _keys(spark.read.parquet(out).filter("is_current")),
        _keys,
        68,  # two effective dates per batch
    ),
}


@pytest.mark.parametrize("sink", list(_SINKS))
def test_sink_reads_each_batch_once(spark, tmp_path, sink):
    start, landed, expected, jobs = _SINKS[sink]
    q = start(spark, _landing(spark, tmp_path), str(tmp_path / "out"), str(tmp_path / "ckpt"))
    q.awaitTermination()
    assert len(_group_jobs(spark, str(q.runId))) <= jobs
    # a guard or a second action on batch_df would read its files again
    assert sum(p["numInputRows"] for p in q.recentProgress) == 14
    batch = spark.read.parquet(str(tmp_path / "landing"))
    assert landed(spark, str(tmp_path / "out")) == expected(batch)
