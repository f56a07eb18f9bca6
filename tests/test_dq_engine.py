"""DQ engine behavior: corrupted fixtures must flip exactly the
intended checks (SURVEY §5 test plan; reference blocking matrix at
docs/ARCHITECTURE.md:95-109)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from wikistream_event_data_pipeline_aws_spark.dq import (
    Completeness,
    Containment,
    CrossRowCheck,
    DQSuite,
    RangeCheck,
    Recompute,
    Uniqueness,
    profile_columns,
)
from wikistream_event_data_pipeline_aws_spark.dq.profiler import detect_drift


@pytest.fixture()
def clean_df(spark):
    rows = [
        (i, dt.datetime(2024, 1, 1 + i % 3, i % 24), i % 7, ["click", "view"][i % 2], float(i))
        for i in range(100)
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def suite():
    return DQSuite(
        "bronze",
        [
            Completeness("event_id", 1.0),
            Completeness("event_type", 0.95),
            Containment("event_type", ["click", "view", "purchase"]),
            Uniqueness(["event_id"], 1.0),
            RangeCheck("value", min_value=0.0),
            Recompute("value_nonneg", F.col("value") >= 0, 0.99),
        ],
    )


def test_clean_data_passes(clean_df):
    gate = suite().run(clean_df, "run1")
    assert gate.passed, [r for r in gate.results if r.blocking_failure]
    assert len(gate.results) == 6
    assert all(r.status == "PASSED" for r in gate.results)


def test_null_ids_flip_completeness_only(clean_df, spark):
    bad = clean_df.withColumn(
        "event_id", F.when(F.col("event_id") < 10, None).otherwise(F.col("event_id"))
    )
    gate = suite().run(bad, "run2")
    failed = {r.check_name for r in gate.results if r.blocking_failure}
    # null ids also reduce distinct count < total? no: nulls excluded from
    # countDistinct but total stays -> uniqueness drops too. That matches the
    # reference semantics (id null => not unique).
    assert "completeness(event_id)" in failed
    assert not gate.passed


def test_bad_category_flips_containment(clean_df):
    bad = clean_df.withColumn(
        "event_type",
        F.when(F.col("event_id") % 10 == 0, "weird").otherwise(F.col("event_type")),
    )
    gate = suite().run(bad, "run3")
    failed = {r.check_name for r in gate.results if r.blocking_failure}
    assert failed == {"containment(event_type)"}


def test_duplicate_ids_flip_uniqueness(clean_df):
    bad = clean_df.withColumn("event_id", F.col("event_id") % 50)
    gate = suite().run(bad, "run4")
    failed = {r.check_name for r in gate.results if r.blocking_failure}
    assert failed == {"uniqueness(event_id)"}


def test_negative_values_flip_range_and_recompute(clean_df):
    bad = clean_df.withColumn(
        "value", F.when(F.col("event_id") < 5, -1.0).otherwise(F.col("value"))
    )
    gate = suite().run(bad, "run5")
    failed = {r.check_name for r in gate.results if r.blocking_failure}
    assert failed == {"range(value)", "recompute(value_nonneg)"}


def test_cross_row_check(spark):
    agg = spark.createDataFrame(
        [(10, 3), (5, 9)], "total_events long, unique_users long"
    )
    gate = DQSuite(
        "gold",
        [CrossRowCheck("events_ge_users", F.col("total_events") < F.col("unique_users"))],
    ).run(agg, "run6")
    assert not gate.passed
    assert gate.results[0].metric == 1.0


def test_profile_and_drift(clean_df):
    profs = profile_columns(clean_df, ["value", "event_type"])
    by_col = {p.column: p for p in profs}
    assert by_col["value"].null_rate == 0.0
    assert by_col["value"].min == 0.0
    assert by_col["value"].max == 99.0
    assert by_col["value"].p50 is not None

    corrupted = clean_df.withColumn(
        "value", F.when(F.col("event_id") < 30, None).otherwise(F.col("value"))
    )
    profs2 = profile_columns(corrupted, ["value"])
    drift = detect_drift(profs, profs2)
    assert drift[0].status == "ALERT"  # null rate 0 -> 0.30


def test_audit_roundtrip(clean_df, spark, tmp_path):
    from wikistream_event_data_pipeline_aws_spark.dq.audit import AuditWriter

    w = AuditWriter(str(tmp_path))
    ok_gate = suite().run(clean_df, "run_001")
    w.write_gate(spark, ok_gate, "2024-01-01")
    assert w.latest_gate_blocked(spark, "bronze") is False

    bad = clean_df.withColumn("event_id", F.lit(None).cast("long"))
    bad_gate = suite().run(bad, "run_002")
    w.write_gate(spark, bad_gate, "2024-01-02")
    assert w.latest_gate_blocked(spark, "bronze") is True
    assert w.latest_gate_blocked(spark, "silver") is None


def test_audit_appends_read_back_across_files(clean_df, spark, tmp_path):
    """Each gate append is its own parquet file: one whose
    metric/threshold are all NULL (a RangeCheck gate), one where they
    are set, and one whose literal columns are NON-nullable (a bare
    ``F.lit`` build, no schema cast). Read together they keep the audit
    schema, and the latest-run rollup still spans every file."""
    from wikistream_event_data_pipeline_aws_spark.dq.audit import AuditWriter

    w = AuditWriter(str(tmp_path))
    range_gate = DQSuite("bronze", [RangeCheck("value", min_value=0.0)]).run(clean_df, "run_001")
    assert [(r.metric, r.threshold) for r in range_gate.results] == [(None, None)]
    w.write_gate(spark, range_gate, "2024-01-01")
    assert w.latest_gate_blocked(spark, "bronze") is False

    bad = clean_df.withColumn("event_id", F.lit(None).cast("long"))
    w.write_gate(spark, suite().run(bad, "run_002"), "2024-01-02")
    assert w.latest_gate_blocked(spark, "bronze") is True

    row = {
        "run_id": "run_003", "check_name": "completeness(event_id)",
        "column": "event_id", "status": "PASSED", "metric": 1.0,
        "threshold": 1.0, "details": "ok", "run_date": "2024-01-03", "layer": "bronze",
    }
    non_null = spark.range(0, 1, 1, 1).select(*[F.lit(v).alias(k) for k, v in row.items()])
    assert not any(f.nullable for f in non_null.schema.fields)
    non_null.write.mode("append").partitionBy("run_date", "layer").parquet(
        str(tmp_path / "dq_audit" / "quality_results")
    )
    assert w.latest_gate_blocked(spark, "bronze") is False

    res = w.read_results(spark)
    types = dict(res.dtypes)
    assert (types["metric"], types["threshold"]) == ("double", "double")
    assert all(types[c] == "string" for c in ("run_id", "status", "details", "run_date", "layer"))
    by_run = {}
    for r in res.collect():
        by_run.setdefault(r.run_id, []).append(r)
    assert sorted(by_run) == ["run_001", "run_002", "run_003"]
    assert [(r.metric, r.threshold) for r in by_run["run_001"]] == [(None, None)]
    rates = {r.check_name: (r.status, r.metric, r.threshold) for r in by_run["run_002"]}
    assert rates["completeness(event_id)"] == ("FAILED", 0.0, 1.0)
    assert [(r.metric, r.threshold, r.run_date) for r in by_run["run_003"]] == [(1.0, 1.0, "2024-01-03")]


def test_dq_profile_value_empty_events(spark, tmp_path):
    """Zero input rows: the profile short-circuits to a null-filled row
    instead of TypeError-ing on None histogram bounds."""
    from wikistream_event_data_pipeline_aws_spark.plans.dq import dq_profile_value

    empty = spark.createDataFrame(
        [],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    empty.write.parquet(str(tmp_path / "events.parquet"))
    row = dq_profile_value(spark, str(tmp_path)).collect()[0]
    assert row["n"] == 0
    assert row["min_cents"] is None and row["p95_cents"] is None


def test_dq_queries_keep_oracle_parity_on_dirty_data(spark, sf_dir, tmp_path):
    """Round-5 review: the DQ family is the dirty-data component, yet
    several of its queries only agreed with their oracles on CLEAN
    fixtures — NULL value crashed the profile's driver-side histogram
    sort, NULL keys were dropped by bare multi-column countDistinct
    (DuckDB counts the tuple), NULL comparisons were skipped by
    sum((~match)) while the oracle's CASE counted them, and DuckDB
    concat() skips NULLs where F.concat propagates. This test replays
    the driver's parity check on a corpus WITH nulls."""
    import duckdb

    from wikistream_event_data_pipeline_aws_spark.registry import oracles, queries
    from tests.oracle_harness import compare

    dirty = str(tmp_path)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").limit(500)
    (
        ev.withColumn(
            "value", F.when(F.col("event_id") % 7 == 0, None).otherwise(F.col("value"))
        )
        .withColumn(
            "user_id", F.when(F.col("event_id") % 11 == 0, None).otherwise(F.col("user_id"))
        )
        .coalesce(1)
        .write.parquet(f"{dirty}/events.parquet")
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    (
        docs.withColumn(
            "text", F.when(F.col("doc_id") % 13 == 0, None).otherwise(F.col("text"))
        )
        .coalesce(1)
        .write.parquet(f"{dirty}/documents.parquet")
    )

    con = duckdb.connect()
    for t in ("events", "documents"):
        # Spark writes a directory of part files; glob them for DuckDB
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{dirty}/{t}.parquet/*.parquet')"
        )
    qs, osql = queries(), oracles()
    for name in ("dq_profile_value", "dq_uniqueness", "dq_accuracy_recompute",
                 "dq_completeness", "quality_flags"):
        probs = compare(qs[name](spark, dirty), con.execute(osql[name]).df())
        assert not probs, f"{name}: {probs}"
