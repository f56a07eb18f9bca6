"""Pipeline-runner tests (SURVEY §5 plan items 2/3): golden medallion
flow, merge idempotency across cycles, and fail-fast gate blocking on
corrupted fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wikistream_event_data_pipeline_aws_spark.catalog import load_table
from wikistream_event_data_pipeline_aws_spark.pipeline import Pipeline
from wikistream_event_data_pipeline_aws_spark.plans.wiki import hourly_stats


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "warehouse")


def test_happy_path_matches_query_surface(spark, sf_dir, warehouse):
    p = Pipeline(spark, warehouse)
    report = p.run(sf_dir=sf_dir)
    assert report.passed, [
        (s.name, s.status, [r.details for r in (s.gate.results if s.gate else [])])
        for s in report.steps
    ]
    # gold hourly table == the registered hourly_stats query over the
    # same events (testdata events are all valid and key-unique, so the
    # medallion flow must be lossless)
    tbl = p.read_table("gold", "hourly_stats")
    q = hourly_stats(spark, sf_dir)
    t = {tuple(r) for r in tbl.select(*sorted(tbl.columns)).collect()}
    e = {tuple(r) for r in q.select(*sorted(q.columns)).collect()}
    assert t == e


def test_cycles_are_idempotent(spark, sf_dir, warehouse):
    p = Pipeline(spark, warehouse)
    reports = p.run_loop(cycles=2, sf_dir=sf_dir)
    assert all(r.passed for r in reports)
    bronze = p.read_table("bronze", "events")
    assert bronze.count() == bronze.select("event_id").distinct().count()
    gold = p.read_table("gold", "daily_summary")
    assert gold.count() == gold.select("event_date").distinct().count()
    # second cycle merged over the first: totals unchanged
    silver_n = p.read_table("silver", "events").count()
    assert silver_n == load_table(spark, sf_dir, "events").count()


def test_second_cycle_drifts_against_first_cycles_profile(spark, sf_dir, warehouse):
    """silver_dq appends each cycle's silver profile to profile_metrics
    and compares null rates against every OTHER run's stored rows, so in
    a two-cycle run_loop the second cycle's baseline is the first
    cycle's profile. Between the cycles half of the events lose their
    user_id (a JVM system property the source reads, set by the metrics
    sink when cycle 1 ends); cycle 2 must report user_id drift against
    the null rate cycle 1 stored."""
    prop = "wikistream.test.null_half_users"
    jsystem = spark._jvm.java.lang.System
    nulled = F.expr(f"reflect('java.lang.System', 'getProperty', '{prop}')") == "on"
    source = load_table(spark, sf_dir, "events").withColumn(
        "user_id",
        F.when(nulled & (F.col("event_id") % 2 == 0), F.lit(None)).otherwise(F.col("user_id")),
    )

    class NullUsersAfterFirstCycle:
        def emit(self, name, value, tags):
            if name == "pipeline.gold_dq.seconds":
                jsystem.setProperty(prop, "on")

    try:
        reports = Pipeline(spark, warehouse, metrics_sink=NullUsersAfterFirstCycle()).run_loop(
            cycles=2, source=source
        )
    finally:
        jsystem.clearProperty(prop)
    first, second = (r.step("silver_dq") for r in reports)
    assert first.status == second.status == "OK"
    assert first.details == ""  # no other run to compare against yet

    prof = spark.read.parquet(f"{warehouse}/dq_audit/profile_metrics")
    assert prof.dtypes == [
        ("run_id", "string"), ("column", "string"), ("null_rate", "double"),
        ("approx_distinct", "bigint"), ("mean", "double"),
    ]
    rates = {(r.run_id, r.column): r.null_rate for r in prof.collect()}
    base = rates[(reports[0].run_id, "user_id")]
    cur = rates[(reports[1].run_id, "user_id")]
    assert cur - base > 0.20
    assert second.details == f"user_id: null_rate drift {cur} vs {base}"


def test_corrupt_bronze_blocks_pipeline(spark, sf_dir, warehouse):
    events = load_table(spark, sf_dir, "events")
    # corruption must SURVIVE ingestion: duplicate keys are swallowed by
    # the idempotent merge (D3 working as intended) and null ids/types by
    # the malformed-row filter/defaulting — so plant fresh keys carrying
    # an out-of-vocabulary event type
    bad_types = (
        events.limit(200)
        .withColumn("event_id", F.col("event_id") + 10_000_000)
        .withColumn("event_type", F.lit("mystery"))
    )
    corrupted = events.unionByName(bad_types)
    p = Pipeline(spark, warehouse)
    report = p.run(source=corrupted)
    assert not report.passed
    names = {s.name: s.status for s in report.steps}
    assert names["bronze_dq"] == "BLOCKED"
    assert names["silver"] == "SKIPPED" and names["gold"] == "SKIPPED"
    failed = [r for r in report.step("bronze_dq").gate.results if r.status == "FAILED"]
    assert any("containment" in r.check_name for r in failed)
    # audit trail recorded the blocked run (Q12 contract)
    assert p.audit.latest_gate_blocked(spark, "bronze") is True


def test_gold_respects_upstream_audit_block(spark, sf_dir, warehouse):
    events = load_table(spark, sf_dir, "events")
    p = Pipeline(spark, warehouse)
    # first, poison the audit trail with a blocked bronze run
    corrupted = events.unionByName(
        events.limit(50)
        .withColumn("event_id", F.col("event_id") + 20_000_000)
        .withColumn("event_type", F.lit("mystery"))
    )
    r1 = p.run(source=corrupted)
    assert not r1.passed
    # a fresh gold-only attempt must refuse while the latest gate is blocked
    step = p._gold("manual")
    assert step.status == "BLOCKED" and "upstream" in step.details


def test_golden_gold_values(spark, warehouse):
    """Golden medallion test (SURVEY §5 item 2): a designed fixture with
    one user per risk band runs bronze->silver->gold and the gold tables
    must equal hand-computed values exactly — risk ladder scores, bands,
    alert flags, daily summary and platform health score.

    Fixture (all on 2024-03-01):
      user 1: 120 events, 5/hour over hours 0-23 -> velocity 40;
              6 errors -> 30; 5 distinct types -> 15; sum 1200 -> 15;
              score 100 HIGH, alert
      user 2: 60 events over hours 0-11 -> velocity 25; 2 errors -> 15;
              3 distinct types; sum 60 -> score 40 MEDIUM
      user 3: 6 views hour 10 -> all components 0 -> score 0 LOW
      anonymous: 4 clicks (user_id NULL) — excluded from risk, counted
              in daily totals; plus 1 exact-duplicate event_id that the
              merge/dedup path must collapse.
    """
    import datetime as dt

    import pytest as _pytest

    rows = []

    def ev(eid, hour, minute, user, etype, value):
        rows.append(
            (eid, dt.datetime(2024, 3, 1, hour, minute, 0), user, etype, value, '{"k": 1}')
        )

    eid = 0
    for i in range(120):  # user 1
        etype = (
            "error" if i < 6 else "purchase" if i < 11
            else ["click", "view", "signup"][i % 3]
        )
        ev(eid, i // 5, i % 5, 1, etype, 10.0)
        eid += 1
    for i in range(60):  # user 2
        etype = "error" if i < 2 else ["click", "view"][i % 2]
        ev(eid, i // 5, 10 + i % 5, 2, etype, 1.0)
        eid += 1
    for i in range(6):  # user 3
        ev(eid, 10, 20 + i, 3, "view", 2.0)
        eid += 1
    for i in range(4):  # anonymous
        ev(eid, 3, 30 + i, None, "click", 50.0)
        eid += 1
    rows.append(rows[-1])  # exact duplicate event_id -> must collapse

    src = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    p = Pipeline(spark, warehouse)
    report = p.run(source=src, run_date="2024-03-01")
    assert report.passed, [(s.name, s.status, s.details) for s in report.steps]

    risk = {
        r["user_id"]: r
        for r in p.read_table("gold", "risk_scores").collect()
    }
    assert set(risk) == {1, 2, 3}
    r1, r2, r3 = risk[1], risk[2], risk[3]
    assert (r1["velocity_score"], r1["error_score"], r1["spread_score"],
            r1["spend_score"]) == (40, 30, 15, 15)
    assert (r1["risk_score"], r1["risk_level"], r1["alert"]) == (100, "HIGH", True)
    assert (r2["velocity_score"], r2["error_score"], r2["spread_score"],
            r2["spend_score"]) == (25, 15, 0, 0)
    assert (r2["risk_score"], r2["risk_level"], r2["alert"]) == (40, "MEDIUM", False)
    assert (r3["risk_score"], r3["risk_level"], r3["alert"]) == (0, "LOW", False)

    [summary] = p.read_table("gold", "daily_summary").collect()
    assert summary["event_date"] == "2024-03-01"
    assert summary["total_events"] == 190
    assert summary["unique_users"] == 3
    assert summary["errors"] == 8
    assert summary["purchases"] == 5
    assert summary["sum_value"] == 1472.0
    # hour 10: user1 5 + user2 5 + user3 6 = 16 — the daily peak
    assert summary["peak_hour_events"] == 16
    assert summary["high_risk_users"] == 1
    assert summary["medium_risk_users"] == 1
    assert summary["max_risk_score"] == 100
    assert summary["error_rate_pct"] == _pytest.approx(800.0 / 190.0, rel=1e-12)
    assert summary["platform_health_score"] == _pytest.approx(
        100.0 - (800.0 / 190.0) * 2.0 - 5.0, rel=1e-12
    )


def test_latest_gate_follows_run_order_not_uuid_sort(spark, sf_dir, warehouse):
    """Round-5 review: run ids were random uuids, and the audit layer
    picks the 'latest' run by ORDER BY run_id DESC — lexicographic over
    uuid4 hex is arbitrary, so a past FAILED run could permanently
    block (or mask) the current run depending on how the ids happened
    to sort. Pipeline-generated ids are now time-prefixed: 'latest'
    means latest, and a clean run after a blocked one unblocks the
    gate (and vice versa, a new failure re-blocks it)."""
    from wikistream_event_data_pipeline_aws_spark.pipeline import (
        Pipeline,
        bronze_gate_suite,
    )

    events = load_table(spark, sf_dir, "events").limit(200)
    bad = events.withColumn("event_type", F.lit("mystery"))
    p = Pipeline(spark, warehouse)
    suite = bronze_gate_suite()

    ids = []
    for df, date in ((bad, "2024-01-01"), (events, "2024-01-02"), (bad, "2024-01-03")):
        rid = p._new_run_id()
        ids.append(rid)
        from wikistream_event_data_pipeline_aws_spark.plans.wiki import with_time_cols
        gate = suite.run(with_time_cols(df), rid)
        p.audit.write_gate(spark, gate, date)
    assert ids == sorted(ids)  # time-prefixed ids sort in run order
    # after fail -> pass -> fail, the LATEST verdict must be the last one
    assert p.audit.latest_gate_blocked(spark, "bronze") is True
    # and after one more clean run, unblocked — regardless of uuid luck
    rid = p._new_run_id()
    gate = suite.run(with_time_cols(events), rid)
    p.audit.write_gate(spark, gate, "2024-01-04")
    assert p.audit.latest_gate_blocked(spark, "bronze") is False
