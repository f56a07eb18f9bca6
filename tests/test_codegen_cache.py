"""Warm plans reuse their generated code: a repeated medallion cycle
compiles no new classes (session.CODEGEN_CACHE_ENTRIES and
session.CODEGEN_ID_IN_CLASS_NAME). With Spark's stock 100-entry cache
every cycle recompiles ~220 classes."""

from __future__ import annotations

import uuid

from wikistream_event_data_pipeline_aws_spark.pipeline import Pipeline
from wikistream_event_data_pipeline_aws_spark.session import codegen_compiles


def test_third_medallion_cycle_compiles_nothing(spark, sf_dir, tmp_path):
    pipe = Pipeline(spark, str(tmp_path / "warehouse"))
    # cycle 1 writes cold tables; cycle 2 first takes the merge path of
    # the upsert and compares against a stored profile
    assert all(r.passed for r in pipe.run_loop(cycles=2, sf_dir=sf_dir))
    # the counter sees compiles: a literal no other plan carries is new
    # generated source, whatever ran earlier in this JVM
    before = codegen_compiles(spark)[0]
    fresh = spark.range(10).selectExpr(f"id * {uuid.uuid4().int % 10**12} AS v")
    fresh.groupBy().sum("v").collect()
    warm = codegen_compiles(spark)[0]
    assert warm > before
    assert all(r.passed for r in pipe.run_loop(cycles=1, sf_dir=sf_dir))
    assert codegen_compiles(spark)[0] - warm == 0
