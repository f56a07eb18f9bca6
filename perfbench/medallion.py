"""``medallion``: the reference's batch job, one cold
``pipeline.Pipeline.run`` cycle (bronze -> gate -> silver -> gate ->
gold -> gate) of a seeded events table into an empty warehouse, in a
fresh Spark application.

Op = one pipeline step (6 per pass). ``upsert_parquet`` is timed in
every run with a plain timer (no job tagging), so the merge share of the
cycle is reported on its own, as is the DQ gate share (the ``*_dq``
steps). Outside the timed region each pass checks that every step is OK
and that gold ``hourly_stats`` equals the registered DuckDB oracle over
the deduped generated events."""

from __future__ import annotations

import time

from . import gen
from .common import Bench, Outcome, quantile

STEPS = ("bronze", "bronze_dq", "silver", "silver_dq", "gold", "gold_dq")
PARAMS = gen.MedallionParams(rows=20_000, events=gen.EventParams(users=300))
# the cold cycle is mostly first-use code generation and JIT compilation,
# which four task threads share out; a 1g heap fills to near its cap, so
# peak RSS repeats run to run (with 2g it varied with when the heap grew)
CPUS, DRIVER_MEMORY = 4, "1g"


class _StepSink:
    """Pipeline metrics sink: turns each step's reported seconds into a
    span under the cycle span (traced runs only)."""

    def __init__(self, tracer):
        self.tracer, self.parent = tracer, None

    def emit(self, name: str, value: float, tags) -> None:
        if self.tracer is None or not name.endswith(".seconds"):
            return
        step = name.split(".")[1]
        end = time.perf_counter()
        self.tracer.add(f"step.{step}", end - value, end, self.parent)


class MergeClock:
    """A plain timer around ``pipeline.upsert_parquet`` (no job tagging,
    so it is cheap enough for untraced runs): ``take()`` returns the
    seconds spent merging since the last call."""

    def __init__(self):
        from wikistream_event_data_pipeline_aws_spark import pipeline

        self._module, self._fn, self._s = pipeline, pipeline.upsert_parquet, 0.0

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return self._fn(*args, **kwargs)
            finally:
                self._s += time.perf_counter() - t0

        pipeline.upsert_parquet = timed

    def take(self) -> float:
        s, self._s = self._s, 0.0
        return s

    def close(self) -> None:
        self._module.upsert_parquet = self._fn


def one_pass(b: Bench, inputs: dict, out: Outcome, clock: MergeClock, traced: bool) -> dict:
    """One cold cycle into a fresh warehouse; returns its seconds, merge
    seconds and step seconds."""
    from wikistream_event_data_pipeline_aws_spark.catalog import load_table
    from wikistream_event_data_pipeline_aws_spark.pipeline import Pipeline

    spark, tracer = b.spark, (b.tracer if traced else None)
    warehouse = b.scratch("warehouse")
    sink = _StepSink(tracer)
    pipe = Pipeline(spark, warehouse, metrics_sink=sink)
    source = load_table(spark, inputs["dir"], "events")
    clock.take()
    t0 = time.perf_counter()
    if tracer is not None:
        with tracer.span("cycle", jobs=False) as span:
            sink.parent = span.id
            report = pipe.run(source=source)
    else:
        report = pipe.run(source=source)
    res = {
        "cycle_s": time.perf_counter() - t0,
        "merge_s": clock.take(),
        "steps": {s.name: s.seconds for s in report.steps},
    }
    for s in report.steps:
        out.check(s.status == "OK", f"{s.name}={s.status}")
    out.check(_hourly_stats_ok(b, warehouse, inputs), "gold hourly_stats != oracle")
    return res


def _hourly_stats_ok(b: Bench, warehouse: str, inputs: dict) -> bool:
    """Gold ``hourly_stats`` equals the registered DuckDB oracle over the
    distinct generated events."""
    import os

    import duckdb

    from tests.oracle_harness import compare
    from wikistream_event_data_pipeline_aws_spark import registry

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT DISTINCT * FROM read_parquet('{inputs['path']}')")
    n = con.execute("SELECT count(*), count(DISTINCT event_id) FROM events").fetchone()
    if n[0] != n[1] or n[1] != inputs["ids"]:
        return False
    oracle = con.execute(registry.oracles()["hourly_stats"]).df()
    gold = b.spark.read.parquet(os.path.join(warehouse, "gold", "hourly_stats"))
    return not compare(gold, oracle)


def _wrap_layers(tracer) -> None:
    from wikistream_event_data_pipeline_aws_spark import pipeline
    from wikistream_event_data_pipeline_aws_spark.dq.audit import AuditWriter
    from wikistream_event_data_pipeline_aws_spark.dq.checks import DQSuite

    tracer.wrap(pipeline, "upsert_parquet", "merge.upsert", record_result=True)
    tracer.wrap(pipeline, "profile_columns", "dq.profile")
    tracer.wrap(pipeline, "bronze_transform", "pipeline.bronze_transform")
    tracer.wrap(pipeline, "silver_transform", "pipeline.silver_transform")
    tracer.wrap(DQSuite, "run", "dq.suite")
    tracer.wrap(AuditWriter, "write_gate", "dq.audit_write")
    tracer.wrap(AuditWriter, "latest_gate_blocked", "dq.audit_read")


def _layers(b: Bench, res: dict) -> dict[str, float]:
    from .trace import self_times

    tr = b.tracer
    m = {f"pipeline.{step}_s": res["steps"][step] for step in STEPS}
    m["pipeline.unaccounted_s"] = self_times(tr.spans)[tr.named("cycle")[0].id]
    ups = tr.named("merge.upsert")
    m["merge.upsert_s"] = sum(s.seconds for s in ups)
    m["merge.upsert_rows_written"] = sum(s.result or 0 for s in ups)
    suites = tr.named("dq.suite")
    m["dq.suite_s"] = sum(s.seconds for s in suites)
    m["dq.suite_jobs"] = sum(s.jobs for s in suites) / max(1, len(suites))
    m["dq.audit_write_s"] = sum(s.seconds for s in tr.named("dq.audit_write"))
    m["dq.audit_read_s"] = sum(s.seconds for s in tr.named("dq.audit_read"))
    m["dq.profile_s"] = sum(s.seconds for s in tr.named("dq.profile"))
    return m


def run(b: Bench) -> Outcome:
    out = Outcome()

    setup_s, inputs = b.timed_setup(
        lambda: gen.medallion_inputs(b.seed, b.scratch("inputs"), PARAMS), CPUS, DRIVER_MEMORY
    )
    if b.trace:
        _wrap_layers(b.tracer)
    clock = MergeClock()
    passes = []
    t_end = time.perf_counter() + b.seconds
    try:
        # a traced run makes exactly one pass, so its spans describe one pass
        while not passes or (time.perf_counter() < t_end and not b.trace):
            passes.append(one_pass(b, inputs, out, clock, traced=b.trace))
    finally:
        clock.close()
    cycle_s = quantile([p["cycle_s"] for p in passes], 0.5)
    out.end_to_end = {
        "setup_s": setup_s,
        "job_s": cycle_s,
        "part_a_s": quantile([p["merge_s"] for p in passes], 0.5),
        "part_b_s": quantile([sum(v for k, v in p["steps"].items() if k.endswith("_dq")) for p in passes], 0.5),
    }
    out.named = {"medallion_cold_s": (cycle_s, "s")}
    if b.trace:
        out.layers = _layers(b, passes[0])
    return out
