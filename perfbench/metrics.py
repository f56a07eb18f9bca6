"""The benchmark's catalogue: the workloads and every end-to-end and
per-layer metric, with its unit and direction. ``BENCHMARK.json`` is
generated from it (``python3 -m perfbench.metrics``) and
``tests/test_perfbench.py`` keeps the two in step. A workload that
bypasses a layer reports that layer's metrics as 0."""

from __future__ import annotations

import json
import os

from .medallion import STEPS
from .query_mix import PLAIN, SHARED_KERNEL
from .stream_ingest import DURATIONS

WORKLOADS = {
    "medallion": "the reference's batch job, a cold pipeline cycle: pipeline, DQ gates, upsert; job_s=cycle, part_a_s=merge share, part_b_s=DQ gate share",
    "serve": "6 registered queries on testdata sf0.01 (plans, memo, Arrow), then a 45-file stream backlog drain, in a warm JVM; job_s=queries, part_a_s=drain, part_b_s=micro-batch p50",
}

# name -> (unit, better, bound); what job_s, part_a_s and part_b_s
# measure on each workload is in the workload's line above
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.25),
    "job_s": ("s", "lower", 0.25),
    "part_a_s": ("s", "lower", 0.25),
    "part_b_s": ("s", "lower", 0.25),
}


def _per_layer() -> dict[str, tuple[str, str]]:
    m = {f"pipeline.{s}_s": ("s", "lower") for s in STEPS}
    m.update(
        {
            "pipeline.unaccounted_s": ("s", "lower"),
            "merge.upsert_s": ("s", "lower"),
            "merge.upsert_rows_written": ("count", "lower"),
            "dq.suite_s": ("s", "lower"),
            "dq.suite_jobs": ("count", "lower"),
            "dq.audit_write_s": ("s", "lower"),
            "dq.audit_read_s": ("s", "lower"),
            "dq.profile_s": ("s", "lower"),
            "stream.batches": ("count", "higher"),
            "stream.rows_per_batch_p50": ("count", "lower"),
        }
    )
    for k in DURATIONS:
        m[f"stream.{'trigger' if k == 'triggerExecution' else k}_p50_ms"] = ("ms", "lower")
    m.update(
        {
            "stream.state_rows_end": ("count", "lower"),
            "stream.state_bytes_end": ("bytes", "lower"),
            "stream.late_rows_dropped": ("count", "lower"),
            "merge.insert_only_p50_ms": ("ms", "lower"),
            "merge.insert_only_useful_ratio": ("ratio", "higher"),
            "merge.sink_files_end": ("count", "lower"),
            "plans.build_s": ("s", "lower"),
            "plans.execute_s": ("s", "lower"),
            "plans.shared_kernel_s": ("s", "lower"),
            "plans.plain_s": ("s", "lower"),
            "arrow.udf_query_s": ("s", "lower"),
        }
    )
    for q in SHARED_KERNEL + PLAIN:
        m[f"query.{q}_s"] = ("s", "lower")
    m.update(
        {
            "spark.jobs": ("count", "lower"),
            "spark.stages": ("count", "lower"),
            "spark.tasks": ("count", "lower"),
            "memo.builds": ("count", "lower"),
            "memo.hits": ("count", "higher"),
            "memo.build_query_s": ("s", "lower"),
            "session.start_s": ("s", "lower"),
            "host.steal_pct": ("%", "lower"),
            "trace.job_s": ("s", "lower"),
            "trace.overhead_s": ("s", "lower"),
        }
    )
    return m


PER_LAYER = _per_layer()


def benchmark_json() -> dict:
    """The ``BENCHMARK.json`` document."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 10,
        "workloads": [{"name": n, "why": why} for n, why in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, (u, b, bound) in END_TO_END.items()
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, (u, b) in PER_LAYER.items()],
    }


if __name__ == "__main__":
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json"), "w") as f:
        json.dump(benchmark_json(), f, indent=2)
        f.write("\n")
