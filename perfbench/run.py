"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload in a fresh local Spark session, with every
file it writes under ``.bench_tmp/`` in the checkout (deleted at exit).
Prints a report line (the workload's named metrics, host steal and any
failed checks), then, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The spans of a traced run are written to ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.metrics import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def result_record(out, bench, trace: bool) -> dict:
    """The last-line JSON object for one finished workload run."""
    if trace:
        values = {n: 0.0 for n in PER_LAYER}
        values.update(out.layers)
        values["session.start_s"] = bench.session_start_s
        values["host.steal_pct"] = bench.steal.pct()
        values["trace.job_s"] = out.end_to_end["job_s"]
        values["trace.overhead_s"] = bench.tracer.overhead_s
        units = {n: u for n, (u, _) in PER_LAYER.items()}
    else:
        values = dict(out.end_to_end)
        units = {n: u for n, (u, _, _) in END_TO_END.items()}
    unknown = set(values) - set(units)
    if unknown:
        raise RuntimeError(f"metrics not in the catalogue: {sorted(unknown)}")
    return {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {n: {"value": float(values[n]), "unit": units[n]} for n in units},
    }


def main(argv: list[str]) -> int:
    args = parse(argv)
    import importlib

    from perfbench.common import Bench

    workload = importlib.import_module(f"perfbench.{args.workload}")
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), ROOT)
    try:
        out = workload.run(bench)
        if not args.trace:
            out.end_to_end["peak_rss_mb"] = bench.peak_rss_mb()
        record = result_record(out, bench, bool(args.trace))
        if bench.tracer is not None:
            os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
            bench.tracer.dump(os.path.join(ROOT, ".bench_out", f"spans-{args.workload}-{args.seed}.json"))
    finally:
        bench.close()
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "named": {n: {"value": v, "unit": u} for n, (v, u) in out.named.items()},
        "host.steal_pct": bench.steal.pct(),
        "ops_failed_frac": out.failed / max(1, out.attempted),
        "problems": out.problems[:20],
    }
    print("report " + json.dumps(report), flush=True)
    print(json.dumps(record), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
