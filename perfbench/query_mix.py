"""The query-mix phase of ``serve``: one closed-loop analyst runs
registered queries once each, in an order permuted by the seed, over the testdata sf0.01
``events`` and ``lineitem`` tables copied under ``perfbench/data``. Op =
one query: ``fn(spark, sf_dir)`` (plan build) plus ``toPandas()``, an
action that produces every output column and hands it to the analyst
(``count()`` would let Catalyst prune columns).

Memo caches
are reset before each pass, so every pass builds its shared kernels.
Outside the timed region each result is compared with its registered
DuckDB oracle (``tests/oracle_harness.compare``)."""

from __future__ import annotations

import os
import random
import time

from .common import Bench, Outcome

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = ("events", "lineitem")
# queries that share a session-memo kernel (the part co-occurrence edge list) ...
SHARED_KERNEL = ("graph_pagerank", "graph_triangle_count")
# ... and queries that share nothing
PLAIN = ("hourly_stats", "tpch_pricing_summary", "props_kv_udtf", "user_value_median_pandas")
# the queries that cross the Arrow/pandas boundary (UDTF, applyInPandas)
ARROW = ("props_kv_udtf", "user_value_median_pandas")


class _Collected:
    """A collected result in the shape ``oracle_harness.compare`` reads."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def order(seed: int) -> list[str]:
    names = list(SHARED_KERNEL + PLAIN)
    random.Random(seed).shuffle(names)
    return names


def one_pass(b: Bench, sf_dir: str, traced: bool) -> dict:
    """Every query once, memo caches reset first. Returns per-query
    (build_s, total_s, result, memo events)."""
    from wikistream_event_data_pipeline_aws_spark import registry
    from wikistream_event_data_pipeline_aws_spark.operators import memo

    fns = registry.queries()
    memo.reset_memos()
    tracer = b.tracer if traced else None
    res = {}
    for name in order(b.seed):
        fn = fns[name] if tracer is None else tracer.wrapped(fns[name], "plans.build")
        ev0 = len(memo.MEMO_EVENTS)
        t0 = time.perf_counter()
        if tracer is None:
            df = fn(b.spark, sf_dir)
            t1 = time.perf_counter()
            pdf = df.toPandas()
        else:
            with tracer.span(f"query.{name}"):
                df = fn(b.spark, sf_dir)
                t1 = time.perf_counter()
                with tracer.span("plans.execute"):
                    pdf = df.toPandas()
        t2 = time.perf_counter()
        res[name] = (t1 - t0, t2 - t0, pdf, memo.MEMO_EVENTS[ev0:])
    return res


def compare_result(out: Outcome, name: str, pdf, oracle_pdf) -> None:
    """Count one query op, failed when its result differs from the oracle's."""
    from tests.oracle_harness import compare

    problems = compare(_Collected(pdf), oracle_pdf)
    out.check(not problems, f"{name}: {problems[:1]}")


def check(out: Outcome, sf_dir: str, res: dict) -> None:
    """Compare each collected result with its registered oracle."""
    import duckdb

    from wikistream_event_data_pipeline_aws_spark import registry

    oracles = registry.oracles()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        for name, (_, _, pdf, _) in res.items():
            compare_result(out, name, pdf, con.execute(oracles[name]).df())
    finally:
        con.close()


def layers(b: Bench, res: dict) -> dict[str, float]:
    tr = b.tracer
    m = {f"query.{n}_s": r[1] for n, r in res.items()}
    m["plans.build_s"] = sum(r[0] for r in res.values())
    m["plans.execute_s"] = sum(r[1] - r[0] for r in res.values())
    m["plans.shared_kernel_s"] = sum(res[n][1] for n in SHARED_KERNEL)
    m["plans.plain_s"] = sum(res[n][1] for n in PLAIN)
    m["arrow.udf_query_s"] = sum(res[n][1] for n in ARROW)
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}"] = sum(getattr(s, k) for s in tr.spans)
    events = [e for r in res.values() for e in r[3]]
    m["memo.builds"] = sum(1 for kind, _ in events if kind == "build")
    m["memo.hits"] = sum(1 for kind, _ in events if kind == "hit")
    m["memo.build_query_s"] = sum(r[1] for r in res.values() if any(k == "build" for k, _ in r[3]))
    return m
