"""``serve``: the reference's serving side in one Spark application.
Each pass runs two phases back to back:

- the analyst's query mix (:mod:`perfbench.query_mix`) over the testdata
  tables, every query once in a seeded order;
- the bronze streaming job (:mod:`perfbench.stream_ingest`) draining a
  backlog of seeded landing files with ``availableNow``.

Set-up starts the session, stages the backlog and runs one untimed
pass, so the timed passes run compiled code in a warm JVM with its
Python workers started (the first pass in a fresh JVM spends half its
time in code generation and JIT compilation, and its length varies with
them). ``job_s`` is the sum over queries of each
query's median across the timed passes, ``part_b_s`` the median of every
micro-batch they ran. Every result is checked after the timed region."""

from __future__ import annotations

import time

from . import query_mix, stream_ingest
from .common import Bench, Outcome, quantile

# two task threads on the 4-core host leave cores to the driver JVM, the
# Python workers, GC and JIT, so a warm pass times the program, not the
# scheduler; a 1g heap fills to its cap, so peak RSS repeats run to run
CPUS, DRIVER_MEMORY = 2, "1g"


def run(b: Bench) -> Outcome:
    out = Outcome()

    def prepare():
        landing, rows = stream_ingest.stage(b, stream_ingest.BACKLOG_FILES)
        query_mix.one_pass(b, query_mix.SF_DIR, traced=False)
        stream_ingest.drain(b, landing)
        if b.trace:
            from wikistream_event_data_pipeline_aws_spark.streaming import ingest

            b.tracer.wrap(ingest, "insert_only_parquet", "merge.insert_only", jobs=False, record_result=True)
        return landing, rows

    setup_s, (landing, rows) = b.timed_setup(prepare, CPUS, DRIVER_MEMORY)
    passes = []
    t_end = time.perf_counter() + b.seconds
    # a traced run makes exactly one pass, so its spans describe one pass
    while not passes or (time.perf_counter() < t_end and not b.trace):
        queries = query_mix.one_pass(b, query_mix.SF_DIR, traced=b.trace)
        passes.append((queries, stream_ingest.drain(b, landing)))
    for queries, drained in passes:
        query_mix.check(out, query_mix.SF_DIR, queries)
        stream_ingest.check(b, out, drained, stream_ingest.BACKLOG_FILES, rows)

    query_s = sum(quantile([q[name][1] for q, _ in passes], 0.5) for name in passes[0][0])
    drain_s = quantile([d["seconds"] for _, d in passes], 0.5)
    batch_s = quantile(
        [p["durationMs"]["triggerExecution"] / 1000 for _, d in passes for p in stream_ingest.batches(d)], 0.5
    )
    out.end_to_end = {"setup_s": setup_s, "job_s": query_s, "part_a_s": drain_s, "part_b_s": batch_s}
    out.named = {
        "query_mix_total_s": (query_s, "s"),
        "ingest_catchup_eps": (rows / drain_s, "1/s"),
        "ingest_batch_p50_s": (batch_s, "s"),
    }
    if b.trace:
        queries, drained = passes[0]
        out.layers = {**query_mix.layers(b, queries), **stream_ingest.layers(b, drained)}
    return out
