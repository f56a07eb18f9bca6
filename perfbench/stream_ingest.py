"""The bronze streaming phase of ``serve``: the reference's bronze
streaming job, built from public functions only — ``file_stream`` ->
``pipeline.bronze_transform`` -> ``watermark_dedup(["event_id"], "ts",
"10 minutes")`` -> ``start_merge_sink(partition_by=["event_date"],
availableNow)`` — drains a backlog of pre-staged landing files.

Op = one staged file. Checks, outside the timed region: the query read
every staged row, and the bronze table holds exactly the distinct
generated ids, once each (re-deliveries reach back over earlier files,
so this holds however the files fold into micro-batches)."""

from __future__ import annotations

import glob
import json
import os
import time

from . import gen
from .common import Bench, Outcome, quantile

PARAMS = gen.StreamParams(file_rows=350)
BACKLOG_FILES = 45
FILES_PER_TRIGGER = 15
DURATIONS = ("triggerExecution", "queryPlanning", "getBatch", "latestOffset", "addBatch", "walCommit", "commitOffsets")


def stage(b: Bench, files: int) -> tuple[str, int]:
    """Write stream files ``0..files-1`` into a fresh landing directory;
    returns it and the rows staged."""
    landing = b.scratch("landing")
    rows = 0
    for i in range(files):
        rows += gen.stream_file(b.seed, i, PARAMS).num_rows
        gen.stage_file(b.seed, i, PARAMS, landing)
    return landing, rows


def _start(b: Bench, landing: str, table: str):
    from pyspark.sql import functions as F

    from wikistream_event_data_pipeline_aws_spark.pipeline import bronze_transform
    from wikistream_event_data_pipeline_aws_spark.streaming.ingest import (
        file_stream,
        start_merge_sink,
        watermark_dedup,
    )

    raw = file_stream(b.spark, landing, gen.EVENTS_DDL, max_files_per_trigger=FILES_PER_TRIGGER)
    # the landing files carry timestamp[us] without a zone, as the
    # testdata does; read it as the session-UTC timestamp the pipeline
    # expects (catalog.load_table does the same for batch reads)
    raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    bronze = watermark_dedup(bronze_transform(raw, "stream"), ["event_id"], "ts", "10 minutes")
    return start_merge_sink(
        bronze, table, ["event_id"], b.scratch("checkpoint"),
        trigger={"availableNow": True}, partition_by=["event_date"],
    )


def drain(b: Bench, landing: str) -> dict:
    """Drain every file in ``landing`` into a fresh bronze table with
    ``availableNow``; returns the table, the start and seconds of the
    drain, and the query's progress records."""
    table = os.path.join(b.scratch("bronze"), "events")
    t0 = time.perf_counter()
    query = _start(b, landing, table)
    query.awaitTermination()
    return {
        "table": table,
        "t0": t0,
        "seconds": time.perf_counter() - t0,
        "progress": [json.loads(p.json) for p in query.recentProgress],
    }


def check(b: Bench, out: Outcome, res: dict, files: int, rows: int) -> None:
    """Count one op per staged file; all fail when the query did not read
    every staged row or the table is not the distinct generated ids."""
    from pyspark.sql import functions as F

    read = sum(p["numInputRows"] for p in res["progress"])
    row = b.spark.read.parquet(res["table"]).agg(
        F.count("*").alias("n"), F.countDistinct("event_id").alias("d"),
        F.min("event_id").alias("lo"), F.max("event_id").alias("hi"),
    ).first()
    ids = gen.stream_ids(files, PARAMS)
    ok = read == rows and row["n"] == row["d"] == len(ids) and (row["lo"], row["hi"]) == (ids[0], ids[-1])
    for _ in range(files):
        out.check(ok, f"stream: read {read} of {rows} rows, table holds {row['n']} rows for {len(ids)} ids")


def batches(res: dict) -> list[dict]:
    """The progress records of micro-batches that read data."""
    return [p for p in res["progress"] if p["numInputRows"] > 0]


def layers(b: Bench, res: dict) -> dict[str, float]:
    prog = batches(res)
    m = {
        "stream.batches": len(prog),
        "stream.rows_per_batch_p50": quantile([p["numInputRows"] for p in prog], 0.5),
    }
    for k in DURATIONS:
        key = "trigger" if k == "triggerExecution" else k
        m[f"stream.{key}_p50_ms"] = quantile([p["durationMs"].get(k, 0) for p in prog], 0.5)
    state = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    m["stream.state_rows_end"] = state[-1]["numRowsTotal"] if state else 0
    m["stream.state_bytes_end"] = state[-1]["memoryUsedBytes"] if state else 0
    m["stream.late_rows_dropped"] = sum(s.get("numRowsDroppedByWatermark", 0) for s in state)
    merges = [s for s in b.tracer.named("merge.insert_only") if s.start >= res["t0"]]
    m["merge.insert_only_p50_ms"] = 1000 * quantile([s.seconds for s in merges], 0.5) if merges else 0
    offered = sum(p["numInputRows"] for p in prog)
    m["merge.insert_only_useful_ratio"] = sum(s.result or 0 for s in merges) / offered if offered else 0
    m["merge.sink_files_end"] = len(glob.glob(os.path.join(res["table"], "**", "*.parquet"), recursive=True))
    return m
