"""``sse_replay`` — a Spark 4 Python DataSource over a recorded SSE
event log (NDJSON, one JSON event per line).

Reference parity: the reference's SSE consumer
(``sse_consumer/consumer.py``) tails the Wikimedia EventStreams
firehose and forwards envelopes to Kafka; its Spark jobs never see the
SSE boundary. Here the engine owns it: a recorded capture replays as a
first-class Spark source — batch for backfills, micro-batched stream
(line-offset bookkeeping, ``maxLinesPerBatch`` rate control) for the
live path — so bronze transforms run identically on either.

Design for scale:
- Batch reads split the file into ``partitions`` line ranges planned
  ONCE on the driver (a line-index scan, no payload parsing); each
  task seeks through only its slice, so a large capture fans out
  across executors instead of funneling through one Python worker.
- The stream reader's offset is the absolute line index — replayable
  and checkpoint-friendly exactly like a Kafka (partition, offset)
  pair; ``commit`` is a no-op because the capture file is immutable
  (append-only when replaying a live tail).
- The stream path uses ``SimpleDataSourceStreamReader`` DELIBERATELY:
  with the partition-planning ``DataSourceStreamReader`` API the engine
  never tells ``latestOffset()`` where the checkpoint resumed from, so
  any in-memory pacing ratchet restarts at zero and can hand the engine
  an offset BELOW the committed one — observed as re-emitted
  (duplicated) lines after a checkpoint restart. The simple API passes
  the start offset into ``read(start)``, so ``maxLinesPerBatch`` pacing
  is computed from durable engine state and restart yields exactly-once
  by construction (``readBetweenOffsets`` re-reads a WAL-replayed batch
  deterministically). Driver-side reading matches the semantics: an SSE
  firehose is a single ordered connection — the paced tail-follow is
  inherently sequential, while high-throughput backfills belong to the
  partitioned BATCH reader above.
- Rows surface RAW (line_no, event_json): parsing stays in Spark SQL
  (``from_json`` — JVM-side, same envelope contract as
  ``streaming/ingest.parse_kafka_envelope``), so the Python boundary
  moves bytes, not a row-at-a-time parser.
"""

from __future__ import annotations

import sys

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from .. import ship_by_value

_SCHEMA = "line_no bigint, event_json string"


class _LineRange(InputPartition):
    def __init__(self, path: str, start: int, end: int):
        self.path = path
        self.start = start
        self.end = end


def _count_lines(path: str) -> int:
    n = 0
    with open(path, "rb") as f:
        for _ in f:
            n += 1
    return n


def _count_complete_lines(path: str) -> int:
    """Lines terminated by a newline — the tail-follow horizon. A live
    writer appends byte-by-byte; counting an unterminated final line
    would emit the fragment and advance the committed offset past it,
    permanently corrupting that event (the rest of the line lands after
    the offset and is never read). An unterminated line is simply
    not-yet-arrived; it is picked up once its newline lands. (The BATCH
    reader keeps ``_count_lines``: a complete immutable capture may
    legitimately lack the trailing newline.)"""
    n = 0
    last = b"\n"
    with open(path, "rb") as f:
        for line in f:
            n += 1
            last = line
    return n if last.endswith(b"\n") else n - 1


def _read_range(path: str, start: int, end: int):
    with open(path, "r", encoding="utf-8") as f:
        for i, line in enumerate(f):
            if i >= end:
                break
            if i >= start:
                line = line.rstrip("\n")
                if line:
                    yield (i, line)


class SSEReplayReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options["path"]
        self.n_parts = int(options.get("partitions", "4"))

    def partitions(self):
        total = _count_lines(self.path)
        n = max(1, min(self.n_parts, total or 1))
        step = (total + n - 1) // n if total else 1
        return [
            _LineRange(self.path, lo, min(lo + step, total))
            for lo in range(0, total, step)
        ] or [_LineRange(self.path, 0, 0)]

    def read(self, partition: _LineRange):
        yield from _read_range(partition.path, partition.start, partition.end)


class SSEReplayStreamReader(SimpleDataSourceStreamReader):
    """Paced tail-follow over the capture. Offsets are absolute line
    indexes; the engine persists them in its checkpoint and passes the
    resume point into ``read(start)``, which is what makes the
    ``maxLinesPerBatch`` pacing restart-safe (see module docstring for
    why the partition-planning stream API cannot be)."""

    def __init__(self, options: dict):
        self.path = options["path"]
        self.max_lines = int(options.get("maxLinesPerBatch", "1000"))

    def initialOffset(self) -> dict:
        return {"line": 0}

    def read(self, start: dict):
        lo = start["line"]
        # complete lines only (in-flight tail fragment excluded), and
        # never regress even if the capture was truncated out-of-band
        hi = max(lo, min(_count_complete_lines(self.path), lo + self.max_lines))
        # a LIST-iterator, not a generator: the engine's prefetch cache
        # both copy.copy()s the returned iterator (getCache) and next()s
        # it (empty-batch validation) — a list iterator supports both, a
        # generator neither; pacing already bounds it to max_lines rows
        # of driver memory
        return iter(list(_read_range(self.path, lo, hi))), {"line": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        # deterministic re-read of a WAL-replayed batch after recovery
        return list(_read_range(self.path, start["line"], end["line"]))

    def commit(self, end: dict) -> None:
        pass  # immutable capture: nothing to acknowledge


class SSEReplayDataSource(DataSource):
    """``spark.dataSource.register(SSEReplayDataSource)`` then
    ``spark.read.format("sse_replay").option("path", ...)`` or
    ``spark.readStream.format("sse_replay")...``."""

    @classmethod
    def name(cls) -> str:
        return "sse_replay"

    def schema(self) -> str | StructType:
        return _SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return SSEReplayReader(self.options)

    def simpleStreamReader(self, schema: StructType) -> SimpleDataSourceStreamReader:
        # the engine invokes this because streamReader() is NOT
        # implemented — see the class docstring for why simple-with-
        # engine-fed-offsets beats partition-planning-with-blind-pacing
        return SSEReplayStreamReader(self.options)


# Worker-context independence: Python workers unpickle the DataSource
# CLASS by module reference unless this leaf module ships by value —
# see wikistream_event_data_pipeline_aws_spark.ship_by_value.
ship_by_value(sys.modules[__name__])
