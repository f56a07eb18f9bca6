"""Seeded input generators for the benchmark.

Everything here is a pure function of its ``seed`` argument: the same
seed writes byte-identical parquet files, a different seed different
ones. Apart from the testdata tables of the query mix, the system under
test only ever sees the files these functions write.

- :func:`events` is the one event generator, shared by the ``medallion``
  table and the ``stream_ingest`` landing files. Its schema is the
  testdata ``events`` schema: ``event_id, ts (timestamp[us]), user_id,
  event_type, value, props`` (a ``{"k": n}`` JSON string).
- :func:`medallion_inputs` writes the ``medallion`` events table.
- :func:`stage_file` writes one ``stream_ingest`` landing file.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
DAY_US = 86_400 * 1_000_000
# 2024-01-01T00:00:00 in microseconds since the epoch
EPOCH_2024_US = 1_704_067_200 * 1_000_000

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
# the same schema as a Spark DDL string, for the streaming file source
EVENTS_DDL = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
    "value double, props string"
)


@dataclass(frozen=True)
class EventParams:
    """Shape of the generated event stream (recorded per workload in
    perfbench/README.md)."""

    users: int = 1500
    null_user_share: float = 0.02  # bronze warns below 90% user_id completeness
    redelivery_share: float = 0.02  # bronze Uniqueness blocks below 95%
    value_mean: float = 50.0


def _write(table: pa.Table, path: str) -> None:
    # fixed writer settings, so the bytes depend on the rows alone
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def events(
    rng: np.random.Generator,
    n: int,
    first_id: int,
    t0_us: int,
    span_us: int,
    params: EventParams = EventParams(),
) -> pa.Table:
    """``n`` fresh events with ids ``first_id..first_id+n-1``, event times
    uniform over ``[t0_us, t0_us + span_us)``, sorted by time."""
    ts = np.sort(t0_us + rng.integers(0, span_us, n, dtype=np.int64))
    users = rng.integers(0, params.users, n, dtype=np.int64)
    user_null = rng.random(n) < params.null_user_share
    etype = np.asarray(EVENT_TYPES, dtype=object)[rng.integers(0, len(EVENT_TYPES), n)]
    value = np.round(rng.exponential(params.value_mean, n), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    return pa.table(
        [
            pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            pa.array(ts, type=pa.timestamp("us")),
            pa.array(users, mask=user_null),
            pa.array(etype, type=pa.string()),
            pa.array(value),
            pa.array(props, type=pa.string()),
        ],
        schema=EVENTS_SCHEMA,
    )


def redeliver(rng: np.random.Generator, pool: pa.Table, n: int) -> pa.Table:
    """``n`` exact copies of rows drawn from ``pool`` (a re-delivery
    carries the original event unchanged)."""
    if n <= 0 or pool.num_rows == 0:
        return pool.slice(0, 0)
    return pool.take(pa.array(rng.choice(pool.num_rows, n, replace=False)))


# -- medallion ----------------------------------------------------------------


@dataclass(frozen=True)
class MedallionParams:
    rows: int = 100_000  # the testdata sf0.1 events row count
    days: int = 14
    events: EventParams = EventParams()


def medallion_inputs(seed: int, out_dir: str, p: MedallionParams = MedallionParams()) -> dict:
    """Write ``events.parquet``: ``p.rows`` events over ``p.days`` days,
    a ``redelivery_share`` of them re-deliveries. Returns its directory,
    its path and the distinct-id count the correctness check uses."""
    rng = np.random.default_rng([seed, 1])
    n_dup = int(p.rows * p.events.redelivery_share)
    fresh = events(rng, p.rows - n_dup, 0, EPOCH_2024_US, p.days * DAY_US, p.events)
    table = pa.concat_tables([fresh, redeliver(rng, fresh, n_dup)]).sort_by("ts")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "events.parquet")
    _write(table, path)
    return {"dir": out_dir, "path": path, "ids": fresh.num_rows}


# -- stream_ingest ------------------------------------------------------------


@dataclass(frozen=True)
class StreamParams:
    file_rows: int = 400
    # event time advances this much per file; re-deliveries reach back
    # at most `late_files` files, some of them beyond the 10-minute
    # watermark
    event_us_per_file: int = 60 * 1_000_000
    late_files: int = 15
    events: EventParams = EventParams()
    t0_us: int = EPOCH_2024_US + 14 * DAY_US - 3_600_000_000  # 23:00 on day 14


def stream_file(seed: int, i: int, p: StreamParams) -> pa.Table:
    """File ``i`` of the stream: fresh events plus, from the second file
    on, a ``redelivery_share`` of exact copies of events from the
    previous ``late_files`` files. A pure function of (seed, i)."""
    fresh = _stream_fresh(seed, i, p)
    if i == 0:
        return fresh
    rng = np.random.default_rng([seed, 3, i])
    back = rng.integers(max(0, i - p.late_files), i, p.file_rows - fresh.num_rows)
    copies = [
        _stream_fresh(seed, int(j), p).slice(int(rng.integers(0, fresh.num_rows)), 1)
        for j in back
    ]
    return pa.concat_tables([fresh, *copies])


def _stream_fresh(seed: int, i: int, p: StreamParams) -> pa.Table:
    n = p.file_rows - int(p.file_rows * p.events.redelivery_share)
    rng = np.random.default_rng([seed, 2, i])
    return events(rng, n, i * n, p.t0_us + i * p.event_us_per_file, p.event_us_per_file, p.events)


def stream_ids(files: int, p: StreamParams) -> range:
    """The distinct event ids of the first ``files`` stream files."""
    return range(files * (p.file_rows - int(p.file_rows * p.events.redelivery_share)))


def stage_file(seed: int, i: int, p: StreamParams, landing: str) -> str:
    """Write stream file ``i`` under a hidden temp name (the file source
    ignores names starting with ``.``) and rename it into place, so the
    source never lists a half-written file."""
    name = f"part-{i:05d}.parquet"
    tmp = os.path.join(landing, f".{name}.tmp")
    _write(stream_file(seed, i, p), tmp)
    final = os.path.join(landing, name)
    os.rename(tmp, final)
    return final
