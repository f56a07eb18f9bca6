"""Genuine Structured Streaming queries surfaced in ``queries()``.

Unlike plans/streaming_batch.py (batch runs of the window operators),
these start a real ``readStream`` -> MicroBatchExecution -> memory-sink
query with ``Trigger.AvailableNow`` and return the materialized result,
so the driver's oracle gate checks actual streaming execution:

- T1/T2/D1 watermarked stateful dedup (reference
  ``spark/jobs/bronze_streaming_job.py:55,152,237``) — the input stream
  is the events table unioned with itself, so every key arrives twice
  and exactly one copy must survive;
- streaming tumbling-window aggregation (the idiomatic form of the
  reference's batch HOUR() rollup, ``gold_batch_job.py:68-121``);
- ``applyInPandasWithState`` running per-key counts (custom stateful
  operator; deterministic here because AvailableNow folds the single
  input file into one micro-batch).

The memory sink collects to the driver — a test-harness sink only; the
production path is streaming/ingest.start_merge_sink (checkpointed
foreachBatch merge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.memo import session_memo
from ..session import ensure_session_confs
from ..streaming.ingest import await_drain, stateful_user_counts, watermark_dedup

# Stateful streaming operators keep one state-store instance per shuffle
# partition; on the local test harness the per-partition store overhead
# dominates, so the memory-sink runner temporarily drops to this many
# partitions (3x faster at sf0.1). Production sinks (streaming/ingest)
# leave the session's shuffle partitioning untouched — at cluster scale
# state partitions must match throughput, not this harness constant.
_HARNESS_SHUFFLE_PARTITIONS = "8"


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table with the same epoch-nanos
    -> microsecond-timestamp normalization as catalog.load_table."""
    ensure_session_confs(spark)
    path = f"{sf_dir}/events.parquet"
    # the footer-read driver job costs ~0.1s and several queries build
    # this stream twice (both interval-join sides) — memoize per file
    # version: events.parquet rewritten in place with another schema
    # must not stream under the old one
    schema = session_memo(
        spark,
        "events_schema",
        sf_dir,
        ("events",),
        (),
        lambda: spark.read.parquet(path).schema,
    )
    # FileStreamSource requires a directory basePath; glob-filter the
    # events file out of the sf_dir
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_type = dict(raw.dtypes).get("ts")
    if ts_type == "bigint":
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        # see catalog.load_table: NTZ -> LTZ under the UTC session tz
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def _run_to_memory(
    df: DataFrame, name: str, output_mode: str, no_data_batches: bool = True
) -> DataFrame:
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_ndb = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", _HARNESS_SHUFFLE_PARTITIONS)
    # r14 (guide §1.2 — don't compute what the result can't see): a
    # caller passes no_data_batches=False when its operator EMITS ON
    # ARRIVAL (stateful dedup, inner stream-stream join): the trailing
    # zero-row micro-batch only advances the watermark to evict state,
    # which cannot change the output of a query that terminates right
    # after — and costs a full trigger execution (~1.0-1.3s measured).
    # Operators that emit ON WATERMARK ADVANCE (the left-outer interval
    # join's unmatched rows, append-mode aggregations) MUST keep it.
    spark.conf.set(
        "spark.sql.streaming.noDataMicroBatches.enabled",
        "true" if no_data_batches else "false",
    )
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        await_drain(q, f"streaming query {name}")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prev_ndb)
    return spark.table(name)


def streaming_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window agg, complete output mode (emits every
    window including ones still open at end-of-stream, so the result
    equals the batch rollup exactly)."""
    s = _events_stream(spark, sf_dir)
    agg = (
        s.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("total_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "total_events",
            "sum_value",
        )
    )
    return _run_to_memory(agg, "mem_streaming_tumbling_hourly", "complete")


STREAMING_TUMBLING_HOURLY_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS total_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


def streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stateful dedup over a doubled stream: events unioned
    with itself means every event_id arrives twice; the 3650-day
    watermark keeps all keys in state for the whole (historical) replay,
    so exactly one copy survives. Both copies carry identical non-key
    columns, so the kept row is deterministic."""
    doubled = _events_stream(spark, sf_dir).unionByName(_events_stream(spark, sf_dir))
    deduped = watermark_dedup(
        doubled, ["event_id"], ts_col="ts", watermark="3650 days"
    ).select("event_id", "user_id", "event_type")
    return _run_to_memory(
        deduped, "mem_streaming_dedup", "append", no_data_batches=False
    )


# PRECONDITION pinned to the data contract: this raw-projection oracle
# assumes event_id is UNIQUE in the source parquet (true for every
# generated sf). If the generator ever emits duplicate event_ids (the
# bronze gate tolerates up to 5% as legitimate raw input), the Spark
# side dedups to one row while this returns all copies — and which copy
# Spark keeps is nondeterministic when non-key columns differ. In that
# world the oracle must pick a deterministic representative (e.g.
# min-struct per event_id) and the Spark side must switch to the
# deterministic keep-first dedup (operators/merge.dedup_keep_one).
STREAMING_DEDUP_WATERMARK_SQL = """
SELECT event_id, user_id, event_type FROM events
"""


def streaming_stateful_running_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState per-key running counts. AvailableNow folds
    the single input file into one micro-batch, so batch == total and
    the result is SQL-expressible; the cross-batch incremental behavior
    is exercised by tests/test_streaming.py with multi-file replay."""
    s = _events_stream(spark, sf_dir)
    counts = stateful_user_counts(s, key="user_id")
    return _run_to_memory(counts, "mem_streaming_running_count", "append")


STREAMING_STATEFUL_RUNNING_COUNT_SQL = """
SELECT user_id AS key, COUNT(*) AS batch_events, COUNT(*) AS total_events
FROM events
GROUP BY user_id
"""


def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join + downstream aggregation: the
    events stream joins the (static, broadcast) customer dim on
    user_id, then rolls up per (mktsegment, event_type). Stream-static
    joins are stateless — the static side is re-broadcast per
    micro-batch, so this shape works unchanged on an unbounded stream;
    the agg runs in complete mode so end-of-stream equals the batch
    rollup exactly."""
    s = _events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), F.col("c_mktsegment").alias("mktsegment")
    )
    # no explicit broadcast hint: customer SCALES with SF (round-1
    # policy) — the size-based planner broadcasts it while it fits and
    # falls back to a shuffled stream-static join when it doesn't
    enriched = s.join(
        cust, s["user_id"] + 1 == cust["custkey"], "inner"
    )
    agg = enriched.groupBy("mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )
    return _run_to_memory(agg, "mem_streaming_static_enrich", "complete")


STREAMING_STATIC_ENRICH_SQL = """
SELECT c_mktsegment AS mktsegment, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events e JOIN customer c ON e.user_id + 1 = c.c_custkey
GROUP BY 1, 2
"""


def interval_join_clicks_purchases(
    click_events: DataFrame, purchase_events: DataFrame, watermark: str
) -> DataFrame:
    """The interval-join core over two events-schema streams: each
    click pairs with the same user's purchases in the following hour.
    Both sides carry ``watermark`` (the state-cleanup contract of
    stream-stream joins): Spark evicts a buffered click once the
    global watermark passes ``c_ts + 1h`` and drops later-arriving
    rows older than the watermark — bounded state at scale.
    tests/test_streaming.py replays this with a TIGHT watermark and a
    late purchase to pin the eviction (T5); the registered query uses
    a fixture-wide watermark so AvailableNow replay keeps every
    historical row and equals the batch range join."""
    clicks = (
        click_events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        purchase_events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    return clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval 1 hour"
        ),
    ).select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("delta_us"),
    )


def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (core + eviction contract:
    interval_join_clicks_purchases). The fixture-wide 3650-day
    watermark makes the AvailableNow inner-join result equal the batch
    range join over the historical testdata; the bounded-watermark
    eviction semantics are pinned separately by the tight-watermark
    replay test."""
    joined = interval_join_clicks_purchases(
        _events_stream(spark, sf_dir),
        _events_stream(spark, sf_dir),
        "3650 days",
    )
    return _run_to_memory(
        joined, "mem_streaming_interval_join", "append", no_data_batches=False
    )


STREAMING_INTERVAL_JOIN_SQL = """
SELECT c.event_id AS click_id, v.event_id AS purchase_id, c.user_id,
       epoch_us(v.ts) - epoch_us(c.ts) AS delta_us
FROM events c JOIN events v
  ON c.user_id = v.user_id
 AND c.event_type = 'click' AND v.event_type = 'purchase'
 AND v.ts >= c.ts AND v.ts <= c.ts + INTERVAL 1 HOUR
"""


def streaming_interval_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the semantics the inner
    variant can't show: a click with no purchase in its hour emits a
    NULL row only once the GLOBAL watermark proves no match can still
    arrive. The oracle encodes the actual emission rule, which is
    subtler than "end of stream": Spark's global watermark is the MIN
    over both input watermarks, each ``max event time − delay``
    truncated to milliseconds — so unmatched clicks emit iff
    ``click_ts + 1h < min(max_click_ts, max_purchase_ts)_ms − 10min``.
    (Discovered the hard way: the overall-last click never evicts,
    because its own stream's watermark pins the global one below its
    join-window close.) Watermarks bound both sides' state at scale;
    the 10-minute delay is the late-purchase tolerance."""
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval 1 hour"
        ),
        "leftOuter",
    ).select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("delta_us"),
    )
    return _run_to_memory(joined, "mem_streaming_interval_join_left", "append")


STREAMING_INTERVAL_JOIN_LEFT_SQL = """
WITH wm AS (
  -- Spark's global watermark: min over the two stream watermarks, each
  -- the stream's max event time truncated to MILLISECONDS minus the
  -- 10-minute delay
  SELECT least((epoch_us(max(ts) FILTER (event_type = 'click')) // 1000) * 1000,
               (epoch_us(max(ts) FILTER (event_type = 'purchase')) // 1000) * 1000)
         - 600000000 AS us
  FROM events
),
matched AS (
  SELECT c.event_id AS click_id, v.event_id AS purchase_id, c.user_id,
         epoch_us(v.ts) - epoch_us(c.ts) AS delta_us
  FROM events c JOIN events v
    ON c.user_id = v.user_id
   AND c.event_type = 'click' AND v.event_type = 'purchase'
   AND v.ts >= c.ts AND v.ts <= c.ts + INTERVAL 1 HOUR
),
unmatched AS (
  SELECT c.event_id AS click_id, NULL::BIGINT AS purchase_id, c.user_id,
         NULL::BIGINT AS delta_us
  FROM events c, wm
  WHERE c.event_type = 'click'
    AND NOT EXISTS (SELECT 1 FROM events v
                    WHERE v.user_id = c.user_id AND v.event_type = 'purchase'
                      AND v.ts >= c.ts AND v.ts <= c.ts + INTERVAL 1 HOUR)
    AND epoch_us(c.ts) + 3600000000 < wm.us
)
SELECT * FROM matched UNION ALL SELECT * FROM unmatched
"""


def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session-window aggregation (``F.session_window``,
    30-minute gap, per user) — the dynamic-window stateful operator:
    unlike tumbling/sliding, session bounds are data-driven and the
    state store merges overlapping sessions as events arrive. One
    stateful aggregation only (streaming forbids chaining a second
    agg on top); complete mode keeps all sessions in state so the
    end-of-stream result equals the batch lag-gap sessionization
    (same semantics as ``session_window_user_stats``: a new session
    starts when the gap is >= 30 min)."""
    s = _events_stream(spark, sf_dir)
    win = F.session_window(F.col("ts"), "30 minutes")
    agg = (
        s.groupBy(win, "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "user_id",
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(agg, "mem_streaming_session_window", "complete")


STREAMING_SESSION_WINDOW_SQL = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(epoch_us(ts), 1) OVER w IS NULL
                   OR epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w >= 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
),
s AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
       user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM s GROUP BY user_id, sid
"""


QUERIES = {
    "streaming_tumbling_hourly": streaming_tumbling_hourly,
    "streaming_dedup_watermark": streaming_dedup_watermark,
    "streaming_stateful_running_count": streaming_stateful_running_count,
    "streaming_static_enrich": streaming_static_enrich,
    "streaming_interval_join": streaming_interval_join,
    "streaming_interval_join_left": streaming_interval_join_left,
    "streaming_session_window": streaming_session_window,
}

ORACLES = {
    "streaming_tumbling_hourly": STREAMING_TUMBLING_HOURLY_SQL,
    "streaming_dedup_watermark": STREAMING_DEDUP_WATERMARK_SQL,
    "streaming_stateful_running_count": STREAMING_STATEFUL_RUNNING_COUNT_SQL,
    "streaming_static_enrich": STREAMING_STATIC_ENRICH_SQL,
    "streaming_interval_join": STREAMING_INTERVAL_JOIN_SQL,
    "streaming_interval_join_left": STREAMING_INTERVAL_JOIN_LEFT_SQL,
    "streaming_session_window": STREAMING_SESSION_WINDOW_SQL,
}
