"""Streaming ingest: source abstraction, watermarked stateful dedup,
exactly-once-equivalent foreachBatch merge sink.

Reference parity (citations into /root/reference):
- Kafka source w/ options      ``spark/jobs/bronze_streaming_job.py:381-395`` (S1/T6)
- watermark 10 min             ``bronze_streaming_job.py:55,152`` (T1)
- dropDuplicatesWithinWatermark ``bronze_streaming_job.py:237`` (D1/T2)
- processingTime trigger       ``bronze_streaming_job.py:54,405`` (T3)
- checkpoint + idempotent MERGE per micro-batch
                               ``bronze_streaming_job.py:241-270,398-407`` (T4/D3)

Locally the Kafka feed is replaced by a file (parquet-directory) or
rate source behind the same interface; on a cluster ``kafka_stream``
plugs in unchanged. The sink keeps the reference's exactly-once
contract: checkpointed offsets + an insert-only merge that makes
replayed micro-batches no-ops.

The tumbling/sliding window aggregations are genuine streaming
``window()`` operators (the reference approximates them in batch via
HOUR() group keys — SURVEY §2.10 notes this engine offers the idiomatic
form); the same functions run in batch mode for oracle checks. The
per-key session ROLLUP here is batch-only (it chains two aggregations);
the streaming session-window form is the single-aggregation
``plans/streaming_live.streaming_session_window``.

Every sink reads its micro-batch once (each action inside
``foreachBatch`` re-reads the source files): the first job that needs
the rows pins them (``operators.merge.materialize``), writes or collects
them, and observes what the body needs on that job, so ``numInputRows``
equals the rows landed. Spark jobs per trigger as data / first data /
full replay / empty, each shuffle its own job: merge 4/2/3/1, validated
9/5/7/1, snapshot 2/2/0/1, postings and histogram 5/3/4/1, ANN signature
4/2/3/1, HLL 4/2/4/4, scd2 1 + ~10 per effective date / same / 1.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..operators.merge import insert_only_parquet, materialize, path_exists, scd2_apply


# -- sources ------------------------------------------------------------------


def file_stream(
    spark: SparkSession,
    directory: str,
    schema: StructType | str,
    fmt: str = "parquet",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source replay: each file = one micro-batch (test harness for
    the Kafka path)."""
    return (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(directory)
    )


def write_parity_replay(df: DataFrame, key: str, base: str) -> str:
    """Write ``df`` under ``<base>/src`` as two files, the even then the
    odd ``key`` rows: a two-micro-batch replay source for
    :func:`file_stream`. Returns that directory."""
    src = f"{base}/src"
    for parity in (0, 1):
        df.filter(F.col(key) % 2 == parity).coalesce(1).write.mode("append").parquet(src)
    return src


def rate_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


def kafka_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    group_id: str | None = None,
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool | None = None,
    extra_options: dict[str, str] | None = None,
) -> dict[str, str]:
    """Assemble the Kafka reader option map (S1/T6) — the offset/consumer
    contract of the reference's reader (``bronze_streaming_job.py:381-395``:
    bootstrap servers, subscribe, group.id, startingOffsets; its SASL/IAM
    auth options are deployment config and pass through ``extra_options``).

    ``starting_offsets`` accepts ``latest``, ``earliest`` or a per-partition
    offset JSON (``{"topic":{"0":42}}``) — Spark's three offset-resumption
    modes. Kept separate from the reader so the contract is testable
    without a broker on the classpath.
    """
    if starting_offsets not in ("latest", "earliest") and not starting_offsets.lstrip().startswith("{"):
        raise ValueError(
            f"starting_offsets must be latest/earliest/offset-JSON, got {starting_offsets!r}"
        )
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }
    if group_id is not None:
        opts["kafka.group.id"] = group_id
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    if fail_on_data_loss is not None:
        opts["failOnDataLoss"] = "true" if fail_on_data_loss else "false"
    opts.update(extra_options or {})
    return opts


# Schema of every Kafka-source row as Spark emits it — the wire contract
# downstream transforms are written against. A file stream with this
# schema is plan-for-plan identical to the Kafka source after .load(),
# which is what makes the brokerless round-trip test meaningful.
KAFKA_WIRE_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long,"
    " timestamp timestamp, timestampType int"
)


def parse_kafka_envelope(df: DataFrame, payload_schema: StructType | str) -> DataFrame:
    """Decode Kafka rows into (kafka metadata + parsed envelope struct).

    The reference parses ``value.cast(string)`` with ``from_json``
    (``bronze_streaming_job.py:143-150`` — P1) keeping the Kafka
    timestamp for watermarking; same contract here, source-agnostic:
    works on the real Kafka source or any stream with
    :data:`KAFKA_WIRE_SCHEMA`.
    """
    return df.select(
        F.col("key").cast("string").alias("kafka_key"),
        F.col("topic"),
        F.col("partition"),
        F.col("offset"),
        F.col("timestamp").alias("kafka_timestamp"),
        F.from_json(F.col("value").cast("string"), payload_schema).alias("env"),
    )


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    extra_options: dict[str, str] | None = None,
    **kwargs,
) -> DataFrame:
    """Kafka source (needs the spark-sql-kafka package on the cluster
    classpath; not present in the local test image — S1)."""
    opts = kafka_options(
        bootstrap_servers, topic, starting_offsets, extra_options=extra_options, **kwargs
    )
    return spark.readStream.format("kafka").options(**opts).load()


# -- transforms ---------------------------------------------------------------


def watermark_dedup(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """T1+T2: late events beyond the watermark age out of dedup state;
    duplicates within it are dropped across micro-batches."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(list(keys))


def tumbling_counts(
    df: DataFrame,
    ts_col: str = "ts",
    width: str = "1 hour",
    extra_keys: Sequence[str] = (),
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling-window hourly stats — streaming or batch DataFrame."""
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    win = F.window(F.col(ts_col), width)
    # exact distinct is unsupported on streams; HLL sketch there, exact in batch
    uniq = (
        F.approx_count_distinct("user_id") if df.isStreaming else F.countDistinct("user_id")
    )
    return (
        df.groupBy(win, *extra_keys)
        .agg(
            F.count(F.lit(1)).alias("total_events"),
            uniq.alias("unique_users"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            *extra_keys,
            "total_events",
            "unique_users",
            "sum_value",
        )
    )


def sliding_counts(
    df: DataFrame,
    ts_col: str = "ts",
    width: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Sliding (hopping) window counts — each event lands in
    width/slide overlapping windows (streaming or batch DataFrame).
    SURVEY §2.10 extension alongside tumbling/session."""
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    uniq = (
        F.approx_count_distinct("user_id") if df.isStreaming else F.countDistinct("user_id")
    )
    return (
        df.groupBy(F.window(F.col(ts_col), width, slide))
        .agg(
            F.count(F.lit(1)).alias("total_events"),
            uniq.alias("unique_users"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "total_events",
            "unique_users",
            "sum_value",
        )
    )


def session_window_counts(
    df: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    key: str = "user_id",
) -> DataFrame:
    """Session windows per key, rolled up to per-key session counts; in
    batch this must agree with the lag-gap sessionization in
    plans/windows.py. BATCH-ONLY: the rollup chains a second aggregation
    on top of the session-window agg, which streaming forbids — the
    single-aggregation streaming form is
    ``plans/streaming_live.streaming_session_window``."""
    if df.isStreaming:
        raise ValueError(
            "session_window_counts chains two aggregations (per-session, "
            "then per-key) — unsupported on a streaming DataFrame; use "
            "plans/streaming_live.streaming_session_window instead"
        )
    win = F.session_window(F.col(ts_col), gap)
    per_session = df.groupBy(win, key).agg(F.count(F.lit(1)).alias("session_events"))
    return per_session.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("session_events").alias("n_events"),
    )


def stateful_user_counts(
    df: DataFrame,
    key: str = "user_id",
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    a running per-key event count maintained across micro-batches (the
    shape the reference would need for cross-batch user velocity without
    re-scanning silver; no built-in aggregation exposes incremental
    per-batch emission like this).

    State per key is one long — bounded, no timeout needed for the
    bounded-key test corpus; production would set a TTL timeout to age
    out idle keys."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key_tuple, pdf_iter, state: GroupState):
        import pandas as pd

        seen = state.get[0] if state.exists else 0
        batch = 0
        for pdf in pdf_iter:
            batch += len(pdf)
        seen += batch
        state.update((seen,))
        yield pd.DataFrame(
            {"key": [key_tuple[0]], "batch_events": [batch], "total_events": [seen]}
        )

    return df.groupBy(key).applyInPandasWithState(
        update,
        outputStructType="key long, batch_events long, total_events long",
        stateStructType="total long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def tws_available() -> bool:
    """Whether Spark 4's transformWithStateInPandas can actually run
    here: its StatefulProcessor state-server protocol serializes over
    protobuf, so the ``google.protobuf`` package must be importable by
    the TWS driver worker (probed round 3: absent in this container —
    the worker crashes with ImportError in StateMessage_pb2 otherwise;
    re-probed rounds 11-13 (latest 2026-08-17): still absent, no wheel in
    the local pip cache either (`pip download --no-index protobuf` →
    no matching distribution), and the environment forbids network
    installs — the runtime gate stands, not vendored by design).
    """
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def stateful_user_counts_tws(df: DataFrame, key: str = "user_id") -> DataFrame:
    """The :func:`stateful_user_counts` operator on Spark 4's
    ``transformWithStateInPandas`` API — the successor to
    ``applyInPandasWithState`` with composable typed state (value/list/
    map), timers, and TTL. Semantics here are identical to the
    applyInPandasWithState form (per-key running count, one output row
    per key per micro-batch), so the two implementations are
    cross-checkable; requires the RocksDB state-store provider::

        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider")

    Gated on :func:`tws_available` (protobuf dependency); raises
    ImportError when the runtime can't support it.
    """
    if not tws_available():
        raise ImportError(
            "transformWithStateInPandas needs google.protobuf, which is "
            "not available in this environment (see tws_available)"
        )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState("count", "total long")

        def handleInputRows(self, key_tuple, rows, timer_values):
            import pandas as pd

            total = self._count.get()[0] if self._count.exists() else 0
            batch = sum(len(pdf) for pdf in rows)
            total += batch
            self._count.update((total,))
            yield pd.DataFrame(
                {
                    "key": [key_tuple[0]],
                    "batch_events": [batch],
                    "total_events": [total],
                }
            )

        def close(self) -> None:
            pass

    return df.groupBy(key).transformWithStateInPandas(
        _RunningCount(),
        outputStructType="key long, batch_events long, total_events long",
        outputMode="append",
        timeMode="none",
    )


# -- sink ---------------------------------------------------------------------


def _start(
    stream_df: DataFrame,
    body,
    checkpoint_dir: str,
    trigger: dict | None,
    output_mode: str = "update",
) -> StreamingQuery:
    """Start ``body(batch_df, batch_id)`` as the query's checkpointed
    ``foreachBatch`` sink — the one writer every sink here shares."""
    writer = (
        stream_df.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def await_drain(q: StreamingQuery, name: str) -> None:
    """Wait for an ``availableNow`` query to drain its source; stop it
    and raise ``TimeoutError`` if it is still active after 300 s."""
    q.awaitTermination(300)
    if q.isActive:
        q.stop()
        raise TimeoutError(f"{name} did not finish in 300s")


def start_merge_sink(
    stream_df: DataFrame,
    target_path: str,
    keys: Sequence[str],
    checkpoint_dir: str,
    trigger: dict | None = None,
    partition_by: Sequence[str] | None = None,
) -> StreamingQuery:
    """T4/D3: foreachBatch insert-only merge -> replayed batches no-op.

    With ``partition_by`` the merge body is partition-scoped (only the
    batch's partitions of the target are read, and the new rows are
    appended into them — O(batch) work per micro-batch, the reference's
    event_date contract); with Iceberg/Delta the body becomes a catalog
    MERGE INTO and nothing else changes.

    The body is :func:`insert_only_parquet` alone, with no emptiness
    guard in front: every action on ``batch_df`` re-runs the micro-batch
    plan, and the merge materializes the batch once and returns on an
    empty one in that same job. A data trigger into an existing table
    costs 4 Spark jobs, the first (cold) one 2, a full replay 3 and an
    empty trigger 1.
    """
    spark = stream_df.sparkSession

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        insert_only_parquet(
            spark, target_path, batch_df, keys, partition_by=partition_by
        )

    return _start(stream_df, _merge_batch, checkpoint_dir, trigger)


def start_scd2_sink(
    stream_df: DataFrame,
    dim_path: str,
    keys: Sequence[str],
    attrs: Sequence[str],
    checkpoint_dir: str,
    eff_date_col: str = "eff_date",
    high_date: str = "9999-12-31",
    trigger: dict | None = None,
) -> StreamingQuery:
    """CDC stream -> SCD2 versioned dimension: each micro-batch of
    update rows (``keys + attrs + eff_date_col``) is applied to the
    dimension at ``dim_path`` via :func:`operators.merge.scd2_apply` —
    the streaming upsert of a versioned dimension that the reference's
    Iceberg MERGE would perform (``silver_batch_job.py:294-326``), with
    history columns instead of overwrite.

    Exactly-once composition: checkpointed offsets make each CDC file
    process once, and the body enforces EVENT-TIME MONOTONICITY per key
    — an update applies only if its effective date is strictly newer
    than the key's current ``valid_from``. That guard makes the history
    a fixed point under ARBITRARY replay (not just same-batch retry): a
    crash between dim write and offset commit re-applies the last batch
    as a no-op, and even a full from-scratch re-stream over the evolved
    dim changes nothing, because every replayed update is now late.
    Without the guard, replaying an older batch would "change" keys
    back to stale values and corrupt the history — the SCD2 analogue of
    out-of-order events, handled the same way a watermark handles them.
    (Same-day corrections are dropped by the guard; a feed needing them
    must carry a version-sequence column as part of the effective key.)
    Proven by the checkpoint-restart + full-replay test
    (tests/test_streaming.py).

    Effective dates come from the DATA (``eff_date_col``), never the
    wall clock — replay determinism requires it. A recovered micro-batch
    may fold several CDC files together, so the body applies each
    distinct effective date in ascending order (bounded driver loop:
    one iteration per folded CDC day, not per row).

    The dim rewrite is copy-on-write on plain parquet (bounded by dim
    size, not stream volume); an Iceberg/Delta backend would MERGE with
    file pruning, and a date-bucketed history table would make the
    rewrite partition-scoped like upsert_parquet. Jobs per trigger: 1
    to pin the batch and observe its dates (all when empty), then ~10
    per effective date to rewrite the dim (11 for one date, a replay
    alike)."""
    spark = stream_df.sparkSession

    def _apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch, stats = materialize(
            batch_df, F.array_sort(F.collect_set(eff_date_col)).alias("effs")
        )
        if not stats["effs"]:  # empty, or only NULL dates (no update)
            return
        dim = spark.read.parquet(dim_path)
        for eff in stats["effs"]:
            updates = batch.filter(F.col(eff_date_col) == eff).select(*keys, *attrs)
            # late-update guard: drop updates not strictly newer than the
            # key's current version (ISO date strings compare lexically)
            cur_from = dim.filter(F.col("is_current")).select(
                *keys, F.col("valid_from").alias("__cur_from")
            )
            updates = (
                updates.join(cur_from, list(keys), "left")
                .filter(
                    F.col("__cur_from").isNull() | (F.col("__cur_from") < F.lit(str(eff)))
                )
                .drop("__cur_from")
            )
            dim = scd2_apply(dim, updates, keys, attrs, str(eff), high_date)
        # pin rows before overwriting the files they were read from
        pinned = dim.localCheckpoint(eager=True)
        pinned.write.mode("overwrite").parquet(dim_path)

    if not path_exists(spark, dim_path):
        raise ValueError(
            f"dim_path {dim_path!r} must be seeded with the initial dimension "
            "(write the current rows with valid_from/valid_to/is_current first)"
        )
    return _start(stream_df, _apply_batch, checkpoint_dir, trigger)


def start_validated_merge_sink(
    stream_df: DataFrame,
    target_path: str,
    dlq_path: str,
    keys: Sequence[str],
    checkpoint_dir: str,
    valid: "F.Column",
    trigger: dict | None = None,
    partition_by: Sequence[str] | None = None,
) -> StreamingQuery:
    """Per-micro-batch DQ gate with DLQ side output (reference S4 done
    in-stream): rows failing ``valid`` route to the DLQ table, the rest
    merge into the target — both via insert-only merge on the same
    keys, so a replayed micro-batch no-ops on BOTH sides (a plain DLQ
    append would duplicate quarantined rows on replay and break the
    exactly-once story). The batch is split once from a cached local
    evaluation inside foreachBatch: batch_df is a static DataFrame
    there, so the valid/invalid branches don't re-read the source. That
    one evaluation also observes the row count, so an empty micro-batch
    returns after 1 job and a data micro-batch is read once: 9 jobs per
    data trigger, 5 into cold tables, 7 on a full replay."""
    spark = stream_df.sparkSession

    def _gate_and_merge(batch_df: DataFrame, batch_id: int) -> None:
        flagged, stats = materialize(batch_df.withColumn("__valid", valid))
        if stats["rows"] == 0:
            return
        bad = flagged.filter(~F.col("__valid")).drop("__valid")
        good = flagged.filter(F.col("__valid")).drop("__valid")
        # an empty side returns 0 from the merge's one materializing job
        insert_only_parquet(spark, dlq_path, bad, keys)
        insert_only_parquet(spark, target_path, good, keys, partition_by=partition_by)

    return _start(stream_df, _gate_and_merge, checkpoint_dir, trigger)


def start_snapshot_sink(
    stream_df: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Streaming commits into a manifest-versioned snapshot table
    (``operators/snapshots.py``) — the portable form of the reference's
    Structured-Streaming-into-Iceberg bronze sink
    (``bronze_streaming_job.py:364-395``), which relies on Iceberg
    recording the query/batch id in each snapshot to make retried
    micro-batch commits no-ops.

    Exactly-once here is a TWO-layer protocol, and both layers matter:
    checkpointed offsets stop a *healthy* restart from re-reading
    sources, and the manifest's ``stream-batch-{id}`` operation label
    stops a *crashed* restart from double-committing the batch that was
    written but whose offset never committed — the failure window
    checkpoints alone cannot close for a non-transactional sink. A
    replayed batch whose label already exists in the (KB-sized)
    manifest history is skipped wholesale; readers meanwhile get
    snapshot isolation per micro-batch commit. Jobs per trigger: 1 to
    pin the batch (all when empty), 1 to commit it, 0 on a replay."""
    from ..operators.snapshots import committed_operations, snapshot_write

    spark = stream_df.sparkSession
    # the committed-tag set is read ONCE at (re)start and maintained
    # in-memory per commit — without the cache every micro-batch would
    # re-open all V manifests (O(V) per batch, O(V^2) per stream
    # lifetime). Valid under the sink's single-writer contract; a
    # restart rebuilds the set from the manifests.
    seen: set[str] | None = None

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal seen
        if seen is None:
            seen = committed_operations(table_path)
        tag = f"stream-batch-{batch_id}"
        if tag in seen:
            return
        batch, stats = materialize(batch_df)
        if stats["rows"] == 0:
            return
        snapshot_write(spark, table_path, batch, mode="append", operation=tag)
        seen.add(tag)

    return _start(stream_df, _commit, checkpoint_dir, trigger, output_mode="append")


def _atomic_write_registers(rows: list, target_path: str) -> None:
    """Persist (bucket, M) register rows as ONE parquet file via
    write-temp-then-``os.replace`` — atomic on POSIX, so the register
    table can never be observed half-written (ADVICE r4: the table is
    the only copy of the sketch state; committed batches won't replay)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "bucket": pa.array([r["bucket"] for r in rows], type=pa.int64()),
            "M": pa.array([r["M"] for r in rows], type=pa.int32()),
        }
    )
    tmp = f"{target_path}.tmp-{os.getpid()}"
    pq.write_table(table, tmp)
    # fsync data before the rename and the directory after it: os.replace
    # alone only orders METADATA — on power loss the journal can commit
    # the rename while the file contents are still in page cache, leaving
    # a torn parquet at target_path (the same discipline as the snapshot
    # manifest commit in operators/snapshots.py)
    fd = os.open(tmp, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)
    os.replace(tmp, target_path)
    dfd = os.open(os.path.dirname(os.path.abspath(target_path)), os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


# -- one operator API for the merge-into-persistent-state sinks --------------
#
# The three streaming idempotency algebras (VERDICT r8 item 7) share one
# shape — per micro-batch: derive a slim state DELTA from the batch,
# then merge it into the persistent table under an algebra whose replay
# is a fixed point:
#
# * ``set-insert``   — delta rows insert-only merge on ``keys``; replays
#   and duplicate deliveries no-op before any write. Keyed-SUM state
#   (the histogram sink) is THIS algebra with batch_id in ``keys``: the
#   delta carries per-batch partial sums, readers sum across batch rows,
#   and a replayed batch's rows already exist, so the sum never double
#   counts.
# * ``register-max`` — delta rows max-merge on ``keys`` over ``max_col``
#   (max is idempotent AND commutative, so replay or reorder cannot
#   corrupt the state); the bounded register table persists atomically
#   as one file.


def mergeable_commit(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    *,
    algebra: str,
    keys: Sequence[str],
    max_col: str | None = None,
) -> None:
    """Merge one micro-batch's state delta into the persistent table —
    the testable per-batch body of :func:`start_mergeable_sink` (the
    replay ⇒ fixed-point property tests drive this directly). Either
    algebra reads the delta once; register-max observes its row count on
    the collect and skips the rewrite of an empty delta."""
    if algebra == "set-insert":
        insert_only_parquet(spark, path, delta, keys=list(keys))
    elif algebra == "register-max":
        if max_col is None:
            raise ValueError("register-max needs max_col")
        seen = Observation()
        merged = delta.observe(seen, F.count(F.lit(1)).alias("rows"))
        if path_exists(spark, path):
            merged = merged.unionByName(spark.read.parquet(path))
        # bounded by construction (register state)
        rows = merged.groupBy(*keys).agg(F.max(max_col).alias(max_col)).collect()
        if seen.get["rows"]:
            _atomic_write_registers(rows, path)
    else:
        raise ValueError(f"unknown merge algebra {algebra!r}")


def start_mergeable_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    delta_fn,
    *,
    algebra: str,
    keys: Sequence[str],
    max_col: str | None = None,
    trigger: dict | None = None,
) -> StreamingQuery:
    """The shared merge-into-persistent-state sink: ``delta_fn(batch_df,
    batch_id) -> DataFrame`` derives the slim state delta (fingerprints,
    postings, bin counts, registers — never the blobs/raw rows), and
    :func:`mergeable_commit` folds it into the table under ``algebra``.
    Exactly-once is the ALGEBRA's property, not the checkpoint's: a
    replayed batch's merge is a fixed point, so crash-replay between the
    write and the checkpoint commit cannot corrupt state. No emptiness
    probe runs first: the merge's first job reads the lazy delta, so an
    empty batch writes nothing. Jobs per trigger: set-insert as
    :func:`insert_only_parquet` plus one per shuffle in the delta;
    register-max data 4, first 2, replay 4, empty 4."""
    spark = stream_df.sparkSession

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        mergeable_commit(
            spark,
            path,
            delta_fn(batch_df, batch_id),
            algebra=algebra,
            keys=keys,
            max_col=max_col,
        )

    return _start(stream_df, _commit, checkpoint_dir, trigger)


def start_histogram_sink(
    stream_df: DataFrame,
    bins_path: str,
    value_col: str,
    mn: float,
    mx: float,
    checkpoint_dir: str,
    n_bins: int = 256,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Streaming fixed-width histogram sketch — the ADDITIVE-state
    complement to :func:`start_hll_sink`: bin counts merge by SUM, and
    sums are NOT idempotent under replay, so exactly-once here comes
    from the OTHER production mechanism — each micro-batch's bin counts
    are keyed by (batch_id, bin) and written through the insert-only
    merge, which makes a replayed batch a no-op before any write. The
    reader sums across batch rows: state is <= n_batches x n_bins rows
    (bin-level compaction is a metadata rewrite when n_batches grows).
    The bin domain [mn, mx) is FIXED a priori — the standing contract
    of streaming histogram/quantile sketches (a data-dependent domain
    would need a second pass the stream cannot take). Jobs per trigger:
    data 5, first 3, replay 4, empty 1."""
    if not mx > mn:
        # a zero/negative-width domain would make every bin expression
        # divide by zero (NULL bins) — reject at start, not per batch
        raise ValueError(f"histogram domain must satisfy mx > mn, got [{mn}, {mx})")
    width_expr = (F.col(value_col) - F.lit(mn)) / F.lit(mx - mn) * n_bins

    def _delta(batch_df: DataFrame, batch_id: int) -> DataFrame:
        # clamp BOTH sides of the a-priori domain: values >= mx were
        # already folded into the top bin, but values < mn used to emit
        # NEGATIVE bin ids that shifted every cumulative rank downstream.
        # NULL measurements are dropped explicitly — least/greatest SKIP
        # nulls in Spark, so without the filter a NULL would silently
        # count in a real bin instead of not counting at all
        binned = batch_df.filter(F.col(value_col).isNotNull()).select(
            F.greatest(
                F.lit(0), F.least(F.lit(n_bins - 1), F.floor(width_expr))
            ).alias("bin")
        )
        return (
            binned.groupBy("bin")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.lit(batch_id).alias("batch_id"), "bin", "cnt")
        )

    return start_mergeable_sink(
        stream_df,
        bins_path,
        checkpoint_dir,
        _delta,
        algebra="set-insert",
        keys=["batch_id", "bin"],
        trigger=trigger,
    )


def start_postings_sink(
    stream_df: DataFrame,
    postings_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Streaming retrieval-index maintenance (VERDICT r7 item 7): each
    micro-batch's distinct (token, doc_id) postings INSERT-ONLY merge
    into a persistent postings table — the incremental twin of the
    batch inverted-index build (``plans/text.text_inverted_index``).

    A posting list is a SET, so insert-only IS the complete merge
    algebra (where the HLL sink's algebra is max and the histogram
    sink's is keyed sum): a replayed micro-batch no-ops before any
    write (exactly-once), and a re-observed (token, doc) pair from a
    duplicate document delivery is also a no-op — the index converges
    to the same set regardless of delivery order or replay. With
    doc-disjoint micro-batches the end-of-stream table is therefore
    BIT-IDENTICAL to the batch build's (token, doc_id) set, which the
    registered query checks value-exactly against the batch oracle.
    Tokenization is the exact expression the batch build uses, so the
    two paths cannot drift. State grows with the true posting count
    only; the per-batch merge is one anti-join keyed on (token,
    doc_id) — at 100 TB the target would be bucketed by token so the
    anti-join co-locates, same as every other merge sink here. Jobs per
    trigger: data 5, first 3, replay 4, empty 1."""
    from ..operators.textops import tokenize

    def _delta(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return batch_df.select(
            F.explode(tokenize(F.col(text_col))).alias("token"),
            F.col(id_col).alias("doc_id"),
        ).distinct()

    return start_mergeable_sink(
        stream_df,
        postings_path,
        checkpoint_dir,
        _delta,
        algebra="set-insert",
        keys=["token", "doc_id"],
        trigger=trigger,
    )


def start_ann_signature_sink(
    stream_df: DataFrame,
    signatures_path: str,
    checkpoint_dir: str,
    dim: int,
    n_planes: int = 6,
    n_tables: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Streaming ANN-index maintenance — the VECTOR-leg twin of
    :func:`start_postings_sink`: each micro-batch's multi-table LSH
    signatures (one (vec_id, table, bucket) row per table, buckets from
    the same md5-derived hyperplanes every batch query uses) INSERT-ONLY
    merge into a persistent signature table. A vector's signature is a
    pure function of the vector, so the signature set has SET semantics
    and insert-only is the complete merge algebra: replayed
    micro-batches and duplicate vector deliveries no-op, and the
    end-of-stream table is bit-identical to the batch signature build —
    which the registered readout proves by running the multi-table
    top-k from the STREAMED table against the batch oracle. At scale
    the signature table is the serving-side ANN index (bucket-keyed,
    ~n_tables rows of 24 bytes per vector); the per-batch merge is one
    anti-join on (table, vec_id). Jobs per trigger: data 4, first 2,
    replay 3, empty 1."""
    from ..operators.similarity import lsh_bucket_key

    def _delta(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return batch_df.select(
            F.col(id_col).alias("vec_id"),
            F.posexplode(
                F.array(
                    *[
                        lsh_bucket_key(vec_col, dim, n_planes, table=t)
                        for t in range(n_tables)
                    ]
                )
            ).alias("table", "bucket"),
        )

    return start_mergeable_sink(
        stream_df,
        signatures_path,
        checkpoint_dir,
        _delta,
        algebra="set-insert",
        keys=["table", "vec_id"],
        trigger=trigger,
    )


def hll_batch_registers(
    df: DataFrame, key_col: str, seed: str, m: int = 1024
) -> DataFrame:
    """One micro-batch's HyperLogLog registers over ``key_col`` — the
    same engine-neutral construction as ``plans/sketches.py`` (md5
    60-bit uniform, low bits = bucket, rho via binary-string leading
    zeros): (bucket, M) rows, at most ``m`` of them.

    ``m`` must be a power of two: the hash's low ``p = log2(m)`` bits
    pick the bucket, the remaining ``60 - p`` bits feed rho, so the
    empty-rest register value is ``(60 - p) + 1`` — derived from ``m``
    here rather than hard-coded for p=10, which would silently skew
    every register for any other size (readers scale by 2^(62-M), which
    stays integral for any p >= 0 since rho <= 61)."""
    from ..operators.textops import hex_hash

    p = m.bit_length() - 1
    if m <= 0 or (1 << p) != m:
        raise ValueError(f"HLL register count m must be a power of two, got {m}")
    h = hex_hash(F.col(key_col).cast("string"), seed=seed)
    t = df.select(h.alias("h")).select(
        (F.col("h") % m).alias("bucket"),
        F.expr(f"h div {m}").alias("rest"),
    )
    rho = F.lit(61 - p) - F.length(F.expr("ltrim('0', conv(rest, 10, 2))"))
    return (
        t.select("bucket", rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("M"))
    )


def start_hll_sink(
    stream_df: DataFrame,
    registers_path: str,
    key_col: str,
    seed: str,
    checkpoint_dir: str,
    m: int = 1024,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Streaming sketch materialization: each micro-batch's registers
    MAX-merge into a persistent register table — the production pattern
    where a distinct-count over an unbounded stream costs O(m) state
    instead of an unbounded dedup. The merge is naturally idempotent
    (max is), so replayed batches cannot corrupt the sketch — the
    exactly-once guarantee covers BATCH REPLAY by algebra; STATE
    durability is covered separately by the atomic persist below. The
    register table is sketch-sized (≤ m rows) by construction, so the
    driver-side materialization before the persist is bounded and safe.

    Durability: the register table is the ONLY copy of the sketch state
    (committed batches will not be replayed), so it is persisted as a
    single parquet file written to a temp name and ``os.replace``d into
    place — a crash at any point leaves either the complete previous
    table or the complete new one, never a torn write. (A non-local
    ``registers_path`` would need the object store's own atomic-rename
    or a manifest commit — this sink targets local/driver-side state.)
    Jobs per trigger: data 4, first 2, replay 4, empty 4."""
    def _delta(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return hll_batch_registers(batch_df, key_col, seed, m)

    return start_mergeable_sink(
        stream_df,
        registers_path,
        checkpoint_dir,
        _delta,
        algebra="register-max",
        keys=["bucket"],
        max_col="M",
        trigger=trigger,
    )
