"""Streaming semantics: watermarked stateful dedup across micro-batches
and exactly-once-equivalent merge sink (SURVEY §5 item 4, D1/D3/T1-T5).
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _write_batch(spark, directory, rows, name):
    """Write one micro-batch as a single flat parquet FILE (the file
    stream source lists plain files, not nested dataset dirs)."""
    import glob
    import shutil
    import tempfile

    df = spark.createDataFrame(rows, SCHEMA)
    with tempfile.TemporaryDirectory() as tmp:
        out = os.path.join(tmp, "ds")
        df.coalesce(1).write.mode("overwrite").parquet(out)
        part = glob.glob(os.path.join(out, "part-*.parquet"))[0]
        os.makedirs(directory, exist_ok=True)
        shutil.copy(part, os.path.join(directory, name))


def _rows(ids_and_ts):
    return [
        (i, ts, i % 5, "click", float(i))
        for i, ts in ids_and_ts
    ]


@pytest.fixture()
def batches_dir(tmp_path):
    return str(tmp_path / "batches")


def test_watermark_dedup_across_microbatches(spark, tmp_path, batches_dir):
    from wikistream_event_data_pipeline_aws_spark.streaming.ingest import (
        file_stream,
        watermark_dedup,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    sec = dt.timedelta(seconds=1)
    # batch1: ids 1-3; batch2 replays id 2 (within watermark) + new id 4

    _write_batch(spark, batches_dir, _rows([(1, t0), (2, t0 + sec), (3, t0 + 2 * sec)]), "b1.parquet")
    _write_batch(spark, batches_dir, _rows([(2, t0 + sec), (4, t0 + 3 * sec)]), "b2.parquet")

    stream = file_stream(spark, batches_dir, SCHEMA, max_files_per_trigger=1)
    deduped = watermark_dedup(stream, ["event_id"], "ts", "10 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.event_id for r in spark.sql("SELECT * FROM dedup_out").collect()}
    assert got == {1, 2, 3, 4}
    n = spark.sql("SELECT COUNT(*) AS n FROM dedup_out").collect()[0].n
    assert n == 4  # replayed id=2 dropped by stateful dedup


def test_late_replay_beyond_watermark_escapes_dedup(spark, tmp_path, batches_dir):
    """T5: rows older than the watermark are silently dropped at the
    dedup operator's input (the reference documents exactly this:
    bronze_streaming_job.py:152 + SURVEY §2.10 T5). Bounded state means
    the late replay never reaches the output; the downstream idempotent
    MERGE (D3) is the second line of defense for replays."""
    from wikistream_event_data_pipeline_aws_spark.streaming.ingest import (
        file_stream,
        watermark_dedup,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    _write_batch(spark, batches_dir, _rows([(1, t0)]), "b1.parquet")
    # advances the watermark to ~t0+50min (10-minute delay on t0+1h)
    _write_batch(spark, batches_dir, _rows([(5, t0 + dt.timedelta(hours=1))]), "b2.parquet")
    # replay of id=1 with its original (now far-late) timestamp
    _write_batch(spark, batches_dir, _rows([(1, t0)]), "b3.parquet")

    stream = file_stream(spark, batches_dir, SCHEMA, max_files_per_trigger=1)
    deduped = watermark_dedup(stream, ["event_id"], "ts", "10 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("late_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    ids = sorted(r.event_id for r in spark.sql("SELECT * FROM late_out").collect())
    assert ids == [1, 5]  # the far-late replay was dropped, not re-emitted


def test_stateful_user_counts_across_batches(spark, tmp_path, batches_dir):
    """Custom stateful operator (applyInPandasWithState): per-key totals
    accumulate across micro-batches."""
    from wikistream_event_data_pipeline_aws_spark.streaming.ingest import (
        file_stream,
        stateful_user_counts,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    sec = dt.timedelta(seconds=1)
    # user ids are i % 5 -> batch1 users {1,2}, batch2 users {1,2}
    _write_batch(spark, batches_dir, _rows([(1, t0), (2, t0 + sec)]), "b1.parquet")
    _write_batch(spark, batches_dir, _rows([(6, t0 + 2 * sec), (7, t0 + 3 * sec), (11, t0 + 4 * sec)]), "b2.parquet")

    stream = file_stream(spark, batches_dir, SCHEMA, max_files_per_trigger=1)
    counted = stateful_user_counts(stream, key="user_id")
    q = (
        counted.writeStream.format("memory")
        .queryName("stateful_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM stateful_out ORDER BY key, total_events").collect()
    finals = {}
    for r in rows:
        finals[r.key] = max(finals.get(r.key, 0), r.total_events)
    # user 1 appears in both batches (ids 1, 6, 11), user 2 in both (2, 7)
    assert finals == {1: 3, 2: 2}


def test_merge_sink_exactly_once_equivalent(spark, tmp_path, batches_dir):
    from wikistream_event_data_pipeline_aws_spark.streaming.ingest import (
        file_stream,
        start_merge_sink,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    sec = dt.timedelta(seconds=1)

    _write_batch(spark, batches_dir, _rows([(1, t0), (2, t0 + sec)]), "b1.parquet")
    # batch 2 replays id 2 entirely (duplicate across batches, no watermark
    # dedup in this pipeline -> the MERGE must no-op it)
    _write_batch(spark, batches_dir, _rows([(2, t0 + sec), (3, t0 + 2 * sec)]), "b2.parquet")

    target = str(tmp_path / "bronze")
    stream = file_stream(spark, batches_dir, SCHEMA, max_files_per_trigger=1)
    q = start_merge_sink(stream, target, ["event_id"], str(tmp_path / "ckpt2"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    final = spark.read.parquet(target)
    assert sorted(r.event_id for r in final.collect()) == [1, 2, 3]


def test_tumbling_counts_streaming_matches_batch(spark, tmp_path, batches_dir):
    from wikistream_event_data_pipeline_aws_spark.streaming.ingest import (
        file_stream,
        tumbling_counts,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 30, 0)
    rows = _rows(
        [(i, t0 + dt.timedelta(minutes=20 * i)) for i in range(12)]
    )  # spans 4 hours

    _write_batch(spark, batches_dir, rows[:6], "b1.parquet")
    _write_batch(spark, batches_dir, rows[6:], "b2.parquet")

    stream = file_stream(spark, batches_dir, SCHEMA, max_files_per_trigger=1)
    agg = tumbling_counts(stream, width="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("tumble_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {
        (r.window_start, r.total_events)
        for r in spark.sql("SELECT * FROM tumble_out").collect()
    }
    batch_df = spark.createDataFrame(rows, SCHEMA)
    batched = {
        (r.window_start, r.total_events)
        for r in tumbling_counts(batch_df, width="1 hour").collect()
    }
    assert streamed == batched


# -- Kafka reader-option contract (S1/T6; no broker in the container) ---------


def test_kafka_options_contract():
    from wikistream_event_data_pipeline_aws_spark.streaming.ingest import (
        kafka_options,
    )

    opts = kafka_options(
        "b1:9092,b2:9092",
        "events",
        starting_offsets="earliest",
        group_id="wikistream-bronze-streaming-consumer",
        max_offsets_per_trigger=100_000,
        fail_on_data_loss=False,
        extra_options={"kafka.security.protocol": "SASL_SSL"},
    )
    assert opts == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "events",
        "startingOffsets": "earliest",
        "kafka.group.id": "wikistream-bronze-streaming-consumer",
        "maxOffsetsPerTrigger": "100000",
        "failOnDataLoss": "false",
        "kafka.security.protocol": "SASL_SSL",
    }


def test_kafka_options_offset_json_and_validation():
    import pytest as _pytest

    from wikistream_event_data_pipeline_aws_spark.streaming.ingest import (
        kafka_options,
    )

    # per-partition offset resumption (the third startingOffsets mode)
    opts = kafka_options("b:9092", "t", starting_offsets='{"t":{"0":42,"1":-2}}')
    assert opts["startingOffsets"].startswith("{")
    with _pytest.raises(ValueError):
        kafka_options("b:9092", "t", starting_offsets="yesterday")


def test_kafka_stream_builds_unresolved_reader(spark):
    """The reader itself needs the kafka connector jar; without a broker
    we assert construction fails at LOAD time with the missing-source
    error (i.e. our option assembly is not the failing part)."""
    import pytest as _pytest

    from wikistream_event_data_pipeline_aws_spark.streaming.ingest import kafka_stream

    with _pytest.raises(Exception) as ei:
        kafka_stream(spark, "b:9092", "t")
    msg = str(ei.value)
    assert "kafka" in msg.lower()


def test_kafka_wire_roundtrip_envelope_to_merge_sink(spark, tmp_path):
    """S1/T6 without a broker: micro-batches carrying Spark's exact
    Kafka source schema (key/value binary + topic/partition/offset/
    timestamp) flow through envelope parse -> watermark dedup -> the
    checkpointed merge sink. After .load() the plan is identical to the
    real Kafka source, so this pins the whole downstream contract:
    offset metadata propagation, envelope decode, cross-batch replay
    idempotency."""
    import glob
    import json
    import shutil
    import tempfile

    from wikistream_event_data_pipeline_aws_spark.streaming.ingest import (
        KAFKA_WIRE_SCHEMA,
        file_stream,
        parse_kafka_envelope,
        start_merge_sink,
        watermark_dedup,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def kafka_rows(specs):
        rows = []
        for event_id, offset in specs:
            payload = json.dumps(
                {
                    "id": event_id,
                    "data": json.dumps({"type": "edit", "domain": "en.wikipedia.org"}),
                }
            ).encode()
            rows.append(
                (
                    str(event_id).encode(),
                    payload,
                    "raw-events",
                    0,
                    offset,
                    t0 + dt.timedelta(seconds=offset),
                    0,
                )
            )
        return rows

    batches = str(tmp_path / "kafka_batches")

    def write_kafka_batch(rows, name):
        df = spark.createDataFrame(rows, KAFKA_WIRE_SCHEMA)
        with tempfile.TemporaryDirectory() as tmp:
            out = os.path.join(tmp, "ds")
            df.coalesce(1).write.mode("overwrite").parquet(out)
            part = glob.glob(os.path.join(out, "part-*.parquet"))[0]
            os.makedirs(batches, exist_ok=True)
            shutil.copy(part, os.path.join(batches, name))

    write_kafka_batch(kafka_rows([(1, 0), (2, 1)]), "b1.parquet")
    # batch 2 replays offset 1 (broker redelivery) and adds offset 2
    write_kafka_batch(kafka_rows([(2, 1), (3, 2)]), "b2.parquet")

    stream = file_stream(spark, batches, KAFKA_WIRE_SCHEMA, max_files_per_trigger=1)
    parsed = parse_kafka_envelope(
        stream, "id long, data string"
    ).select(
        F.col("env.id").alias("event_id"),
        "kafka_key",
        "topic",
        "partition",
        "offset",
        "kafka_timestamp",
        F.get_json_object("env.data", "$.type").alias("event_type"),
    )
    deduped = watermark_dedup(parsed, ["event_id"], ts_col="kafka_timestamp")
    target = str(tmp_path / "bronze_kafka")
    q = start_merge_sink(deduped, target, ["event_id"], str(tmp_path / "ckpt_kafka"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    final = spark.read.parquet(target).collect()
    assert sorted(r.event_id for r in final) == [1, 2, 3]
    by_id = {r.event_id: r for r in final}
    # kafka metadata survived the decode; key matches the event id
    assert by_id[3].offset == 2 and by_id[3].topic == "raw-events"
    assert by_id[1].kafka_key == "1"
    # the inner stringified payload parsed through get_json_object
    assert by_id[2].event_type == "edit"


def test_transform_with_state_running_counts(spark, tmp_path, batches_dir):
    """Spark 4 transformWithStateInPandas variant of the running count:
    must agree with the applyInPandasWithState operator batch-for-batch.
    Skipped where the TWS protobuf dependency is absent (see
    ingest.tws_available)."""
    from wikistream_event_data_pipeline_aws_spark.streaming.ingest import (
        file_stream,
        stateful_user_counts_tws,
        tws_available,
    )

    if not tws_available():
        pytest.skip("google.protobuf unavailable: transformWithStateInPandas cannot run")

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    sec = dt.timedelta(seconds=1)
    _write_batch(spark, batches_dir, _rows([(1, t0), (2, t0 + sec)]), "b1.parquet")
    _write_batch(spark, batches_dir, _rows([(3, t0 + 2 * sec), (6, t0 + 3 * sec)]), "b2.parquet")

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = file_stream(spark, batches_dir, SCHEMA, max_files_per_trigger=1)
        counts = stateful_user_counts_tws(stream, key="user_id")
        q = (
            counts.writeStream.format("memory")
            .queryName("tws_counts")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        if q.isActive:
            q.stop()
        rows = {(r.key, r.total_events) for r in spark.table("tws_counts").collect()
                if r.batch_events}
        # ids 1,2,3,6 -> users 1,2,3,1: user 1 reaches total 2 in batch 2
        assert (1, 1) in rows and (2, 1) in rows and (3, 1) in rows and (1, 2) in rows
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_merge_sink_restart_resumes_from_checkpoint(spark, tmp_path, batches_dir):
    """T4 hard case: stop the query, add data, START A NEW QUERY on the
    same checkpoint — committed offsets must not be reprocessed (the
    offset log gains exactly one entry per new batch) and replayed keys
    still no-op through the merge."""
    import json
    import os as _os

    from wikistream_event_data_pipeline_aws_spark.streaming.ingest import (
        file_stream,
        start_merge_sink,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    sec = dt.timedelta(seconds=1)
    target = str(tmp_path / "bronze_restart")
    ckpt = str(tmp_path / "ckpt_restart")

    _write_batch(spark, batches_dir, _rows([(1, t0), (2, t0 + sec)]), "b1.parquet")
    stream = file_stream(spark, batches_dir, SCHEMA, max_files_per_trigger=10)
    q = start_merge_sink(stream, target, ["event_id"], ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # second run: new file with one replayed id + one new id
    _write_batch(spark, batches_dir, _rows([(2, t0 + sec), (3, t0 + 2 * sec)]), "b2.parquet")
    stream2 = file_stream(spark, batches_dir, SCHEMA, max_files_per_trigger=10)
    q2 = start_merge_sink(stream2, target, ["event_id"], ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    final = spark.read.parquet(target)
    assert sorted(r.event_id for r in final.collect()) == [1, 2, 3]
    # offset log: one entry per processed micro-batch; a reprocessed b1
    # would have appended a third entry with duplicate source files
    offsets = sorted(
        f for f in _os.listdir(_os.path.join(ckpt, "offsets")) if f.isdigit()
    )
    assert offsets == ["0", "1"], offsets
    # batch 1's offset entry must reference only the NEW file
    with open(_os.path.join(ckpt, "offsets", "1")) as fh:
        entry_lines = fh.read().splitlines()
    assert not any("b1.parquet" in ln for ln in entry_lines), entry_lines


def test_validated_merge_sink_routes_dlq_and_stays_idempotent(spark, tmp_path, batches_dir):
    """Streaming DQ gate: invalid rows quarantine to the DLQ, valid rows
    merge; replaying the same batch dir through a fresh checkpoint adds
    nothing to either side (insert-only merge on both)."""
    from wikistream_event_data_pipeline_aws_spark.streaming.ingest import (
        file_stream,
        start_validated_merge_sink,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    sec = dt.timedelta(seconds=1)
    rows = [
        (1, t0, 1, "click", 5.0),
        (2, t0 + sec, 2, "click", -1.0),   # invalid: negative value
        (3, t0 + 2 * sec, 3, "view", 7.0),
    ]
    _write_batch(spark, batches_dir, rows, "b1.parquet")
    target = str(tmp_path / "gated_target")
    dlq = str(tmp_path / "gated_dlq")

    def run(ckpt_name):
        stream = file_stream(spark, batches_dir, SCHEMA, max_files_per_trigger=10)
        q = start_validated_merge_sink(
            stream, target, dlq, ["event_id"], str(tmp_path / ckpt_name),
            valid=F.col("value") >= 0,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run("ck1")
    assert sorted(r.event_id for r in spark.read.parquet(target).collect()) == [1, 3]
    assert [r.event_id for r in spark.read.parquet(dlq).collect()] == [2]
    # full replay through a FRESH checkpoint: both sides must no-op
    run("ck2")
    assert sorted(r.event_id for r in spark.read.parquet(target).collect()) == [1, 3]
    assert [r.event_id for r in spark.read.parquet(dlq).collect()] == [2]


# -- CDC stream -> SCD2 sink (VERDICT r3 item 3) ------------------------------


def _scd2_hist_snapshot(spark, dim_path):
    return {
        (r.c_custkey, r.c_acctbal, r.c_mktsegment, r.valid_from, r.valid_to, r.is_current)
        for r in spark.read.parquet(dim_path).collect()
    }


def test_scd2_sink_checkpoint_restart_and_replay_idempotent(spark, tmp_path, sf_dir):
    """The streamed SCD2 history must be (a) resumable — restart with the
    same checkpoint processes only the unseen CDC file — and (b) a fixed
    point under replay — wiping the checkpoint and re-streaming BOTH
    files over the already-evolved dim changes nothing (scd2_apply finds
    no diffs and no missing keys), which is the exactly-once-equivalent
    contract for a crash between dim write and offset commit."""
    from wikistream_event_data_pipeline_aws_spark.plans.merge import (
        seed_scd2_dim,
        write_cdc_fixture,
    )
    from wikistream_event_data_pipeline_aws_spark.streaming.ingest import (
        file_stream,
        start_scd2_sink,
    )

    cdc_all = tmp_path / "cdc_all"
    write_cdc_fixture(spark, sf_dir, str(cdc_all))
    files = sorted(cdc_all.iterdir())
    assert len(files) == 2

    cdc_dir = tmp_path / "cdc"
    cdc_dir.mkdir()
    dim_path = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")
    seed_scd2_dim(spark, sf_dir, dim_path)
    schema = spark.read.parquet(str(cdc_all)).schema

    def run():
        q = start_scd2_sink(
            file_stream(spark, str(cdc_dir), schema),
            dim_path,
            keys=["c_custkey"],
            attrs=["c_acctbal", "c_mktsegment"],
            checkpoint_dir=ckpt,
            trigger={"availableNow": True},
        )
        q.awaitTermination(300)
        assert not q.isActive

    # batch 1 only
    (cdc_dir / files[0].name).write_bytes(files[0].read_bytes())
    run()
    after_b1 = _scd2_hist_snapshot(spark, dim_path)
    closed = {r for r in after_b1 if not r[5]}
    assert closed and all(r[4] == "2024-06-01" for r in closed)

    # restart with the same checkpoint: only the new file is processed
    (cdc_dir / files[1].name).write_bytes(files[1].read_bytes())
    run()
    after_b2 = _scd2_hist_snapshot(spark, dim_path)
    assert after_b2 != after_b1
    assert any(r[4] == "2024-09-01" for r in after_b2 if not r[5])
    # the insert arm fired in-stream: new keys exist exactly once, current
    new_keys = [r for r in after_b2 if r[0] >= 1_000_000]
    assert new_keys and all(r[5] and r[3] == "2024-09-01" for r in new_keys)

    # full replay over the evolved dim: wipe offsets, re-stream BOTH files.
    # Every replayed update is now late (eff <= the key's current
    # valid_from), so the monotonicity guard makes the whole re-stream a
    # no-op — the strongest form of the exactly-once-equivalent contract.
    import shutil

    shutil.rmtree(ckpt)
    run()
    assert _scd2_hist_snapshot(spark, dim_path) == after_b2


def test_scd2_sink_requires_seeded_dim(spark, tmp_path, sf_dir):
    import pytest as _pytest

    from wikistream_event_data_pipeline_aws_spark.plans.merge import write_cdc_fixture
    from wikistream_event_data_pipeline_aws_spark.streaming.ingest import (
        file_stream,
        start_scd2_sink,
    )

    cdc = tmp_path / "cdc"
    write_cdc_fixture(spark, sf_dir, str(cdc))
    schema = spark.read.parquet(str(cdc)).schema
    with _pytest.raises(ValueError, match="seeded"):
        start_scd2_sink(
            file_stream(spark, str(cdc), schema),
            str(tmp_path / "missing_dim"),
            keys=["c_custkey"],
            attrs=["c_acctbal", "c_mktsegment"],
            checkpoint_dir=str(tmp_path / "ck"),
        )


def test_snapshot_sink_checkpoint_restart_no_double_commit(spark, tmp_path, batches_dir):
    """Streaming -> snapshot table: one snapshot version per micro-batch
    (operation-tagged), and BOTH exactly-once layers hold across a
    restart — checkpointed offsets skip committed source files, and the
    manifest batch tag would skip a written-but-unacknowledged batch.
    A from-scratch replay (fresh checkpoint, same files) commits
    nothing, proving the tag layer alone suffices."""
    from wikistream_event_data_pipeline_aws_spark.operators import snapshots as snap
    from wikistream_event_data_pipeline_aws_spark.streaming.ingest import (
        file_stream,
        start_snapshot_sink,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    sec = dt.timedelta(seconds=1)
    table = str(tmp_path / "snap_table")
    ckpt = str(tmp_path / "ckpt_snap")

    _write_batch(spark, batches_dir, _rows([(1, t0), (2, t0 + sec)]), "b1.parquet")
    _write_batch(spark, batches_dir, _rows([(3, t0 + 2 * sec)]), "b2.parquet")
    q = start_snapshot_sink(
        file_stream(spark, batches_dir, SCHEMA, max_files_per_trigger=1), table, ckpt
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert snap.versions(table) == [1, 2]
    assert snap.read_snapshot(spark, table).count() == 3
    ops_before = snap.committed_operations(table)
    assert all(op.startswith("stream-batch-") for op in ops_before)

    # restart on the SAME checkpoint with one new file: exactly one new
    # version; committed batches are not re-read, let alone re-committed
    _write_batch(spark, batches_dir, _rows([(4, t0 + 3 * sec)]), "b3.parquet")
    q2 = start_snapshot_sink(
        file_stream(spark, batches_dir, SCHEMA, max_files_per_trigger=1), table, ckpt
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert len(snap.versions(table)) == 3
    assert snap.read_snapshot(spark, table).count() == 4
    # time travel still sees the per-batch history
    assert snap.read_snapshot(spark, table, 1).count() == 2

    # from-scratch replay (FRESH checkpoint, same source): every batch id
    # is already tagged in the manifest history, so nothing commits
    q3 = start_snapshot_sink(
        file_stream(spark, batches_dir, SCHEMA, max_files_per_trigger=1),
        table,
        str(tmp_path / "ckpt_snap_fresh"),
    )
    try:
        q3.processAllAvailable()
    finally:
        q3.stop()
    assert len(snap.versions(table)) == 3
    assert snap.read_snapshot(spark, table).count() == 4


def test_hll_batch_registers_m_derivation(spark):
    """ADVICE r4: rho must derive from m, not assume p=10. For any
    power-of-two m the empty-rest register is (60 - log2(m)) + 1, and a
    non-power-of-two m is rejected instead of silently skewing."""
    import pytest as _pytest

    from wikistream_event_data_pipeline_aws_spark.streaming.ingest import (
        hll_batch_registers,
    )

    df = spark.range(2000).select(F.col("id").alias("k"))
    with _pytest.raises(ValueError, match="power of two"):
        hll_batch_registers(df, "k", seed="x", m=1000)
    for m in (256, 1024, 4096):
        regs = hll_batch_registers(df, "k", seed="x", m=m).collect()
        assert 0 < len(regs) <= m
        p = m.bit_length() - 1
        max_rho = 61 - p
        assert all(1 <= r.M <= max_rho for r in regs)
        # registers at different m over the SAME keys estimate the same
        # cardinality within HLL error (1.04/sqrt(m) ~ 6.5% at m=256),
        # with the standard linear-counting correction when n << m
        # (raw HLL is biased upward while empty registers remain)
        import math
        alpha = 0.7213 / (1 + 1.079 / m)
        n_empty = m - len(regs)
        s = sum(2.0 ** -r.M for r in regs) + n_empty
        est = alpha * m * m / s
        if est <= 2.5 * m and n_empty > 0:
            est = m * math.log(m / n_empty)
        assert abs(est - 2000) / 2000 < 4 * 1.04 / math.sqrt(m)


def test_hll_sink_register_file_is_atomic_single_file(spark, tmp_path):
    """ADVICE r4: the register table persists as ONE parquet file via
    temp-write + os.replace — after the stream finishes the target is a
    plain file, no torn .tmp remains, and a replay MAX-merges into it
    idempotently."""
    import os

    from wikistream_event_data_pipeline_aws_spark.streaming.ingest import (
        file_stream,
        start_hll_sink,
    )

    src = str(tmp_path / "src")
    spark.range(500).select(F.col("id").alias("user_id")).coalesce(1).write.parquet(src)
    regs_path = str(tmp_path / "regs.parquet")

    def run(ckpt: str) -> None:
        q = start_hll_sink(
            file_stream(spark, src, "user_id bigint", max_files_per_trigger=1),
            regs_path,
            key_col="user_id",
            seed="s",
            checkpoint_dir=str(tmp_path / ckpt),
            m=1024,
            trigger={"availableNow": True},
        )
        q.awaitTermination(120)
        assert not q.isActive

    run("ckpt1")
    assert os.path.isfile(regs_path)
    assert not [f for f in os.listdir(tmp_path) if ".tmp-" in f]
    first = {(r.bucket, r.M) for r in spark.read.parquet(regs_path).collect()}
    run("ckpt2")  # fresh checkpoint = full replay: max-merge must no-op
    second = {(r.bucket, r.M) for r in spark.read.parquet(regs_path).collect()}
    assert first == second


def test_histogram_sink_replay_is_idempotent(spark, tmp_path):
    """Additive state + insert-only merge: a FULL replay (fresh
    checkpoint, same batches) must not double-count any bin — the
    (batch_id, bin) key makes the second run a no-op before any
    write."""
    from wikistream_event_data_pipeline_aws_spark.streaming.ingest import (
        file_stream,
        start_histogram_sink,
    )

    src = str(tmp_path / "src")
    for lo in (0, 500):
        spark.range(lo, lo + 500).select(
            (F.col("id") % 97).cast("double").alias("v")
        ).coalesce(1).write.mode("append").parquet(src)
    bins_path = str(tmp_path / "bins")

    def run(ckpt: str) -> None:
        q = start_histogram_sink(
            file_stream(spark, src, "v double", max_files_per_trigger=1),
            bins_path,
            value_col="v",
            mn=0.0,
            mx=96.0,
            checkpoint_dir=str(tmp_path / ckpt),
            n_bins=32,
            trigger={"availableNow": True},
        )
        q.awaitTermination(120)
        assert not q.isActive

    run("c1")
    first = {(r.batch_id, r.bin): r.cnt for r in spark.read.parquet(bins_path).collect()}
    assert sum(first.values()) == 1000
    run("c2")  # full replay
    second = {(r.batch_id, r.bin): r.cnt for r in spark.read.parquet(bins_path).collect()}
    assert first == second


def test_postings_sink_replay_idempotent_and_matches_batch(spark, tmp_path):
    """Set-union state through the insert-only merge: a FULL replay
    (fresh checkpoint, same batches) must leave the postings table
    byte-identical, and the end-of-stream (token, doc) set must equal
    the one-pass batch tokenization — the streamed==batch claim the
    registered streaming_postings_sink query value-checks at the
    aggregate level."""
    from wikistream_event_data_pipeline_aws_spark.operators.textops import tokenize
    from wikistream_event_data_pipeline_aws_spark.streaming.ingest import (
        file_stream,
        start_postings_sink,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 3} shared") for i in range(40)],
        "doc_id long, text string",
    )
    src = str(tmp_path / "src")
    for parity in (0, 1):
        docs.filter(F.col("doc_id") % 2 == parity).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    postings_path = str(tmp_path / "postings")

    def run(ckpt: str) -> None:
        q = start_postings_sink(
            file_stream(spark, src, "doc_id long, text string", max_files_per_trigger=1),
            postings_path,
            checkpoint_dir=str(tmp_path / ckpt),
            trigger={"availableNow": True},
        )
        q.awaitTermination(120)
        assert not q.isActive

    run("c1")
    first = {(r.token, r.doc_id) for r in spark.read.parquet(postings_path).collect()}
    batch = {
        (r.token, r.doc_id)
        for r in docs.select(
            "doc_id", F.explode(tokenize(F.col("text"))).alias("token")
        )
        .distinct()
        .collect()
    }
    assert first == batch
    run("c2")  # full replay: insert-only merge no-ops every pair
    second = {(r.token, r.doc_id) for r in spark.read.parquet(postings_path).collect()}
    assert second == first


def test_ann_signature_sink_replay_idempotent_and_matches_batch(spark, tmp_path):
    """Vector-leg index maintenance: a FULL replay must leave the
    signature table identical, and the streamed (vec_id, table, bucket)
    set must equal the batch signature build over the same vectors."""
    from wikistream_event_data_pipeline_aws_spark.operators.similarity import (
        lsh_bucket_key,
    )
    from wikistream_event_data_pipeline_aws_spark.streaming.ingest import (
        file_stream,
        start_ann_signature_sink,
    )

    dim, n_planes, n_tables = 8, 4, 2
    vecs = spark.range(30).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 7), j -> CAST(sin(id * 7 + j) AS float))"
        ).alias("embedding"),
    )
    src = str(tmp_path / "src")
    for parity in (0, 1):
        vecs.filter(F.col("vec_id") % 2 == parity).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    sig_path = str(tmp_path / "sigs")

    def run(ckpt: str) -> None:
        q = start_ann_signature_sink(
            file_stream(spark, src, vecs.schema, max_files_per_trigger=1),
            sig_path,
            checkpoint_dir=str(tmp_path / ckpt),
            dim=dim,
            n_planes=n_planes,
            n_tables=n_tables,
            trigger={"availableNow": True},
        )
        q.awaitTermination(120)
        assert not q.isActive

    run("c1")
    first = {
        (r.vec_id, r.table, r.bucket)
        for r in spark.read.parquet(sig_path).collect()
    }
    batch = {
        (r.vec_id, r.table, r.bucket)
        for r in vecs.select(
            "vec_id",
            F.posexplode(
                F.array(
                    *[
                        lsh_bucket_key("embedding", dim, n_planes, table=t)
                        for t in range(n_tables)
                    ]
                )
            ).alias("table", "bucket"),
        ).collect()
    }
    assert first == batch and len(first) == 30 * n_tables
    run("c2")  # full replay: insert-only merge no-ops every signature
    second = {
        (r.vec_id, r.table, r.bucket)
        for r in spark.read.parquet(sig_path).collect()
    }
    assert second == first


class TestSSEReplaySource:
    """Spark 4 Python DataSource over a recorded SSE capture (S2 as an
    in-engine source): batch fan-out and micro-batched streaming with
    line-offset bookkeeping."""

    def _capture(self, tmp_path, n=25):
        import json as _json

        p = str(tmp_path / "capture.ndjson")
        with open(p, "w") as f:
            for i in range(n):
                f.write(_json.dumps({"event_id": i, "event_type": "t" + str(i % 3)}) + "\n")
        return p

    def test_batch_read_partitions_cover_all_lines(self, spark, tmp_path):
        from wikistream_event_data_pipeline_aws_spark.plans.pyapi import (
            ensure_sse_registered,
        )

        ensure_sse_registered(spark)
        p = self._capture(tmp_path)
        df = (
            spark.read.format("sse_replay")
            .option("path", p)
            .option("partitions", "4")
            .load()
        )
        assert df.rdd.getNumPartitions() == 4
        rows = df.collect()
        assert sorted(r.line_no for r in rows) == list(range(25))

    def test_stream_paces_batches_and_loses_nothing(self, spark, tmp_path):
        from wikistream_event_data_pipeline_aws_spark.plans.pyapi import (
            ensure_sse_registered,
        )

        ensure_sse_registered(spark)
        p = self._capture(tmp_path)
        stream = (
            spark.readStream.format("sse_replay")
            .option("path", p)
            .option("maxLinesPerBatch", "10")
            .load()
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("sse_out")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = sorted(r.line_no for r in spark.sql("SELECT * FROM sse_out").collect())
        assert got == list(range(25))  # every line exactly once
        # pacing proof from the checkpoint's committed offsets: 25 lines
        # at maxLinesPerBatch=10 need at least 3 micro-batches
        commits = [
            f for f in os.listdir(str(tmp_path / "ckpt" / "commits"))
            if not f.startswith(".")
        ]
        assert len(commits) >= 3, commits


    def test_restart_from_checkpoint_is_exactly_once(self, spark, tmp_path):
        """Round-5 regression: with the partition-planning stream API the
        in-memory pacing ratchet restarted at zero, latestOffset()
        regressed below the committed offset, and a restarted query
        re-emitted 20 of 30 lines (observed duplicates of lines 10-29).
        The SimpleDataSourceStreamReader port computes pacing from the
        engine-fed start offset, so a restart over a grown capture must
        emit every line exactly once — and still in paced micro-batches."""
        import json as _json

        from wikistream_event_data_pipeline_aws_spark.plans.pyapi import (
            ensure_sse_registered,
        )

        ensure_sse_registered(spark)
        cap = str(tmp_path / "capture.ndjson")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")

        def write_lines(lo, hi, mode):
            with open(cap, mode) as f:
                for i in range(lo, hi):
                    f.write(_json.dumps({"event_id": i}) + "\n")

        def run_once():
            stream = (
                spark.readStream.format("sse_replay")
                .option("path", cap)
                .option("maxLinesPerBatch", "10")
                .load()
            )
            q = (
                stream.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        write_lines(0, 30, "w")
        run_once()
        # the capture grows while the query is down; restart resumes from
        # the checkpointed line offset
        write_lines(30, 55, "a")
        run_once()
        rows = sorted(r.line_no for r in spark.read.parquet(out).collect())
        assert rows == list(range(55))  # every line exactly once, no dupes
        commits = [
            f for f in os.listdir(os.path.join(ckpt, "commits"))
            if not f.startswith(".")
        ]
        assert len(commits) >= 6, commits  # 55 lines / 10 per batch, 2 runs


    def test_tail_follow_skips_unterminated_final_line(self, spark, tmp_path):
        """A live writer appends byte-by-byte: an unterminated final line
        is IN-FLIGHT, not data. Counting it would emit the fragment and
        commit the offset past it, permanently corrupting that event.
        The reader must hold position until the newline lands."""
        from wikistream_event_data_pipeline_aws_spark.sources.sse import (
            SSEReplayStreamReader,
        )

        cap = str(tmp_path / "cap.ndjson")
        with open(cap, "w") as f:
            f.write('{"event_id": 0}\n{"event_id": 1}\n{"event_id": 2')  # torn tail

        r = SSEReplayStreamReader({"path": cap, "maxLinesPerBatch": "10"})
        it, end = r.read({"line": 0})
        rows = list(it)
        assert [t[0] for t in rows] == [0, 1]  # fragment not emitted
        assert end == {"line": 2}  # offset holds before the torn line
        with open(cap, "a") as f:
            f.write(', "x": 9}\n')  # the rest of the line lands
        it2, end2 = r.read(end)
        rows2 = list(it2)
        assert [t[0] for t in rows2] == [2]
        assert '"x": 9' in rows2[0][1]  # the COMPLETE line, not a fragment
        assert end2 == {"line": 3}


def test_mergeable_commit_set_insert_replay_and_reorder_fixed_point(
    spark, tmp_path
):
    """The unified sink API's set-insert algebra: replaying any delta
    is a fixed point, and delivery ORDER does not matter — the state
    converges to the union of the delta sets."""
    from wikistream_event_data_pipeline_aws_spark.streaming.ingest import (
        mergeable_commit,
    )

    def d(rows):
        return spark.createDataFrame(rows, "k string, doc_id long")

    d1 = [("a", 1), ("b", 2)]
    d2 = [("b", 2), ("c", 3)]  # overlaps d1 on (b, 2)
    p1, p2 = str(tmp_path / "t1"), str(tmp_path / "t2")
    for path, order in ((p1, (d1, d2, d1)), (p2, (d2, d1, d2, d2))):
        for delta in order:
            mergeable_commit(
                spark, path, d(delta), algebra="set-insert", keys=["k", "doc_id"]
            )
    s1 = {(r.k, r.doc_id) for r in spark.read.parquet(p1).collect()}
    s2 = {(r.k, r.doc_id) for r in spark.read.parquet(p2).collect()}
    assert s1 == s2 == {("a", 1), ("b", 2), ("c", 3)}


def test_mergeable_commit_keyed_sum_encoding_never_double_counts(
    spark, tmp_path
):
    """Keyed-sum state rides the set-insert algebra with batch_id in
    the keys: replaying a batch's partial sums is a no-op, so the
    reader-side SUM across batch rows is exact under any replay."""
    from wikistream_event_data_pipeline_aws_spark.streaming.ingest import (
        mergeable_commit,
    )

    path = str(tmp_path / "bins")

    def commit(batch_id, rows):
        delta = spark.createDataFrame(
            [(batch_id, b, c) for b, c in rows], "batch_id long, bin long, cnt long"
        )
        mergeable_commit(
            spark, path, delta, algebra="set-insert", keys=["batch_id", "bin"]
        )

    commit(0, [(0, 5), (1, 7)])
    commit(1, [(0, 2)])
    commit(0, [(0, 5), (1, 7)])  # full replay of batch 0
    commit(1, [(0, 2)])  # and of batch 1
    got = {
        r.bin: r.total
        for r in spark.read.parquet(path)
        .groupBy("bin")
        .agg(F.sum("cnt").alias("total"))
        .collect()
    }
    assert got == {0: 7, 1: 7}


def test_mergeable_commit_register_max_replay_and_reorder_fixed_point(
    spark, tmp_path
):
    """The register-max algebra: max is idempotent and commutative, so
    replaying or reordering register deltas converges to the same
    register table."""
    from wikistream_event_data_pipeline_aws_spark.streaming.ingest import (
        mergeable_commit,
    )

    def d(rows):
        return spark.createDataFrame(rows, "bucket long, M int")

    d1 = [(0, 3), (1, 5)]
    d2 = [(0, 7), (2, 1)]
    p1 = str(tmp_path / "r1.parquet")
    p2 = str(tmp_path / "r2.parquet")
    for path, order in ((p1, (d1, d2, d1)), (p2, (d2, d1, d2))):
        for delta in order:
            mergeable_commit(
                spark, path, d(delta), algebra="register-max",
                keys=["bucket"], max_col="M",
            )
    s1 = {(r.bucket, r.M) for r in spark.read.parquet(p1).collect()}
    s2 = {(r.bucket, r.M) for r in spark.read.parquet(p2).collect()}
    assert s1 == s2 == {(0, 7), (1, 5), (2, 1)}


def test_interval_join_tight_watermark_evicts_late_purchase(spark, tmp_path, batches_dir):
    """T5 for STREAM-STREAM joins (VERDICT r12 item 4): the registered
    interval join only ever runs with a fixture-wide watermark, so this
    replays the same core (plans.streaming_live.
    interval_join_clicks_purchases) with a TIGHT 10-minute watermark
    across four micro-batches: once the global watermark passes a
    click's join-window close (c_ts + 1h), its buffered state is
    evicted and a later-arriving in-window purchase must NOT pair with
    it — bounded state, the contract that keeps this join viable on an
    unbounded stream."""
    from wikistream_event_data_pipeline_aws_spark.plans.streaming_live import (
        interval_join_clicks_purchases,
    )
    from wikistream_event_data_pipeline_aws_spark.streaming.ingest import (
        file_stream,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    mi = dt.timedelta(minutes=1)
    # b1: click u1 + in-window purchase u1 (positive control)
    _write_batch(
        spark,
        batches_dir,
        [
            (1, t0, 1, "click", 1.0),
            (50, t0 + 10 * mi, 1, "purchase", 1.0),
        ],
        "b1.parquet",
    )
    # b2: click+purchase for u2 three hours on — advances BOTH sides'
    # watermarks to ~t0+170min (10-min delay), far past click 1's
    # window close at t0+1h
    _write_batch(
        spark,
        batches_dir,
        [
            (2, t0 + 180 * mi, 2, "click", 1.0),
            (60, t0 + 181 * mi, 2, "purchase", 1.0),
        ],
        "b2.parquet",
    )
    # b3: filler trigger — state REMOVAL runs at end-of-batch with the
    # watermark advanced by the PREVIOUS batch, so an intermediate
    # micro-batch is what actually evicts click 1 (its window closed at
    # t0+1h, far below the ~t0+170min watermark b2 established)
    _write_batch(
        spark,
        batches_dir,
        [(3, t0 + 182 * mi, 99, "click", 1.0)],
        "b3.parquet",
    )
    # b4: LATE purchase for u1 at t0+30min — inside click 1's hour
    # window, but the click's state is gone: must NOT pair
    _write_batch(
        spark,
        batches_dir,
        [(70, t0 + 30 * mi, 1, "purchase", 1.0)],
        "b4.parquet",
    )

    joined = interval_join_clicks_purchases(
        file_stream(spark, batches_dir, SCHEMA, max_files_per_trigger=1),
        file_stream(spark, batches_dir, SCHEMA, max_files_per_trigger=1),
        "10 minutes",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("tight_interval_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_tight"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    pairs = {
        (r.click_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM tight_interval_out").collect()
    }
    assert (1, 50) in pairs and (2, 60) in pairs, pairs
    assert (1, 70) not in pairs, pairs  # late purchase evicted, not joined


def test_streaming_sink_queries_remove_their_scratch_dirs(spark, sf_dir, tmp_path, monkeypatch):
    """Each streaming-sink query materializes its small readout and
    removes its per-call ``*_stream_`` scratch directory (sink state,
    streaming checkpoint) before returning."""
    import tempfile

    from wikistream_event_data_pipeline_aws_spark import registry

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    qs = registry.queries()
    for name in (
        "streaming_postings_sink",
        "streaming_entropy_sink",
        "streaming_ann_index_sink",
        "streaming_hll_users",
        "streaming_histogram_quantiles",
        "scd2_stream_replay",
    ):
        assert qs[name](spark, sf_dir).count() > 0, name
        assert not list(tmp_path.glob("*_stream_*")), name
