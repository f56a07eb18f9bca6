"""Merge operator properties (SURVEY §5 item 5: merge idempotency,
deterministic intra-batch dedup)."""

from __future__ import annotations

from pyspark.sql import functions as F

from wikistream_event_data_pipeline_aws_spark.operators.merge import (
    dedup_keep_one,
    merge_insert_only,
    merge_upsert,
    upsert_parquet,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, version long")


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_insert_only_is_idempotent(spark):
    target = _df(spark, [(1, "a", 1), (2, "b", 1)])
    source = _df(spark, [(2, "B", 2), (3, "c", 1)])
    once = merge_insert_only(target, source, ["k"])
    twice = merge_insert_only(once, source, ["k"])
    assert _sorted(once) == [(1, "a", 1), (2, "b", 1), (3, "c", 1)]
    assert _sorted(twice) == _sorted(once)


def test_upsert_matched_takes_source(spark):
    target = _df(spark, [(1, "a", 1), (2, "b", 1)])
    source = _df(spark, [(2, "B", 2), (3, "c", 1)])
    merged = merge_upsert(target, source, ["k"])
    assert _sorted(merged) == [(1, "a", 1), (2, "B", 2), (3, "c", 1)]
    again = merge_upsert(merged, source, ["k"])
    assert _sorted(again) == _sorted(merged)


def test_upsert_dedups_intra_batch_keep_latest(spark):
    target = _df(spark, [(1, "a", 1)])
    source = _df(spark, [(1, "x", 2), (1, "y", 3), (2, "c", 1), (2, "old", 0)])
    merged = merge_upsert(target, source, ["k"], order_by=["version"])
    assert _sorted(merged) == [(1, "y", 3), (2, "c", 1)]


def test_dedup_keep_one_first_and_last(spark):
    df = _df(spark, [(1, "x", 2), (1, "y", 3), (2, "c", 1)])
    first = dedup_keep_one(df, ["k"], ["version"], keep="first")
    last = dedup_keep_one(df, ["k"], ["version"], keep="last")
    assert _sorted(first) == [(1, "x", 2), (2, "c", 1)]
    assert _sorted(last) == [(1, "y", 3), (2, "c", 1)]


def test_upsert_parquet_roundtrip(spark, tmp_path):
    path = str(tmp_path / "tbl")
    n1 = upsert_parquet(spark, path, _df(spark, [(1, "a", 1), (2, "b", 1)]), ["k"])
    assert n1 == 2
    n2 = upsert_parquet(spark, path, _df(spark, [(2, "B", 2), (3, "c", 1)]), ["k"])
    assert n2 == 3
    final = spark.read.parquet(path)
    assert _sorted(final) == [(1, "a", 1), (2, "B", 2), (3, "c", 1)]
    # replay the same batch -> unchanged (exactly-once equivalence)
    n3 = upsert_parquet(spark, path, _df(spark, [(2, "B", 2), (3, "c", 1)]), ["k"])
    assert n3 == 3
    assert _sorted(spark.read.parquet(path)) == [(1, "a", 1), (2, "B", 2), (3, "c", 1)]


# -- partition-scoped merge (VERDICT round-1 item 2) --------------------------


def _pdf(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, version long, pt string")


def _file_snapshot(path, prefix=""):
    """(relpath, size, mtime_ns) of every parquet data file under path."""
    import os

    out = set()
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            full = os.path.join(root, f)
            rel = os.path.relpath(full, path)
            if rel.startswith(prefix):
                st = os.stat(full)
                out.add((rel, st.st_size, st.st_mtime_ns))
    return out


def test_upsert_parquet_partition_scoped_rewrite(spark, tmp_path):
    from wikistream_event_data_pipeline_aws_spark.operators.merge import upsert_parquet

    path = str(tmp_path / "ptbl")
    upsert_parquet(
        spark, path,
        _pdf(spark, [(1, "a", 1, "d1"), (2, "b", 1, "d2")]),
        ["k"], partition_by=["pt"],
    )
    d1_before = _file_snapshot(path, "pt=d1")
    assert d1_before
    # merge touching only pt=d2
    n = upsert_parquet(
        spark, path,
        _pdf(spark, [(2, "B", 2, "d2"), (3, "c", 1, "d2")]),
        ["k"], partition_by=["pt"],
    )
    assert n == 2  # rows written to touched partitions only
    assert _file_snapshot(path, "pt=d1") == d1_before  # untouched files identical
    assert _file_snapshot(path, "pt=d2") != set()
    assert _sorted(spark.read.parquet(path).drop("pt")) == [
        (1, "a", 1), (2, "B", 2), (3, "c", 1),
    ]


def test_upsert_parquet_row_count_is_observed_on_the_write(spark, tmp_path):
    """The returned count is observed on the write itself: a cold merge
    with ``order_by`` and ``partition_by`` counts the deduplicated rows it
    wrote, and a partition-scoped re-merge counts the rows of the
    partitions it rewrote, not the whole table."""
    path = str(tmp_path / "otbl")
    cold = _pdf(spark, [
        (1, "a", 1, "d1"), (1, "a2", 2, "d1"),  # intra-batch duplicate key
        (2, "b", 1, "d2"), (2, "b0", 0, "d2"), (2, "b2", 2, "d2"),
        (3, "c", 1, "d3"), (4, "e", 1, "d3"),
    ])
    n = upsert_parquet(spark, path, cold, ["k"], order_by=["version"], partition_by=["pt"])
    assert n == 4 == spark.read.parquet(path).count()
    assert _sorted(spark.read.parquet(path)) == [
        (1, "a2", 2, "d1"), (2, "b2", 2, "d2"), (3, "c", 1, "d3"), (4, "e", 1, "d3"),
    ]
    # touches d1 (update k=1) and d3 (insert k=5); d2 is neither read nor written
    n = upsert_parquet(
        spark, path,
        _pdf(spark, [(1, "a3", 3, "d1"), (5, "f", 1, "d3"), (5, "f0", 0, "d3")]),
        ["k"], order_by=["version"], partition_by=["pt"],
    )
    table = spark.read.parquet(path)
    assert n == 4 == table.filter(F.col("pt").isin("d1", "d3")).count()
    assert table.count() == 5


def test_insert_only_parquet_replay_leaves_files_untouched(spark, tmp_path):
    from wikistream_event_data_pipeline_aws_spark.operators.merge import (
        insert_only_parquet,
    )

    path = str(tmp_path / "itbl")
    insert_only_parquet(
        spark, path,
        _pdf(spark, [(1, "a", 1, "d1"), (2, "b", 1, "d2")]),
        ["k"], partition_by=["pt"],
    )
    snap = _file_snapshot(path)
    # full replay -> short-circuits before any write
    n = insert_only_parquet(
        spark, path,
        _pdf(spark, [(1, "a", 1, "d1"), (2, "b", 1, "d2")]),
        ["k"], partition_by=["pt"],
    )
    assert n == 0
    assert _file_snapshot(path) == snap
    # partial replay appends only the new key into its partition — r14:
    # set-insert merges by APPEND, so even the touched partition's
    # existing files are byte-untouched (stronger than the pre-r14
    # dynamic-partition rewrite this test used to pin)
    d1_before = _file_snapshot(path, "pt=d1")
    d2_before = _file_snapshot(path, "pt=d2")
    n = insert_only_parquet(
        spark, path,
        _pdf(spark, [(2, "b", 1, "d2"), (4, "d", 1, "d2")]),
        ["k"], partition_by=["pt"],
    )
    assert n == 1  # only k=4 is new; k=2 already exists and is dropped
    assert _file_snapshot(path, "pt=d1") == d1_before
    assert set(_file_snapshot(path, "pt=d2")) >= set(d2_before)  # append-only
    assert _sorted(spark.read.parquet(path).drop("pt")) == [
        (1, "a", 1), (2, "b", 1), (4, "d", 1),
    ]


def test_upsert_parquet_missing_path_errors_do_not_clobber(spark, tmp_path):
    """A read failure that is NOT path-missing must propagate (ADVICE:
    bare-except previously replaced the table with the batch)."""
    import pytest as _pytest

    from wikistream_event_data_pipeline_aws_spark.operators.merge import (
        path_exists,
        upsert_parquet,
    )

    path = str(tmp_path / "corrupt")
    import os

    os.makedirs(path)
    with open(os.path.join(path, "junk.parquet"), "w") as fh:
        fh.write("not parquet at all")
    assert path_exists(spark, path)
    with _pytest.raises(Exception):
        upsert_parquet(spark, path, _pdf(spark, [(1, "a", 1, "d1")]), ["k"])
    # table was not clobbered by the failed merge
    assert open(os.path.join(path, "junk.parquet")).read() == "not parquet at all"


def test_scd2_new_keys_open_first_current_version(spark):
    """Update keys absent from dim insert a current row (MERGE's WHEN
    NOT MATCHED arm) instead of being silently dropped."""
    from wikistream_event_data_pipeline_aws_spark.operators.merge import scd2_apply

    dim = spark.createDataFrame(
        [(1, 10, "2024-01-01", "9999-12-31", True)],
        "k int, v int, valid_from string, valid_to string, is_current boolean",
    )
    upd = spark.createDataFrame([(1, 11), (2, 20)], "k int, v int")
    out = scd2_apply(dim, upd, ["k"], ["v"], "2024-06-01")
    rows = {(r.k, r.v, r.valid_from, r.valid_to, r.is_current) for r in out.collect()}
    assert rows == {
        (1, 10, "2024-01-01", "2024-06-01", False),
        (1, 11, "2024-06-01", "9999-12-31", True),
        (2, 20, "2024-06-01", "9999-12-31", True),
    }


def test_scd2_fully_closed_key_reopens(spark):
    """A key whose history is entirely closed (no current row) gets a
    fresh current version from an update."""
    from wikistream_event_data_pipeline_aws_spark.operators.merge import scd2_apply

    dim = spark.createDataFrame(
        [(1, 10, "2024-01-01", "2024-03-01", False)],
        "k int, v int, valid_from string, valid_to string, is_current boolean",
    )
    upd = spark.createDataFrame([(1, 12)], "k int, v int")
    out = scd2_apply(dim, upd, ["k"], ["v"], "2024-06-01")
    rows = {(r.k, r.v, r.is_current) for r in out.collect()}
    assert rows == {(1, 10, False), (1, 12, True)}


def test_insert_only_null_keys_replay_idempotent(spark, tmp_path):
    """Round-5 review: a plain-equality anti-join never matches
    NULL == NULL, so a replayed micro-batch re-inserted every NULL-keyed
    row (e.g. a bin=NULL histogram count) on every recovery. The
    null-safe anti-join must make the replay a complete no-op."""
    from wikistream_event_data_pipeline_aws_spark.operators.merge import (
        insert_only_parquet,
    )

    path = str(tmp_path / "t")
    batch = spark.createDataFrame(
        [(1, None, 5), (1, 3, 7)], "batch_id long, bin long, cnt long"
    )
    assert insert_only_parquet(spark, path, batch, keys=["batch_id", "bin"]) == 2
    # full replay of the same batch: zero rows written, table unchanged
    assert insert_only_parquet(spark, path, batch, keys=["batch_id", "bin"]) == 0
    rows = spark.read.parquet(path).collect()
    assert len(rows) == 2
    assert {(r.bin, r.cnt) for r in rows} == {(3, 7), (None, 5)}
