"""Snapshot/time-travel operator tests: isolation, rollback semantics,
commit conflicts — the Iceberg behaviors the manifest layer must
reproduce (reference ``bronze_schema.py:246-254``,
``bronze_streaming_job.py:364-374``)."""

from __future__ import annotations

import os

import pytest

from wikistream_event_data_pipeline_aws_spark.operators import snapshots as snap


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "t")


def _df(spark, lo, hi):
    return spark.range(lo, hi).withColumnRenamed("id", "k")


def test_append_then_overwrite_snapshot_isolation(spark, table):
    snap.snapshot_write(spark, table, _df(spark, 0, 10))
    snap.snapshot_write(spark, table, _df(spark, 10, 15))
    snap.snapshot_write(spark, table, _df(spark, 100, 102), mode="overwrite")
    # latest sees only the overwrite; v1/v2 reads are untouched
    assert snap.read_snapshot(spark, table).count() == 2
    assert snap.read_snapshot(spark, table, 1).count() == 10
    assert snap.read_snapshot(spark, table, 2).count() == 15
    assert [h["n_rows"] for h in snap.snapshot_history(table)] == [10, 15, 2]


def test_manifest_n_rows_is_observed_on_the_commit_write(spark, table):
    # n_rows is counted on the commit's own write, not read back; an
    # append's manifest carries the running total
    snap.snapshot_write(spark, table, _df(spark, 0, 10))
    snap.snapshot_write(spark, table, _df(spark, 0, 5).filter("k < 0"))
    snap.snapshot_write(spark, table, _df(spark, 20, 24), mode="overwrite")
    assert [snap.read_manifest(table, v)["n_rows"] for v in (1, 2, 3)] == [10, 10, 4]
    assert snap.read_snapshot(spark, table, 2).count() == 10


def test_rollback_is_metadata_only(spark, table):
    snap.snapshot_write(spark, table, _df(spark, 0, 10))
    snap.snapshot_write(spark, table, _df(spark, 10, 20))
    data_dirs = set(os.listdir(os.path.join(table, snap.DATA_DIR)))
    v = snap.rollback(table, 1)
    assert v == 3
    # no new data directory: the rollback re-points, never rewrites
    assert set(os.listdir(os.path.join(table, snap.DATA_DIR))) == data_dirs
    assert snap.read_snapshot(spark, table).count() == 10
    assert snap.read_manifest(table, 3)["files"] == snap.read_manifest(table, 1)["files"]


def test_commit_conflict_detected(spark, table):
    """The conflict window is read-state -> commit: a writer that
    planned against version N must fail if another writer claimed N+1
    first (the manifest claim is the commit point). A writer that reads
    state AFTER the racing commit simply targets the next version —
    that's the retry path, not a conflict."""
    snap.snapshot_write(spark, table, _df(spark, 0, 5))
    race = {"version": 2, "parent": 1, "operation": "append", "files": [], "n_rows": 0}
    snap._commit_manifest(table, 2, race)
    with pytest.raises(snap.SnapshotConflictError):
        snap._commit_manifest(table, 2, race)
    # reading fresh state succeeds at v3 — the reference's retry loop
    assert snap.snapshot_write(spark, table, _df(spark, 5, 8)) == 3


def test_file_diff_tracks_visible_set(spark, table):
    snap.snapshot_write(spark, table, _df(spark, 0, 5))
    snap.snapshot_write(spark, table, _df(spark, 5, 8))
    d = snap.snapshot_file_diff(table, 1, 2)
    assert d["removed"] == []
    assert len(d["added"]) >= 1
    d = snap.snapshot_file_diff(table, 2, 1)
    assert d["added"] == []


def test_invalid_mode_and_empty_table_errors(spark, table):
    with pytest.raises(ValueError):
        snap.snapshot_write(spark, table, _df(spark, 0, 1), mode="merge")
    with pytest.raises(FileNotFoundError):
        snap.read_snapshot(spark, table)


def test_expire_snapshots_gc_preserves_survivors(spark, table):
    """GC drops old manifests and only the data files no surviving
    version references; surviving reads are byte-identical."""
    snap.snapshot_write(spark, table, _df(spark, 0, 10))          # v1
    snap.snapshot_write(spark, table, _df(spark, 10, 15))         # v2 (keeps v1 files)
    snap.snapshot_write(spark, table, _df(spark, 100, 103), mode="overwrite")  # v3
    removed = snap.expire_snapshots(table, keep_last=1)
    assert removed["manifests"] == ["v000001", "v000002"]
    # v1/v2 data files are unreferenced by v3 -> deleted; v3 intact
    assert removed["data_files"], removed
    assert snap.versions(table) == [3]
    assert snap.read_snapshot(spark, table).count() == 3
    # idempotent re-run
    assert snap.expire_snapshots(table, keep_last=1) == {"manifests": [], "data_files": []}


def test_expire_keeps_files_shared_with_survivors(spark, table):
    """An append chain shares files across versions: expiring v1 while
    keeping v2 must NOT delete v1's files (v2 still references them)."""
    snap.snapshot_write(spark, table, _df(spark, 0, 10))   # v1
    snap.snapshot_write(spark, table, _df(spark, 10, 15))  # v2 = v1 files + new
    removed = snap.expire_snapshots(table, keep_last=1)
    assert removed["manifests"] == ["v000001"]
    assert removed["data_files"] == []  # every v1 file is live in v2
    assert snap.read_snapshot(spark, table).count() == 15


class TestWriteAuditPublish:
    def test_staged_invisible_until_publish(self, spark, table):
        snap.snapshot_write(spark, table, _df(spark, 0, 10))
        snap.snapshot_stage(spark, table, _df(spark, 10, 14), "s1")
        # readers see only v1 while the audit runs
        assert snap.current_version(table) == 1
        assert snap.read_snapshot(spark, table).count() == 10
        assert snap.read_staged(spark, table, "s1").count() == 4
        v = snap.snapshot_publish(table, "s1")
        assert v == 2
        assert snap.read_snapshot(spark, table).count() == 14

    def test_publish_composes_with_parent_at_publish_time(self, spark, table):
        snap.snapshot_write(spark, table, _df(spark, 0, 5))
        snap.snapshot_stage(spark, table, _df(spark, 100, 102), "s1")
        # a concurrent writer lands v2 while the audit is running
        snap.snapshot_write(spark, table, _df(spark, 5, 8))
        v = snap.snapshot_publish(table, "s1")
        assert v == 3
        # append composed against v2 (8 rows), not the stage-time v1
        assert snap.read_snapshot(spark, table).count() == 10

    def test_gate_pass_publishes_and_fail_aborts(self, spark, table):
        from wikistream_event_data_pipeline_aws_spark.dq.checks import Completeness, DQSuite

        snap.snapshot_write(spark, table, _df(spark, 0, 5))
        good = DQSuite("snap", [Completeness("k", min_rate=1.0)])
        v, gate = snap.write_audit_publish(
            spark, table, _df(spark, 5, 9), "ok1", good, "run1"
        )
        assert v == 2 and gate.passed
        assert snap.read_snapshot(spark, table).count() == 9

        bad_rows = spark.createDataFrame([(None,), (1,)], "k long")
        v2, gate2 = snap.write_audit_publish(
            spark, table, bad_rows, "bad1", good, "run2"
        )
        assert v2 is None and not gate2.passed
        # aborted: no new version, staged files gone, table unchanged
        assert snap.current_version(table) == 2
        assert snap.read_snapshot(spark, table).count() == 9
        import os as _os

        assert not _os.path.exists(snap._staged_path(table, "bad1"))

    def test_duplicate_staging_id_conflicts(self, spark, table):
        snap.snapshot_stage(spark, table, _df(spark, 0, 3), "dup")
        with pytest.raises(snap.SnapshotConflictError):
            snap.snapshot_stage(spark, table, _df(spark, 3, 6), "dup")


class TestMergeOnRead:
    def test_delete_is_metadata_write_and_time_travel_sees_history(self, spark, table):
        snap.snapshot_write(spark, table, _df(spark, 0, 10))
        data_dirs = set(os.listdir(os.path.join(table, snap.DATA_DIR)))
        keys = spark.createDataFrame([(2,), (5,), (7,)], "k long")
        v = snap.snapshot_delete(spark, table, keys, ["k"])
        assert v == 2
        # only a delete-file dir appeared; no data file was rewritten
        new_dirs = set(os.listdir(os.path.join(table, snap.DATA_DIR))) - data_dirs
        assert all(d.startswith("deletes-") for d in new_dirs)
        assert sorted(r.k for r in snap.read_snapshot(spark, table).collect()) == [
            0, 1, 3, 4, 6, 8, 9,
        ]
        # v1 time travel still sees the deleted keys
        assert snap.read_snapshot(spark, table, 1).count() == 10

    def test_reinserted_key_survives_older_delete(self, spark, table):
        """Sequence semantics: a delete applies only to files OLDER than
        its commit — re-inserting key 3 after deleting it must stick."""
        snap.snapshot_write(spark, table, _df(spark, 0, 5))
        snap.snapshot_delete(spark, table, spark.createDataFrame([(3,)], "k long"), ["k"])
        assert sorted(r.k for r in snap.read_snapshot(spark, table).collect()) == [0, 1, 2, 4]
        snap.snapshot_write(spark, table, _df(spark, 3, 4))  # re-insert 3
        assert sorted(r.k for r in snap.read_snapshot(spark, table).collect()) == [0, 1, 2, 3, 4]

    def test_materialize_folds_deletes_into_data(self, spark, table):
        snap.snapshot_write(spark, table, _df(spark, 0, 8))
        snap.snapshot_delete(spark, table, spark.createDataFrame([(0,), (1,)], "k long"), ["k"])
        before = sorted(r.k for r in snap.read_snapshot(spark, table).collect())
        v = snap.materialize_deletes(spark, table)
        m = snap.read_manifest(table, v)
        assert not m.get("deletes")
        assert sorted(r.k for r in snap.read_snapshot(spark, table).collect()) == before
        assert m["n_rows"] == len(before)

    def test_gc_keeps_referenced_delete_files(self, spark, table):
        snap.snapshot_write(spark, table, _df(spark, 0, 6))
        snap.snapshot_delete(spark, table, spark.createDataFrame([(4,)], "k long"), ["k"])
        removed = snap.expire_snapshots(table, keep_last=1)
        # v2 (survivor) still references both the data files AND the
        # delete file, so nothing is deletable
        assert removed["data_files"] == []
        assert sorted(r.k for r in snap.read_snapshot(spark, table).collect()) == [0, 1, 2, 3, 5]

    def test_position_delete_is_metadata_write(self, spark, table):
        """Iceberg v2's SECOND delete encoding: coordinates, not keys —
        the delete file names (file_path, pos) resolved from the scan's
        ``_metadata`` column; no data file is rewritten."""
        from pyspark.sql import functions as F

        snap.snapshot_write(spark, table, _df(spark, 0, 10).repartition(3, "k"))
        data_dirs = set(os.listdir(os.path.join(table, snap.DATA_DIR)))
        v = snap.snapshot_delete_positions(spark, table, F.col("k") % 3 == 0)
        assert v == 2
        new_dirs = set(os.listdir(os.path.join(table, snap.DATA_DIR))) - data_dirs
        assert all(d.startswith("pos-deletes-") for d in new_dirs)
        assert sorted(r.k for r in snap.read_snapshot(spark, table).collect()) == [
            1, 2, 4, 5, 7, 8,
        ]
        # v1 time travel still sees every row
        assert snap.read_snapshot(spark, table, 1).count() == 10

    def test_position_delete_spares_later_appends(self, spark, table):
        """Sequence scoping: positions name files at-or-before the
        delete commit; a later append re-adding the same values (in a
        NEW file, possibly at the SAME row positions) must survive."""
        from pyspark.sql import functions as F

        snap.snapshot_write(spark, table, _df(spark, 0, 5))
        snap.snapshot_delete_positions(spark, table, F.col("k") < 2)
        assert sorted(r.k for r in snap.read_snapshot(spark, table).collect()) == [2, 3, 4]
        snap.snapshot_write(spark, table, _df(spark, 0, 2))  # same values, pos 0..1
        assert sorted(r.k for r in snap.read_snapshot(spark, table).collect()) == [
            0, 1, 2, 3, 4,
        ]

    def test_position_delete_is_idempotent_and_composes_with_equality(
        self, spark, table
    ):
        """A position delete resolves against VISIBLE rows only, so
        re-deleting an already-deleted predicate is a no-op, and the two
        encodings compose: equality-deleted rows are invisible to the
        position resolver and stay deleted."""
        from pyspark.sql import functions as F

        snap.snapshot_write(spark, table, _df(spark, 0, 10))
        snap.snapshot_delete(spark, table, spark.createDataFrame([(4,)], "k long"), ["k"])
        snap.snapshot_delete_positions(spark, table, F.col("k") >= 8)
        snap.snapshot_delete_positions(spark, table, F.col("k") >= 8)  # no-op
        assert sorted(r.k for r in snap.read_snapshot(spark, table).collect()) == [
            0, 1, 2, 3, 5, 6, 7,
        ]
        # the second pos-delete commit added an empty delete file set at
        # most — the visible history still travels correctly
        assert snap.read_snapshot(spark, table, 2).count() == 9
        assert snap.read_snapshot(spark, table, 3).count() == 7

    def test_gc_keeps_referenced_position_delete_files(self, spark, table):
        from pyspark.sql import functions as F

        snap.snapshot_write(spark, table, _df(spark, 0, 6))
        snap.snapshot_delete_positions(spark, table, F.col("k") == 4)
        removed = snap.expire_snapshots(table, keep_last=1)
        assert removed["data_files"] == []
        assert sorted(r.k for r in snap.read_snapshot(spark, table).collect()) == [
            0, 1, 2, 3, 5,
        ]
        # materialize folds BOTH encodings away
        v = snap.materialize_deletes(spark, table)
        m = snap.read_manifest(table, v)
        assert not m.get("deletes") and not m.get("pos_deletes")
        assert sorted(r.k for r in snap.read_snapshot(spark, table).collect()) == [
            0, 1, 2, 3, 5,
        ]

    def test_mismatched_delete_keys_rejected(self, spark, table):
        base = _df(spark, 0, 3)
        snap.snapshot_write(spark, table, base.withColumn("v", base.k * 2))
        snap.snapshot_delete(spark, table, spark.createDataFrame([(1,)], "k long"), ["k"])
        with pytest.raises(ValueError):
            snap.snapshot_delete(spark, table, spark.createDataFrame([(2,)], "v long"), ["v"])


class TestTags:
    def test_tag_pins_a_version_across_history_churn(self, spark, table):
        snap.snapshot_write(spark, table, _df(spark, 0, 10))
        v = snap.create_tag(table, "audited-q3")
        assert v == 1
        snap.snapshot_write(spark, table, _df(spark, 100, 102), mode="overwrite")
        assert snap.resolve_ref(table, "audited-q3") == 1
        assert (
            snap.read_snapshot(spark, table, snap.resolve_ref(table, "audited-q3")).count()
            == 10
        )
        assert snap.list_refs(table) == {"audited-q3": 1}

    def test_tag_is_a_gc_root_until_deleted(self, spark, table):
        snap.snapshot_write(spark, table, _df(spark, 0, 5))
        snap.create_tag(table, "pinned", 1)
        snap.snapshot_write(spark, table, _df(spark, 10, 12), mode="overwrite")
        snap.snapshot_write(spark, table, _df(spark, 20, 22), mode="overwrite")
        removed = snap.expire_snapshots(table, keep_last=1)
        # v2 expired, v1 retained by the tag (manifest AND files)
        assert "v000002" in removed["manifests"]
        assert "v000001" not in removed["manifests"]
        assert snap.read_snapshot(spark, table, 1).count() == 5
        # dropping the tag makes v1 collectable again
        assert snap.delete_tag(table, "pinned") == 1
        removed = snap.expire_snapshots(table, keep_last=1)
        assert "v000001" in removed["manifests"]
        assert snap.read_snapshot(spark, table).count() == 2

    def test_duplicate_and_invalid_tags_rejected(self, spark, table):
        snap.snapshot_write(spark, table, _df(spark, 0, 3))
        snap.create_tag(table, "t1")
        with pytest.raises(snap.SnapshotConflictError):
            snap.create_tag(table, "t1")
        with pytest.raises(ValueError):
            snap.create_tag(table, "../escape")
        with pytest.raises(FileNotFoundError):
            snap.create_tag(table, "t2", version=99)


def test_empty_overwrite_snapshot_reads_back_empty(spark, table):
    """An overwrite with zero rows is a legitimate commit (delete-all);
    reads reconstruct an empty frame with the ancestor's schema."""
    snap.snapshot_write(spark, table, _df(spark, 0, 5))
    snap.snapshot_write(spark, table, _df(spark, 0, 5).filter("k < 0"), mode="overwrite")
    out = snap.read_snapshot(spark, table)
    assert out.count() == 0
    assert out.columns == ["k"]
    # appending onto the empty snapshot works and history reads hold
    snap.snapshot_write(spark, table, _df(spark, 7, 9))
    assert snap.read_snapshot(spark, table).count() == 2
    assert snap.read_snapshot(spark, table, 1).count() == 5


def test_remove_orphan_files_collects_uncommitted_data(spark, table):
    """Files written by a crashed writer (data present, manifest never
    claimed) are invisible to expire_snapshots by design; the orphan
    sweep collects them without touching live data."""
    snap.snapshot_write(spark, table, _df(spark, 0, 5))
    # simulate a crash: data written into a commit dir, no manifest
    crash_dir = os.path.join(table, snap.DATA_DIR, "commit-v000099-p0")
    _df(spark, 100, 105).write.parquet(crash_dir)
    assert snap.expire_snapshots(table, keep_last=1) == {"manifests": [], "data_files": []}
    removed = snap.remove_orphan_files(table)
    assert removed and all("commit-v000099" in f for f in removed)
    assert not os.path.exists(crash_dir)
    assert snap.read_snapshot(spark, table).count() == 5
    # idempotent and live-data-safe
    assert snap.remove_orphan_files(table) == []
    assert snap.read_snapshot(spark, table).count() == 5


def test_two_threads_racing_commits_one_loses_cleanly_and_retries(spark, table, monkeypatch):
    """Forced same-process race (VERDICT r4 item 6, the Iceberg
    ``commit.retry`` semantics of the reference's bronze table config):
    two driver threads read the same parent version — a barrier inside a
    patched ``current_version`` guarantees the interleaving — so both
    target the same commit version. Exactly one manifest claim wins;
    the loser gets SnapshotConflictError, retries on fresh state, and
    lands cleanly on the next version. History must end uncorrupted:
    three parseable manifests, a correct parent chain, and the final
    snapshot containing BOTH writers' rows (append semantics lost
    nothing in the race)."""
    import threading

    snap.snapshot_write(spark, table, _df(spark, 0, 5))  # v1

    barrier = threading.Barrier(2, timeout=60)
    real_current_version = snap.current_version
    in_race = threading.local()

    def synced_current_version(path):
        v = real_current_version(path)
        if getattr(in_race, "arm", False):
            in_race.arm = False  # only the FIRST read per attempt syncs
            barrier.wait()
        return v

    monkeypatch.setattr(snap, "current_version", synced_current_version)

    conflicts, results, errors = [], {}, []

    def writer(tag, lo, hi):
        try:
            in_race.arm = True
            try:
                results[tag] = snap.snapshot_write(spark, table, _df(spark, lo, hi))
                return
            except snap.SnapshotConflictError:
                conflicts.append(tag)
            # retry on fresh state, no barrier this time
            results[tag] = snap.snapshot_write(spark, table, _df(spark, lo, hi))
        except Exception as e:  # pragma: no cover - surfaced via assert
            errors.append((tag, repr(e)))

    threads = [
        threading.Thread(target=writer, args=("a", 100, 105)),
        threading.Thread(target=writer, args=("b", 200, 205)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    assert not errors, errors
    assert len(conflicts) == 1, f"exactly one loser expected, got {conflicts}"
    assert sorted(results.values()) == [2, 3]

    # history is whole: every manifest parses, parent chain is linear
    assert snap.versions(table) == [1, 2, 3]
    for v in (1, 2, 3):
        m = snap.read_manifest(table, v)
        assert m["version"] == v
        assert m["parent"] == (v - 1 if v > 1 else None)
    final = {r.k for r in snap.read_snapshot(spark, table).collect()}
    assert final == set(range(0, 5)) | set(range(100, 105)) | set(range(200, 205))


def test_position_delete_on_empty_snapshot_is_noop_commit(spark, table):
    """DELETE WHERE against a legitimately empty snapshot (after a
    delete-all overwrite) must commit a no-op version, not raise the
    opaque reduce-over-zero-parts TypeError (ADVICE r7)."""
    from pyspark.sql import functions as F

    snap.snapshot_write(spark, table, _df(spark, 0, 5))
    # the files=[] manifest form (this Spark version emits a 0-row part
    # file for an empty WRITE, so commit the no-file shape directly —
    # it is exactly what triggered the reduce() TypeError)
    snap._commit_manifest(
        table,
        2,
        {"version": 2, "parent": 1, "operation": "overwrite", "files": [],
         "file_seqs": {}, "n_rows": 0},
    )
    v = snap.snapshot_delete_positions(spark, table, F.col("k") > 0)
    assert v == 3
    out = snap.read_snapshot(spark, table)
    assert out.count() == 0 and out.columns == ["k"]
    # and a follow-up append onto the no-op commit still works
    snap.snapshot_write(spark, table, _df(spark, 7, 9))
    assert snap.read_snapshot(spark, table).count() == 2


def test_tagged_empty_snapshot_survives_gc_with_schema_chain(spark, table):
    """A tag on an EMPTY overwrite snapshot reconstructs its schema by
    walking parent manifests; GC must retain that chain up to the
    nearest ancestor with files or the pinned tag becomes unreadable
    (ADVICE r7)."""
    snap.snapshot_write(spark, table, _df(spark, 0, 5))  # v1: has files
    # v2: an empty overwrite with NO data files at all. This Spark
    # version happens to emit one 0-row part file for an empty write,
    # so commit the files=[] manifest form directly — it is the shape
    # read_snapshot's ancestor-walk branch exists for (and the shape
    # snapshot_delete_positions' no-op commit produces).
    snap._commit_manifest(
        table,
        2,
        {"version": 2, "parent": 1, "operation": "overwrite", "files": [],
         "file_seqs": {}, "n_rows": 0},
    )
    snap.create_tag(table, "empty-pin", 2)
    snap.snapshot_write(spark, table, _df(spark, 10, 13), mode="overwrite")  # v3
    snap.snapshot_write(spark, table, _df(spark, 20, 24), mode="overwrite")  # v4
    removed = snap.expire_snapshots(table, keep_last=1)
    # v1 is the tagged-empty v2's schema ancestor: must survive
    assert "v000001" not in removed["manifests"]
    out = snap.read_snapshot(spark, table, snap.resolve_ref(table, "empty-pin"))
    assert out.count() == 0 and out.columns == ["k"]
    # dropping the tag releases the whole chain
    snap.delete_tag(table, "empty-pin")
    removed = snap.expire_snapshots(table, keep_last=1)
    assert {"v000001", "v000002"} <= set(removed["manifests"])


def test_untagged_empty_current_version_survives_gc_with_schema_chain(
    spark, table
):
    """An UNTAGGED empty snapshot inside the keep_last window (here:
    the current version, the files=[] no-op commit shape that
    snapshot_delete_positions produces) also reconstructs its schema by
    walking parent manifests — GC must retain that ancestor chain for
    every survivor, not only for tagged versions, or reading the
    CURRENT version raises FileNotFoundError after expire (ADVICE
    r8)."""
    snap.snapshot_write(spark, table, _df(spark, 0, 5))  # v1: has files
    # v2: empty overwrite, NO files, NO tag — and it is the current
    # version, so keep_last=1 retains exactly it
    snap._commit_manifest(
        table,
        2,
        {"version": 2, "parent": 1, "operation": "overwrite", "files": [],
         "file_seqs": {}, "n_rows": 0},
    )
    removed = snap.expire_snapshots(table, keep_last=1)
    # v1 is the surviving empty v2's schema ancestor: must survive
    assert "v000001" not in removed["manifests"]
    out = snap.read_snapshot(spark, table)
    assert out.count() == 0 and out.columns == ["k"]
    # once a later snapshot WITH files exists, the chain is releasable
    snap.snapshot_write(spark, table, _df(spark, 10, 13), mode="overwrite")
    removed = snap.expire_snapshots(table, keep_last=1)
    assert {"v000001", "v000002"} <= set(removed["manifests"])
    assert snap.read_snapshot(spark, table).count() == 3
