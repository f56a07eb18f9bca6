"""Local writes never fork a shell (session.LOCALFS_JAR).

Without the native hadoop library, Hadoop's RawLocalFileSystem forks
``chmod`` per created file or directory and ``readlink`` per FileContext
rename. The session's local filesystem classes make both calls in the
JVM. Child processes are counted with an in-JVM JFR recording of
``jdk.ProcessStart`` events. The rest of this file checks that the
written tree is the stock one: modes, ``.crc`` checksums that are
verified on read, symlink status and rename semantics.
"""

from __future__ import annotations

import collections
import datetime as dt
import glob
import os
import shutil
import stat
import zipfile

import pytest
from pyspark.sql import functions as F

from tools.build_localfs_jar import manifest_sha256, sources_sha256
from wikistream_event_data_pipeline_aws_spark.dq.audit import AuditWriter
from wikistream_event_data_pipeline_aws_spark.dq.checks import (
    FAILED,
    PASSED,
    DQCheckResult,
    DQGateResult,
)
from wikistream_event_data_pipeline_aws_spark.operators.merge import upsert_parquet
from wikistream_event_data_pipeline_aws_spark.session import (
    LOCALFS_CONFS,
    LOCALFS_JAR,
    with_localfs,
)
from wikistream_event_data_pipeline_aws_spark.streaming.ingest import (
    file_stream,
    start_merge_sink,
)

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"
SHELL_COMMANDS = {"chmod", "readlink", "ls", "stat"}


def _process_starts(spark, fn, jfr_path: str) -> collections.Counter:
    """Commands (by program name) of the child processes the driver JVM
    starts while ``fn()`` runs."""
    jvm = spark._jvm
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try:
        fn()
    finally:
        rec.stop()
    out = jvm.java.io.File(jfr_path).toPath()
    rec.dump(out)
    rec.close()
    events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(out)
    os.remove(jfr_path)
    return collections.Counter(os.path.basename(e.getString("command").split()[0]) for e in events)


def _crc_of(path: str) -> str:
    head, tail = os.path.split(path)
    return os.path.join(head, f".{tail}.crc")


def _stage_stream_files(spark, directory: str) -> None:
    """Two one-file micro-batches; event 3 is in both."""
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    os.makedirs(directory)
    for name, ids in (("b1", [1, 2, 3]), ("b2", [3, 4])):
        out = os.path.join(directory, f"_{name}")
        rows = [(i, t0, i % 5, "edit", float(i)) for i in ids]
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(out)
        part = glob.glob(os.path.join(out, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(directory, f"{name}.parquet"))
        shutil.rmtree(out)


@pytest.fixture(scope="module")
def written(spark, tmp_path_factory):
    """The medallion and streaming writes, once, under a JFR recording:
    (the recorded process starts, the written root)."""
    root = str(tmp_path_factory.mktemp("localfs"))
    batches = os.path.join(root, "batches")
    _stage_stream_files(spark, batches)
    src = spark.range(0, 300, 1, 3).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("d")
    )
    gate = DQGateResult(
        layer="bronze",
        run_id="run_1",
        results=[
            DQCheckResult("completeness(a)", "a", PASSED, 1.0, 1.0, "ok"),
            DQCheckResult("range(b)", "b", FAILED, None, None, "observed [0, 9]"),
        ],
    )

    def work():
        table = os.path.join(root, "table")
        upsert_parquet(spark, table, src, ["k"], partition_by=["d"])  # cold
        shifted = src.withColumn("k", F.col("k") + 150)
        upsert_parquet(spark, table, shifted, ["k"], partition_by=["d"])  # warm
        AuditWriter(os.path.join(root, "warehouse")).write_gate(spark, gate, "2024-01-01")
        q = start_merge_sink(
            file_stream(spark, batches, SCHEMA, max_files_per_trigger=1),
            os.path.join(root, "bronze"),
            ["event_id"],
            os.path.join(root, "checkpoint"),
            trigger={"availableNow": True},
        )
        q.awaitTermination(300)
        assert len(q.recentProgress) == 2  # two triggers, one per file

    forks = _process_starts(spark, work, os.path.join(root, "process-starts.jfr"))
    shutil.rmtree(batches)
    return forks, root


def test_writes_and_stream_commits_fork_no_shell(spark, written):
    forks, root = written
    assert {cmd: n for cmd, n in forks.items() if cmd in SHELL_COMMANDS} == {}
    assert spark.read.parquet(os.path.join(root, "table")).count() == 450
    bronze = spark.read.parquet(os.path.join(root, "bronze"))
    assert sorted(r.event_id for r in bronze.collect()) == [1, 2, 3, 4]
    assert AuditWriter(os.path.join(root, "warehouse")).read_results(spark).count() == 2


def test_written_modes_and_checksum_files_match_stock(written):
    umask = os.umask(0)
    os.umask(umask)
    if umask != 0o022:
        pytest.skip(f"modes are pinned under the 022 umask, this process has {umask:03o}")
    _, root = written
    dirs, files = {}, {}
    for dirpath, _, names in os.walk(root):
        if dirpath != root:  # made by pytest, 0700
            dirs[dirpath] = stat.S_IMODE(os.stat(dirpath).st_mode)
        for n in names:
            path = os.path.join(dirpath, n)
            files[path] = stat.S_IMODE(os.stat(path).st_mode)
    assert set(dirs.values()) == {0o755}
    assert set(files.values()) == {0o644}
    # every parquet part, every streaming log entry and state file has its
    # checksum sibling
    data = [p for p in files if not os.path.basename(p).startswith(".")]
    missing = [p for p in data if _crc_of(p) not in files]
    assert data and not missing
    assert any("/checkpoint/offsets/" in p for p in data)
    assert any("/checkpoint/commits/" in p for p in data)


def test_flipped_byte_fails_the_checksum_on_read(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(0, 1000, 1, 1).selectExpr("id", "id * 2 AS v").write.parquet(path)
    part = glob.glob(os.path.join(path, "part-*.parquet"))[0]
    assert spark.read.parquet(part).count() == 1000
    with open(part, "r+b") as f:
        f.seek(os.path.getsize(part) // 2)
        byte = f.read(1)
        f.seek(-1, os.SEEK_CUR)
        f.write(bytes([byte[0] ^ 0xFF]))
    with pytest.raises(Exception, match="Checksum"):
        spark.read.parquet(part).collect()


def test_link_status_and_rename_match_a_stock_raw_filesystem(spark, tmp_path):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    session_fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf)
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), conf)
    target = tmp_path / "target"
    target.write_text("x")
    link = tmp_path / "link"
    os.symlink(target, link)

    def status(fs, path):
        s = fs.getFileLinkStatus(hpath(path))
        return s.isSymlink(), s.getSymlink().toString() if s.isSymlink() else None, s.getLen()

    # a qualified path is never seen as a link, by either (the probe's
    # name starts with "file:"); a bare one is
    for path in (str(link), f"file:{link}", str(target), f"file:{target}"):
        assert status(session_fs.getRaw(), path) == status(stock, path)
    assert status(session_fs.getRaw(), str(link)) == (True, f"file:{target}", 1)
    with pytest.raises(Exception, match="FileNotFoundException"):
        session_fs.getRaw().getFileLinkStatus(hpath(str(tmp_path / "absent")))

    # a rename never replaces an existing file; onto a free name it moves
    other = tmp_path / "other"
    other.write_text("yy")
    assert not session_fs.rename(hpath(str(other)), hpath(str(target)))
    assert target.read_text() == "x"
    assert session_fs.rename(hpath(str(other)), hpath(str(tmp_path / "moved")))
    assert (tmp_path / "moved").read_text() == "yy"


def test_session_runs_the_jars_filesystem_classes(spark):
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf)
    assert fs.getClass().getName() == LOCALFS_CONFS["spark.hadoop.fs.file.impl"]
    afs = jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(conf).getDefaultFileSystem()
    assert (
        afs.getClass().getName() == LOCALFS_CONFS["spark.hadoop.fs.AbstractFileSystem.file.impl"]
    )


def test_jar_is_built_from_the_committed_sources():
    # after editing jvm/src, run: python tools/build_localfs_jar.py
    assert manifest_sha256() == sources_sha256()
    with zipfile.ZipFile(LOCALFS_JAR) as z:
        names = set(z.namelist())
    for cls in LOCALFS_CONFS.values():
        assert cls.replace(".", "/") + ".class" in names


def test_driver_classpath_is_appended_not_replaced():
    assert with_localfs(None)["spark.driver.extraClassPath"] == LOCALFS_JAR
    confs = with_localfs({"spark.driver.extraClassPath": "lib/a.jar", "spark.x": "1"})
    assert confs["spark.driver.extraClassPath"] == f"lib/a.jar{os.pathsep}{LOCALFS_JAR}"
    assert confs["spark.x"] == "1"
    assert confs["spark.hadoop.fs.file.impl"] == LOCALFS_CONFS["spark.hadoop.fs.file.impl"]
