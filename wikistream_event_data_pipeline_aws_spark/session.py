"""SparkSession factory.

Mirrors the session discipline of the reference jobs (AQE + partition
coalescing + skew-join handling enabled on every session — reference
``spark/jobs/bronze_streaming_job.py:109-128``,
``silver_batch_job.py:60-76``) but tuned for local[N] testing while
staying cluster-correct: nothing here depends on single-JVM execution,
and shuffle partitioning is configurable so a 1000-executor deployment
can raise it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The driver-generated events.parquet stores TIMESTAMP(NANOS), which the
# vectorized parquet reader rejects unless read as raw nanos longs.
# catalog.load_tables() converts back to a proper timestamp column.
NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"

# Spark keeps compiled generated classes in an LRU cache keyed on the
# generated source (stock size: 100 entries). Measured working set on
# local[2]/local[4]: one warm pass of the serving mix (six registered
# queries plus a bronze stream drain) compiles ~125 distinct classes;
# one medallion cycle ~155 cold, plus ~80 more once its tables exist
# (the upsert's merge path). At 100 entries every class is evicted
# before its next use, so each repeated pass recompiles all of them:
# Janino time, plus fresh bytecode the JIT must compile again. The
# cache evicts per segment (4 of them), so the size keeps ~3x headroom
# over the ~360 classes of both together. A static conf, set only in
# get_spark: ensure_session_confs cannot raise it on a session someone
# else built.
CODEGEN_CACHE_ENTRIES = 1000
# By default each whole-stage class is named after its codegen stage
# id, which is part of the cache key. AQE numbers stages in the order
# it creates its query stages, which follows which shuffle finished
# first, so a re-run of the same plan can draw other ids and miss the
# cache. Without the id, identical stages share one class (explain
# output still shows the ids). A runtime SQL conf.
CODEGEN_ID_IN_CLASS_NAME = "spark.sql.codegen.useIdInClassName"

# Local writes never fork a shell. pyspark ships no native hadoop
# library (libhadoop), and without it Hadoop's RawLocalFileSystem forks
# `chmod` for every file and directory a write creates (parquet parts,
# their .crc files, the streaming offset/commit logs and state-store
# deltas) and `readlink` for every FileContext rename (the logs' atomic
# commits; its argument is the `file:`-prefixed path string, which names
# no file, so it always prints nothing). Counted with JFR
# jdk.ProcessStart: 442 child processes per 45-file bronze drain (~147
# per trigger) and 254 per cold medallion cycle. A forking setPermission
# took 4.1-4.6 ms from a 1 GB driver JVM, the in-JVM one under 0.1 ms.
# The jar's classes (jvm/src; rebuild with tools/build_localfs_jar.py)
# make both calls with java.nio and are otherwise the stock ones: same
# .crc checksums, modes and renames. The driver classpath is static, so
# only get_spark sets this: ensure_session_confs cannot, because a JVM
# the engine did not start lacks the classes. On local[N] the executors
# share the driver JVM; a cluster deployment would also need the jar on
# spark.executor.extraClassPath.
LOCALFS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "localfs.jar")
LOCALFS_CONFS = {
    "spark.hadoop.fs.file.impl": "wikistream.localfs.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "wikistream.localfs.NioLocalFs",
}


# Runtime SQL confs every engine session carries: get_spark sets them on
# the builder, ensure_session_confs on a session someone else built.
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    NANOS_CONF: "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # partition dirs like event_date=2024-01-19 stay strings on read
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
    # r13 optimization (guide §2.4): let joins reuse an existing
    # partitioning on a SUBSET of the join keys instead of forcing a
    # re-exchange on all keys. The engine's iterative plans (unigram
    # min-plus squaring, BPE rounds) deliberately cluster by a
    # high-cardinality key (word) and join on superset keys — the
    # skew hazard this conf guards against (few distinct subset
    # values) does not apply, and the determinism sweep verifies
    # results are partitioning-invariant.
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
    # repeated plans reuse their compiled classes (see the constant)
    CODEGEN_ID_IN_CLASS_NAME: "false",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "wikistream-spark-engine",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession with engine defaults.

    At cluster scale the same confs apply; only ``master`` and memory
    sizing are deployment concerns.
    """
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or cpus
    driver_memory = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in {**RUNTIME_CONFS, **with_localfs(extra_confs)}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def with_localfs(confs: dict[str, str] | None) -> dict[str, str]:
    """``confs`` plus the LOCALFS classes, with the jar appended to any
    ``spark.driver.extraClassPath`` they already give."""
    out = {**LOCALFS_CONFS, **(confs or {})}
    classpath = out.get("spark.driver.extraClassPath")
    out["spark.driver.extraClassPath"] = (
        f"{classpath}{os.pathsep}{LOCALFS_JAR}" if classpath else LOCALFS_JAR
    )
    return out


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Set runtime-settable confs the engine relies on.

    Called from every query entry point so that an externally provided
    session (e.g. the verification driver's) behaves identically to one
    built by :func:`get_spark`. All of these are runtime SQL confs.
    """
    for k, v in RUNTIME_CONFS.items():
        spark.conf.set(k, v)
    # Match get_spark's broadcast band: a driver-provided session with the
    # stock 10MB threshold would silently demote the dimension joins the
    # local plan tests validate as broadcast into sort-merge joins —
    # exactly the plan drift this function exists to prevent. Only the
    # stock default is overridden; an explicitly tuned session is
    # respected (same policy as shuffle.partitions below).
    if spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b").rstrip(
        "b"
    ) == "10485760":
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    # Right-size task count for this host if the session still carries
    # Spark's stock default; an explicitly tuned session is left alone.
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))
    return spark


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, seconds spent compiling them) by Spark's code
    generator in this JVM so far; a cache hit adds to neither. Take the
    difference of two readings to attribute compiles to the work
    between them."""
    jvm = spark._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return count, nanos / 1e9
