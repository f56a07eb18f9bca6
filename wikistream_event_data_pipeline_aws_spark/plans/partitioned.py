"""Partitioned-table scan with partition-predicate pruning (SURVEY S6).

The reference never scans a table without a partition predicate
(``silver_batch_job.py:263-266``, ``gold_batch_job.py:116-118``) and
declares every layer PARTITIONED BY date(+hour/region). This query
reproduces that contract end-to-end on real storage: the events table
is written hive-partitioned by ``event_date`` into a local directory,
read back, and scanned with a two-date partition predicate — Catalyst
resolves the predicate against the partition directories
(``PartitionFilters``), so the scan touches 2 of 30 date directories.
At cluster scale this is the difference between reading 100 TB and
reading the two days the incremental window asked for.

The write is a setup table built once per version of the events file
(``operators/memo.fixture``) and tiny (4 projected columns);
tests/test_plans.py asserts the pruned ``partitions read`` count on the
scan node.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.memo import fixture

TARGET_DATES = ("2024-01-05", "2024-01-17")


def write_partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Hive-partitioned materialization of events (date dirs on disk).

    The write is setup, not the operator under measurement: it runs
    once per version of the events file and is reused after that, so
    benchmark and correctness runs time only the pruned scan."""

    def build(path: str) -> str:
        e = load_table(spark, sf_dir, "events").select(
            F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
            "event_type",
            "user_id",
            "value",
        )
        e.write.mode("overwrite").partitionBy("event_date").parquet(path)
        return path

    return fixture("events_by_date", sf_dir, ("events",), build)


def partitioned_scan_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: date-window rollup over the partitioned table; the predicate
    prunes to the two matching date directories before any IO."""
    path = write_partitioned_events(spark, sf_dir)
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("event_date").isin(*TARGET_DATES))
        .groupBy("event_date", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("unique_users"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )


_DATES_IN = ", ".join(f"'{d}'" for d in TARGET_DATES)

PARTITIONED_SCAN_PRUNING_SQL = f"""
SELECT strftime(ts, '%Y-%m-%d') AS event_date,
       event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS unique_users,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
WHERE strftime(ts, '%Y-%m-%d') IN ({_DATES_IN})
GROUP BY 1, 2
"""

Z_BITS = 8  # bits interleaved per dimension -> 16-bit z space
Z_BUCKET_SHIFT = 10  # 2^16 z values / 2^10 = 64 fixed-prefix buckets


def _z_expr(x: str, y: str) -> str:
    """Morton bit-interleave as pure div/mod arithmetic — identical
    semantics in any engine (`div`/`%` here; `//`/`%` in the oracle)."""
    terms = []
    for j in range(Z_BITS):
        terms.append(f"(({x} div {1 << j}) % 2) * {1 << (2 * j)}")
        terms.append(f"(({y} div {1 << j}) % 2) * {1 << (2 * j + 1)}")
    return " + ".join(terms)


def zorder_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering layout audit: interleave the bits of
    two scan dimensions (user shard, hour-of-day), bucket rows by fixed
    z-prefix — exactly how a z-ordered table maps rows to files — and
    report each bucket's min/max on BOTH dimensions.

    The point at 100 TB: writing files in z-bucket order (a single
    ``repartitionByRange(zkey)``, range partitioning, no single-task
    sort) gives every file a tight min/max envelope on *both* columns,
    so a predicate on either dimension prunes most files via footer
    stats — the multi-dimensional generalization of S6's one-column
    partition pruning. This audit query is the layout's proof: 64
    buckets, each spanning <=1/8 of the user-shard range AND <=3 of
    the 24 hours. One narrow projection + one hash aggregation.

    Interleave discipline: the hour (0..23) is first scaled onto the
    full 8-bit range (``hour*256 div 24``) — interleaving a 5-bit
    value raw would leave its top bits constant and the z prefix
    would degenerate to single-dimension bucketing (the classic
    z-order mistake with mismatched column ranges; tests pin the
    two-dimensional span bound).
    """
    e = load_table(spark, sf_dir, "events")
    t = e.select(
        (F.col("user_id") % 256).alias("x"),
        F.hour("ts").cast("long").alias("h"),
    ).withColumn("y", F.expr("(h * 256) div 24"))
    z = t.select("x", "h", F.expr(_z_expr("x", "y")).alias("zkey"))
    return (
        z.select("x", "h", F.expr(f"zkey div {1 << Z_BUCKET_SHIFT}").alias("z_bucket"))
        .groupBy("z_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("h").alias("hour_min"),
            F.max("h").alias("hour_max"),
        )
    )


def _z_expr_duck(x: str, y: str) -> str:
    terms = []
    for j in range(Z_BITS):
        terms.append(f"(({x} // {1 << j}) % 2) * {1 << (2 * j)}")
        terms.append(f"(({y} // {1 << j}) % 2) * {1 << (2 * j + 1)}")
    return " + ".join(terms)


ZORDER_CLUSTER_STATS_SQL = f"""
WITH t AS (
  SELECT user_id % 256 AS x,
         CAST(hour(ts) AS BIGINT) AS h,
         (CAST(hour(ts) AS BIGINT) * 256) // 24 AS y
  FROM events
),
z AS (SELECT x, h, {_z_expr_duck("x", "y")} AS zkey FROM t)
SELECT zkey // {1 << Z_BUCKET_SHIFT} AS z_bucket,
       COUNT(*) AS n_rows,
       MIN(x) AS x_min, MAX(x) AS x_max,
       MIN(h) AS hour_min, MAX(h) AS hour_max
FROM z GROUP BY 1
"""


COMPACT_TARGET_BYTES = 16 * 1024  # scaled-down stand-in for the 256 MB target
_FILE_OVERHEAD = 64  # per-row footer/metadata overhead in the size model


def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — the maintenance op behind the
    reference's 256 MB target-file-size property
    (``spark/schemas/bronze_schema.py:246-254``,
    ``config/settings.py:180-186``): given a partition's file inventory,
    assign files to target-sized output bins (Iceberg/Delta OPTIMIZE's
    planning phase).

    The inventory is derived deterministically from events: one "file"
    per (event_date, hour) — exactly the micro-batch file grain a
    3-minute streaming trigger leaves behind — sized as payload bytes
    (UTF-8 byte length: ``octet_length`` in Spark, ``octet_length(::BLOB)`` in DuckDB) plus a
    per-row overhead. Binning is next-fit in hour order:
    ``floor(cumulative_bytes_before / target)``, one partition-local
    prefix-sum window. At 100 TB each date partition plans
    independently and in parallel (the window never crosses partition
    keys, no global sort, no driver state), and the plan's output —
    files per bin, bytes per bin — is the rewrite job's work list."""
    e = load_table(spark, sf_dir, "events")
    files = (
        e.select(
            F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
            F.hour("ts").cast("long").alias("file_hour"),
            F.octet_length("props").alias("payload"),
        )
        .groupBy("event_date", "file_hour")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum("payload") + _FILE_OVERHEAD * F.count(F.lit(1))).alias("size_bytes"),
        )
    )
    w = (
        Window.partitionBy("event_date")
        .orderBy("file_hour")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # ONE window definition (the spec above), integer-exact div — the
    # previous hand-written SQL string duplicated the same window inline
    binned = (
        files.withColumn(
            "_pre", F.coalesce(F.sum("size_bytes").over(w), F.lit(0))
        )
        .withColumn("bin_id", F.expr(f"_pre div {COMPACT_TARGET_BYTES}"))
        .drop("_pre")
    )
    return binned.groupBy("event_date", "bin_id").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("size_bytes").alias("total_bytes"),
        F.sum("n_rows").alias("total_rows"),
        F.min("file_hour").alias("first_hour"),
        F.max("file_hour").alias("last_hour"),
    )


COMPACTION_PLAN_SQL = f"""
WITH files AS (
  SELECT strftime(ts, '%Y-%m-%d') AS event_date,
         CAST(hour(ts) AS BIGINT) AS file_hour,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(octet_length(props::BLOB)) + {_FILE_OVERHEAD} * COUNT(*) AS BIGINT) AS size_bytes
  FROM events GROUP BY 1, 2
),
binned AS (
  SELECT *,
         CAST(COALESCE(SUM(size_bytes) OVER (
             PARTITION BY event_date ORDER BY file_hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           // {COMPACT_TARGET_BYTES} AS BIGINT) AS bin_id
  FROM files
)
SELECT event_date, bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(size_bytes) AS BIGINT) AS total_bytes,
       CAST(SUM(n_rows) AS BIGINT) AS total_rows,
       MIN(file_hour) AS first_hour,
       MAX(file_hour) AS last_hour
FROM binned GROUP BY 1, 2
"""


N_BUCKETS = 8


def _bucketed_table(spark: SparkSession, sf_dir: str, src: str, key: str) -> str:
    """Materialize (once per version of *src*) and register (once per
    session) a bucketed copy of *src* clustered by *key*.

    ``saveAsTable`` writes bucket-id-stamped files; because the
    in-memory catalog forgets them between sessions, a later session
    re-declares the SAME bucketing over the existing files with
    ``CREATE TABLE ... CLUSTERED BY ... LOCATION`` — the production
    pattern for external bucketed tables. The table is named after its
    directory, so a rewritten *src* gets a new table."""

    def build(path: str) -> str:
        (
            load_table(spark, sf_dir, src)
            .write.mode("overwrite")
            .bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .option("path", path)
            .saveAsTable(os.path.basename(path))
        )
        return path

    path = fixture(f"bucketed_{src}", sf_dir, (src,), build)
    name = os.path.basename(path)
    if not spark.catalog.tableExists(name):
        # CLUSTERED BY requires an explicit column list
        schema = load_table(spark, sf_dir, src).schema
        cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
        spark.sql(
            f"""CREATE TABLE {name} ({cols}) USING PARQUET
                CLUSTERED BY ({key}) INTO {N_BUCKETS} BUCKETS
                LOCATION '{path}'"""
        )
    return name


def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact-fact join via bucketing — the co-location
    technique for repeated big joins: orders and lineitem are both
    bucketed INTO {N_BUCKETS} BUCKETS on the order key at write time,
    so the join reads matching buckets pair-wise and neither side
    shuffles (tests pin 'Bucketed: true' scans and at most the one
    post-aggregation exchange). At 100 TB this converts the pipeline's
    hottest recurring join from two full-table shuffles per run into
    zero — the write-once cost amortizes across every downstream join
    on the same key. The bucketed copies are materialized once per
    version of their input files; bench.py pre-builds them during setup
    so the timed path measures only the join — a cold first invocation
    elsewhere (e.g. the driver's correctness run) pays the one-time
    write inside this builder."""
    o = spark.table(_bucketed_table(spark, sf_dir, "orders", "o_orderkey"))
    li = spark.table(_bucketed_table(spark, sf_dir, "lineitem", "l_orderkey"))
    # The MERGE hint pins the sort-merge strategy the bucketing feeds:
    # at test SF the planner would otherwise broadcast the small orders
    # side, hiding the co-location this query exists to demonstrate —
    # at production fact-fact scale neither side broadcasts and SMJ is
    # what the planner picks unaided.
    return (
        o.hint("merge").join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


BUCKETED_JOIN_COLOCATED_SQL = """
SELECT o.o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_lineitems,
       CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderstatus
"""


EVO_PARTITION_BY = ["event_type", "event_date"]


def write_evolution_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize the partition-evolution pair: the OLD layout
    (``event_date``-partitioned events, with event_id retained as the
    reconciliation key) and the NEW layout produced by
    :func:`operators.maintenance.migrate_partition_layout`
    (``(event_type, event_date)`` — the evolution a workload shift to
    type-dominant queries asks for). Both layouts are subdirectories of
    one setup table, built once per version of the events file, same
    discipline as :func:`write_partitioned_events`."""
    from ..operators.maintenance import migrate_partition_layout

    def build(base: str) -> tuple[str, str]:
        old_path, new_path = os.path.join(base, "old"), os.path.join(base, "new")
        e = load_table(spark, sf_dir, "events").select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
            "event_type",
            "user_id",
            "value",
        )
        e.write.mode("overwrite").partitionBy("event_date").parquet(old_path)
        migrate_partition_layout(spark, old_path, new_path, EVO_PARTITION_BY)
        return old_path, new_path

    return fixture("events_evo", sf_dir, ("events",), build)


def partition_evolution_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconciliation audit gating a partition-layout cutover: full-outer
    join OLD vs NEW layout on the stable event key, classify every key
    added/removed/changed/unchanged (md5 over canonically-stringified
    non-key columns — one hash, not N comparisons), roll up counts + a
    keyspace checksum per class. A correct migration yields exactly one
    row: ``unchanged`` with the full row count — which is what the
    DuckDB oracle (computed from the source events table, never having
    seen either layout) asserts. Both scans are partition-discovering
    reads of REAL directories, so a migration bug (dropped partition
    dir, double-write, partition-column value corrupted by the rewrite)
    surfaces as added/removed/changed rows. The join shuffles on
    event_id; at 100 TB run it partition-range by partition-range with
    the same plan."""
    old_path, new_path = write_evolution_tables(spark, sf_dir)

    def hashed(path: str, side: str) -> DataFrame:
        df = spark.read.option("basePath", path).parquet(path)
        non_key = ["event_date", "event_type", "user_id", "value"]
        return df.select(
            "event_id",
            F.md5(
                F.concat_ws(
                    "\x1f", *[F.col(c).cast("string") for c in non_key]
                )
            ).alias(f"{side}_hash"),
        )

    j = hashed(old_path, "o").join(hashed(new_path, "n"), "event_id", "full_outer")
    cls = (
        F.when(F.col("o_hash").isNull(), "added")
        .when(F.col("n_hash").isNull(), "removed")
        .when(F.col("o_hash") != F.col("n_hash"), "changed")
        .otherwise("unchanged")
    )
    key_sig = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    return (
        j.select(cls.alias("diff_class"), key_sig.alias("ks"))
        .groupBy("diff_class")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("ks").alias("keyspace_checksum"),
        )
    )


# The oracle never reads either layout: it asserts the INVARIANT a
# row-preserving migration must satisfy — every source key present
# exactly once, all unchanged. Layout-level assertions (directory
# structure, partition pruning on the new key) live in
# tests/test_maintenance.py, which is plan-shaped rather than
# SQL-expressible.
PARTITION_EVOLUTION_AUDIT_SQL = """
SELECT 'unchanged' AS diff_class,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)) AS BIGINT)
         AS keyspace_checksum
FROM events
"""


QUERIES = {
    "partitioned_scan_pruning": partitioned_scan_pruning,
    "zorder_cluster_stats": zorder_cluster_stats,
    "compaction_plan": compaction_plan,
    "bucketed_join_colocated": bucketed_join_colocated,
    "partition_evolution_audit": partition_evolution_audit,
}
ORACLES = {
    "partitioned_scan_pruning": PARTITIONED_SCAN_PRUNING_SQL,
    "zorder_cluster_stats": ZORDER_CLUSTER_STATS_SQL,
    "compaction_plan": COMPACTION_PLAN_SQL,
    "bucketed_join_colocated": BUCKETED_JOIN_COLOCATED_SQL,
    "partition_evolution_audit": PARTITION_EVOLUTION_AUDIT_SQL,
}
