"""Registered snapshot/time-travel query over a REAL versioned table.

Builds a 4-version snapshot table from the orders slice (append →
append → overwrite → rollback) with ``operators/snapshots.py``, then
reads EVERY version back by time travel and fingerprints each with a
row count, distinct-key count and keyspace checksum. The DuckDB oracle
never sees the versioned storage: it recomputes what each snapshot
*must* contain from the source orders table — so a broken manifest,
a non-isolated overwrite, or a rollback that rewrote rather than
re-pointed all surface as value-hash mismatches.

Version script (deterministic; each versioned table is a setup table
built once per version of the orders file, ``operators/memo.fixture``):
  v1 append    orders with o_orderkey % 10 < 5
  v2 append    orders with o_orderkey % 10 IN (5, 6)   (disjoint)
  v3 overwrite orders with o_orderstatus = 'F'
  v4 rollback→v2  (metadata-only: must equal v2 exactly)
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import snapshots as snap
from ..operators.memo import fixture


def _key_sig():
    """Shared md5-prefix keyspace signature (same 8-hex-char convention
    as the oracle's _KS_SQL; one definition so Spark and SQL twins can't
    drift independently across the three snapshot fingerprint queries)."""
    return F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long")


N_VERSIONS = 4


def build_snapshot_table(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the 4-version history once per version of the
    orders file."""

    def build(path: str) -> str:
        orders = load_table(spark, sf_dir, "orders")
        snap.snapshot_write(
            spark, path, orders.filter(F.col("o_orderkey") % 10 < 5), mode="append"
        )
        snap.snapshot_write(
            spark,
            path,
            orders.filter((F.col("o_orderkey") % 10).isin(5, 6)),
            mode="append",
        )
        snap.snapshot_write(
            spark, path, orders.filter(F.col("o_orderstatus") == "F"), mode="overwrite"
        )
        snap.rollback(path, 2)
        return path

    return fixture("orders_snap", sf_dir, ("orders",), build)


def snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One fingerprint row per snapshot version, read by time travel."""
    path = build_snapshot_table(spark, sf_dir)
    key_sig = _key_sig()
    per_version = [
        snap.read_snapshot(spark, path, v).select(
            F.lit(v).alias("version"),
            F.col("o_orderkey"),
            key_sig.alias("ks"),
        )
        for v in range(1, N_VERSIONS + 1)
    ]
    return (
        reduce(DataFrame.unionByName, per_version)
        .groupBy("version")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("o_orderkey").alias("n_keys"),
            F.sum("ks").alias("keyspace_checksum"),
        )
    )


_KS_SQL = "CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)"

SNAPSHOT_TIME_TRAVEL_SQL = f"""
WITH v1 AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 10 < 5),
v2 AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 10 < 7),
v3 AS (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'),
labeled AS (
  SELECT 1 AS version, o_orderkey FROM v1
  UNION ALL SELECT 2, o_orderkey FROM v2
  UNION ALL SELECT 3, o_orderkey FROM v3
  UNION ALL SELECT 4, o_orderkey FROM v2
)
SELECT version,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT o_orderkey) AS n_keys,
       CAST(SUM({_KS_SQL}) AS BIGINT) AS keyspace_checksum
FROM labeled GROUP BY version
"""


def snapshot_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDC between consecutive snapshots (Iceberg's
    incremental read / ``changes`` metadata table): for each version
    transition, the keys added and removed from the visible set, as
    counts + keyspace checksums. Each direction is one left-anti join
    on the table key — no full-row diff, no window; at 100 TB an
    append-only transition short-circuits via the manifest file diff
    (``snapshot_file_diff``) to scanning ONLY the added files, which is
    exactly how Iceberg serves incremental consumers."""
    path = build_snapshot_table(spark, sf_dir)
    key_sig = _key_sig()

    def keys_at(v: int) -> DataFrame:
        return snap.read_snapshot(spark, path, v).select("o_orderkey")

    def side(cur: DataFrame, prev: DataFrame, name: str) -> DataFrame:
        return (
            cur.join(prev, "o_orderkey", "left_anti")
            .select(key_sig.alias("ks"))
            .agg(
                F.count(F.lit(1)).alias(f"n_{name}"),
                F.coalesce(F.sum("ks"), F.lit(0)).cast("long").alias(f"{name}_checksum"),
            )
        )

    out = []
    for v in range(2, N_VERSIONS + 1):
        prev, cur = keys_at(v - 1), keys_at(v)
        out.append(
            side(cur, prev, "added")
            .join(side(prev, cur, "removed"))
            .select(F.lit(v).alias("version"), "*")
        )
    return reduce(DataFrame.unionByName, out)


SNAPSHOT_CHANGES_SQL = f"""
WITH v1 AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 10 < 5),
v2 AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 10 < 7),
v3 AS (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'),
v4 AS (SELECT o_orderkey FROM v2),
a2 AS (SELECT o_orderkey FROM v2 EXCEPT SELECT o_orderkey FROM v1),
r2 AS (SELECT o_orderkey FROM v1 EXCEPT SELECT o_orderkey FROM v2),
a3 AS (SELECT o_orderkey FROM v3 EXCEPT SELECT o_orderkey FROM v2),
r3 AS (SELECT o_orderkey FROM v2 EXCEPT SELECT o_orderkey FROM v3),
a4 AS (SELECT o_orderkey FROM v4 EXCEPT SELECT o_orderkey FROM v3),
r4 AS (SELECT o_orderkey FROM v3 EXCEPT SELECT o_orderkey FROM v4)
SELECT 2 AS version,
       (SELECT COUNT(*) FROM a2) AS n_added,
       (SELECT CAST(COALESCE(SUM({_KS_SQL}), 0) AS BIGINT) FROM a2) AS added_checksum,
       (SELECT COUNT(*) FROM r2) AS n_removed,
       (SELECT CAST(COALESCE(SUM({_KS_SQL}), 0) AS BIGINT) FROM r2) AS removed_checksum
UNION ALL
SELECT 3,
       (SELECT COUNT(*) FROM a3),
       (SELECT CAST(COALESCE(SUM({_KS_SQL}), 0) AS BIGINT) FROM a3),
       (SELECT COUNT(*) FROM r3),
       (SELECT CAST(COALESCE(SUM({_KS_SQL}), 0) AS BIGINT) FROM r3)
UNION ALL
SELECT 4,
       (SELECT COUNT(*) FROM a4),
       (SELECT CAST(COALESCE(SUM({_KS_SQL}), 0) AS BIGINT) FROM a4),
       (SELECT COUNT(*) FROM r4),
       (SELECT CAST(COALESCE(SUM({_KS_SQL}), 0) AS BIGINT) FROM r4)
"""


N_MOR_VERSIONS = 3


def build_mor_table(spark: SparkSession, sf_dir: str) -> str:
    """Merge-on-read history: v1 = orders slice (%10 < 5), v2 =
    equality-DELETE of keys %9 == 0 (a tiny delete file, no data
    rewrite), v3 = append that RE-INSERTS the deleted keys ending in 0
    — the sequence-semantics probe: v3's re-inserted rows must survive
    v2's older delete."""

    def build(path: str) -> str:
        orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
        v1 = orders.filter(F.col("o_orderkey") % 10 < 5)
        snap.snapshot_write(spark, path, v1, mode="append")
        snap.snapshot_delete(
            spark, path, v1.filter(F.col("o_orderkey") % 9 == 0), ["o_orderkey"]
        )
        reinserted = v1.filter(
            (F.col("o_orderkey") % 9 == 0) & (F.col("o_orderkey") % 10 == 0)
        )
        snap.snapshot_write(spark, path, reinserted, mode="append")
        return path

    return fixture("orders_mor", sf_dir, ("orders",), build)


def snapshot_mor_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint every version of the merge-on-read table through the
    sequence-aware reader. The oracle recomputes each version's
    REQUIRED contents from the source orders table: v2 must subtract
    exactly the deleted keys, and v3 must restore exactly the
    re-inserted ones — a reader that drops delete files, applies them
    to newer files, or loses them on append diverges immediately."""
    path = build_mor_table(spark, sf_dir)
    key_sig = _key_sig()
    per_version = [
        snap.read_snapshot(spark, path, v).select(
            F.lit(v).alias("version"), F.col("o_orderkey"), key_sig.alias("ks")
        )
        for v in range(1, N_MOR_VERSIONS + 1)
    ]
    return (
        reduce(DataFrame.unionByName, per_version)
        .groupBy("version")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("ks").alias("keyspace_checksum"),
        )
    )


SNAPSHOT_MOR_READ_SQL = f"""
WITH v1 AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 10 < 5),
v2 AS (SELECT o_orderkey FROM v1 WHERE o_orderkey % 9 <> 0),
v3 AS (
  SELECT o_orderkey FROM v2
  UNION ALL
  SELECT o_orderkey FROM v1 WHERE o_orderkey % 9 = 0 AND o_orderkey % 10 = 0
),
labeled AS (
  SELECT 1 AS version, o_orderkey FROM v1
  UNION ALL SELECT 2, o_orderkey FROM v2
  UNION ALL SELECT 3, o_orderkey FROM v3
)
SELECT version, COUNT(*) AS n_rows, CAST(SUM({_KS_SQL}) AS BIGINT) AS keyspace_checksum
FROM labeled GROUP BY version
"""


N_MORPOS_VERSIONS = 4


def build_morpos_table(spark: SparkSession, sf_dir: str) -> str:
    """Merge-on-read history exercising BOTH Iceberg v2 delete
    encodings with sequence scoping (reference table property
    ``write.delete.mode=merge-on-read``, ``bronze_schema.py:246-254``):

      v1 append    orders %10 < 5, written as 4 data files
      v2 equality-DELETE  keys %9 == 0          (key-addressed)
      v3 position-DELETE  WHERE key %7 == 0     (coordinate-addressed,
                          resolved against the then-visible rows via
                          the parquet scan's ``_metadata`` column)
      v4 append    re-insert EVERY deleted row (%9==0 OR %7==0)

    v4 must equal v1 exactly: the appended file postdates both delete
    commits, so the equality delete (strict dseq > seq) and the
    position deletes (which name v1's file paths) must leave it alone.
    A reader that applies either delete encoding to the new file, or
    matches positions across files, diverges on the v4 fingerprint."""

    def build(path: str) -> str:
        orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
        v1 = orders.filter(F.col("o_orderkey") % 10 < 5)
        # multiple data files so positions are genuinely file-relative
        snap.snapshot_write(spark, path, v1.repartition(4, "o_orderkey"), mode="append")
        snap.snapshot_delete(
            spark, path, v1.filter(F.col("o_orderkey") % 9 == 0), ["o_orderkey"]
        )
        snap.snapshot_delete_positions(spark, path, F.col("o_orderkey") % 7 == 0)
        reinserted = v1.filter(
            (F.col("o_orderkey") % 9 == 0) | (F.col("o_orderkey") % 7 == 0)
        )
        snap.snapshot_write(spark, path, reinserted, mode="append")
        return path

    return fixture("orders_morpos", sf_dir, ("orders",), build)


def snapshot_mor_position_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint every version of the dual-encoding merge-on-read
    table (equality v2 + position v3 deletes, see
    :func:`build_morpos_table`). The oracle recomputes each version's
    REQUIRED contents from the source orders table — v4's full-circle
    restore (= v1) is the sequence-scoping proof for both encodings."""
    path = build_morpos_table(spark, sf_dir)
    key_sig = _key_sig()
    per_version = [
        snap.read_snapshot(spark, path, v).select(
            F.lit(v).alias("version"), F.col("o_orderkey"), key_sig.alias("ks")
        )
        for v in range(1, N_MORPOS_VERSIONS + 1)
    ]
    return (
        reduce(DataFrame.unionByName, per_version)
        .groupBy("version")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("o_orderkey").alias("n_keys"),
            F.sum("ks").alias("keyspace_checksum"),
        )
    )


SNAPSHOT_MOR_POSITION_DELETES_SQL = f"""
WITH v1 AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 10 < 5),
v2 AS (SELECT o_orderkey FROM v1 WHERE o_orderkey % 9 <> 0),
v3 AS (SELECT o_orderkey FROM v2 WHERE o_orderkey % 7 <> 0),
v4 AS (SELECT o_orderkey FROM v1),
labeled AS (
  SELECT 1 AS version, o_orderkey FROM v1
  UNION ALL SELECT 2, o_orderkey FROM v2
  UNION ALL SELECT 3, o_orderkey FROM v3
  UNION ALL SELECT 4, o_orderkey FROM v4
)
SELECT version,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT o_orderkey) AS n_keys,
       CAST(SUM({_KS_SQL}) AS BIGINT) AS keyspace_checksum
FROM labeled GROUP BY version
"""


def build_tagged_table(spark: SparkSession, sf_dir: str) -> str:
    """Tag-retention history (Iceberg ref semantics, ``create_tag`` +
    ``expire_snapshots``): v1 = orders %10 < 5, TAGGED 'audit'; v2 =
    overwrite with o_orderstatus = 'F'; v3 = append %10 == 6 rows; then
    ``expire_snapshots(keep_last=1)``. The expire drops untagged,
    unshared history (v2's manifest — its files survive because v3
    still references them) but MUST retain the tagged v1 in full: the
    tag is a GC root."""

    def build(path: str) -> str:
        orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
        snap.snapshot_write(
            spark, path, orders.filter(F.col("o_orderkey") % 10 < 5), mode="append"
        )
        snap.create_tag(path, "audit", 1)
        snap.snapshot_write(
            spark, path, orders.filter(F.col("o_orderstatus") == "F"), mode="overwrite"
        )
        snap.snapshot_write(
            spark, path, orders.filter(F.col("o_orderkey") % 10 == 6), mode="append"
        )
        snap.expire_snapshots(path, keep_last=1)
        return path

    return fixture("orders_tagged", sf_dir, ("orders",), build)


def snapshot_tag_retention_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint the table at the 'audit' TAG and at the head, AFTER
    expire_snapshots dropped the untagged middle of the history. The
    oracle recomputes both states from the source orders table — a GC
    that collects a tagged version's manifest or data files (or a tag
    that silently re-points) diverges on the 'tag' row; an expire that
    breaks the shared-file append chain diverges on 'head'."""
    path = build_tagged_table(spark, sf_dir)
    key_sig = _key_sig()

    def fingerprint(version: int, label: str) -> DataFrame:
        return (
            snap.read_snapshot(spark, path, version)
            .select(F.col("o_orderkey"), key_sig.alias("ks"))
            .agg(
                F.lit(label).alias("ref"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("ks").alias("keyspace_checksum"),
            )
        )

    return fingerprint(snap.resolve_ref(path, "audit"), "tag_audit").unionByName(
        fingerprint(snap.current_version(path), "head")
    )


SNAPSHOT_TAG_RETENTION_READ_SQL = f"""
WITH v1 AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 10 < 5),
head AS (
  SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
  UNION ALL
  SELECT o_orderkey FROM orders WHERE o_orderkey % 10 = 6
)
SELECT 'tag_audit' AS ref, COUNT(*) AS n_rows,
       CAST(SUM({_KS_SQL}) AS BIGINT) AS keyspace_checksum
FROM v1
UNION ALL
SELECT 'head', COUNT(*),
       CAST(SUM({_KS_SQL}) AS BIGINT)
FROM head
"""


QUERIES = {
    "snapshot_time_travel": snapshot_time_travel,
    "snapshot_changes": snapshot_changes,
    "snapshot_mor_read": snapshot_mor_read,
    "snapshot_mor_position_deletes": snapshot_mor_position_deletes,
    "snapshot_tag_retention_read": snapshot_tag_retention_read,
}
ORACLES = {
    "snapshot_time_travel": SNAPSHOT_TIME_TRAVEL_SQL,
    "snapshot_changes": SNAPSHOT_CHANGES_SQL,
    "snapshot_mor_read": SNAPSHOT_MOR_READ_SQL,
    "snapshot_mor_position_deletes": SNAPSHOT_MOR_POSITION_DELETES_SQL,
    "snapshot_tag_retention_read": SNAPSHOT_TAG_RETENTION_READ_SQL,
}
