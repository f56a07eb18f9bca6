"""Table-maintenance operators: small-file compaction (plan + rewrite)
and partition-layout migration.

The reference declares a 256 MB target file size on every Iceberg table
(``/root/reference/spark/schemas/bronze_schema.py:246-254``,
``config/settings.py:180-186``) but relies on Iceberg's table services
to enforce it; on a plain parquet lake the maintenance job itself must
(a) inventory the files, (b) bin them toward the target, (c) rewrite
each partition's bins — Iceberg/Delta ``OPTIMIZE``'s binpack in plain
Spark. ``plans/partitioned.py::compaction_plan`` is the oracle-checked
*planning* kernel over synthetic file grains; this module closes the
loop on REAL storage: the inventory comes from the filesystem, and the
rewrite is asserted file-for-file against the plan
(tests/test_maintenance.py).

Partition-layout migration is the other maintenance op a 100 TB lake
actually performs (the reference evolves schemas — S11 — but never
partitioning): rewrite ``date``-partitioned history into a new layout
(e.g. ``(event_type, date)``) so a new dominant query pattern prunes.
Row preservation is oracle-checked via the registered
``partition_evolution_audit`` query (plans/partitioned.py).

Scale notes:
- The per-partition loop is driver-side but O(#partitions), not O(rows),
  and partitions rewrite CONCURRENTLY (Spark's scheduler is
  thread-safe; ``max_workers`` bounds in-flight jobs) — the same
  job-pool shape Iceberg's rewriteDataFiles action uses.
- Each partition rewrite is one narrow job: read that partition's files,
  round-robin into ``n_bins`` outputs, overwrite the directory. No
  shuffle crosses partitions, so a failed partition retries alone.
- Binning is next-fit in file-name order (deterministic), bin count =
  ``ceil(partition_bytes / target)`` — the same prefix-sum semantics as
  the oracle-checked planner.
"""

from __future__ import annotations

import math
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import SparkSession


@dataclass(frozen=True)
class PartitionInventory:
    """One hive partition directory's data files."""

    partition: str  # relative dir, e.g. "event_date=2024-01-05" ("" = unpartitioned)
    files: tuple[tuple[str, int], ...]  # (name, bytes), name-sorted

    @property
    def n_files(self) -> int:
        return len(self.files)

    @property
    def total_bytes(self) -> int:
        return sum(b for _, b in self.files)


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def list_partition_files(spark: SparkSession, path: str) -> list[PartitionInventory]:
    """Inventory a (possibly hive-partitioned) parquet table via the
    Hadoop FS API: one entry per leaf directory holding data files,
    sorted by partition dir then file name. Metadata files (Spark's job
    commit marker, checksums, hidden files) are excluded — they are not data and must
    not count toward bin sizes."""
    fs, root = _fs(spark, path)
    base = root.toUri().getPath()
    by_dir: dict[str, list[tuple[str, int]]] = {}
    it = fs.listFiles(root, True)  # recursive
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        name = p.getName()
        if name.startswith("_") or name.startswith("."):
            continue
        rel_dir = p.getParent().toUri().getPath()[len(base) :].strip("/")
        by_dir.setdefault(rel_dir, []).append((name, int(st.getLen())))
    return [
        PartitionInventory(d, tuple(sorted(by_dir[d])))
        for d in sorted(by_dir)
    ]


def plan_bins(inv: PartitionInventory, target_bytes: int) -> dict[str, int]:
    """Next-fit bin assignment for one partition: file -> bin id by
    prefix-sum (``floor(cumulative_bytes_before / target)``) in name
    order — identical binning semantics to the oracle-checked
    ``compaction_plan`` query."""
    bins: dict[str, int] = {}
    cum = 0
    for name, size in inv.files:
        bins[name] = cum // target_bytes
        cum += size
    return bins


def plan_compaction(
    inventories: list[PartitionInventory], target_bytes: int
) -> dict[str, int]:
    """Partition -> planned output-file count. ``ceil(bytes/target)``
    equals the number of distinct next-fit bins, floored at one file
    for a non-empty partition."""
    return {
        inv.partition: max(1, math.ceil(inv.total_bytes / target_bytes))
        for inv in inventories
        if inv.n_files
    }


def execute_compaction(
    spark: SparkSession,
    path: str,
    target_bytes: int,
    max_workers: int = 4,
) -> dict[str, dict[str, int]]:
    """Rewrite every partition whose file count exceeds its planned bin
    count, coalescing to exactly the planned number of files. Returns a
    per-partition report: files/bytes before and after plus the plan.

    Partitions already at (or below) their planned file count are left
    untouched — compaction must be idempotent and must never rewrite
    data that is already well-laid-out (rewriting costs IO and churns
    file-level caches downstream).
    """
    before = {inv.partition: inv for inv in list_partition_files(spark, path)}
    plan = plan_compaction(list(before.values()), target_bytes)

    def _rewrite(partition: str, n_bins: int) -> None:
        part_path = f"{path}/{partition}" if partition else path
        df = spark.read.parquet(part_path)
        # pin rows before overwriting the files they came from
        pinned = df.localCheckpoint(eager=True)
        pinned.repartition(n_bins).write.mode("overwrite").parquet(part_path)

    todo = [
        (p, n) for p, n in plan.items() if before[p].n_files > n
    ]
    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        # materialize results so worker exceptions propagate
        list(pool.map(lambda t: _rewrite(*t), todo))

    rewritten = {p for p, _ in todo}
    after = {inv.partition: inv for inv in list_partition_files(spark, path)}
    return {
        p: {
            "files_before": before[p].n_files,
            "bytes_before": before[p].total_bytes,
            "planned_files": plan[p],
            "files_after": after[p].n_files,
            "bytes_after": after[p].total_bytes,
            "rewritten": int(p in rewritten),
        }
        for p in sorted(plan)
    }


def migrate_partition_layout(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    partition_by: list[str],
) -> tuple[int, int]:
    """Rewrite the table at ``src_path`` (any layout) into ``dst_path``
    hive-partitioned by ``partition_by`` — the partition-evolution
    migration (old layout -> new layout, full history rewrite).

    The read recovers the old layout's partition columns from directory
    names (``basePath``), so the new layout may partition on any mix of
    old partition columns and data columns. One pass: scan -> shuffle on
    the new partition keys (dynamic partition write) -> write; at 100 TB
    this runs partition-range by partition-range with the same
    reconciliation audit gating cutover. Returns (rows_read,
    rows_written) — equal by construction, re-verified from the
    destination files because a migration's row-preservation claim must
    come from what actually landed on disk."""
    src = spark.read.option("basePath", src_path).parquet(src_path)
    n_src = src.count()
    (
        src.write.mode("overwrite")
        .partitionBy(*partition_by)
        .parquet(dst_path)
    )
    n_dst = spark.read.option("basePath", dst_path).parquet(dst_path).count()
    return n_src, n_dst
