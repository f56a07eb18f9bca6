"""MERGE semantics as pure DataFrame compositions (SURVEY S7/S8/S10).

The reference uses Iceberg ``MERGE INTO`` for idempotent streaming
appends (insert-only, /root/reference ``spark/jobs/bronze_streaming_job.py:241-270``)
and batch upserts (``silver_batch_job.py:294-326``,
``gold_batch_job.py:598-710``). Without a table format that supports
MERGE, the same semantics decompose into anti-joins + unions:

- insert-only:  target ∪ (source ⟕anti target)          — duplicate
  replays no-op, which is the exactly-once contract (D3).
- upsert:       dedup(source) ∪ (target ⟕anti source)    — matched keys
  take the source row (UPDATE SET *), unmatched target rows survive.

Determinism: the reference's ``dropDuplicates`` keeps an arbitrary row
when a batch carries intra-batch duplicate keys (D2,
``silver_batch_job.py:142-144``); here source dedup is a row_number
keep-first/keep-latest over an explicit ordering — SURVEY §7.3 hard
part (2).

Scale: both shapes are a single shuffle on the merge keys (the anti
join and the union reuse the same hash partitioning); with AQE the
small side broadcasts. Writing through :func:`upsert_parquet` is
PARTITION-SCOPED on the parquet backend: only the partitions present in
the source batch are read back, merged, and dynamically overwritten —
untouched partition files are never rewritten, matching the reference's
``event_date`` partition contract (``spark/jobs/bronze_streaming_job.py:363``,
``silver_batch_job.py:248``). An Iceberg/Delta backend would issue a
real MERGE with file-level pruning instead (documented fallback,
SURVEY §4). The partition-scoped path assumes the partition value is
stable per merge key (event_date is a pure function of the event
timestamp in every pipeline table) — the same assumption the
reference's partition-pruned MERGE predicates encode.

Job budget of the streaming sink's body, :func:`insert_only_parquet`:
on a small micro-batch the cost is the number of Spark jobs, not the
rows, and inside ``foreachBatch`` every action on the batch re-runs its
whole plan. So the batch is materialized once, with its row count and
touched partitions observed on that one job; the target's keys are read
with a pinned schema (no inference job); and the anti-join keeps its own
eager checkpoint, which cuts the lineage off the files the append writes
into and lets a full replay return before any write. A warm batch runs 4
jobs, a full replay 3, a cold table's first batch 2, an empty batch 1.
:func:`materialize` is that one materialize-and-observe step.
"""

from __future__ import annotations

import functools
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def path_exists(spark: SparkSession, path: str) -> bool:
    """True if *path* exists, via the Hadoop FS API — the explicit
    existence probe that replaces catching bare exceptions around
    ``spark.read.parquet`` (a transient read failure must propagate, not
    silently clobber the table with the current batch)."""
    jvm = spark._jvm
    hadoop_path = jvm.org.apache.hadoop.fs.Path(path)
    fs = hadoop_path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.exists(hadoop_path)


def materialize(df: DataFrame, *metrics: Column) -> tuple[DataFrame, dict]:
    """Pin ``df`` with one eager ``localCheckpoint``, observing
    ``count(1) AS rows`` and the aggregate ``metrics`` on that job.
    Returns the pin and the observed values by name. A second action on
    a ``foreachBatch`` batch would re-read its files; reading them once
    here keeps the query's ``numInputRows`` equal to the rows landed."""
    seen = Observation()
    pinned = df.observe(seen, F.count(F.lit(1)).alias("rows"), *metrics).localCheckpoint(
        eager=True
    )
    return pinned, seen.get


def partition_predicate(partition_by: Sequence[str], tuples: Sequence) -> Column:
    """Pruning predicate selecting exactly the partitions in ``tuples``
    (one value per ``partition_by`` column each, in that order; a NULL
    value selects the null partition), compiled to an
    OR-of-conjunctions that the parquet scan turns into
    PartitionFilters. No tuples selects nothing."""
    if not tuples:
        return F.lit(False)

    def one(values):
        terms = [
            F.col(c).isNull() if v is None else (F.col(c) == F.lit(v))
            for c, v in zip(partition_by, values)
        ]
        return functools.reduce(lambda a, b: a & b, terms)

    return functools.reduce(lambda a, b: a | b, (one(t) for t in tuples))


def dedup_keep_one(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    keep: str = "first",
) -> DataFrame:
    """Deterministic one-row-per-key (reference W2 pattern,
    ``dq/deduplicate_bronze.py:80-88``, minus its NOT-IN bug)."""
    cols = [F.col(c) for c in order_by]
    if keep == "last":
        cols = [c.desc() for c in cols]
    w = Window.partitionBy(*keys).orderBy(*cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_insert_only(
    target: DataFrame, source: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """WHEN NOT MATCHED THEN INSERT * (idempotent append, S7)."""
    new_rows = source.join(target.select(*keys).distinct(), list(keys), "left_anti")
    return target.unionByName(new_rows)


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str] | None = None,
) -> DataFrame:
    """Full upsert: matched UPDATE SET * + unmatched INSERT * (S8).

    ``order_by`` deduplicates intra-batch duplicate keys in the source
    (keep latest) before merging; without it the source is assumed
    key-unique.
    """
    if order_by:
        source = dedup_keep_one(source, keys, order_by, keep="last")
    kept_target = target.join(source.select(*keys).distinct(), list(keys), "left_anti")
    return kept_target.unionByName(source)


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    attrs: Sequence[str],
    eff_date: str,
    high_date: str = "9999-12-31",
) -> DataFrame:
    """Slowly-changing-dimension Type 2 merge.

    ``dim`` carries ``valid_from``/``valid_to``/``is_current`` history
    columns; ``updates`` carries ``keys + attrs`` (one row per key).
    Rows whose attributes actually changed (null-safe comparison
    against the CURRENT dim version) close the current version at
    ``eff_date`` and open a new one; update keys with no current dim
    row (brand-new keys, or keys whose history is fully closed) open a
    first/current version — standard SCD2 MERGE ``WHEN NOT MATCHED THEN
    INSERT``; no-op updates and historical versions pass through
    untouched — the warehouse MERGE pattern the reference's Iceberg
    upsert (``bronze_streaming_job.py:364-374``) would need for
    versioned dimensions.

    Shape: one key-partitioned join to diff updates against current
    rows, one to tag dim rows, then unions — all equi-joins on the
    dimension key; the update batch (typically CDC-sized) broadcasts
    when small. No global sort, no window.
    """
    cur = dim.filter(F.col("is_current"))
    cur_attrs = cur.select(
        *keys, *[F.col(a).alias(f"__cur_{a}") for a in attrs]
    )
    same = None
    for a in attrs:
        eq = F.col(a).eqNullSafe(F.col(f"__cur_{a}"))
        same = eq if same is None else (same & eq)
    changed = (
        updates.join(cur_attrs, list(keys))
        .filter(~same)
        .select(*keys, *attrs)
    )
    # Keys with no current row open a first version (MERGE insert arm).
    new_keys = updates.join(cur_attrs.select(*keys), list(keys), "left_anti").select(
        *keys, *attrs
    )
    changed = changed.unionByName(new_keys)
    ck = changed.select(*keys).withColumn("__chg", F.lit(True))
    marked = dim.join(ck, list(keys), "left")
    untouched = marked.filter(
        ~(F.col("is_current") & F.col("__chg").isNotNull())
    ).drop("__chg")
    closed = (
        marked.filter(F.col("is_current") & F.col("__chg").isNotNull())
        .drop("__chg")
        .withColumn("valid_to", F.lit(eff_date))
        .withColumn("is_current", F.lit(False))
    )
    opened = (
        changed.withColumn("valid_from", F.lit(eff_date))
        .withColumn("valid_to", F.lit(high_date))
        .withColumn("is_current", F.lit(True))
    )
    return untouched.unionByName(closed).unionByName(opened.select(*dim.columns))


def repair_dedup(
    spark: SparkSession,
    path: str,
    keys: Sequence[str],
    order_by: Sequence[str],
) -> tuple[int, int]:
    """One-shot historical dedup repair (S10): rewrite the table keeping
    the first row per key by ``order_by``. Returns (rows_before,
    rows_after).

    The reference's repair (``dq/deduplicate_bronze.py:96-110``) deletes
    via an UNCORRELATED ``NOT IN (SELECT MIN(...) GROUP BY key)`` — a
    duplicate sharing another key's timestamp survives or deletes
    wrongly (SURVEY §7.3 hard part 5). This implementation is the
    row_number form of W2, which is per-key by construction."""
    df = spark.read.parquet(path)
    before = df.count()
    kept, stats = materialize(dedup_keep_one(df, keys, order_by, keep="first"))
    after = stats["rows"]
    if after != before:
        kept.write.mode("overwrite").parquet(path)
    return before, after


def upsert_parquet(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str] | None = None,
    partition_by: Sequence[str] | None = None,
) -> int:
    """Upsert ``source`` into a parquet table at ``path``.

    With ``partition_by`` the merge is PARTITION-SCOPED: only partitions
    present in the source batch are read (partition-pruned scan), merged
    and rewritten via dynamic partition overwrite — work per merge is
    O(touched partitions), not O(table), which is what survives a
    3-minute micro-batch cadence at 100 TB. Unpartitioned tables fall
    back to full copy-on-write. Returns the number of rows written.

    When the checkpoint runs: only when ``path`` already exists. Those
    merges read the files they overwrite, so the merged rows are first
    materialized with an eager ``localCheckpoint`` (a lineage cut) and
    the write reads the checkpoint; a partitioned one first pins the
    source with :func:`materialize`, observing the partitions it
    touches. A cold merge (no table yet) reads no target and writes the
    source, deduplicated when ``order_by`` is given, straight to
    ``path`` in one job (plus the dedup's shuffle).

    Where the row count comes from: an ``Observation`` of ``count(1)``
    on the write itself, collected as the write runs rather than by a
    separate ``count()`` job. It counts exactly the rows written — on
    the scoped path, the rows of the touched partitions only.

    Contract for the scoped path: the partition value must be stable per
    merge key (true for every event_date-partitioned pipeline table —
    event_date is derived from the event timestamp).
    """
    if not path_exists(spark, path):
        merged = (
            dedup_keep_one(source, keys, order_by, keep="last") if order_by else source
        )
    else:
        target = spark.read.parquet(path)
        if partition_by:
            source, stats = materialize(
                source, F.collect_set(F.struct(*partition_by)).alias("parts")
            )
            target = target.filter(partition_predicate(partition_by, stats["parts"]))
        # break lineage before overwriting the path we read from (cache
        # alone can be evicted and recompute against the clobbered files)
        merged = merge_upsert(target, source, keys, order_by).localCheckpoint(
            eager=True
        )
    written = Observation()
    writer = merged.observe(written, F.count(F.lit(1)).alias("rows")).write.mode(
        "overwrite"
    )
    if partition_by:
        # dynamic mode replaces only the partitions present in merged;
        # every other partition's files are untouched
        writer = writer.option("partitionOverwriteMode", "dynamic").partitionBy(
            *partition_by
        )
    writer.parquet(path)
    return written.get["rows"]


def insert_only_parquet(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: Sequence[str],
    partition_by: Sequence[str] | None = None,
) -> int:
    """Insert-only MERGE into a parquet table (the streaming sink's
    exactly-once body, T4/D3): rows whose keys already exist are dropped,
    so replayed micro-batches are no-ops — a FULL replay short-circuits
    before any write, leaving every file untouched. Returns rows written.

    The surviving delta is APPENDED, never merged into a full-table
    rewrite: set-insert is the one merge algebra where append IS the
    merge, so a micro-batch costs O(|delta|) bytes written instead of
    O(|table|), existing files are untouched by construction (partial
    replays included), and the per-batch cost does not grow with the
    table. The trade is file-count growth with batch count — the
    standard compaction story for any append-merge table
    (compaction_plan covers it); partition-scoped deltas land in their
    hive partition directories.

    Job budget. Inside ``foreachBatch`` every action on ``source``
    re-runs the whole micro-batch plan (file read, transform, dedup
    state), and on a small batch each Spark job costs far more than its
    rows, so the body runs as few jobs as it can:

    1. ``source`` is materialized ONCE by :func:`materialize`, which
       observes its row count and, when partitioned, the set of
       partition tuples it touches. An empty source returns 0 here (1
       job); a cold table (no ``path`` yet) writes the checkpoint and
       returns the observed count (2 jobs).
    2. The target is read with a pinned schema — the key and partition
       columns, typed from ``source.schema`` — so no schema-inference
       job runs, and the scan prunes to the observed partitions.
    3. The anti-join is materialized by a second :func:`materialize`
       (its target-key side is a broadcast job of its own), which
       observes the surviving row count. That checkpoint stays: it
       cuts the lineage off the target files the append then writes
       into, and it lets a full replay return 0 before any write —
       writing the anti-join directly would leave an empty parquet file
       in an unpartitioned table on every replay.
    4. The append writes the checkpoint.

    So a warm batch costs 4 jobs and a full replay 3."""
    parts = [F.collect_set(F.struct(*partition_by)).alias("parts")] if partition_by else []
    batch, stats = materialize(source, *parts)
    if stats["rows"] == 0:
        return 0
    if not path_exists(spark, path):
        writer = batch.write.mode("overwrite")
        n = stats["rows"]
    else:
        cols = [*keys, *(c for c in partition_by or () if c not in keys)]
        target = spark.read.schema(
            StructType([source.schema[c] for c in cols])
        ).parquet(path)
        if partition_by:
            target = target.filter(partition_predicate(partition_by, stats["parts"]))
        # NULL-SAFE anti-join: a plain key equi-join never matches
        # NULL == NULL, so a replayed micro-batch would re-insert every
        # NULL-keyed row (e.g. a histogram sink bin=NULL count) on every
        # recovery — breaking the exactly-once contract exactly for the
        # rows a plain join can't see. The target's keys are not
        # deduplicated first: an anti-join's result does not depend on
        # repeated keys, and a distinct would add a shuffle job.
        tgt = target.select(*keys)
        cond = functools.reduce(
            lambda a, b: a & b, (batch[k].eqNullSafe(tgt[k]) for k in keys)
        )
        new_rows, kept = materialize(batch.join(tgt, cond, "left_anti"))
        n = kept["rows"]
        if n == 0:
            return 0
        writer = new_rows.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return n
