"""MERGE semantics as oracle-verifiable batch queries (SURVEY S7/S8).

``orders`` is split into an overlapping target window and source window
so matched/unmatched branches both fire; the source's "updated" rows
carry a recomputed o_totalprice so an UPDATE is observable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.merge import merge_insert_only, merge_upsert, scd2_apply

_T_END = "1998-01-01 00:00:00"
_S_START = "1997-01-01 00:00:00"


def _target(spark, sf_dir) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderdate") < F.lit(_T_END).cast("timestamp")).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(12,2)").cast("double").alias("o_totalprice"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_str"),
    )


def _source(spark, sf_dir) -> DataFrame:
    """Overlapping window with 'updated' prices (exact decimal bump)."""
    o = load_table(spark, sf_dir, "orders")
    bumped = (
        F.col("o_totalprice").cast("decimal(12,2)")
        * F.lit("1.10").cast("decimal(3,2)")
    ).cast("double")
    return o.filter(F.col("o_orderdate") >= F.lit(_S_START).cast("timestamp")).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        bumped.alias("o_totalprice"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_str"),
    )


_TARGET_SQL = f"""
  SELECT o_orderkey, o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice,
         strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_str
  FROM orders WHERE o_orderdate < TIMESTAMP '{_T_END}'
"""

_SOURCE_SQL = f"""
  SELECT o_orderkey, 'U' AS o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * CAST('1.10' AS DECIMAL(3,2)) AS DOUBLE) AS o_totalprice,
         strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_str
  FROM orders WHERE o_orderdate >= TIMESTAMP '{_S_START}'
"""


def merge_insert_only_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return merge_insert_only(
        _target(spark, sf_dir), _source(spark, sf_dir), ["o_orderkey"]
    )


MERGE_INSERT_ONLY_SQL = f"""
SELECT * FROM ({_TARGET_SQL})
UNION ALL
SELECT * FROM ({_SOURCE_SQL}) s
WHERE NOT EXISTS (SELECT 1 FROM ({_TARGET_SQL}) t WHERE t.o_orderkey = s.o_orderkey)
"""


def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return merge_upsert(_target(spark, sf_dir), _source(spark, sf_dir), ["o_orderkey"])


MERGE_UPSERT_SQL = f"""
SELECT * FROM ({_SOURCE_SQL})
UNION ALL
SELECT * FROM ({_TARGET_SQL}) t
WHERE NOT EXISTS (SELECT 1 FROM ({_SOURCE_SQL}) s WHERE s.o_orderkey = t.o_orderkey)
"""


_SCD_START = "2024-01-01"
_SCD_EFF = "2024-06-01"
_SCD_HIGH = "9999-12-31"


def scd2_customer_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 versioned customer dimension (operators/merge.py
    ``scd2_apply``): a deterministic CDC batch (every 7th customer gets
    an exact +100.00 balance bump) closes the current version at the
    effective date and opens a new one; untouched customers stay
    current."""
    c = load_table(spark, sf_dir, "customer")
    dim = c.select(
        "c_custkey",
        "c_acctbal",
        "c_mktsegment",
        F.lit(_SCD_START).alias("valid_from"),
        F.lit(_SCD_HIGH).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    upd = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
        "c_mktsegment",
    )
    return scd2_apply(
        dim, upd, ["c_custkey"], ["c_acctbal", "c_mktsegment"], _SCD_EFF, _SCD_HIGH
    )


SCD2_CUSTOMER_DIM_SQL = f"""
WITH dim AS (
  SELECT c_custkey, c_acctbal, c_mktsegment,
         '{_SCD_START}' AS valid_from, '{_SCD_HIGH}' AS valid_to, TRUE AS is_current
  FROM customer
),
upd AS (
  SELECT c_custkey, c_acctbal + CAST(100.0 AS DOUBLE) AS c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 7 = 0
),
changed AS (
  -- WHEN MATCHED arm: updates whose attributes differ from the current row
  SELECT u.c_custkey, u.c_acctbal, u.c_mktsegment
  FROM upd u JOIN dim d ON u.c_custkey = d.c_custkey AND d.is_current
  WHERE u.c_acctbal IS DISTINCT FROM d.c_acctbal
     OR u.c_mktsegment IS DISTINCT FROM d.c_mktsegment
  UNION ALL
  -- WHEN NOT MATCHED arm: update keys with no current dim row open a first
  -- version (mirrors scd2_apply's new_keys branch; empty for this fixture,
  -- where the update batch is a subset of current keys, but keeps oracle
  -- and operator semantically aligned rather than coincidentally equal)
  SELECT u.c_custkey, u.c_acctbal, u.c_mktsegment
  FROM upd u
  WHERE NOT EXISTS (
    SELECT 1 FROM dim d WHERE d.c_custkey = u.c_custkey AND d.is_current
  )
)
SELECT d.c_custkey, d.c_acctbal, d.c_mktsegment, d.valid_from, d.valid_to, d.is_current
FROM dim d LEFT JOIN changed c ON d.c_custkey = c.c_custkey
WHERE NOT (d.is_current AND c.c_custkey IS NOT NULL)
UNION ALL
SELECT d.c_custkey, d.c_acctbal, d.c_mktsegment, d.valid_from,
       '{_SCD_EFF}' AS valid_to, FALSE AS is_current
FROM dim d JOIN changed c ON d.c_custkey = c.c_custkey
WHERE d.is_current
UNION ALL
SELECT c_custkey, c_acctbal, c_mktsegment,
       '{_SCD_EFF}' AS valid_from, '{_SCD_HIGH}' AS valid_to, TRUE AS is_current
FROM changed
"""


_SCD_ASOF = ("2024-03-15", "2024-07-15")  # one before, one after _SCD_EFF


def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time reconstruction over the SCD2 history — the read
    side of the versioned-dimension pattern: the dim state AS OF a date
    is the rows whose ``[valid_from, valid_to)`` interval covers it
    (ISO date strings compare lexicographically in both engines). One
    snapshot before and one after the effective date, aggregated per
    market segment with exact decimal sums cast to double at the end,
    so the before/after balance delta (+100.00 per 7th customer) is
    value-checked. The snapshot filter sits directly on the history
    scan — at scale, partition the history by valid_from range and the
    filter prunes."""
    from functools import reduce

    # fence the SCD2 merge lineage: consumed once per snapshot date, it
    # would otherwise re-run the full changed-diff/anti-join/tag-union
    # chain for every as-of branch (repo multiply-consumed-subtree rule)
    hist = scd2_customer_dim(spark, sf_dir).localCheckpoint(eager=False)
    parts = []
    for asof in _SCD_ASOF:
        snap = hist.filter(
            (F.col("valid_from") <= F.lit(asof)) & (F.col("valid_to") > F.lit(asof))
        )
        parts.append(
            snap.groupBy("c_mktsegment").agg(
                F.count(F.lit(1)).alias("n_customers"),
                F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_acctbal"),
            ).select(
                F.lit(asof).alias("snapshot_date"),
                "c_mktsegment",
                "n_customers",
                "total_acctbal",
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


def _scd2_pit_sql() -> str:
    snaps = "\nUNION ALL\n".join(
        f"""SELECT '{asof}' AS snapshot_date, c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM hist WHERE valid_from <= '{asof}' AND valid_to > '{asof}'
GROUP BY c_mktsegment"""
        for asof in _SCD_ASOF
    )
    return f"WITH hist AS ({SCD2_CUSTOMER_DIM_SQL})\n{snaps}"


SCD2_POINT_IN_TIME_SQL = _scd2_pit_sql()


# -- CDC stream -> SCD2 (the streaming upsert of a versioned dimension) ------

_CDC_EFF2 = "2024-09-01"
_CDC_ASOF = ("2024-03-15", "2024-07-15", "2024-10-15")  # initial / after b1 / after b2
# New-key offset for the second CDC batch's inserts. Collision-free while
# max(c_custkey) < 1e6, i.e. customer SF < ~6.7 — far above the test grid;
# a production fixture would derive it as max(key)+1 like the FK plant.
_CDC_NEW_KEY_OFFSET = 1_000_000


def _cdc_batches(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    """Two deterministic CDC batches over customer, each stamped with its
    effective date (from DATA, not wall clock — replay determinism):
    b0: every 7th customer +100.00 balance (same fixture as
        scd2_customer_dim, so histories are comparable);
    b1: every 5th customer +250.00 and segment MACHINERY (keys div by 35
        gain a THIRD version), plus brand-new keys (+offset) for every
        11th customer — the WHEN NOT MATCHED insert arm, in-stream."""
    c = load_table(spark, sf_dir, "customer")
    b0 = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
        "c_mktsegment",
        F.lit(_SCD_EFF).alias("eff_date"),
    )
    b1 = (
        c.filter(F.col("c_custkey") % 5 == 0)
        .select(
            "c_custkey",
            (F.col("c_acctbal") + F.lit(250.0)).alias("c_acctbal"),
            F.lit("MACHINERY").alias("c_mktsegment"),
            F.lit(_CDC_EFF2).alias("eff_date"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 11 == 0).select(
                (F.col("c_custkey") + F.lit(_CDC_NEW_KEY_OFFSET)).alias("c_custkey"),
                (F.col("c_acctbal") + F.lit(500.0)).alias("c_acctbal"),
                F.lit("STREAMING").alias("c_mktsegment"),
                F.lit(_CDC_EFF2).alias("eff_date"),
            )
        )
    )
    return [b0, b1]


def write_cdc_fixture(spark: SparkSession, sf_dir: str, cdc_dir: str) -> None:
    """Materialize the CDC batches as ONE parquet file each with
    ascending mtimes (FileStreamSource replays oldest-first, one file
    per micro-batch under maxFilesPerTrigger=1)."""
    import os
    import time

    os.makedirs(cdc_dir, exist_ok=True)
    base = time.time() - 600
    for i, b in enumerate(_cdc_batches(spark, sf_dir)):
        path = os.path.join(cdc_dir, f"batch_{i}.parquet")
        b.toPandas().to_parquet(path, index=False)
        os.utime(path, (base + 60 * i, base + 60 * i))


def seed_scd2_dim(spark: SparkSession, sf_dir: str, dim_path: str) -> None:
    """Write the initial current-only dimension (valid_from = history
    start, open-ended, is_current)."""
    c = load_table(spark, sf_dir, "customer")
    dim0 = c.select(
        "c_custkey",
        "c_acctbal",
        "c_mktsegment",
        F.lit(_SCD_START).alias("valid_from"),
        F.lit(_SCD_HIGH).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    dim0.write.mode("overwrite").parquet(dim_path)


def _scd2_fixtures(spark: SparkSession, sf_dir: str) -> tuple:
    """(fixture base dir, cdc schema), built once per version of the
    customer table they are deterministic functions of (bench.warmup
    pre-builds them with the other setup artifacts)."""
    from ..operators.memo import fixture

    def build(base: str) -> tuple:
        write_cdc_fixture(spark, sf_dir, f"{base}/cdc")
        seed_scd2_dim(spark, sf_dir, f"{base}/dim")
        return base, spark.read.parquet(f"{base}/cdc").schema

    return fixture("scd2_fixture", sf_dir, ("customer",), build)


def scd2_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CDC-stream -> SCD2 composition (VERDICT r3 item 3):
    a file-replayed update stream drives
    :func:`streaming.ingest.start_scd2_sink` (checkpointed foreachBatch
    ``scd2_apply``) over a seeded customer dimension — two micro-batches,
    two effective dates, update+insert arms both exercised — then the
    STREAMED history is read back and reconstructed point-in-time at
    three snapshot dates (before/between/after the effective dates),
    aggregated per market segment with exact decimal sums. The DuckDB
    oracle applies the same two batches sequentially in SQL, so every
    version row the stream produced is value-checked through the PIT
    lens. Checkpoint-restart idempotency is pinned separately in
    tests/test_streaming.py."""
    import shutil
    import tempfile

    from ..streaming.ingest import await_drain, file_stream, start_scd2_sink

    # The CDC batches and the seeded dimension are deterministic
    # functions of the customer table — build them ONCE per table version
    # like the other source fixtures (operators/memo.fixture; ~0.8s of
    # Spark writes per invocation saved).
    # The CDC side is read-only and shared; the dimension is MUTATED by
    # the sink's merges, so each invocation gets a fresh file-copy of
    # the pristine seed (a few ms of cp vs a Spark write job).
    base, schema = _scd2_fixtures(spark, sf_dir)
    cdc_dir = f"{base}/cdc"
    with tempfile.TemporaryDirectory(prefix="scd2_stream_", ignore_cleanup_errors=True) as tmp:
        dim_path = f"{tmp}/dim"
        ckpt = f"{tmp}/ckpt"
        shutil.copytree(f"{base}/dim", dim_path)
        stream = file_stream(spark, cdc_dir, schema, max_files_per_trigger=1)
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = start_scd2_sink(
                stream,
                dim_path,
                keys=["c_custkey"],
                attrs=["c_acctbal", "c_mktsegment"],
                checkpoint_dir=ckpt,
                trigger={"availableNow": True},
            )
            await_drain(q, "scd2 stream")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

        from functools import reduce

        hist = spark.read.parquet(dim_path)
        parts = []
        for asof in _CDC_ASOF:
            snap = hist.filter(
                (F.col("valid_from") <= F.lit(asof)) & (F.col("valid_to") > F.lit(asof))
            )
            parts.append(
                snap.groupBy("c_mktsegment")
                .agg(
                    F.count(F.lit(1)).alias("n_customers"),
                    F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                    .cast("double")
                    .alias("total_acctbal"),
                )
                .select(
                    F.lit(asof).alias("snapshot_date"),
                    "c_mktsegment",
                    "n_customers",
                    "total_acctbal",
                )
            )
        # materialize the (tiny: |segments| x |snapshots| rows) result so the
        # temp workspace — CDC files, a full dimension parquet, the streaming
        # checkpoint — can be deleted NOW instead of leaking one directory
        # per invocation (this query runs every parity round and every bench)
        return reduce(lambda a, b: a.unionByName(b), parts).localCheckpoint(eager=True)


def _scd2_apply_step_sql(i: int, eff: str) -> str:
    """CTE pair applying update batch ``upd{i}`` to history ``hist{i}``
    at effective date ``eff`` -> ``hist{i+1}``: the SQL mirror of
    operators.merge.scd2_apply (untouched + closed + opened arms, with
    the WHEN NOT MATCHED insert arm)."""
    prev, nxt = f"hist{i}", f"hist{i + 1}"
    return f"""
chg{i} AS (
  SELECT u.c_custkey, u.c_acctbal, u.c_mktsegment
  FROM upd{i} u JOIN {prev} d ON u.c_custkey = d.c_custkey AND d.is_current
  WHERE u.c_acctbal IS DISTINCT FROM d.c_acctbal
     OR u.c_mktsegment IS DISTINCT FROM d.c_mktsegment
  UNION ALL
  SELECT u.c_custkey, u.c_acctbal, u.c_mktsegment
  FROM upd{i} u
  WHERE NOT EXISTS (
    SELECT 1 FROM {prev} d WHERE d.c_custkey = u.c_custkey AND d.is_current
  )
),
{nxt} AS (
  SELECT d.c_custkey, d.c_acctbal, d.c_mktsegment, d.valid_from, d.valid_to, d.is_current
  FROM {prev} d LEFT JOIN chg{i} c ON d.c_custkey = c.c_custkey
  WHERE NOT (d.is_current AND c.c_custkey IS NOT NULL)
  UNION ALL
  SELECT d.c_custkey, d.c_acctbal, d.c_mktsegment, d.valid_from,
         '{eff}' AS valid_to, FALSE AS is_current
  FROM {prev} d JOIN chg{i} c ON d.c_custkey = c.c_custkey
  WHERE d.is_current
  UNION ALL
  SELECT c_custkey, c_acctbal, c_mktsegment,
         '{eff}' AS valid_from, '{_SCD_HIGH}' AS valid_to, TRUE AS is_current
  FROM chg{i}
)"""


def _scd2_stream_replay_sql() -> str:
    snaps = "\nUNION ALL\n".join(
        f"""SELECT '{asof}' AS snapshot_date, c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM hist2 WHERE valid_from <= '{asof}' AND valid_to > '{asof}'
GROUP BY c_mktsegment"""
        for asof in _CDC_ASOF
    )
    return f"""
WITH hist0 AS (
  SELECT c_custkey, c_acctbal, c_mktsegment,
         '{_SCD_START}' AS valid_from, '{_SCD_HIGH}' AS valid_to, TRUE AS is_current
  FROM customer
),
upd0 AS (
  SELECT c_custkey, c_acctbal + CAST(100.0 AS DOUBLE) AS c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 7 = 0
),
upd1 AS (
  SELECT c_custkey, c_acctbal + CAST(250.0 AS DOUBLE) AS c_acctbal,
         'MACHINERY' AS c_mktsegment
  FROM customer WHERE c_custkey % 5 = 0
  UNION ALL
  SELECT c_custkey + {_CDC_NEW_KEY_OFFSET}, c_acctbal + CAST(500.0 AS DOUBLE),
         'STREAMING'
  FROM customer WHERE c_custkey % 11 = 0
),{_scd2_apply_step_sql(0, _SCD_EFF)},{_scd2_apply_step_sql(1, _CDC_EFF2)}
{snaps}
"""


SCD2_STREAM_REPLAY_SQL = _scd2_stream_replay_sql()


def table_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconciliation diff between two table versions — the audit every
    MERGE/migration needs: a full-outer join on the business key
    classifies each key as added / removed / changed / unchanged
    ('changed' by md5 over the canonically-stringified non-key columns,
    one hash instead of N column comparisons), rolled up to a count +
    keyspace checksum per class. One keyed shuffle join, one hash agg;
    the per-class XOR-free checksum (sum of key md5 prefixes) lets two
    runs compare dispositions without exchanging keys — at 100 TB the
    summary travels, the diff rows stay distributed."""
    t = _target(spark, sf_dir)
    s = _source(spark, sf_dir)

    def hashed(df: DataFrame, side: str) -> DataFrame:
        non_key = [c for c in df.columns if c != "o_orderkey"]
        return df.select(
            "o_orderkey",
            F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in non_key])).alias(
                f"{side}_hash"
            ),
        )

    j = hashed(t, "t").join(hashed(s, "s"), "o_orderkey", "full_outer")
    cls = (
        F.when(F.col("t_hash").isNull(), "added")
        .when(F.col("s_hash").isNull(), "removed")
        .when(F.col("t_hash") != F.col("s_hash"), "changed")
        .otherwise("unchanged")
    )
    key_sig = F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    return (
        j.select(cls.alias("diff_class"), key_sig.alias("ks"))
        .groupBy("diff_class")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("ks").alias("keyspace_checksum"),
        )
    )


TABLE_DIFF_ORDERS_SQL = f"""
WITH t AS (
  SELECT o_orderkey,
         md5(concat_ws(chr(31), o_orderstatus, CAST(o_totalprice AS VARCHAR),
                       o_orderdate_str)) AS t_hash
  FROM ({_TARGET_SQL})
),
s AS (
  SELECT o_orderkey,
         md5(concat_ws(chr(31), o_orderstatus, CAST(o_totalprice AS VARCHAR),
                       o_orderdate_str)) AS s_hash
  FROM ({_SOURCE_SQL})
),
j AS (
  SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS k, t_hash, s_hash
  FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
)
SELECT CASE WHEN t_hash IS NULL THEN 'added'
            WHEN s_hash IS NULL THEN 'removed'
            WHEN t_hash <> s_hash THEN 'changed'
            ELSE 'unchanged' END AS diff_class,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(CAST(concat('0x', substr(md5(CAST(k AS VARCHAR)), 1, 8)) AS BIGINT)) AS BIGINT)
         AS keyspace_checksum
FROM j GROUP BY 1
"""


_MERKLE_BUMP_MOD = 5000  # every 5000th key gets a planted price drift
_MERKLE_DROP_MOD = 7000  # every 7000th key is missing from the replica


def _merkle_sides(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Source orders + a replica with planted divergences (price drift
    on key % BUMP_MOD, missing rows on key % DROP_MOD). Prices stay
    DECIMAL end-to-end so the canonical row string is engine-stable."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
        F.date_format("o_orderdate", "yyyy-MM").alias("part_month"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("d_str"),
    )
    replica = o.filter((F.col("o_orderkey") % _MERKLE_DROP_MOD) != 0).withColumn(
        "price",
        F.when(
            (F.col("o_orderkey") % _MERKLE_BUMP_MOD) == 0,
            F.col("price") + F.lit("1.00").cast("decimal(3,2)"),
        ).otherwise(F.col("price")),
    )
    return o, replica


def _merkle_sig(df: DataFrame) -> DataFrame:
    sig = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "\x1f",
                    F.col("o_orderkey").cast("string"),
                    F.col("o_orderstatus"),
                    F.col("price").cast("string"),
                    F.col("d_str"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return df.select("part_month", "o_orderkey", sig.alias("sig"))


def table_merkle_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy reconciliation between a table and its replica, the
    Merkle-tree way: compare per-PARTITION order-free checksums first
    (a sum of per-row md5-prefix integers — exact BIGINT, so any
    row-level divergence flips the partition checksum), then drill into
    per-key diffs ONLY for partitions whose summaries disagree. At
    100 TB this is the difference between shipping |partitions| summary
    rows between replicas and re-scanning both tables key-by-key: the
    second pass's key join is gated by a broadcast semi-join on the
    (tiny) divergent-partition list, so in the common all-in-sync case
    it scans nothing. Planted drift: every {BUMP}th key's price bumped,
    every {DROP}th key missing — partitions without a planted key MUST
    report in_sync with zero drill-down keys."""
    from ..operators.reconcile import merkle_compare

    src, rep = _merkle_sides(spark, sf_dir)

    def sig_grain(df: DataFrame) -> DataFrame:
        return _merkle_sig(df).select(
            F.col("part_month").alias("part"),
            F.col("o_orderkey").alias("key"),
            "sig",
        )

    return merkle_compare(sig_grain(src), sig_grain(rep)).withColumnRenamed(
        "part", "part_month"
    )


_MERKLE_SRC_SQL = """
  SELECT o_orderkey, o_orderstatus,
         CAST(o_totalprice AS DECIMAL(12,2)) AS price,
         strftime(o_orderdate, '%Y-%m') AS part_month,
         strftime(o_orderdate, '%Y-%m-%d') AS d_str
  FROM orders
"""

_MERKLE_REP_SQL = f"""
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % {_MERKLE_BUMP_MOD} = 0
              THEN price + CAST('1.00' AS DECIMAL(3,2)) ELSE price END AS price,
         part_month, d_str
  FROM ({_MERKLE_SRC_SQL})
  WHERE o_orderkey % {_MERKLE_DROP_MOD} != 0
"""

_MERKLE_SIG_SQL = (
    "CAST(concat('0x', substr(md5(concat_ws(chr(31), CAST(o_orderkey AS VARCHAR), "
    "o_orderstatus, CAST(price AS VARCHAR), d_str)), 1, 8)) AS BIGINT)"
)

TABLE_MERKLE_SYNC_SQL = f"""
WITH s AS (SELECT part_month, o_orderkey, {_MERKLE_SIG_SQL} AS sig FROM ({_MERKLE_SRC_SQL})),
r AS (SELECT part_month, o_orderkey, {_MERKLE_SIG_SQL} AS sig FROM ({_MERKLE_REP_SQL})),
ssum AS (SELECT part_month, COUNT(*) AS n_source, SUM(sig) AS cs_source FROM s GROUP BY part_month),
rsum AS (SELECT part_month, COUNT(*) AS n_replica, SUM(sig) AS cs_replica FROM r GROUP BY part_month),
summary AS (
  SELECT COALESCE(ssum.part_month, rsum.part_month) AS part_month,
         COALESCE(n_source, 0) AS n_source,
         COALESCE(n_replica, 0) AS n_replica,
         CAST(COALESCE(cs_source, 0) AS BIGINT) AS cs_source,
         CAST(COALESCE(cs_replica, 0) AS BIGINT) AS cs_replica
  FROM ssum FULL OUTER JOIN rsum ON ssum.part_month = rsum.part_month
),
divergent AS (
  SELECT part_month FROM summary
  WHERE NOT (n_source = n_replica AND cs_source = cs_replica)
),
drill AS (
  SELECT part_month, COUNT(*) AS n_divergent_keys FROM (
    SELECT COALESCE(sk.part_month, rk.part_month) AS part_month,
           sk.sig AS s_sig, rk.sig AS r_sig
    FROM (SELECT s.* FROM s JOIN divergent USING (part_month)) sk
    FULL OUTER JOIN (SELECT r.* FROM r JOIN divergent USING (part_month)) rk
      ON sk.part_month = rk.part_month AND sk.o_orderkey = rk.o_orderkey
  )
  WHERE s_sig IS NULL OR r_sig IS NULL OR s_sig != r_sig
  GROUP BY part_month
)
SELECT summary.part_month, n_source, n_replica, cs_source, cs_replica,
       (n_source = n_replica AND cs_source = cs_replica) AS in_sync,
       CAST(COALESCE(n_divergent_keys, 0) AS BIGINT) AS n_divergent_keys
FROM summary LEFT JOIN drill ON summary.part_month = drill.part_month
"""


QUERIES = {
    "merge_insert_only_orders": merge_insert_only_orders,
    "table_merkle_sync": table_merkle_sync,
    "merge_upsert_orders": merge_upsert_orders,
    "scd2_customer_dim": scd2_customer_dim,
    "scd2_point_in_time": scd2_point_in_time,
    "scd2_stream_replay": scd2_stream_replay,
    "table_diff_orders": table_diff_orders,
}

ORACLES = {
    "merge_insert_only_orders": MERGE_INSERT_ONLY_SQL,
    "table_merkle_sync": TABLE_MERKLE_SYNC_SQL,
    "merge_upsert_orders": MERGE_UPSERT_SQL,
    "scd2_customer_dim": SCD2_CUSTOMER_DIM_SQL,
    "scd2_point_in_time": SCD2_POINT_IN_TIME_SQL,
    "scd2_stream_replay": SCD2_STREAM_REPLAY_SQL,
    "table_diff_orders": TABLE_DIFF_ORDERS_SQL,
}
